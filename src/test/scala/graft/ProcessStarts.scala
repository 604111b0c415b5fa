package graft

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import scala.jdk.CollectionConverters._

/** The OS processes a block of code starts, from an in-process JFR
  * recording of `jdk.ProcessStart` events. Only events of the calling
  * thread count, so Spark's executor and heartbeat threads, and other
  * suites running beside this one, do not. */
object ProcessStarts {

  /** The result of `body` and the command of each process it started
    * on this thread, in start order. */
  def on[T](body: => T): (T, Seq[String]) = {
    val me = Thread.currentThread().getId
    val recording = new Recording()
    val file = java.nio.file.Files.createTempFile("process-starts", ".jfr")
    try {
      recording.enable("jdk.ProcessStart")
      recording.start()
      val result = try body finally recording.stop()
      recording.dump(file)
      val commands = RecordingFile.readAllEvents(file).asScala.toSeq
        .filter(e => e.getThread != null && e.getThread.getJavaThreadId == me)
        .sortBy(_.getStartTime)
        .map(_.getString("command"))
      (result, commands)
    } finally {
      recording.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }
}
