package graft.store

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  UnsafeProjection}
import org.apache.spark.sql.execution.datasources.FileFormat
import org.apache.spark.sql.types.{StringType, StructType}

/** Writes rows the driver already holds to files, with Spark's own file
  * format writers and no Spark job. A batch of a few KB otherwise pays a
  * job, a task slot (queued behind whatever else the cluster runs) and a
  * commit protocol to write bytes that never leave the driver.
  *
  * `FileFormat.prepareWrite` configures the format as `df.write` does
  * (codec, write support, footer metadata) and its
  * `OutputWriterFactory` writes each file, so the bytes are Spark's. The
  * layout is that of `df.coalesce(1).write.partitionBy(cols)`: one file
  * per partition leaf, `<base>/k1=v1/…/part-00000-<uuid>-c000<ext>`, with
  * leaf names from `ExternalCatalogUtils.getPartitionPathString`.
  *
  * Every file is written under a hidden name (leading `_`, which every
  * leaf listing skips, see [[ManifestLog.isDataFile]]) and renamed only
  * after all files of the call are complete. A failed write deletes its
  * hidden files and rethrows; a failed rename throws. Visibility beyond
  * that is the caller's: a manifested store publishes the dir through its
  * manifest commit. */
private[graft] object DriverWrite {

  /** Write `rows` of `schema` under `base`, partitioned by the columns
    * `partitionBy` names (data files hold the other columns, in
    * `schema` order). Rows are buffered by leaf first, so an iterator
    * that throws leaves nothing behind. Returns the leaves written,
    * relative to `base` ("" for an unpartitioned write), in first-row
    * order; nothing is written for no rows. */
  def apply(spark: SparkSession, format: FileFormat, base: Path,
      schema: StructType, partitionBy: Seq[String],
      rows: Iterator[InternalRow]): Seq[String] = {
    val partAt = partitionBy.map(schema.fieldIndex)
    val dataAt = schema.indices.filterNot(partAt.contains)
    val dataSchema = StructType(dataAt.map(schema(_)))
    val project = UnsafeProjection.create(
      dataAt.map(i => BoundReference(i, schema(i).dataType, schema(i).nullable)))
    val zone = Some(spark.sessionState.conf.sessionLocalTimeZone)
    // a value's path string as the partitioned write derives it: cast to
    // string, then escaped (null and "" become the default partition)
    val partValues = partAt.map { i =>
      Cast(BoundReference(i, schema(i).dataType, nullable = true),
        StringType, zone)
    }
    val byLeaf = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[InternalRow]]
    rows.foreach { r =>
      val leaf = partitionBy.zip(partValues).map { case (c, v) =>
        ExternalCatalogUtils.getPartitionPathString(c,
          Option(v.eval(r)).map(_.toString).orNull)
      }.mkString("/")
      byLeaf.getOrElseUpdate(leaf, scala.collection.mutable.ArrayBuffer.empty) +=
        project(r).copy()
    }
    if (byLeaf.isEmpty) return Nil

    val job = Job.getInstance(Fs.hadoopConf(spark))
    val factory = format.prepareWrite(spark, job, Map.empty, dataSchema)
    val context = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000" +
      factory.getFileExtension(context)
    val fs = base.getFileSystem(job.getConfiguration)
    val files = byLeaf.toSeq.map { case (leaf, leafRows) =>
      val dir = if (leaf.isEmpty) base else new Path(base, leaf)
      (new Path(dir, "_" + name), new Path(dir, name), leafRows)
    }
    try files.foreach { case (hidden, _, leafRows) =>
      val writer = factory.newInstance(hidden.toString, dataSchema, context)
      try leafRows.foreach(writer.write) finally writer.close()
    } catch { case e: Throwable =>
      files.foreach { case (hidden, _, _) =>
        try fs.delete(hidden, false) catch { case _: Exception => () }
      }
      throw e
    }
    files.foreach { case (hidden, visible, _) =>
      if (!fs.rename(hidden, visible))
        throw new java.io.IOException(s"could not rename $hidden to $visible")
    }
    byLeaf.keys.toSeq
  }
}
