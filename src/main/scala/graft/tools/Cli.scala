package graft.tools

import graft.api.ApiV0
import graft.core._
import graft.query.ArchiveQuerier
import graft.sources.LocalContentStore
import graft.store.{LatestStore, RecordStore}
import graft.streaming.{Ingester, StreamingIngester}
import org.apache.spark.sql.SparkSession
import org.json4s.jackson.JsonMethods

/** CLI verbs mirroring the reference's `datalake` script surface
  * (`client/datalake/scripts/cli.py`): push / list / fetch / latest /
  * translate, plus `ingest-dir` standing in for the enqueue/uploader pair
  * (T4) over the streaming ingester.
  *
  * Environment: GRAFT_ROOT selects the warehouse directory (content store,
  * record table, latest table all live under it).
  */
object Cli {

  private def spark(): SparkSession = graft.obs.Obs.session("graft-cli")

  private def root: String =
    sys.env.getOrElse("GRAFT_ROOT", sys.props("java.io.tmpdir") + "/graft")

  /** HTTP-mode switch (reference `DATALAKE_HTTP_URL`, `archive.py:169-173`):
    * when `--http-url` or GRAFT_HTTP_URL is present, list / latest / fetch /
    * cat go through [[graft.api.ArchiveClient]] instead of in-process. */
  private def httpClient(opts: Map[String, String]): Option[graft.api.ArchiveClient] =
    opts.get("http-url").orElse(sys.env.get("GRAFT_HTTP_URL"))
      .map(new graft.api.ArchiveClient(_))

  /** Uniform clean-error contract for every HTTP-mode verb: API errors
    * and bad urls print their message and exit 1, never a stack trace. */
  private def httpTry[T](f: => T): T =
    try f
    catch {
      case e @ (_: graft.core.DatalakeHttpError |
                _: graft.core.InvalidDatalakePath |
                _: graft.core.QueryValidationError) =>
        System.err.println(e.getMessage)
        sys.exit(1)
    }

  /** The warehouse record store; attaches the work-id index when one has
    * been built (`maintain`) so every writer keeps it current and every
    * work-id query takes the pruned path. */
  private def recordStore(s: SparkSession, root: String): (RecordStore, Option[graft.store.WorkIdIndex]) = {
    val idx = new graft.store.WorkIdIndex(s, s"$root/work-id-index")
    val attached = if (idx.exists) Some(idx) else None
    (new RecordStore(s, s"$root/records", attached), attached)
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "push" :: file :: rest =>
      println(push(spark(), root, file, parseOpts(rest)))

    case "list" :: what :: rest =>
      val opts = parseOpts(rest)
      httpClient(opts) match {
        case Some(client) =>
          // the reference CLI defaults list to the bare url lines
          val format = opts.getOrElse("format", "url")
          httpTry(client.list(what, opts.get("start"), opts.get("end"),
            opts.get("where"), opts.get("work_id"), opts.get("cursor"))
            .foreach(r => println(formatRecord(r, format))))
          return
        case None =>
      }
      val s = spark()
      val (store, idx) = recordStore(s, root)
      val q = new ArchiveQuerier(store, workIdIndex = idx)
      val params = Map("what" -> what) ++ opts.view.filterKeys(
        Set("start", "end", "work_id", "where", "cursor")).toMap
      val parsed = ApiV0.validateFilesParams(params)
      // same record-per-line contract as the HTTP path (--format honored,
      // default bare url lines, cursors followed to exhaustion like
      // client.list) — the output shape must not depend on the transport
      val format = opts.getOrElse("format", "url")
      var cursor = parsed.cursor
      var first = true
      while (first || cursor.isDefined) {
        first = false
        val page = parsed.workId match {
          case Some(w) =>
            q.queryByWorkId(w, parsed.what, parsed.where, cursor)
          case None => q.queryByTime(parsed.start.get, parsed.end.get,
            parsed.what, parsed.where, cursor)
        }
        page.records.foreach(r =>
          println(formatRecord(toListed(r), format)))
        cursor = page.cursor
      }

    case "latest" :: what :: where :: rest =>
      val opts = parseOpts(rest)
      httpClient(opts) match {
        case Some(client) =>
          httpTry(println(formatRecord(
            client.latest(what, where,
              opts.get("lookback").map(ApiV0.validateLookback)),
            opts.getOrElse("format", "url"))))
          return
        case None =>
      }
      val lookback = ApiV0.validateLookback(opts.getOrElse("lookback", "14"))
      latest(spark(), root, what, where, lookback) match {
        case Some(r) => println(JsonMethods.pretty(JsonMethods.render(
          ApiV0.recordJson(r, "local://graft"))))
        case None =>
          System.err.println(ApiV0.errorJson(
            ApiV0.noSuchLatest(what, where, lookback)))
          sys.exit(1)
      }

    case "fetch" :: url :: rest =>
      val opts = parseOpts(rest)
      httpClient(opts) match {
        case Some(client) =>
          httpTry(println(client.fetchToFilename(url, opts.get("template"))))
        case None =>
          val cs = new LocalContentStore(s"$root/content")
          val (meta, _, _) = cs.fetch(url)
          val fname = ApiV0.filenameFromTemplate(opts.get("template"), meta)
          val in = cs.open(url)
          try java.nio.file.Files.copy(in, java.nio.file.Paths.get(fname),
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          finally in.close()
          println(fname)
      }

    // `datalake cat` (`cli.py:288-302`): relay content to stdout
    case "cat" :: url :: rest =>
      val opts = parseOpts(rest)
      httpClient(opts) match {
        case Some(client) => httpTry(client.cat(url, System.out))
        case None =>
          val cs = new LocalContentStore(s"$root/content")
          val in = cs.open(url)
          try in.transferTo(System.out)
          finally in.close()
      }
      System.out.flush()

    case "translate" :: expression :: path :: Nil =>
      println(Translator(expression).translate(path))

    case "enqueue" :: file :: rest =>
      val opts = parseOpts(rest)
      val bundle = new graft.sources.Enqueuer(s"$root/queue").enqueue(
        java.nio.file.Paths.get(file),
        Map(
          "what" -> opts.getOrElse("what", fail("--what is required")),
          "where" -> opts.getOrElse("where", "localhost"),
          "work_id" -> opts.get("work-id").orNull,
          "start" -> opts.getOrElse("start", "now"),
        ) ++ opts.get("end").map("end" -> _))
      println(bundle)

    case "uploader" :: rest =>
      val opts = parseOpts(rest)
      val timeout = opts.get("timeout").map(_.toLong)
      val cs = new LocalContentStore(s"$root/content")
      val s = spark()
      val store = recordStore(s, root)._1
      val n = new graft.sources.Uploader(s"$root/queue", (content, meta) => {
        // bundle metadata is already validated/normalized — store verbatim
        val url = cs.pushValidated(content, meta)
        val rec = DatalakeRecord.listFromMetadata(
          meta, url, System.currentTimeMillis(), content.length.toLong)
        store.append(rec)
        upsertLatest(s, root, rec)
      }, (p, e) => System.err.println(s"skipping $p: ${e.getMessage}"))
        .listen(timeout)
      println(s"uploaded $n bundles")

    case "maintain" :: rest =>
      val opts = parseOpts(rest)
      val s = spark()
      val store = recordStore(s, root)._1
      val compacted = store.compact(
        opts.getOrElse("files-per-partition", "1").toInt)
      println(s"compacted $compacted partitions")
      if (store.exists) {
        val idx = new graft.store.WorkIdIndex(s, s"$root/work-id-index")
        idx.rebuild(store)
        println("work-id index rebuilt")
      }
      // crashed-writer leftovers (data dirs no manifest references):
      // age-gated so an in-flight write is never touched
      opts.get("vacuum-orphans-hours").map(_.toLong).foreach { h =>
        val swept = store.vacuumOrphans(h * 3600 * 1000L)
        println(s"vacuumed ${swept.size} orphan data dirs")
      }

    case "serve" :: rest =>
      val opts = parseOpts(rest)
      val s = spark()
      val (store, idx) = recordStore(s, root)
      val q = new ArchiveQuerier(store,
        Some(new LatestStore(s, s"$root/latest")), useLatestTable = true,
        workIdIndex = idx)
      val server = new graft.api.ApiServer(q,
        Some(new LocalContentStore(s"$root/content")),
        opts.getOrElse("port", "0").toInt)
      val port = server.start()
      println(s"listening on http://127.0.0.1:$port")
      Thread.currentThread().join()

    // SQS-contract drain (visibility timeout + redelivery) over the
    // directory transport — sqs_queue.py:52-66 semantics
    case "ingest-queue" :: queueDir :: rest =>
      val opts = parseOpts(rest)
      val s = spark()
      val n = new StreamingIngester(s, new LocalContentStore(s"$root/content"),
        recordStore(s, root)._1,
        Some(new LatestStore(s, s"$root/latest")),
        Some(s"$root/reports"))
        .drainQueue(new graft.streaming.DirNotificationQueue(queueDir),
          idleTimeoutMs = opts.getOrElse("timeout", "1000").toLong)
      println(s"ingested $n notifications")

    case "ingest-dir" :: notifDir :: Nil =>
      val s = spark()
      val q = new StreamingIngester(s, new LocalContentStore(s"$root/content"),
        recordStore(s, root)._1,
        Some(new LatestStore(s, s"$root/latest")),
        Some(s"$root/reports"))
        .start(notifDir, s"$root/checkpoints/ingest", availableNow = true)
      q.awaitTermination()
      println("drained " + notifDir)

    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage:
           |  push <file> --what W [--where H] [--start T] [--end T]
           |              [--work-id ID]
           |              (a what/where/work-id VALUE containing '~' is a
           |               path translation: 'regex~format' applied to the
           |               file's path — see the translate verb)
           |  list <what> [--start T --end T | --work_id ID] [--where H]
           |              [--cursor C] [--format url|http|json|json-pretty|human]
           |  latest <what> <where> [--lookback DAYS] [--format F]
           |  fetch <url> [--template TPL]
           |  cat <url>
           |  (list/latest/fetch/cat honor --http-url or GRAFT_HTTP_URL)
           |  translate <expression> <path>
           |  enqueue <file> --what W [--where H] [--start T] [--end T]
           |  uploader [--timeout MS]
           |  maintain [--files-per-partition N] [--vacuum-orphans-hours H]
           |  serve [--port P]
           |  ingest-dir <notification-dir>
           |  ingest-queue <queue-dir> [--timeout MS]
           |(training-data curation has its own front door:
           | runMain graft.tools.Curate <input-dir> [--once] — see README)""".stripMargin)
      sys.exit(2)
  }

  /** Local query result → the client record shape, so local and HTTP
    * list share one formatter (and one output contract). */
  private def toListed(r: graft.query.UnpackedRecord): graft.api.ListedRecord =
    graft.api.ListedRecord(r.url,
      Some(s"local://graft/v0/archive/files/${r.metadata.id}/data"),
      graft.store.RecordRow.toMeta(r.metadata), r.createTime, r.size)

  /** `push`: store the file under `root`'s content store and ingest its
    * records synchronously; returns the content url. */
  private[tools] def push(sess: => SparkSession, root: String, file: String,
      opts: Map[String, String]): String = {
    val cs = new LocalContentStore(s"$root/content")
    // a --what/--where/--work-id VALUE containing '~' is a path
    // translation (regex~format), applied inside push exactly as the
    // reference applies it at its file→metadata boundary
    // (dlfile.py:213-219) — no separate flag
    val fields: Map[String, Any] = Map(
      "what" -> opts.getOrElse("what",
        fail("--what is required")),
      "where" -> opts.getOrElse("where", "localhost"),
      "work_id" -> opts.get("work-id").orNull,
      "start" -> (opts.getOrElse("start", "now") match {
        case "crtime" => Long.box(graft.sources.Crtime(
          java.nio.file.Paths.get(file)))
        case other => other
      }),
    ) ++ opts.get("end").map("end" -> _)
    val (url, meta) = cs.push(java.nio.file.Paths.get(file), fields)
    // synchronous ingest (the reference's push→S3→SQS→ingester loop,
    // collapsed for the local warehouse): records AND the latest
    // table, exactly what the ingester maintains — a latest table
    // that pushes bypass would serve stale hits
    val s = sess
    val rec = DatalakeRecord.listFromMetadata(meta, url,
      System.currentTimeMillis(), java.nio.file.Files.size(
        java.nio.file.Paths.get(file)))
    recordStore(s, root)._1.append(rec)
    upsertLatest(s, root, rec)
    url
  }

  /** `latest` served in-process from the warehouse under `root`. */
  private[tools] def latest(s: SparkSession, root: String, what: String,
      where: String, lookback: Int): Option[graft.query.UnpackedRecord] =
    // useLatestTable = true: every CLI writer maintains the latest
    // table (push, uploader, the ingesters), so the purpose-built
    // top-1 lookup serves the hit; a missing/empty table still falls
    // back to the walk-back scan inside queryLatest
    new ArchiveQuerier(new RecordStore(s, s"$root/records"),
      Some(new LatestStore(s, s"$root/latest")), useLatestTable = true)
      .queryLatest(what, where, lookback)

  /** Keep the latest table current from a CLI writer — the collapsed
    * form of the ingester's records+latest maintenance; a latest table
    * only SOME writers maintain would serve stale hits. The table takes
    * the snake_case [[graft.store.RecordRow]] shape, as the ingester
    * writes it. */
  private def upsertLatest(s: SparkSession, root: String,
      rec: Seq[DatalakeRecord]): Unit = {
    import s.implicits._
    new LatestStore(s, s"$root/latest")
      .upsert(rec.map(graft.store.RecordRow.fromCore).toDS().toDF())
  }

  /** The reference CLI's list formatters (`cli.py:210-241`):
    * url / http / json / json-pretty / human. */
  private[tools] def formatRecord(r: graft.api.ListedRecord, format: String): String =
    format match {
      case "url" => r.url
      case "http" => r.httpUrl.getOrElse("")
      case "json" => JsonMethods.compact(JsonMethods.render(r.toJValue))
      case "json-pretty" => JsonMethods.pretty(JsonMethods.render(r.toJValue))
      case "human" =>
        // flattened key: value lines, start/end rendered as ISO exactly
        // like `cli.py:210-222`: python datetime.isoformat() emits a
        // '+00:00' offset and six fractional digits only when the
        // sub-second part is non-zero, and the `if v:` truthiness test
        // renders epoch 0 (not just null) as "null"
        def msToIsoHuman(ms: Long): String =
          if (ms == 0L) "null"
          else java.time.format.DateTimeFormatter
            .ofPattern(if (ms % 1000 == 0) "yyyy-MM-dd'T'HH:mm:ssxxx"
                       else "yyyy-MM-dd'T'HH:mm:ss.SSS'000'xxx")
            .withZone(java.time.ZoneOffset.UTC)
            .format(java.time.Instant.ofEpochMilli(ms))
        def fmt(j: org.json4s.JValue, out: StringBuilder): Unit = j match {
          case org.json4s.JObject(kvs) => kvs.foreach {
            case ("metadata", v) => fmt(v, out)
            case (k @ ("start" | "end"), v) =>
              val shown = v match {
                case org.json4s.JInt(ms) => msToIsoHuman(ms.toLong)
                case org.json4s.JLong(ms) => msToIsoHuman(ms)
                case org.json4s.JNull => "null"
                case other => JsonMethods.compact(JsonMethods.render(other))
              }
              out ++= s"$k: $shown\n"
            case (k, v) =>
              val shown = v match {
                case org.json4s.JNull => "null"
                case org.json4s.JString(s) => s
                case other => JsonMethods.compact(JsonMethods.render(other))
              }
              out ++= s"$k: $shown\n"
          }
          case _ =>
        }
        val sb = new StringBuilder
        fmt(r.toJValue, sb)
        sb.result()
      case other => fail(s"unknown list format: $other")
    }

  private def parseOpts(args: List[String]): Map[String, String] = {
    def loop(rest: List[String], acc: Map[String, String]): Map[String, String] =
      rest match {
        case key :: value :: tail if key.startsWith("--") =>
          loop(tail, acc + (key.stripPrefix("--") -> value))
        case Nil => acc
        case bad => fail(s"cannot parse arguments near: ${bad.mkString(" ")}")
      }
    loop(args, Map.empty)
  }

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }
}
