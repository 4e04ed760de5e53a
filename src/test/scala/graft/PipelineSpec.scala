package graft

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.compile.ConfigCompiler
import graft.config.{CastType, FieldMapping, SourceConfig}
import graft.pipeline.{BatchPipeline, StreamingPipeline}
import graft.sink.{EventPoster, PostResult, RecordingPoster}

/** Top-level posters: must not capture the (non-serializable) suite. */
private class Always400 extends EventPoster {
  def post(gz: Array[Byte], n: Int): PostResult = PostResult(400, "nope")
}
private class Always200 extends EventPoster {
  def post(gz: Array[Byte], n: Int): PostResult = PostResult(200, "ok")
}
/** Counts delivered events across poster instances (local-mode JVM is
  * shared, so a static counter observes executor-side posts). */
private object PostedEvents {
  val n = new java.util.concurrent.atomic.AtomicLong
}
private class EventCountingPoster extends EventPoster {
  def post(gz: Array[Byte], nEvents: Int): PostResult = {
    PostedEvents.n.addAndGet(nEvents)
    PostResult(200, "ok")
  }
}
/** Counts attempted events, then rejects the batch (API DLQ). */
private class EventCounting400Poster extends EventPoster {
  def post(gz: Array[Byte], nEvents: Int): PostResult = {
    PostedEvents.n.addAndGet(nEvents)
    PostResult(400, "rejected")
  }
}

/** End-to-end batch + streaming pipeline specs on real temp parquet. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def writeTempEvents(): String = {
    val dir = Files.createTempDirectory("graft_pipe").toString
    Seq(("click", 10L, "u1"), ("view", 20L, "u2"), ("", 30L, "u3"))
      .toDF("event_type", "ts_epoch", "uid")
      .write.mode("overwrite").parquet(s"$dir/src/part.parquet")
    dir
  }

  private def cfgFor(dir: String) = SourceConfig(
    configId = "t", sourcePrefix = s"$dir/src/",
    eventNameField = Some("event_type"),
    fieldMappings = Seq(
      FieldMapping("ts_epoch", "time", CastType.UnixTimestampAuto),
      FieldMapping("uid", "$user_id", CastType.StringT)))

  test("batch pipeline: route -> transform -> post with DLQ channels") {
    val dir = writeTempEvents()
    val res = BatchPipeline.run(spark, Seq(s"$dir/src/part.parquet"),
      Seq(cfgFor(dir)), () => new Always200)
    assert(res.eventsJson.count() == 2) // empty event name -> transform DLQ
    assert(res.transformDlq.as[(String, String, String, String)].collect()
      .map(_._1).toSeq == Seq("missing_dynamic_event_name"))
    assert(res.apiDlq.count() == 0)
  }

  test("batch pipeline: API failures surface as per-event DLQ rows") {
    val dir = writeTempEvents()
    val res = BatchPipeline.run(spark, Seq(s"$dir/src/part.parquet"),
      Seq(cfgFor(dir)), () => new Always400)
    val dlq = res.apiDlq.collect()
    assert(dlq.length == 2)
    assert(dlq.forall(_.getAs[String]("reason") == "client_error_400"))
    assert(dlq.forall(_.getAs[String]("response") == "nope"))
  }

  test("batch pipeline: unrouted and non-parquet files are dropped") {
    val dir = writeTempEvents()
    val routed = BatchPipeline.routeFiles(
      Seq(s"$dir/src/part.parquet", s"$dir/other/x.parquet"),
      Seq(cfgFor(dir), SourceConfig("csv", s"$dir/other/", fileType = "CSV")))
    assert(routed.keys.map(_.configId).toSet == Set("t"))
  }

  test("streaming pipeline: file source -> compiled mapping -> sink via foreachBatch") {
    val dir = writeTempEvents()
    val schema = spark.read.parquet(s"$dir/src/part.parquet").schema
    // part.parquet is itself a directory (Spark writer layout) — the
    // file stream source lists non-recursively, so stream that dir
    val compiled = StreamingPipeline.transformStreamRouted(spark, cfgFor(dir),
      Seq(cfgFor(dir)), s"$dir/src/part.parquet", schema)
    var okCount = 0L
    var dlqCount = 0L
    val q = StreamingPipeline.sinkStream(compiled, () => new Always200,
      dlq => dlqCount += dlq.count(),
      api => okCount += api.count(),
      triggerInterval = "1 seconds")
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable()
    q.stop()
    assert(dlqCount == 1) // the empty-name row
    assert(okCount == 0)  // Always200 -> no API DLQ
  }

  test("file ledger: processed files are skipped, appends are idempotent") {
    import graft.pipeline.FileLedger
    val ledger = Files.createTempDirectory("graft_ledger").toString + "/led"
    assert(FileLedger.unprocessed(spark, Seq("gs://a/1", "gs://a/2"), ledger)
      == Seq("gs://a/1", "gs://a/2")) // empty ledger passes everything
    FileLedger.record(spark, Seq("gs://a/1", "gs://a/2"), ledger)
    assert(FileLedger.unprocessed(
      spark, Seq("gs://a/1", "gs://a/2", "gs://a/3"), ledger).sorted
      == Seq("gs://a/3"))
    FileLedger.record(spark, Seq("gs://a/2", "gs://a/3"), ledger) // overlap ok
    assert(FileLedger.unprocessed(
      spark, Seq("gs://a/1", "gs://a/2", "gs://a/3"), ledger).isEmpty)
  }

  test("streaming counters surface per micro-batch via foreachBatch") {
    val dir = writeTempEvents()
    val schema = spark.read.parquet(s"$dir/src/part.parquet").schema
    val compiled = StreamingPipeline.transformStreamRouted(spark, cfgFor(dir),
      Seq(cfgFor(dir)), s"$dir/src/part.parquet", schema)
    var counters = Map.empty[String, Long]
    val q = StreamingPipeline.sinkStream(compiled, () => new Always200,
      _ => (), _ => (), triggerInterval = "1 seconds",
      onCounters = m => counters = m.map { case (k, v) =>
        k -> (counters.getOrElse(k, 0L) + v) })
      .option("checkpointLocation", s"$dir/ckpt_counters").start()
    q.processAllAvailable()
    q.stop()
    assert(counters("n_rows") == 3L && counters("n_dlq") == 1L)
  }

  /** Write `rows` as ONE flat parquet file at `target`. */
  private def writeFlatParquet(target: java.nio.file.Path,
      rows: Seq[(String, Long, String)]): Unit =
    writeFlat(rows.toDF("event_type", "ts_epoch", "uid"), target)

  test("streaming routing: shared watch dir, each file mapped exactly once " +
      "by its first matching config") {
    val watch = Files.createTempDirectory("graft_watch")
    val ckpt = Files.createTempDirectory("graft_watch_ckpt")
    writeFlatParquet(watch.resolve("a_1.parquet"), Seq(("from_a", 10L, "u1")))
    writeFlatParquet(watch.resolve("b_1.parquet"), Seq(("from_b", 20L, "u2")))
    def cfg(id: String, prefix: String) = SourceConfig(
      configId = id, sourcePrefix = prefix,
      eventNameField = Some("event_type"),
      fieldMappings = Seq(
        FieldMapping("ts_epoch", "time", CastType.UnixTimestampAuto),
        FieldMapping("uid", "$user_id", CastType.StringT)))
    // cfgB's prefix matches EVERY file in the dir; first-match-wins must
    // still route a_1.parquet to cfgA only (declaration order).
    val cfgA = cfg("a", s"$watch/a_")
    val cfgB = cfg("b", s"$watch/")
    val all = Seq(cfgA, cfgB)
    val schema = spark.read.parquet(watch.toString).schema
    for (c <- all) {
      val compiled = StreamingPipeline.transformStreamRouted(
        spark, c, all, watch.toString, schema)
      val q = compiled.writeStream.outputMode("append")
        .format("memory").queryName(s"routed_${c.configId}")
        .option("checkpointLocation", s"$ckpt/${c.configId}").start()
      q.processAllAvailable()
      q.stop()
    }
    val aEvents = spark.table("routed_a")
      .select(col("event")).as[String].collect().toSeq
    val bEvents = spark.table("routed_b")
      .select(col("event")).as[String].collect().toSeq
    assert(aEvents == Seq("from_a")) // not from_b: prefix doesn't match
    assert(bEvents == Seq("from_b")) // not from_a: cfgA matched it first
  }

  private def routedCfg(id: String, prefix: String) = SourceConfig(
    configId = id, sourcePrefix = prefix,
    eventNameField = Some("event_type"),
    fieldMappings = Seq(
      FieldMapping("ts_epoch", "time", CastType.UnixTimestampAuto),
      FieldMapping("uid", "$user_id", CastType.StringT)))

  private val eventSchema = new org.apache.spark.sql.types.StructType()
    .add("event_type", "string").add("ts_epoch", "long").add("uid", "string")

  /** Runs the routed stream of each of `run` (routed against `cfgs`) over
    * `dir` to the end of its input, posting to [[EventCountingPoster]];
    * returns each query's `numInputRows` per micro-batch. */
  private def runRouted(dir: String, cfgs: Seq[SourceConfig],
      ckpt: java.nio.file.Path, run: Seq[SourceConfig] = Nil,
      maxFilesPerTrigger: Option[Int] = None): Map[String, Seq[Long]] =
    (if (run.isEmpty) cfgs else run).map { c =>
      val q = StreamingPipeline.sinkStream(
        StreamingPipeline.transformStreamRouted(spark, c, cfgs, dir,
          eventSchema, maxFilesPerTrigger = maxFilesPerTrigger),
        () => new EventCountingPoster, _ => (), _ => (),
        triggerInterval = "100 milliseconds")
        .option("checkpointLocation", s"$ckpt/${c.configId}").start()
      try q.processAllAvailable() finally q.stop()
      c.configId -> q.recentProgress.map(_.numInputRows).toSeq
    }.toMap

  /** Σ `numInputRows` per query of a [[runRouted]] result. */
  private def rowsRead(batches: Map[String, Seq[Long]]): Map[String, Long] =
    batches.map { case (id, rows) => id -> rows.sum }

  test("routed streams over one directory read each landed row once") {
    val watch = Files.createTempDirectory("graft_routed_once")
    writeFlatParquet(watch.resolve("a_1.parquet"), Seq(("a1", 10L, "u1"), ("a1b", 11L, "u2")))
    writeFlatParquet(watch.resolve("a_2.parquet"), Seq(("a2", 12L, "u3")))
    writeFlatParquet(watch.resolve("b_1.parquet"), Seq(("b1", 20L, "u4")))
    writeFlatParquet(watch.resolve("c_1.parquet"), Seq(("c1", 30L, "u5"), ("c1b", 31L, "u6")))
    val cfgs = Seq("a", "b", "c").map(id => routedCfg(id, s"$watch/${id}_"))
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(watch.toString, cfgs,
      Files.createTempDirectory("graft_routed_once_ckpt")))
    // a whole-directory source per query would read all 6 rows 3 times
    assert(read == Map("a" -> 3L, "b" -> 1L, "c" -> 2L))
    assert(PostedEvents.n.get == 6L)
  }

  test("routed stream: a prefix-named subdirectory is delivered, an " +
      "unrelated one is not read") {
    val watch = Files.createTempDirectory("graft_routed_sub")
    writeFlatParquet(watch.resolve("a_1.parquet"), Seq(("flat", 10L, "u1")))
    Files.createDirectory(watch.resolve("a_2024"))
    writeFlatParquet(watch.resolve("a_2024").resolve("part.parquet"),
      Seq(("nested", 20L, "u2")))
    Files.createDirectory(watch.resolve("other"))
    writeFlatParquet(watch.resolve("other").resolve("x.parquet"),
      Seq(("unrelated", 30L, "u3"), ("unrelated2", 31L, "u4")))
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(watch.toString,
      Seq(routedCfg("a", s"$watch/a_")),
      Files.createTempDirectory("graft_routed_sub_ckpt")))
    assert(PostedEvents.n.get == 2L) // flat + nested
    assert(read == Map("a" -> 2L))   // other/ never read
  }

  test("routed stream: glob metacharacters in a prefix match literally") {
    val watch = Files.createTempDirectory("graft_routed_glob")
    writeFlatParquet(watch.resolve("a[1]_x.parquet"), Seq(("lit", 10L, "u1")))
    // what the unescaped pattern a[1]_* would match instead
    writeFlatParquet(watch.resolve("a1_x.parquet"),
      Seq(("sib", 20L, "u2"), ("sib2", 21L, "u3")))
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(watch.toString,
      Seq(routedCfg("a", s"$watch/a[1]_")),
      Files.createTempDirectory("graft_routed_glob_ckpt")))
    assert(PostedEvents.n.get == 1L)
    assert(read == Map("a" -> 1L))
  }

  test("routed stream: a whole-directory checkpoint restarts on the " +
      "narrowed source without re-posting and picks up new files") {
    val watch = Files.createTempDirectory("graft_routed_restart")
    val ckpt = Files.createTempDirectory("graft_routed_restart_ckpt")
    writeFlatParquet(watch.resolve("a_1.parquet"), Seq(("a1", 10L, "u1"), ("a1b", 11L, "u2")))
    writeFlatParquet(watch.resolve("b_1.parquet"), Seq(("b1", 20L, "u3")))
    val cfgs = Seq(routedCfg("a", s"$watch/a_"), routedCfg("b", s"$watch/b_"))
    PostedEvents.n.set(0)
    // the `file://` form of the watch dir falls back to the whole dir
    val whole = rowsRead(runRouted(s"file://$watch", cfgs, ckpt, run = cfgs.take(1)))
    assert(whole == Map("a" -> 3L) && PostedEvents.n.get == 2L)
    val again = rowsRead(runRouted(watch.toString, cfgs, ckpt, run = cfgs.take(1)))
    assert(again == Map("a" -> 0L) && PostedEvents.n.get == 2L)
    writeFlatParquet(watch.resolve("a_2.parquet"), Seq(("a2", 12L, "u4")))
    val late = rowsRead(runRouted(watch.toString, cfgs, ckpt, run = cfgs.take(1)))
    assert(late == Map("a" -> 1L) && PostedEvents.n.get == 3L)
  }

  test("routed streams: a file:// watch dir delivers every file through " +
      "the whole-dir fallback") {
    val watch = Files.createTempDirectory("graft_routed_uri")
    writeFlatParquet(watch.resolve("a_1.parquet"), Seq(("a1", 10L, "u1"), ("a1b", 11L, "u2")))
    writeFlatParquet(watch.resolve("b_1.parquet"), Seq(("b1", 20L, "u3")))
    val cfgs = Seq(routedCfg("a", s"$watch/a_"), routedCfg("b", s"$watch/b_"))
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(s"file://$watch", cfgs,
      Files.createTempDirectory("graft_routed_uri_ckpt")))
    assert(PostedEvents.n.get == 3L)
    // plain-path prefixes are not under the file:// dir as strings, so
    // each stream reads the whole dir (the row filter still routes)
    assert(read == Map("a" -> 3L, "b" -> 3L))
  }

  test("routed streams: maxFilesPerTrigger paces each config's own files") {
    val watch = Files.createTempDirectory("graft_routed_paced")
    for (id <- Seq("a", "b"); i <- 1 to 2)
      writeFlatParquet(watch.resolve(s"${id}_$i.parquet"), Seq((s"$id$i", 10L + i, s"u$i")))
    val cfgs = Seq(routedCfg("a", s"$watch/a_"), routedCfg("b", s"$watch/b_"))
    PostedEvents.n.set(0)
    val batches = runRouted(watch.toString, cfgs,
      Files.createTempDirectory("graft_routed_paced_ckpt"),
      maxFilesPerTrigger = Some(1))
    assert(PostedEvents.n.get == 4L)
    // one micro-batch per own file: the other config's files in the
    // directory no longer take turns under the cap
    assert(batches.map { case (id, rows) => id -> rows.count(_ > 0) } ==
      Map("a" -> 2, "b" -> 2))
  }

  /** [[writeFlatParquet]] one row `(event, ts, "u")` at `dir/rel`,
    * creating the directories `rel` names. */
  private def writeRow(dir: java.nio.file.Path, rel: String, event: String,
      ts: Long = 10L): Unit = {
    Files.createDirectories(dir.resolve(rel).getParent)
    writeFlatParquet(dir.resolve(rel), Seq((event, ts, "u")))
  }

  test("routed streams: overlapping prefixes route first-match-wins; a " +
      "subdirectory file reaches the directory prefix") {
    val dir = Files.createTempDirectory("graft_routed_overlap")
    writeRow(dir, "a_1.parquet", "from_a")
    writeRow(dir, "b_1.parquet", "from_b")
    writeRow(dir, "sub/c.parquet", "from_sub")
    // b's prefix holds a's whole subtree; a_1 still goes to a only
    val cfgs = Seq(routedCfg("a", s"$dir/a_"), routedCfg("b", s"$dir/"))
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(dir.toString, cfgs,
      Files.createTempDirectory("graft_routed_overlap_ckpt")))
    assert(read == Map("a" -> 1L, "b" -> 3L))
    assert(PostedEvents.n.get == 3L) // once each: b posts b_1 + sub/c
  }

  test("routed stream: URI-special characters in paths still prefix-match " +
      "(input_file_name percent-encodes)") {
    val dir = Files.createTempDirectory("graft routed enc") // space in path
    writeRow(dir, "a+b 1.parquet", "enc")
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(dir.toString,
      Seq(routedCfg("e", s"$dir/a+b")),
      Files.createTempDirectory("graft_routed_enc_ckpt")))
    assert(read == Map("e" -> 1L) && PostedEvents.n.get == 1L)
  }

  test("routed stream: flat files, a dt=2024/ and a plain subdirectory " +
      "are each delivered once") {
    val watch = Files.createTempDirectory("graft_routed_layout")
    writeRow(watch, "a_1.parquet", "flat")
    writeRow(watch, "dt=2024/p.parquet", "partition_named")
    writeRow(watch, "sub/q.parquet", "plain_sub")
    Files.createFile(watch.resolve("_SUCCESS")) // not parquet: skipped
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(watch.toString,
      Seq(routedCfg("w", s"$watch/")),
      Files.createTempDirectory("graft_routed_layout_ckpt")))
    assert(read == Map("w" -> 3L) && PostedEvents.n.get == 3L)
  }

  test("routed stream: a prefix-named subdirectory's files are delivered " +
      "two levels deep") {
    val watch = Files.createTempDirectory("graft_routed_deep")
    writeRow(watch, "a_1.parquet", "flat")
    writeRow(watch, "a_2024/x/p.parquet", "deep")
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(watch.toString,
      Seq(routedCfg("a", s"$watch/a_")),
      Files.createTempDirectory("graft_routed_deep_ckpt")))
    assert(read == Map("a" -> 2L) && PostedEvents.n.get == 2L)
  }

  test("routed stream: a directory prefix reads only its directory") {
    val watch = Files.createTempDirectory("graft_routed_dirprefix")
    writeRow(watch, "a_1.parquet", "flat")
    writeRow(watch, "a_2.parquet", "flat2")
    writeRow(watch, "sub/s.parquet", "in_sub")
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(watch.toString,
      Seq(routedCfg("s", s"$watch/sub/")),
      Files.createTempDirectory("graft_routed_dirprefix_ckpt")))
    assert(read == Map("s" -> 1L) && PostedEvents.n.get == 1L)
  }

  test("routed stream: glob metacharacters in the watch dir match " +
      "literally, not a sibling directory") {
    val base = Files.createTempDirectory("graft_routed_metadir")
    writeRow(base, "in[1] x/watch/a_1.parquet", "lit")
    // what the unescaped directory in[1] x would match instead
    writeRow(base, "in1 x/watch/a_1.parquet", "sib")
    writeRow(base, "in1 x/watch/a_2.parquet", "sib2")
    val watch = s"$base/in[1] x/watch"
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(watch, Seq(routedCfg("a", s"$watch/a_")),
      Files.createTempDirectory("graft_routed_metadir_ckpt")))
    assert(read == Map("a" -> 1L) && PostedEvents.n.get == 1L)
  }

  test("routed stream: a file-sink output dir as the watch dir still skips " +
      "a stray uncommitted file") {
    val src = Files.createTempDirectory("graft_routed_sinksrc")
    writeRow(src, "a.parquet", "committed")
    writeRow(src, "b.parquet", "committed2")
    val watch = Files.createTempDirectory("graft_routed_sinkout")
    val sink = spark.readStream.schema(eventSchema).parquet(src.toString)
      .writeStream.format("parquet")
      .option("checkpointLocation",
        Files.createTempDirectory("graft_routed_sink_ckpt").toString)
      .start(watch.toString)
    try sink.processAllAvailable() finally sink.stop()
    assert(Files.isDirectory(watch.resolve("_spark_metadata")))
    writeRow(watch, "part-stray.parquet", "uncommitted")
    PostedEvents.n.set(0)
    val read = rowsRead(runRouted(watch.toString,
      Seq(routedCfg("w", s"$watch/")),
      Files.createTempDirectory("graft_routed_sinkout_ckpt")))
    assert(read == Map("w" -> 2L) && PostedEvents.n.get == 2L)
  }

  test("routed source path: the prefix's leaf glob, the whole dir in " +
      "each fallback") {
    val watch = Files.createTempDirectory("graft_routed_path").toString
    def path(dir: String, prefix: String) =
      StreamingPipeline.routedSourcePath(spark, dir, prefix)
    // a prefix under the dir: its own glob, escaped whole
    assert(path(watch, s"$watch/a_") == s"$watch/a_*")
    assert(path(s"$watch/", s"$watch/a_") == s"$watch/a_*")
    assert(path(watch, s"$watch/sub/a{b}_") == s"$watch/sub/a\\{b\\}_*")
    assert(path(watch, s"$watch/") == s"$watch/*")
    assert(path(watch, s"$watch/sub/") == s"$watch/sub/*")
    assert(path(s"$watch/in[1] x", s"$watch/in[1] x/a_") ==
      s"$watch/in\\[1\\] x/a_*")
    // a prefix not under the dir as a string: the whole dir's glob
    assert(path(s"file://$watch", s"$watch/a_") == s"file://$watch/*")
    assert(path(watch, s"${watch}x/a_") == s"$watch/*")
    assert(path(watch, "a_") == s"$watch/*")
    // a file-sink output directory, read through its log
    Files.createDirectory(java.nio.file.Paths.get(watch, "_spark_metadata"))
    assert(path(watch, s"$watch/a_") == watch)
  }

  test("streaming posting is exactly-once regardless of the api-dlq " +
      "writer's action count") {
    // no-op api-dlq writer (the Launcher shape when --dlq_topic_api_errors
    // is unset): delivery must still happen
    val dir1 = writeTempEvents()
    val schema1 = spark.read.parquet(s"$dir1/src/part.parquet").schema
    PostedEvents.n.set(0)
    val q1 = StreamingPipeline.sinkStream(
      StreamingPipeline.transformStreamRouted(spark, cfgFor(dir1),
        Seq(cfgFor(dir1)), s"$dir1/src/part.parquet", schema1),
      () => new EventCountingPoster, _ => (), _ => (),
      triggerInterval = "1 seconds")
      .option("checkpointLocation", s"$dir1/ckpt_once").start()
    q1.processAllAvailable()
    q1.stop()
    assert(PostedEvents.n.get == 2L) // both good rows posted, once each
    // double-action writer: must NOT re-post (a rejecting endpoint, so
    // the API DLQ has rows and its writer runs)
    val dir2 = writeTempEvents()
    val schema2 = spark.read.parquet(s"$dir2/src/part.parquet").schema
    PostedEvents.n.set(0)
    var apiRows = 0L
    val q2 = StreamingPipeline.sinkStream(
      StreamingPipeline.transformStreamRouted(spark, cfgFor(dir2),
        Seq(cfgFor(dir2)), s"$dir2/src/part.parquet", schema2),
      () => new EventCounting400Poster, _ => (),
      api => { apiRows += api.count(); api.count() },
      triggerInterval = "1 seconds")
      .option("checkpointLocation", s"$dir2/ckpt_twice").start()
    q2.processAllAvailable()
    q2.stop()
    assert(apiRows == 2L)
    assert(PostedEvents.n.get == 2L)
  }

  /** Run one streaming query over [[writeTempEvents]]' file to the end
    * of its input; returns the records Spark read and the jobs it ran. */
  private def streamOnce(dir: String, poster: () => EventPoster,
      writeTransformDlq: org.apache.spark.sql.DataFrame => Unit,
      writeApiDlq: org.apache.spark.sql.DataFrame => Unit,
      onCounters: Map[String, Long] => Unit = _ => ()): (Long, Int) = {
    val schema = spark.read.parquet(s"$dir/src/part.parquet").schema
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val (q, read) = withScanRecords {
        val q = StreamingPipeline.sinkStream(
          StreamingPipeline.transformStreamRouted(spark, cfgFor(dir),
            Seq(cfgFor(dir)), s"$dir/src/part.parquet", schema),
          poster, writeTransformDlq, writeApiDlq,
          triggerInterval = "1 seconds", onCounters = onCounters)
          .option("checkpointLocation", s"$dir/ckpt_once").start()
        try q.processAllAvailable() finally q.stop()
        q
      }
      import scala.jdk.CollectionConverters._
      (read, groups.asScala.count(_ == q.runId.toString))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("streaming micro-batch: one delivery job; counters equal the " +
      "compiled frame's; writers get the old rows, none for an empty channel") {
    val dir = writeTempEvents()
    val compiled = ConfigCompiler.compile(cfgFor(dir),
      spark.read.parquet(s"$dir/src/part.parquet"))
    val dlqRows = ArrayBuffer.empty[org.apache.spark.sql.Row]
    var apiCalls = 0
    var counters = Map.empty[String, Long]
    val (read, jobs) = streamOnce(dir, () => new Always200,
      dlq => dlqRows ++= dlq.collect(), _ => apiCalls += 1,
      onCounters = m => counters = m)
    assert(read == 3L) // the batch's rows, scanned once
    assert(jobs == 2)  // the delivery pass + the writer's collect
    val want = compiled.counters.collect()(0)
    assert(counters ==
      want.schema.fieldNames.map(n => n -> want.getAs[Long](n)).toMap)
    assert(dlqRows.toSeq == compiled.dlq.collect().toSeq)
    assert(apiCalls == 0) // every post succeeded: API DLQ empty, not called
  }

  test("a DLQ writer that throws or runs two actions never re-posts") {
    PostedEvents.n.set(0)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      streamOnce(writeTempEvents(), () => new EventCountingPoster,
        _ => throw new IllegalStateException("dlq store down"), _ => ())
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("dlq store down")))
    assert(PostedEvents.n.get == 2L) // posted once, before the writer
    PostedEvents.n.set(0)
    var dlqRows = 0L
    streamOnce(writeTempEvents(), () => new EventCountingPoster,
      dlq => {
        dlqRows += dlq.count()
        dlq.write.format("noop").mode("append").save()
      }, _ => ())
    assert(dlqRows == 1L)
    assert(PostedEvents.n.get == 2L)
  }

  test("scripted 4xx: the API DLQ and the transform DLQ fill in the same run") {
    val poster = () => new RecordingPoster(script = Seq(PostResult(400, "bad")))
    val dir = writeTempEvents()
    val res = BatchPipeline.run(spark, Seq(s"$dir/src/part.parquet"),
      Seq(cfgFor(dir)), poster)
    val json = res.eventsJson.as[String].collect().sorted.toSeq
    assert(res.apiDlq.as[(String, String, String)].collect().sortBy(_._3).toSeq
      == json.map(("client_error_400", "bad", _)))
    assert(res.transformDlq.as[(String, String, String, String)].collect()
      .map(_._1).toSeq == Seq("missing_dynamic_event_name"))
    val m = res.counters.transformMetrics("t")
    assert(m("n_rows") == 3L && m("n_dlq") == 1L)
    // the streaming pass hands both channels over from one micro-batch
    var transform, api = Seq.empty[org.apache.spark.sql.Row]
    val (read, _) = streamOnce(writeTempEvents(), poster,
      dlq => transform = dlq.collect().toSeq, a => api = a.collect().toSeq)
    assert(read == 3L)
    assert(transform.map(_.getString(0)) == Seq("missing_dynamic_event_name"))
    assert(api.map(_.getString(0)) == Seq.fill(2)("client_error_400"))
  }

  test("file ledger reads with its declared schema: no job; a missing or " +
      "empty directory reads as empty") {
    import graft.pipeline.FileLedger
    val root = Files.createTempDirectory("graft_ledger_read")
    val led = s"$root/led"
    FileLedger.record(spark, Seq("gs://a/1"), led)
    Files.createDirectory(root.resolve("empty"))
    val (frames, jobs, _) = withJobsAndTasks(
      Seq(led, s"$root/missing", s"$root/empty").map(FileLedger.read(spark, _)))
    assert(jobs == 0)
    assert(frames.map(_.columns.toSeq) == Seq.fill(3)(Seq("uri")))
    assert(frames.map(_.as[String].collect().toSeq) ==
      Seq(Seq("gs://a/1"), Nil, Nil))
  }

  test("ledger records only imported files; a corrupt file retries after " +
      "a fixed re-upload") {
    import graft.pipeline.FileLedger
    val dir = writeTempEvents()
    val bad = s"$dir/src/bad.parquet"
    Files.write(java.nio.file.Paths.get(bad), "not a parquet".getBytes)
    val led = s"$dir/led"
    val uris = Seq(s"$dir/src/part.parquet", bad)
    val res = BatchPipeline.run(spark,
      FileLedger.unprocessed(spark, uris, led),
      Seq(cfgFor(dir)), () => new Always200)
    assert(res.imported == Seq(s"$dir/src/part.parquet"))
    assert(res.counters.readErrors == Map("t" -> 1L))
    FileLedger.record(spark, res.imported, led)
    // the corrupt file was NOT recorded: still eligible on the next run
    assert(FileLedger.unprocessed(spark, uris, led) == Seq(bad))
    // fixed re-upload at the same URI imports on the next run
    Files.delete(java.nio.file.Paths.get(bad))
    writeFlatParquet(java.nio.file.Paths.get(bad), Seq(("fixed", 40L, "u4")))
    val res2 = BatchPipeline.run(spark,
      FileLedger.unprocessed(spark, uris, led),
      Seq(cfgFor(dir)), () => new Always200)
    assert(res2.imported == Seq(bad))
    assert(res2.eventsJson.count() == 1)
  }

  test("distributed routing: 50k URIs, two passes, exact counts") {
    val cfgs = Seq(
      SourceConfig("a", "gs://b/a/"),
      SourceConfig("n", "gs://b/n/", fileType = "CSV"))
    val uris = (1 to 50000).map { i =>
      if (i % 2 == 0) s"gs://b/a/f$i.parquet"
      else if (i % 5 == 0) s"gs://b/n/f$i.csv"
      else s"gs://b/x/f$i"
    }
    val (routed, counts, unmatched) =
      BatchPipeline.routeFilesDistributed(spark, uris, cfgs)
    assert(routed.keys.map(_.configId) == Set("a")) // parquet configs only
    assert(routed.head._2.size == 25000)
    assert(counts == Map("a" -> 25000L, "n" -> 5000L))
    assert(unmatched == 20000L)
  }

  test("streaming dedup: duplicate URIs within the watermark are dropped") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    mem.addData("gs://a/1", "gs://a/1", "gs://a/2", "gs://a/1")
    val deduped = StreamingPipeline.dedupUris(mem.toDF().toDF("uri"))
    val name = "dedup_test_sink"
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table(name).select("uri").as[String].collect().sorted
    assert(got.toSeq == Seq("gs://a/1", "gs://a/2"))
  }
}
