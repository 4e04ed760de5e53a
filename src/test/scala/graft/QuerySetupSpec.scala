package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.compile.ConfigCompiler
import graft.config.{CastType, FieldMapping, SourceConfig}
import graft.pipeline.{BatchPipeline, StreamingPipeline}
import graft.sink.{EventBatchSink, EventPoster, PostResult}

/** What the posters below saw: one entry per post, with the task's
  * partition and attempt and the batch's `$insert_id`s and `time`s
  * (local mode shares the JVM, so executor-side posts land here). */
private object Posted {
  final case class Batch(partition: Int, attempt: Int, ids: Seq[String],
      times: Seq[Long])
  val batches = new ConcurrentLinkedQueue[Batch]
  private val Id = "\"\\$insert_id\":\"([^\"]+)\"".r
  private val Time = "\"time\":(\\d+)".r
  def record(gz: Array[Byte]): Unit = {
    val lines = new String(EventBatchSink.gunzip(gz), UTF_8).split("\n").toSeq
    val tc = TaskContext.get()
    batches.add(Batch(tc.partitionId(), tc.attemptNumber(),
      lines.flatMap(l => Id.findFirstMatchIn(l).map(_.group(1))),
      lines.flatMap(l => Time.findFirstMatchIn(l).map(_.group(1).toLong))))
  }
  def take(): Seq[Batch] = {
    val all = batches.asScala.toSeq
    batches.clear()
    all
  }
}
private class IdRecordingPoster extends EventPoster {
  def post(gz: Array[Byte], n: Int): PostResult = {
    Posted.record(gz)
    PostResult(200, "ok")
  }
}
/** Fails every task's first attempt at its first post, after recording
  * it. An `InterruptedException` is not swallowed by the sink's retry
  * loop (it only catches non-fatal errors), so the task fails and
  * Spark retries it. */
private class FailFirstAttemptPoster extends EventPoster {
  def post(gz: Array[Byte], n: Int): PostResult = {
    Posted.record(gz)
    if (TaskContext.get().attemptNumber() == 0)
      throw new InterruptedException("injected first-attempt failure")
    PostResult(200, "ok")
  }
}

/** Query setup is paid once per JVM, not per query: the compiled
  * projection's generated code is the same on every query (so a warm
  * run compiles nothing), yet `$insert_id` and the `time` default still
  * take a fresh value per query and per micro-batch; scans take their
  * schema from the footer check; DLQ frames are sized to their rows. */
class QuerySetupSpec extends SparkSpec {
  import spark.implicits._

  private val live = ConfigCompiler.Options(deterministic = false)

  /** No `$insert_id` or `time` mapping: both take their defaults. */
  private def cfg(dir: String) = SourceConfig(
    configId = "q", sourcePrefix = s"$dir/",
    eventNameField = Some("event_type"),
    fieldMappings = Seq(
      FieldMapping("uid", "$user_id", CastType.StringT),
      FieldMapping("amount", "amount", CastType.IntegerT,
        isRequiredInSource = true)))

  private def events(dir: Path, name: String, rows: Int, offset: Int = 0)
      : String = {
    val target = dir.resolve(name)
    writeFlat((offset until offset + rows).map(i =>
      ("click", s"u$i", if (i % 10 == 9) None else Some(i.toLong)))
      .toDF("event_type", "uid", "amount"), target)
    target.toString
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second identical batch run compiles nothing and runs one job; " +
      "its DLQ writes compile nothing") {
    val dir = Files.createTempDirectory("graft_setup_codegen")
    val uris = Seq(events(dir, "a.parquet", 40), events(dir, "b.parquet", 40, 40))
    def pass(n: Int): Int = {
      val (res, jobs, _) = withJobsAndTasks(BatchPipeline.run(spark, uris,
        Seq(cfg(dir.toString)), () => new IdRecordingPoster, live))
      res.transformDlq.write.json(s"$dir/dlq_transform_$n")
      res.apiDlq.write.json(s"$dir/dlq_api_$n")
      jobs
    }
    pass(1)
    val before = compiles
    val jobs = pass(2)
    assert(compiles - before == 0L)
    assert(jobs == 1) // the delivery pass; no schema inference
    Posted.take()
  }

  test("two batch runs mint disjoint $insert_ids, each stamped with its " +
      "own query time") {
    val dir = Files.createTempDirectory("graft_setup_ids")
    val uris = Seq(events(dir, "a.parquet", 30))
    Posted.take()
    def pass(): (Seq[String], Seq[Long], Long, Long) = {
      val t0 = System.currentTimeMillis() / 1000
      BatchPipeline.run(spark, uris, Seq(cfg(dir.toString)),
        () => new IdRecordingPoster, live)
      val t1 = System.currentTimeMillis() / 1000
      val b = Posted.take()
      (b.flatMap(_.ids), b.flatMap(_.times), t0, t1)
    }
    val (ids1, times1, a0, a1) = pass()
    Thread.sleep(1100)
    val (ids2, times2, b0, b1) = pass()
    assert(ids1.size == 27 && ids1.distinct.size == 27)
    assert(ids2.size == 27 && ids2.distinct.size == 27)
    assert(ids1.toSet.intersect(ids2.toSet).isEmpty)
    assert(times1.size == 27 && times1.forall(t => t >= a0 && t <= a1))
    assert(times2.size == 27 && times2.forall(t => t >= b0 && t <= b1))
    assert(times1.head < times2.head)
  }

  test("two streaming micro-batches mint disjoint $insert_ids, each " +
      "stamped with its own batch time") {
    val watch = Files.createTempDirectory("graft_setup_watch")
    val src = Files.createTempDirectory("graft_setup_src")
    val first = events(src, "m1.parquet", 20)
    val schema = spark.read.parquet(first).schema
    Files.move(Paths.get(first), watch.resolve("m1.parquet"))
    Posted.take()
    val t0 = System.currentTimeMillis() / 1000
    val q = StreamingPipeline.sinkStream(
      StreamingPipeline.transformStreamRouted(spark, cfg(watch.toString),
        Seq(cfg(watch.toString)), watch.toString, schema, live),
      () => new IdRecordingPoster, _ => (), _ => (),
      triggerInterval = "100 milliseconds")
      .option("checkpointLocation", s"$src/ckpt").start()
    try {
      q.processAllAvailable()
      val batch1 = Posted.take()
      Thread.sleep(1100)
      // a rename, so the source never lists a half-written file
      Files.move(Paths.get(events(src, "m2.parquet", 20, 20)),
        watch.resolve("m2.parquet"), java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      val batch2 = Posted.take()
      val t1 = System.currentTimeMillis() / 1000
      val (ids1, ids2) = (batch1.flatMap(_.ids), batch2.flatMap(_.ids))
      // the same partition index in both batches: only a fresh seed per
      // micro-batch keeps the ids apart
      assert(batch1.map(_.partition).toSet == batch2.map(_.partition).toSet)
      assert(ids1.size == 18 && ids2.size == 18)
      assert(ids1.toSet.intersect(ids2.toSet).isEmpty)
      // one time per micro-batch, taken when the batch ran
      val (times1, times2) = (batch1.flatMap(_.times), batch2.flatMap(_.times))
      assert(times1.size == 18 && times1.distinct.size == 1)
      assert(times2.size == 18 && times2.distinct.size == 1)
      assert(times1.head < times2.head)
      assert(times1.head >= t0 && times2.head <= t1)
    } finally q.stop()
  }

  test("a retried task mints the same $insert_ids as its failed attempt") {
    val dir = Files.createTempDirectory("graft_setup_retry")
    val uris = Seq(events(dir, "a.parquet", 50))
    Posted.take()
    val res = BatchPipeline.run(spark, uris, Seq(cfg(dir.toString)),
      () => new FailFirstAttemptPoster, live)
    val byAttempt = Posted.take().groupBy(_.attempt)
    assert(byAttempt.keySet == Set(0, 1))
    assert(byAttempt(0).flatMap(_.ids).size == 45)
    assert(byAttempt(0).flatMap(_.ids) == byAttempt(1).flatMap(_.ids))
    assert(res.counters.transformMetrics("q")("n_rows") == 50L)
    assert(res.apiDlq.count() == 0L)
  }

  /** A Parquet file written with the Parquet library's own writer, so
    * its footer has no Spark schema and is converted from the Parquet
    * types: nanosecond and microsecond timestamps, an unannotated
    * binary, a fixed-length decimal and a nested group. */
  private def writeRawParquet(target: Path): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message raw {
        |  required int64 ts_ns (TIMESTAMP(NANOS,true));
        |  required int64 ts_us (TIMESTAMP(MICROS,false));
        |  optional binary blob;
        |  optional binary name (STRING);
        |  required fixed_len_byte_array(9) price (DECIMAL(20,2));
        |  optional group nested {
        |    optional int32 a;
        |    optional binary b (STRING);
        |  }
        |}""".stripMargin)
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(target.toString))
      .withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val f = new SimpleGroupFactory(schema)
      for (i <- 0 until 3) {
        val g = f.newGroup()
          .append("ts_ns", 1700000000000000000L + i)
          .append("ts_us", 1700000000000000L + i)
          .append("blob", Binary.fromConstantByteArray(Array[Byte](0, 1, i.toByte)))
          .append("name", s"n$i")
          .append("price", Binary.fromConstantByteArray(
            BigInt(12345 + i).toByteArray.reverse.padTo(9, 0.toByte).reverse))
        g.addGroup("nested").append("a", i).append("b", s"b$i")
        w.write(g)
      }
    } finally w.close()
  }

  test("the footer schema equals Spark's inferred scan schema on every " +
      "fixture encoding, whatever the path order") {
    val dir = Files.createTempDirectory("graft_setup_footer")
    writeRawParquet(dir.resolve("raw.parquet"))
    writeFlat(Seq((BigDecimal("1.50"), Array[Byte](1, 2), (1, "x"),
        Seq(1.0, 2.0), Map("k" -> 1L), java.sql.Timestamp.valueOf("2024-01-02 03:04:05"),
        java.sql.Date.valueOf("2024-01-02")))
      .toDF("dec", "bin", "st", "arr", "mp", "ts", "d"),
      dir.resolve("spark.parquet"))
    val fixtures = Seq(dir.resolve("raw.parquet").toString,
      dir.resolve("spark.parquet").toString) ++
      Seq("events", "embeddings", "documents", "lineitem")
        .flatMap(t => sf(t).inputFiles)
    val layouts = fixtures.map(Seq(_)) ++ Seq(fixtures, fixtures.reverse,
      fixtures.drop(2) ++ fixtures.take(2))
    for (paths <- layouts) {
      val inferred = spark.read.parquet(paths: _*)
      val footer = BatchPipeline.footerScanSchema(spark, paths)
      assert(footer.nonEmpty, paths.mkString(","))
      val read = spark.read.schema(footer.get).parquet(paths: _*)
      assert(read.schema == inferred.schema, paths.mkString(","))
      def lines(df: DataFrame) = df.select(to_json(struct(df.columns.toSeq
        .map(n => col(s"`$n`")): _*))).as[String].collect().toSeq
      if (paths.size == 1)
        assert(lines(read) == lines(inferred))
    }
    // a directory is listed by the scan, not by the footer check
    assert(BatchPipeline.footerScanSchema(spark, Seq(dir.toString)).isEmpty)
  }

  test("an empty DLQ channel's write runs one task and writes no row; " +
      "a non-empty channel keeps its rows in at most one wave of tasks") {
    val dir = Files.createTempDirectory("graft_setup_dlq")
    val uris = (0 until 6).map(i => events(dir, s"f$i.parquet", 20, 20 * i))
    val c = cfg(dir.toString)
    val res = BatchPipeline.run(spark, uris, Seq(c), () => new IdRecordingPoster)
    Posted.take()
    val (_, _, tasks) = withJobsAndTasks(res.apiDlq.write.json(s"$dir/dlq_api"))
    assert(tasks == 1)
    // Spark's file writer always opens partition 0's file, so that an
    // empty write keeps its schema: one empty part file, no rows
    assert(Files.list(Paths.get(s"$dir/dlq_api")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).map(Files.size).toSeq
      == Seq(0L))
    assert(res.transformDlq.rdd.getNumPartitions <=
      spark.sparkContext.defaultParallelism)
    val want = ConfigCompiler.compile(c, spark.read.parquet(uris: _*)).dlq
    assert(res.transformDlq.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
    assert(res.transformDlq.count() == 12L)
  }
}
