package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.compile.ConfigCompiler
import graft.config.{CastType, FieldMapping, SourceConfig}
import graft.operators.Router
import graft.pipeline.BatchPipeline
import graft.sink.{EventPoster, PostResult}

private class CountingPoster extends EventPoster {
  def post(gz: Array[Byte], n: Int): PostResult = PostResult(200, "ok")
}

/** A3 observability: router/transform/read-error counters
  * (`M/main.py:55-63,145,274-277`, `M/main_batch.py:101-103`) and the
  * event-name falsy semantics they hang off. */
class CountersSpec extends SparkSpec {
  import spark.implicits._

  private val opts = ConfigCompiler.Options()

  test("router counters: matched per config + unmatched, zeros kept") {
    val uris = Seq("gs://b/a/1", "gs://b/a/2", "gs://b/c/3", "gs://b/x/4", null)
      .toDF("uri")
    val cfgs = Seq(
      SourceConfig("ca", "gs://b/a/"),
      SourceConfig("cc", "gs://b/c/"),
      SourceConfig("cz", "gs://b/z/"))
    val got = Router.routeCounts(uris, cfgs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("ca" -> 2L, "cc" -> 1L, "cz" -> 0L, "__unmatched__" -> 1L))
  }

  test("event-name falsy is type-aware: string '0' valid, numeric 0 DLQ'd") {
    val sdf = Seq("0", "", "ok").toDF("name")
    val scfg = SourceConfig("s", "gs://x/", eventNameField = Some("name"))
    val sc = ConfigCompiler.compile(scfg, sdf, opts)
    assert(sc.ok.select("event").as[String].collect().toSet == Set("0", "ok"))
    assert(sc.dlq.count() == 1)

    val ndf = Seq(0L, 7L).toDF("name")
    val nc = ConfigCompiler.compile(scfg, ndf, opts)
    assert(nc.ok.select("event").as[String].collect().toSeq == Seq("7"))
    assert(nc.dlq.count() == 1)

    val bdf = Seq(true, false).toDF("name")
    val bc = ConfigCompiler.compile(scfg, bdf, opts)
    assert(bc.ok.select("event").as[String].collect().toSeq == Seq("True"))
    assert(bc.dlq.count() == 1)
  }

  test("string_or_uuid replaces empty string with a fresh surrogate") {
    val df = Seq(("e", ""), ("e", "have")).toDF("name", "iid")
    val cfg = SourceConfig("u", "gs://x/", staticEventName = Some("e"),
      fieldMappings = Seq(
        FieldMapping("iid", "$insert_id", CastType.StringOrUuid)))
    val ids = ConfigCompiler.compile(cfg, df, opts).ok
      .select(col("properties.`$insert_id`")).as[String].collect().toSet
    assert(ids.contains("have"))
    assert(!ids.contains("")) // "" falsy under Python `or` -> fresh uuid
    assert(ids.size == 2)
  }

  test("compiler counters: missing_distinct_id + ts_parse_errors") {
    val df = Seq(
      // (name, uid, ts_str)
      ("e1", "u1", "2024-01-02 03:04:05"), // clean
      ("e2", "", "not a ts"),              // missing id + parse error
      ("e3", null, "2024-01-02 03:04:05"), // missing id
      ("", "u4", "not a ts"))              // DLQ: parse error NOT counted
      .toDF("name", "uid", "ts_str")
    val cfg = SourceConfig("m", "gs://x/", eventNameField = Some("name"),
      fieldMappings = Seq(
        FieldMapping("ts_str", "time", CastType.UnixTimestampAuto),
        FieldMapping("uid", "$user_id", CastType.StringT)))
    val row = ConfigCompiler.compile(cfg, df, opts).counters.collect()(0)
    assert(row.getAs[Long]("n_rows") == 4)
    assert(row.getAs[Long]("n_dlq") == 1)
    assert(row.getAs[Long]("missing_distinct_id") == 2)
    assert(row.getAs[Long]("ts_parse_errors") == 1)
  }

  test("batch run: corrupt file skipped + counted; counters complete") {
    val dir = Files.createTempDirectory("graft_counters").toString
    Seq(("click", 10L, "u1"), ("view", 20L, ""), ("", 30L, "u3"))
      .toDF("event_type", "ts_epoch", "uid")
      .write.mode("overwrite").parquet(s"$dir/src/good.parquet")
    Files.write(Paths.get(s"$dir/src/bad.parquet"),
      "this is not a parquet file".getBytes)
    val cfg = SourceConfig(
      configId = "t", sourcePrefix = s"$dir/src/",
      eventNameField = Some("event_type"),
      fieldMappings = Seq(
        FieldMapping("ts_epoch", "time", CastType.UnixTimestampAuto),
        FieldMapping("uid", "$user_id", CastType.StringT)))
    val res = BatchPipeline.run(spark,
      Seq(s"$dir/src/good.parquet", s"$dir/src/bad.parquet", s"$dir/nope.parquet"),
      Seq(cfg), () => new CountingPoster)
    assert(res.counters.readErrors == Map("t" -> 1L))
    assert(res.counters.routed == Map("t" -> 2L))
    assert(res.counters.unmatchedUris == 1L)
    assert(res.eventsJson.count() == 2) // good rows intact
    // run() posts eagerly — observation is already filled
    val m = res.counters.transformMetrics("t")
    assert(m("n_rows") == 3L && m("n_dlq") == 1L)
    assert(m("missing_distinct_id") == 1L) // "" uid falsy
    // re-evaluating the checkpointed DLQ frame must not re-post
    assert(res.apiDlq.count() == 0 && res.apiDlq.count() == 0)
  }

  test("a valid PAR1 trailer over an unreadable footer is a read error, " +
      "not a failed run") {
    val dir = Files.createTempDirectory("graft_footer")
    // the good file, and a copy whose footer is zeroed between its
    // length field and the data: magic bytes and length stay valid
    val good = writeFlat(Seq(("click", 10L, "u1"), ("view", 20L, "u2"))
      .toDF("event_type", "ts_epoch", "uid"), dir.resolve("b_good.parquet"))
    val bytes = Files.readAllBytes(good)
    val footerLen = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    java.util.Arrays.fill(bytes, bytes.length - 8 - footerLen, bytes.length - 8, 0.toByte)
    val bad = Files.write(dir.resolve("a_bad.parquet"), bytes)
    assert(new String(bytes.takeRight(4), "US-ASCII") == "PAR1")
    val cfg = SourceConfig(
      configId = "t", sourcePrefix = s"$dir/",
      eventNameField = Some("event_type"),
      fieldMappings = Seq(FieldMapping("uid", "$user_id", CastType.StringT)))
    assert(BatchPipeline.isolateCorrupt(spark, Map(cfg -> Seq(bad.toString)))
      ._2 == Map("t" -> 1L))
    // either path order: the scan's own inference would read the
    // lexicographically first file, the bad one
    for (uris <- Seq(Seq(bad, good), Seq(good, bad)).map(_.map(_.toString))) {
      val res = BatchPipeline.run(spark, uris, Seq(cfg), () => new CountingPoster)
      assert(res.counters.readErrors == Map("t" -> 1L))
      assert(res.imported == Seq(good.toString))
      assert(res.counters.transformMetrics("t")("n_rows") == 2L)
      assert(res.eventsJson.count() == 2L)
    }
  }

  test("batch run + both DLQ writes scan each config's files once; " +
      "counters equal the compiled frame's") {
    val dir = Files.createTempDirectory("graft_once").toString
    Seq(("click", 10L, "u1"), ("view", 20L, ""), ("", 30L, "u3"))
      .toDF("event_type", "ts_epoch", "uid")
      .write.mode("overwrite").parquet(s"$dir/a/part.parquet")
    Seq(("buy", 40L, "u4"), ("", 50L, "u5"))
      .toDF("event_type", "ts_epoch", "uid")
      .write.mode("overwrite").parquet(s"$dir/b/part.parquet")
    def cfg(id: String) = SourceConfig(
      configId = id, sourcePrefix = s"$dir/$id/",
      eventNameField = Some("event_type"),
      fieldMappings = Seq(
        FieldMapping("ts_epoch", "time", CastType.UnixTimestampAuto),
        FieldMapping("uid", "$user_id", CastType.StringT)))
    val cfgs = Seq(cfg("a"), cfg("b"))
    val (res, read) = withScanRecords {
      val res = BatchPipeline.run(spark,
        cfgs.map(c => s"$dir/${c.configId}/part.parquet"), cfgs,
        () => new CountingPoster)
      res.transformDlq.write.json(s"$dir/dlq_transform")
      res.apiDlq.write.json(s"$dir/dlq_api")
      res
    }
    assert(read == 5L) // n_rows over both configs: one scan each
    for (c <- cfgs) {
      val row = ConfigCompiler.compile(c,
        spark.read.parquet(s"$dir/${c.configId}/part.parquet"), opts)
        .counters.collect()(0)
      assert(res.counters.transformMetrics(c.configId) ==
        row.schema.fieldNames.map(n => n -> row.getAs[Long](n)).toMap)
    }
    assert(spark.read.json(s"$dir/dlq_transform").count() == 2L)
  }

  test("distributed routing matches driver-side routing") {
    val cfgs = Seq(
      SourceConfig("ca", "gs://b/a/"),
      SourceConfig("cb", "gs://b/b/", fileType = "CSV"),
      SourceConfig("call", "gs://b/"))
    val uris = (0 until 30000).map { i =>
      val p = i % 4 match {
        case 0 => "gs://b/a/"
        case 1 => "gs://b/b/"
        case 2 => "gs://b/z/"
        case _ => "gs://other/"
      }
      s"$p$i.parquet"
    }
    val (routed, counts, unmatched) =
      BatchPipeline.routeFilesDistributed(spark, uris, cfgs)
    val driverRouted = BatchPipeline.routeFiles(uris, cfgs)
    assert(routed.map { case (c, ps) => c.configId -> ps.toSet } ==
      driverRouted.map { case (c, ps) => c.configId -> ps.toSet })
    assert(counts == Map("ca" -> 7500L, "cb" -> 7500L, "call" -> 7500L))
    assert(unmatched == 7500L)
    // the driver pass run() takes below the threshold counts the same
    val (_, driverCounts, driverUnmatched) =
      BatchPipeline.routeFilesOnDriver(uris, cfgs)
    assert(driverCounts == counts && driverUnmatched == 7500L)
  }
}
