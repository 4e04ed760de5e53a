package graft

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.functions._

import graft.config.{CastType, ConfigLoader, FieldMapping, SourceConfig}
import graft.pipeline.BatchPipeline

/** An in-process Hadoop FileSystem under a NON-`file` scheme
  * (`mock://root/...`), backed by local disk — the smallest faithful
  * stand-in for an object store (gs://, s3a://): every path carries
  * scheme + authority, and config load / listing / glob / scan all go
  * through Hadoop's `FileSystem` API exactly as they would against the
  * GCS connector. Must be a top-level class: Hadoop instantiates it
  * reflectively from the `fs.mock.impl` conf key. */
final class MockFs extends RawLocalFileSystem {
  override def getScheme: String = "mock"
  override def getUri: URI = URI.create("mock://root")
}

/** Scheme-level object-store evidence: the engine's URI surface
  * (config load S7, routing P2, batch run) is exercised end-to-end
  * against a registered non-`file` FileSystem, not just string-prefix
  * logic. */
class ObjectStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val mocked = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock.impl", classOf[MockFs].getName)
    true
  }

  private def cfgJson(prefix: String) =
    s"""[{"config_id": "m1", "source_gcs_prefix": "$prefix",
       |  "file_type": "PARQUET",
       |  "mixpanel_event_name_from_field": "event_type",
       |  "field_mappings": [
       |    {"source_field": "ts_epoch", "mixpanel_field": "time",
       |     "type": "unix_timestamp_auto"},
       |    {"source_field": "uid", "mixpanel_field": "$$user_id",
       |     "type": "string"}]}]
       |""".stripMargin

  test("config load (S7) through a registered mock:// FileSystem, " +
      "including the existence check") {
    assert(mocked)
    val dir = Files.createTempDirectory("graft_mockfs_cfg")
    Files.writeString(dir.resolve("sources.json"), cfgJson("mock://root/x/"))
    val conf = spark.sparkContext.hadoopConfiguration
    val cfgs = ConfigLoader.loadUri(s"mock://root$dir/sources.json",
      conf, scheme = "mock")
    assert(cfgs.map(_.configId) == Seq("m1"))
    assert(cfgs.head.sourcePrefix == "mock://root/x/")
    intercept[java.io.FileNotFoundException] {
      ConfigLoader.loadUri(s"mock://root$dir/nope.json", conf, "mock")
    }
  }

  test("write, glob, route, and batch-transform parquet through mock:// " +
      "end to end") {
    assert(mocked)
    val dir = Files.createTempDirectory("graft_mockfs_data")
    // write THROUGH the mock scheme: create/mkdirs/rename (the
    // committer) all run against the registered FileSystem
    Seq(("click", 10L, "u1"), ("view", 20L, "u2"))
      .toDF("event_type", "ts_epoch", "uid")
      .write.mode("overwrite").parquet(s"mock://root$dir/src/a_1.parquet")
    // Hadoop glob over the mock scheme (the Launcher batch path keeps
    // non-file schemes verbatim, Launcher.scala:150-155)
    val fs = new org.apache.hadoop.fs.Path(s"mock://root$dir/src/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val globbed = fs.globStatus(
        new org.apache.hadoop.fs.Path(s"mock://root$dir/src/*/part*.parquet"))
      .map(_.getPath.toString).toSeq
    assert(globbed.nonEmpty && globbed.forall(_.startsWith("mock://root/")))
    // full batch run over mock:// URIs: scan + route + transform + post
    val cfg = SourceConfig(
      configId = "m1", sourcePrefix = s"mock://root$dir/src/a_",
      eventNameField = Some("event_type"),
      fieldMappings = Seq(
        FieldMapping("ts_epoch", "time", CastType.UnixTimestampAuto),
        FieldMapping("uid", "$user_id", CastType.StringT)))
    val res = BatchPipeline.run(spark, globbed, Seq(cfg),
      () => new Always200)
    assert(res.eventsJson.count() == 2)
    assert(res.counters.routed == Map("m1" -> globbed.size.toLong))
  }
}
