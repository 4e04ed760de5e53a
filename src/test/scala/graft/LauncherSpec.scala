package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.config.{CastType, ConfigLoader, FieldMapping, SourceConfig}

/** S7 launch surface: URI validation, existence check, abort-on-load
  * semantics (`M/gcs_utils.py:18-45`, `M/main.py:26-34,430-437`) —
  * plus the streaming-mode launch end to end. */
class LauncherSpec extends SparkSpec {
  import spark.implicits._

  private val goodJson =
    """[{"config_id": "c1", "source_gcs_prefix": "gs://b/p/",
      |  "file_type": "PARQUET", "mixpanel_event_name": "e",
      |  "field_mappings": [
      |    {"source_field": "a", "mixpanel_field": "b", "type": "string"}]}]
      |""".stripMargin

  /** Write `rows` as ONE flat parquet file at `target`, creating its
    * directory. */
  private def writeFlat(target: java.nio.file.Path,
      rows: Seq[(String, Long, String)]): Unit = {
    Files.createDirectories(target.getParent)
    writeFlat(rows.toDF("event_type", "ts_epoch", "uid"), target)
  }

  private def streamCfg(id: String, prefix: String) = SourceConfig(
    configId = id, sourcePrefix = prefix,
    eventNameField = Some("event_type"),
    fieldMappings = Seq(
      FieldMapping("ts_epoch", "time", CastType.UnixTimestampAuto),
      FieldMapping("uid", "$user_id", CastType.StringT)))

  test("validateUri: scheme and bucket/object shape enforced") {
    assert(ConfigLoader.validateUri("gs://bucket/path/x.json") ==
      ("bucket", "path/x.json"))
    intercept[IllegalArgumentException] {
      ConfigLoader.validateUri("s3://bucket/x.json")
    }
    intercept[IllegalArgumentException] {
      ConfigLoader.validateUri("gs://bucketonly")
    }
    intercept[IllegalArgumentException] {
      ConfigLoader.validateUri("gs://bucket/")
    }
    intercept[IllegalArgumentException] { ConfigLoader.validateUri(null) }
    // scheme is parameterized: file URIs validate for local runs
    // (empty authority is legal for file://)
    assert(ConfigLoader.validateUri("file:///tmp/x.json", "file") ==
      ("", "tmp/x.json"))
  }

  test("loadUri: valid file loads, missing file and bad JSON throw") {
    val dir = Files.createTempDirectory("graft_launcher")
    val good = dir.resolve("good.json")
    Files.writeString(good, goodJson)
    val conf = spark.sparkContext.hadoopConfiguration

    val cfgs = ConfigLoader.loadUri(s"file://$good", conf, scheme = "file")
    assert(cfgs.map(_.configId) == Seq("c1"))

    intercept[java.io.FileNotFoundException] {
      ConfigLoader.loadUri(s"file://$dir/nope.json", conf, scheme = "file")
    }

    val bad = dir.resolve("bad.json")
    Files.writeString(bad, "{not json]")
    intercept[Exception] {
      ConfigLoader.loadUri(s"file://$bad", conf, scheme = "file")
    }

    intercept[IllegalArgumentException] {
      ConfigLoader.loadUri("gs://b/x.json", conf, scheme = "file")
    }
  }

  test("launcher aborts (Left) on any config-load failure") {
    val a = Launcher.parseArgs(Seq(
      "--mode", "batch",
      "--input_gcs_pattern", "/tmp/none/*.parquet",
      "--source_configs_gcs_uri", "file:///tmp/definitely/missing.json",
      "--config_uri_scheme", "file"))
    assert(Launcher.loadConfigsOrAbort(spark, a).isLeft)

    val dir = Files.createTempDirectory("graft_launcher2")
    val good = dir.resolve("good.json")
    Files.writeString(good, goodJson)
    val ok = Launcher.parseArgs(Seq(
      "--mode", "batch",
      "--input_gcs_pattern", "/tmp/none/*.parquet",
      "--source_configs_gcs_uri", s"file://$good",
      "--config_uri_scheme", "file"))
    val loaded = Launcher.loadConfigsOrAbort(spark, ok)
    assert(loaded.isRight && loaded.toOption.get.head.configId == "c1")
  }

  test("streaming launcher end-to-end: N configs over a mixed dir, " +
      "per-config checkpoints, DLQ dirs, exactly-once mapping") {
    val watch = Files.createTempDirectory("graft_launch_stream")
    val dlqDir = Files.createTempDirectory("graft_launch_dlq")
    // mixed dir: two configs' files plus an orphan no config matches;
    // one b-row with an empty dynamic event name (-> transform DLQ)
    writeFlat(watch.resolve("a_1.parquet"),
      Seq(("from_a", 10L, "u1"), ("from_a2", 11L, "u2")))
    writeFlat(watch.resolve("b_1.parquet"),
      Seq(("from_b", 20L, "u3"), ("", 21L, "u4")))
    writeFlat(watch.resolve("c_orphan.parquet"), Seq(("orphan", 30L, "u5")))
    def mapping(src: String, tgt: String, tpe: String) =
      s"""{"source_field": "$src", "mixpanel_field": "$tgt", "type": "$tpe"}"""
    val cfgJson =
      s"""[{"config_id": "a", "source_gcs_prefix": "$watch/a_",
         |  "file_type": "PARQUET", "mixpanel_event_name_from_field": "event_type",
         |  "field_mappings": [${mapping("ts_epoch", "time", "unix_timestamp_auto")},
         |    ${mapping("uid", "$$user_id", "string")}]},
         | {"config_id": "b", "source_gcs_prefix": "$watch/b_",
         |  "file_type": "PARQUET", "mixpanel_event_name_from_field": "event_type",
         |  "field_mappings": [${mapping("ts_epoch", "time", "unix_timestamp_auto")},
         |    ${mapping("uid", "$$user_id", "string")}]}]
         |""".stripMargin
    // NOT inside the watch dir — the file streams would scan it
    val cfgPath = Files.createTempDirectory("graft_launch_cfg")
      .resolve("sources.json")
    Files.writeString(cfgPath, cfgJson)
    // the full launch path short of main(): parse args, load + validate
    // configs, start the per-config streams
    val args = Launcher.parseArgs(Seq(
      "--mode", "streaming",
      "--input_subscription", watch.toString,
      "--source_configs_gcs_uri", s"file://$cfgPath",
      "--config_uri_scheme", "file",
      "--dlq_topic_transform_errors", dlqDir.toString))
    val configs = Launcher.loadConfigsOrAbort(spark, args)
      .toOption.get
    assert(configs.map(_.configId) == Seq("a", "b"))
    PostedEvents.n.set(0)
    val qs = Launcher.startStreams(spark, args, configs,
      graft.compile.ConfigCompiler.Options(),
      poster = Some(() => new EventCountingPoster),
      triggerInterval = "100 milliseconds")
    assert(qs.size == 2)
    qs.foreach(_.processAllAvailable())
    // a late-arriving file is picked up by the already-running streams
    writeFlat(watch.resolve("a_2.parquet"), Seq(("late", 12L, "u6")))
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    // exactly-once mapping: 2 (a_1) + 1 good (b_1) + 1 (a_2); the
    // orphan file and the DLQ row are never posted, nothing posts twice
    assert(PostedEvents.n.get == 4L)
    // per-config checkpoints, isolated directories
    val ckptA = java.nio.file.Paths.get(s"${watch}_graft_ckpt_a")
    val ckptB = java.nio.file.Paths.get(s"${watch}_graft_ckpt_b")
    assert(Files.isDirectory(ckptA) && Files.isDirectory(ckptB))
    // the bad b-row landed in the transform-DLQ dir exactly once
    // (per-config subdirs — see startStreams — hence recursive read)
    val dlq = spark.read.option("recursiveFileLookup", "true")
      .json(dlqDir.toString)
    assert(dlq.count() == 1L)
    assert(dlq.select(col("error_type")).as[String].collect().toSeq ==
      Seq("missing_dynamic_event_name"))
  }

  test("streaming rate control: --max_files_per_trigger paces a file " +
      "burst across micro-batches with mapping intact") {
    val watch = Files.createTempDirectory("graft_launch_paced")
    // a 4-file burst, all present BEFORE the stream starts — the
    // backfill case that lands in ONE micro-batch without the cap
    (1 to 4).foreach(i => writeFlat(watch.resolve(s"a_$i.parquet"),
      Seq((s"burst_$i", 10L + i, s"u$i"), (s"burst_${i}b", 20L + i, s"v$i"))))
    def mapping(src: String, tgt: String, tpe: String) =
      s"""{"source_field": "$src", "mixpanel_field": "$tgt", "type": "$tpe"}"""
    val cfgJson =
      s"""[{"config_id": "a", "source_gcs_prefix": "$watch/a_",
         |  "file_type": "PARQUET", "mixpanel_event_name_from_field": "event_type",
         |  "field_mappings": [${mapping("ts_epoch", "time", "unix_timestamp_auto")},
         |    ${mapping("uid", "$$user_id", "string")}]}]
         |""".stripMargin
    val cfgPath = Files.createTempDirectory("graft_paced_cfg")
      .resolve("sources.json")
    Files.writeString(cfgPath, cfgJson)
    val args = Launcher.parseArgs(Seq(
      "--mode", "streaming",
      "--input_subscription", watch.toString,
      "--source_configs_gcs_uri", s"file://$cfgPath",
      "--config_uri_scheme", "file",
      "--max_files_per_trigger", "1"))
    assert(args.maxFilesPerTrigger.contains(1))
    val configs = Launcher.loadConfigsOrAbort(spark, args).toOption.get
    PostedEvents.n.set(0)
    // explicit schema: the production path that skips the inference
    // batch-read (and its extra full listing) of the watch dir
    val schema = new org.apache.spark.sql.types.StructType()
      .add("event_type", org.apache.spark.sql.types.StringType)
      .add("ts_epoch", org.apache.spark.sql.types.LongType)
      .add("uid", org.apache.spark.sql.types.StringType)
    val qs = Launcher.startStreams(spark, args, configs,
      graft.compile.ConfigCompiler.Options(),
      poster = Some(() => new EventCountingPoster),
      schema = Some(schema), triggerInterval = "100 milliseconds")
    qs.foreach(_.processAllAvailable())
    qs.foreach(_.stop())
    // every row mapped exactly once...
    assert(PostedEvents.n.get == 8L)
    // ...across one micro-batch PER FILE, not one giant batch
    val batches = qs.head.recentProgress.count(_.numInputRows > 0)
    assert(batches == 4, s"expected 4 paced micro-batches, got $batches")
  }

  test("startStreams takes the watch dir's schema from one footer: no " +
      "Spark job, the schema inference gives") {
    val watch = Files.createTempDirectory("graft_launch_schema")
    writeFlat(Seq(("b", 20L, "u2", 1.5)).toDF("event_type", "ts_epoch",
      "uid", "extra"), watch.resolve("b_1.parquet"))
    // inference reads the first file in path order only: a_1's schema
    writeFlat(watch.resolve("a_1.parquet"), Seq(("a", 10L, "u1")))
    Files.createFile(watch.resolve("_SUCCESS"))
    val (schema, jobs, _) = withJobsAndTasks(
      Launcher.watchSchema(spark, watch.toString))
    assert(jobs == 0)
    assert(schema.fieldNames.toSeq == Seq("event_type", "ts_epoch", "uid"))
    assert(schema == spark.read.parquet(watch.toString).schema)
    val empty = Files.createTempDirectory("graft_launch_schema_empty")
    val e = intercept[IllegalArgumentException](
      Launcher.watchSchema(spark, empty.toString))
    assert(e.getMessage.contains("no data file"))
  }

  test("streaming launcher starts on a watch dir with dt=2024/ and sub/ " +
      "subdirectories and delivers every file once") {
    val watch = Files.createTempDirectory("graft_launch_layout")
    writeFlat(watch.resolve("a_1.parquet"), Seq(("flat", 10L, "u1")))
    writeFlat(watch.resolve("dt=2024/p.parquet"), Seq(("dt", 20L, "u2")))
    writeFlat(watch.resolve("sub/q.parquet"), Seq(("sub", 30L, "u3")))
    val args = Launcher.Args(mode = "streaming",
      inputSubscription = Some(watch.toString))
    PostedEvents.n.set(0)
    val qs = Launcher.startStreams(spark, args,
      Seq(streamCfg("w", s"$watch/")), graft.compile.ConfigCompiler.Options(),
      poster = Some(() => new EventCountingPoster),
      triggerInterval = "100 milliseconds")
    try qs.foreach(_.processAllAvailable()) finally qs.foreach(_.stop())
    assert(PostedEvents.n.get == 3L)
  }

  test("parseArgs: required args and unknown flags rejected") {
    intercept[IllegalArgumentException] {
      Launcher.parseArgs(Seq("--mode", "batch")) // no config uri
    }
    intercept[IllegalArgumentException] {
      Launcher.parseArgs(Seq("--bogus", "x"))
    }
    val a = Launcher.parseArgs(Seq(
      "--source_configs_gcs_uri", "gs://b/c.json",
      "--mixpanel_project_token", "tok",
      "--dlq_topic_api_errors", "gs://b/dlq"))
    assert(a.mode == "batch" && a.mixpanelProjectToken == "tok" &&
      a.dlqTopicApiErrors.contains("gs://b/dlq"))
  }
}
