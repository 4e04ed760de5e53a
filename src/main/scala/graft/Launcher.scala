package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.config.{ConfigLoader, SourceConfig}
import graft.pipeline.{BatchPipeline, StreamingPipeline}
import graft.sink.{EventPoster, PostResult}

/** The user-facing entry point — the analog of the reference's
  * `MixpanelImporterOptions` / `MixpanelBatchOptions` launchers
  * (`M/main.py:26-34`, `M/main_batch.py:25-33`, flex-template param
  * schema `M/mixpanel_importer_flex_template.json:9-56`).
  *
  * Arguments (reference names kept verbatim):
  *   --mode streaming|batch            (which pipeline shape; the
  *                                      reference splits this across two
  *                                      mains)
  *   --input_subscription S            (streaming: watch directory — the
  *                                      file stream source subsumes the
  *                                      Pub/Sub notification feed, S1;
  *                                      a config's stream reads every
  *                                      file whose path starts with its
  *                                      source prefix, at any depth, as
  *                                      a flat GCS prefix matches)
  *   --input_gcs_pattern P             (batch: glob of input objects)
  *   --source_configs_gcs_uri U        (required; validated + loaded
  *                                      before anything launches)
  *   --mixpanel_project_token T        (injected into every event)
  *   --mixpanel_api_secret K           (sink auth; unused by the bundled
  *                                      offline poster)
  *   --dlq_topic_transform_errors D    (directory the transform DLQ is
  *                                      appended to; optional)
  *   --dlq_topic_api_errors D          (same for the API DLQ)
  *   --config_uri_scheme s             (gs in production; file for local
  *                                      runs/tests — validation semantics
  *                                      identical)
  *   --processed_ledger_dir D          (optional: enables the
  *                                      processed-file ledger — batch
  *                                      runs skip already-imported files
  *                                      and record successes; the
  *                                      idempotency the reference README
  *                                      promises, SURVEY.md §2.11)
  *   --mixpanel_api_url U              (optional: selects the real HTTP
  *                                      transport posting to U; unset
  *                                      runs the offline accept-all
  *                                      poster — this container has no
  *                                      egress)
  *   --max_files_per_trigger N         (streaming: cap files ingested
  *                                      per micro-batch, per config, so
  *                                      a backfill burst is paced across
  *                                      batches instead of landing in
  *                                      one; the reference's Pub/Sub+
  *                                      windowing paces this naturally)
  *
  * Launch aborts with a CRITICAL log and exit code 1 when the config
  * URI is invalid, missing, or unparseable (`M/main.py:430-437`,
  * `M/gcs_utils.py:18-45`) — a pipeline with no configs must never
  * start.
  */
object Launcher {

  final case class Args(
      mode: String = "batch",
      inputSubscription: Option[String] = None,
      inputGcsPattern: Option[String] = None,
      sourceConfigsGcsUri: String = "",
      mixpanelProjectToken: String = "",
      mixpanelApiSecret: String = "",
      dlqTopicTransformErrors: Option[String] = None,
      dlqTopicApiErrors: Option[String] = None,
      configUriScheme: String = "gs",
      processedLedgerDir: Option[String] = None,
      mixpanelApiUrl: Option[String] = None,
      maxFilesPerTrigger: Option[Int] = None)

  def parseArgs(argv: Seq[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--mode" :: v :: t => loop(t, acc.copy(mode = v))
      case "--input_subscription" :: v :: t =>
        loop(t, acc.copy(inputSubscription = Some(v)))
      case "--input_gcs_pattern" :: v :: t =>
        loop(t, acc.copy(inputGcsPattern = Some(v)))
      case "--source_configs_gcs_uri" :: v :: t =>
        loop(t, acc.copy(sourceConfigsGcsUri = v))
      case "--mixpanel_project_token" :: v :: t =>
        loop(t, acc.copy(mixpanelProjectToken = v))
      case "--mixpanel_api_secret" :: v :: t =>
        loop(t, acc.copy(mixpanelApiSecret = v))
      case "--dlq_topic_transform_errors" :: v :: t =>
        loop(t, acc.copy(dlqTopicTransformErrors = Some(v)))
      case "--dlq_topic_api_errors" :: v :: t =>
        loop(t, acc.copy(dlqTopicApiErrors = Some(v)))
      case "--config_uri_scheme" :: v :: t =>
        loop(t, acc.copy(configUriScheme = v))
      case "--processed_ledger_dir" :: v :: t =>
        loop(t, acc.copy(processedLedgerDir = Some(v)))
      case "--mixpanel_api_url" :: v :: t =>
        loop(t, acc.copy(mixpanelApiUrl = Some(v)))
      case "--max_files_per_trigger" :: v :: t =>
        loop(t, acc.copy(maxFilesPerTrigger = Some(v.toInt)))
      case other :: _ =>
        throw new IllegalArgumentException(s"Unknown argument: $other")
    }
    val a = loop(argv.toList, Args())
    require(a.sourceConfigsGcsUri.nonEmpty,
      "--source_configs_gcs_uri is required")
    require(a.mode == "batch" || a.mode == "streaming",
      s"--mode must be batch or streaming, got ${a.mode}")
    a
  }

  /** Config load + validation stage; the part of launch that can abort
    * (`M/main.py:430-437`). Exposed for specs. */
  def loadConfigsOrAbort(spark: SparkSession, a: Args)
      : Either[String, Seq[SourceConfig]] =
    try Right(ConfigLoader.loadUri(a.sourceConfigsGcsUri,
      spark.sparkContext.hadoopConfiguration, a.configUriScheme))
    catch {
      case e: Exception =>
        Left(s"CRITICAL: Failed to load source configurations: ${e.getMessage}")
    }

  /** Offline default poster (this container has no egress): accepts
    * every batch. A production deployment passes `--mixpanel_api_url`
    * to select the real HTTP transport instead (K1). */
  private final class AcceptAllPoster extends EventPoster {
    def post(gz: Array[Byte], n: Int): PostResult = PostResult(200, "ok")
  }

  /** Transport selection: `--mixpanel_api_url` set -> real HTTP poster
    * (basic-auth `mixpanel_api_secret`, 90 s timeout, gzip NDJSON —
    * `M/main.py:320-322,350-368`); unset -> offline accept-all. */
  def posterFactory(a: Args): () => EventPoster = a.mixpanelApiUrl match {
    case Some(url) =>
      val secret = a.mixpanelApiSecret
      () => new graft.sink.HttpEventPoster(url, secret)
    case None => () => new AcceptAllPoster
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv.toIndexedSeq)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    loadConfigsOrAbort(spark, a) match {
      case Left(err) =>
        System.err.println(err)
        spark.stop()
        sys.exit(1)
      case Right(configs) =>
        val opts = graft.compile.ConfigCompiler.Options(
          deterministic = false, token = a.mixpanelProjectToken)
        a.mode match {
          case "batch" =>
            val pattern = a.inputGcsPattern.getOrElse(
              sys.error("--input_gcs_pattern is required in batch mode"))
            val fs = new Path(pattern)
              .getFileSystem(spark.sparkContext.hadoopConfiguration)
            // local paths come back "file:/..."-schemed from the glob;
            // strip that so they prefix-match plain-path configs (cloud
            // schemes like gs:// stay verbatim, as their configs are)
            val globbed = fs.globStatus(new Path(pattern))
              .toSeq.map { st =>
                val u = st.getPath.toUri
                if (u.getScheme == null || u.getScheme == "file") u.getPath
                else st.getPath.toString
              }
            val uris = a.processedLedgerDir match {
              case Some(led) =>
                graft.pipeline.FileLedger.unprocessed(spark, globbed, led)
              case None => globbed
            }
            val res = BatchPipeline.run(spark, uris, configs,
              posterFactory(a), opts)
            // Ledger: record ONLY what was actually transformed. The
            // full pre-run list would mark corrupt-skipped / unmatched
            // files as processed and permanently skip a fixed re-upload
            // or a late-added config (`FileLedger` contract, §2.11).
            a.processedLedgerDir.foreach(led =>
              graft.pipeline.FileLedger.record(spark, res.imported, led))
            a.dlqTopicTransformErrors.foreach(d =>
              res.transformDlq.write.mode("append").json(d))
            a.dlqTopicApiErrors.foreach(d =>
              res.apiDlq.write.mode("append").json(d))
            println(s"routed=${res.counters.routed} " +
              s"unmatched=${res.counters.unmatchedUris} " +
              s"readErrors=${res.counters.readErrors}")
          case "streaming" =>
            startStreams(spark, a, configs, opts)
            spark.streams.awaitAnyTermination()
        }
        spark.stop()
    }
  }

  /** Streaming-mode launch: one routed stream per PARQUET config over
    * the shared watch dir, each reading only its config's prefix and
    * keeping the files whose FIRST matching config (across the full
    * list, parquet or not) is this one — so a multi-config deployment
    * reads and maps every file once, by the config the reference's
    * router would pick (`M/main.py:466-495`). Each stream checkpoints
    * under its own per-config directory, and DLQ frames append under a
    * PER-CONFIG subdirectory of the configured dir: N streams'
    * micro-batch jobs committing into one directory race on the shared
    * `_temporary` committer dir (observed: FileNotFoundException
    * mid-commit). Read a DLQ dir with `recursiveFileLookup` to see all
    * configs' rows.
    * Returns the started queries; [[main]] awaits them. `poster`
    * overrides the transport (specs inject a counting poster).
    * `schema` is the input schema; without it, [[watchSchema]] takes it
    * from one footer, which at 10^6 files still costs a full extra
    * listing of the watch dir before the N stream sources each list
    * their prefix, so a production launch should pass the declared
    * schema. `triggerInterval` is each stream's micro-batch trigger
    * ([[StreamingPipeline.sinkStream]]'s). */
  def startStreams(spark: SparkSession, a: Args, configs: Seq[SourceConfig],
      opts: graft.compile.ConfigCompiler.Options,
      poster: Option[() => EventPoster] = None,
      schema: Option[StructType] = None,
      triggerInterval: String = "10 seconds")
      : Seq[org.apache.spark.sql.streaming.StreamingQuery] = {
    val dir = a.inputSubscription.getOrElse(
      sys.error("--input_subscription is required in streaming mode"))
    val inputSchema = schema.getOrElse(watchSchema(spark, dir))
    val post = poster.getOrElse(posterFactory(a))
    configs.filter(_.isParquet).map { cfg =>
      val compiled = StreamingPipeline.transformStreamRouted(
        spark, cfg, configs, dir, inputSchema, opts,
        maxFilesPerTrigger = a.maxFilesPerTrigger)
      StreamingPipeline.sinkStream(compiled, post,
        dlq => a.dlqTopicTransformErrors.foreach(d =>
          dlq.write.mode("append").json(s"$d/${cfg.configId}")),
        api => a.dlqTopicApiErrors.foreach(d =>
          api.write.mode("append").json(s"$d/${cfg.configId}")),
        triggerInterval)
        .option("checkpointLocation",
          s"${dir}_graft_ckpt_${cfg.configId}")
        .start()
    }
  }

  /** The schema `spark.read.parquet(dir)` infers when the files under
    * the watch `dir` share one, with no Spark job and no partition
    * columns: the footer of the first data file in path order, at any
    * depth, skipping `_`/`.` names as the file index does
    * ([[Tables.readParquet]]). Fails when `dir` holds no data file. */
  private[graft] def watchSchema(spark: SparkSession, dir: String): StructType = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(p: Path): Seq[String] = fs.listStatus(p).toSeq
      .filterNot(st => "_.".contains(st.getPath.getName.head))
      .flatMap(st => if (st.isDirectory) files(st.getPath) else Seq(st.getPath.toString))
    val first = files(root).minOption.getOrElse(throw new IllegalArgumentException(
      s"--input_subscription $dir holds no data file to take the input schema from"))
    Tables.readParquet(spark, first).schema
  }
}
