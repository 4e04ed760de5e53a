package graft.pipeline

import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.compile.{CompiledEvents, ConfigCompiler}
import graft.config.SourceConfig
import graft.operators.Router
import graft.sink.{EventBatchSink, EventPoster, SinkDlqRecord}

/** Batch backfill pipeline — `run_batch()` (`M/main_batch.py:431-503`)
  * re-expressed Spark-first:
  *
  * reference shape: glob -> MatchAll -> route -> CoGroupByKey join ->
  * per-file iter_batches read -> MapEvents -> post.
  *
  * Spark shape: the file<->config join disappears — configs route FILES,
  * each config's files are read with ONE vectorized
  * `spark.read.parquet(paths*)` scan (predicate pushdown + column
  * pruning intact), and the per-row mapping is the compiled projection.
  * Posting runs in the scan's own partitions, one sink per partition.
  *
  * Routing runs driver-side below [[DistributedRouteThreshold]] (a few
  * thousand string prefix tests are cheaper than a job) and as a
  * distributed [[Router.route]] plan above it — at millions of objects
  * a driver-side O(files x configs) Scala loop is a single-threaded
  * bottleneck and a driver-memory hazard.
  */
object BatchPipeline {

  /** Above this many URIs, route with a distributed plan. */
  val DistributedRouteThreshold = 10000

  /** A3 metric counters for one batch run — the reference's operational
    * backbone (`M/main.py:55-63,145,274-277`, `M/main_batch.py:101-103`):
    *  - `routed`: matched file count per config (`matched_<config_id>`);
    *  - `unmatchedUris`: files matching no config (`unmatched_uri`);
    *  - `readErrors`: unreadable/corrupt parquet files skipped, per
    *    config (`read_error_<config_id>`);
    *  - `transform`: per-config [[Observation]] carrying `n_rows`,
    *    `n_dlq`, `missing_distinct_id`, `ts_parse_errors` — filled by
    *    the delivery pass (zero extra passes).
    */
  final case class BatchCounters(
      routed: Map[String, Long],
      unmatchedUris: Long,
      readErrors: Map[String, Long],
      transform: Map[String, Observation]) {
    /** Transform-stage counters for one config; blocks until the pass
      * that observes them has run. */
    def transformMetrics(configId: String): Map[String, Long] =
      transform.get(configId).map(longs).getOrElse(Map.empty)
  }

  /** The three output channels (§2.8, §2.2) plus the run's counters.
    * `transformDlq` and `apiDlq` are read from the delivery pass's
    * materialized output (delivery already happened; see [[deliver]]);
    * `eventsJson` is the lazy event projection.
    * `imported` is the URI set the run actually transformed (routed,
    * PARQUET, passed the corrupt check) — the ONLY set a processed-file
    * ledger may record: unmatched and corrupt-skipped files must stay
    * eligible for a later retry (a fixed re-upload, a config added for
    * their prefix). */
  final case class Result(
      eventsJson: DataFrame,
      transformDlq: DataFrame,
      apiDlq: DataFrame,
      counters: BatchCounters,
      imported: Seq[String])

  /** Route a file list to configs driver-side in ONE first-match-wins
    * pass (`M/main.py:37-63`): the PARQUET configs' path lists (P2+P3),
    * the matched count per config (every file type, zeros kept —
    * `matched_<config_id>`, `M/main.py:55-58`) and the unmatched count.
    * [[run]] uses it up to [[DistributedRouteThreshold]] URIs and
    * [[routeFilesDistributed]] past it; both return the same triple. */
  def routeFilesOnDriver(uris: Seq[String], configs: Seq[SourceConfig])
      : (Map[SourceConfig, Seq[String]], Map[String, Long], Long) = {
    val byConfig =
      uris.groupBy(u => configs.find(c => u.startsWith(c.sourcePrefix)))
    def n(c: Option[SourceConfig]) = byConfig.get(c).fold(0L)(_.size.toLong)
    (byConfig.collect { case (Some(c), us) if c.isParquet => c -> us },
      configs.map(c => c.configId -> n(Some(c))).toMap, n(None))
  }

  /** The path lists of [[routeFilesOnDriver]]. */
  def routeFiles(uris: Seq[String], configs: Seq[SourceConfig])
      : Map[SourceConfig, Seq[String]] =
    routeFilesOnDriver(uris, configs)._1

  /** Distributed routing: the prefix matching runs as a codegen'd
    * [[Router.route]] plan over a URI DataFrame, not a driver loop.
    * Exactly TWO jobs over the frame: one [[Router.routeCounts]] pass
    * (per-config matched + `__unmatched__`, at P2 — before the parquet
    * filter, as the reference counts) and one routed-parquet collect
    * for the path lists the scans need; the unrouted URI set is never
    * driver-materialized. At million-object scale a third pass is a
    * third full listing scan — don't add one. */
  def routeFilesDistributed(spark: SparkSession, uris: Seq[String],
      configs: Seq[SourceConfig])
      : (Map[SourceConfig, Seq[String]], Map[String, Long], Long) = {
    import spark.implicits._
    val uriDf = uris.toDF("uri")
    val byName = Router.routeCounts(uriDf, configs).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val matched = configs.map(c =>
      c.configId -> byName.getOrElse(c.configId, 0L)).toMap
    val byId = configs.map(c => c.configId -> c).toMap
    val routed = Router.routeParquet(uriDf, configs).collect()
      .groupBy(_.getString(1)).map { case (id, rows) =>
        byId(id) -> rows.map(_.getString(0)).toSeq
      }
    (routed, matched, byName.getOrElse("__unmatched__", 0L))
  }

  /** `path`'s status and the Spark schema of its Parquet footer, parsed
    * as schema inference parses it (`ParquetFileFormat.
    * readSchemaFromFooter` with [[inferenceConverter]]); throws if
    * either read fails. A directory (partitioned/committer
    * layout) has no footer of its own and defers to the scan's
    * `ignoreCorruptFiles` — the check is for single objects, which is
    * what GCS notifications/globs deliver. */
  private def footer(spark: SparkSession, path: String)
      : (FileStatus, Option[StructType]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val status = p.getFileSystem(conf).getFileStatus(p)
    if (status.isDirectory) (status, None)
    else {
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(status, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      (status, Some(ParquetFileFormat.readSchemaFromFooter(
        new Footer(status.getPath, meta), inferenceConverter)))
    }
  }

  /** The converter Spark's schema inference builds
    * (`ParquetFileFormat.mergeSchemasInParallel`): these five session
    * settings, the defaults for the rest (case sensitivity, field ids
    * and variant annotations do not reach an inferred schema). */
  private def inferenceConverter: ParquetToSparkSchemaConverter = {
    val c = SQLConf.get
    new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = c.isParquetBinaryAsString,
      assumeInt96IsTimestamp = c.isParquetINT96AsTimestamp,
      inferTimestampNTZ = c.parquetInferTimestampNTZEnabled,
      nanosAsLong = c.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = c.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** The schema Spark's inference would give a scan of `files` (each
    * with its [[footer]]), without the inference job: with mergeSchema
    * off, inference reads the footer of the first data file in path
    * order only (`ParquetUtils.splitFiles` sorts the file index by
    * `FileStatus.getPath.toString`, whatever order the paths came in).
    * None — the scan infers — when that file is not among `files`: a
    * directory (its children are listed by the scan), or a name the
    * file index hides or treats as a summary file (`_*`, `.*`). */
  private def scanSchema(files: Seq[(FileStatus, Option[StructType])])
      : Option[StructType] = {
    def hidden(name: String) =
      name.startsWith("_") || name.startsWith(".") || name.endsWith("._COPYING_")
    if (files.isEmpty || SQLConf.get.isParquetSchemaMergingEnabled ||
        files.exists { case (st, schema) =>
          schema.isEmpty || hidden(st.getPath.getName) }) None
    else files.minBy(_._1.getPath.toString)._2
  }

  /** [[scanSchema]] of `paths` as given, unchecked: None (the scan
    * infers) unless every path's [[footer]] reads. */
  private[graft] def footerScanSchema(spark: SparkSession, paths: Seq[String])
      : Option[StructType] =
    Try(paths.map(footer(spark, _))).toOption.flatMap(scanSchema)

  /** The footer check of each config's paths: the readable ones, the
    * corrupt count, and the scan schema the readable footers give. */
  private final case class Checked(readable: Seq[String], corrupt: Long,
      schema: Option[StructType])

  private def checkFooters(spark: SparkSession,
      routed: Map[SourceConfig, Seq[String]]): Map[SourceConfig, Checked] =
    routed.map { case (cfg, paths) =>
      val read = paths.map(p => p -> Try(footer(spark, p)).toOption)
      val good = read.collect { case (p, Some(f)) => (p, f) }
      cfg -> Checked(good.map(_._1), (paths.size - good.size).toLong,
        scanSchema(good.map(_._2)))
    }

  /** Split each config's paths into (readable, corrupt-count): a path
    * is readable iff its [[footer]] parses into a Spark schema. The
    * per-file check mirrors the reference's per-file open/except
    * (`M/main_batch.py:86-103`): a bad file — no `PAR1` magic, or a
    * valid trailer over an unreadable footer — is counted and skipped,
    * the rest of the config's files still load. The footers are read
    * one file at a time before any job runs — exact accounting for
    * backfills up to ~100k files; beyond that rely on
    * `ignoreCorruptFiles` (always set on the scan) and forgo exact
    * per-config counts. */
  def isolateCorrupt(spark: SparkSession,
      routed: Map[SourceConfig, Seq[String]])
      : (Map[SourceConfig, Seq[String]], Map[String, Long]) =
    splitChecked(checkFooters(spark, routed))

  private def splitChecked(checked: Map[SourceConfig, Checked])
      : (Map[SourceConfig, Seq[String]], Map[String, Long]) =
    (checked.collect { case (cfg, c) if c.readable.nonEmpty =>
      cfg -> c.readable },
      checked.collect { case (cfg, c) if c.corrupt > 0 =>
        cfg.configId -> c.corrupt })

  /** Escape Hadoop glob metacharacters so a literal file-name prefix
    * embeds safely in a glob pattern. */
  private def globEscape(s: String): String =
    s.flatMap(c => if ("*?[]{}\\".contains(c)) s"\\$c" else c.toString)

  /** What a file source reads to see every object under the flat
    * (GCS-style) `prefix`, split at its last '/' into a directory part
    * and a file-name part. Prefix `d/a_` matches object `d/a_x.parquet`
    * AND `d/a_2024/part.parquet`: the leaf glob `d/a_*` (glob
    * metacharacters in the file-name part escaped) matches both the flat
    * files and any prefix-named subdirectory, whose files the file index
    * lists, and never an unrelated sibling or subdirectory (as a
    * recursive scan + leaf-name-only `pathGlobFilter` would). A directory
    * prefix (`d/`) reads its directory. None when the prefix has no '/'
    * (its directory would be the empty string). */
  private[graft] def prefixPath(prefix: String): Option[String] = {
    val slash = prefix.lastIndexOf('/')
    Option.when(slash >= 0) {
      val (dir, base) = prefix.splitAt(slash + 1)
      if (base.isEmpty) dir else dir + globEscape(base) + "*"
    }
  }

  /** Transform stage with NO driver-side file list at all — the shape
    * for lakes past [[routeFilesDistributed]]'s collect (10⁷-10⁸ objects,
    * where even the routed path list is a driver-memory hazard). Each
    * parquet config scans its own prefix directly:
    *
    *  - scan root = the config prefix's [[prefixPath]] (GCS FLAT
    *    prefix semantics), listed recursively. Listing is Spark's own
    *    distributed FileIndex — file paths live in executor-side
    *    listing partitions, never in a driver Seq.
    *  - first-match-wins across OVERLAPPING prefixes is enforced by the
    *    router when-chain over `input_file_name()` — a file under two
    *    configs' prefixes is transformed only by its first match, same
    *    as the routed paths (`M/main.py:37-63`).
    *  - corrupt isolation is the scan's `ignoreCorruptFiles` (S6's
    *    backstop); per-file footer accounting is a driver-scale
    *    feature by design — at this scale read errors surface in the
    *    scan metrics, not as exact per-config counts.
    *
    * Returns the same (json, dlq, observations) shape as
    * [[transformObserved]]. */
  def transformPrefixScans(spark: SparkSession, configs: Seq[SourceConfig],
      opts: ConfigCompiler.Options = ConfigCompiler.Options())
      : (DataFrame, DataFrame, Map[String, Observation]) = {
    val parts = configs.filter(_.isParquet).sortBy(_.configId).map { cfg =>
      // a prefix with no '/' would make the scan root the empty string and
      // fail deep inside the scan with an unrelatable Hadoop path error —
      // reject it here with the config's name attached
      val path = prefixPath(cfg.sourcePrefix).getOrElse(throw
        new IllegalArgumentException(s"config ${cfg.configId}: source " +
          s"prefix '${cfg.sourcePrefix}' has no '/' — prefix-scan mode " +
          "needs a directory component"))
      val scanned = spark.read.option("ignoreCorruptFiles", "true")
        .option("recursiveFileLookup", "true").parquet(path)
      val routedRows = scanned.filter(
        Router.firstMatchExpr(
          Router.normalizeFileUri(input_file_name()), configs)
          === cfg.configId)
      val compiled = ConfigCompiler.compile(cfg, routedRows, opts)
      val obs = Observation()
      (compiled.observed(obs).json, compiled.dlq, cfg.configId -> obs)
    }
    (parts.map(_._1).reduceOption(_ union _).getOrElse(emptyJson(spark)),
      parts.map(_._2).reduceOption(_ union _).getOrElse(emptyDlq(spark)),
      parts.map(_._3).toMap)
  }

  /** Build the transform stage: per-config compiled mapping over one
    * vectorized scan each; event JSON + transform-DLQ frames unioned
    * across configs (both have config-independent schemas). Each
    * config's frame carries an [[Observation]] with the A3 transform
    * counters. */
  def transformObserved(spark: SparkSession,
      routed: Map[SourceConfig, Seq[String]],
      opts: ConfigCompiler.Options = ConfigCompiler.Options())
      : (DataFrame, DataFrame, Map[String, Observation]) = {
    val scans = routed.map { case (cfg, paths) =>
      cfg -> (paths, footerScanSchema(spark, paths))
    }
    val parts = compiledScans(spark, scans, opts).map { case (id, compiled) =>
      val obs = Observation()
      (compiled.observed(obs).json, compiled.dlq, id -> obs)
    }
    (parts.map(_._1).reduceOption(_ union _).getOrElse(emptyJson(spark)),
      parts.map(_._2).reduceOption(_ union _).getOrElse(emptyDlq(spark)),
      parts.map(_._3).toMap)
  }

  /** One vectorized scan per config with files, compiled; by config id.
    * A scan with a known schema ([[scanSchema]]) is read with it, which
    * saves the schema-inference job Spark would run per config to read
    * that same footer. */
  private def compiledScans(spark: SparkSession,
      scans: Map[SourceConfig, (Seq[String], Option[StructType])],
      opts: ConfigCompiler.Options): Seq[(String, CompiledEvents)] =
    scans.toSeq.sortBy(_._1.configId).filter(_._2._1.nonEmpty)
      .map { case (cfg, (paths, schema)) =>
        val reader = spark.read
          // corrupt-file isolation at the scan too (S6): a file that
          // passed the footer check but has a rotten page must not fail
          // the whole config (`M/main_batch.py:100-103`)
          .option("ignoreCorruptFiles", "true")
        val input = schema.fold(reader)(reader.schema).parquet(paths: _*)
        cfg.configId -> ConfigCompiler.compile(cfg, input, opts)
      }

  /** What one delivery pass leaves behind: the two dead-letter channels
    * read back from its materialized output, the A3 transform counters
    * of each compiled input (in input order) and the output's row count
    * per channel (`transform`, `api`). All are complete when [[deliver]]
    * returns; reading them never re-posts. Each channel frame is sized
    * to its rows: an empty channel is an empty local frame (a write of
    * it runs one task), a non-empty one is coalesced to at most one
    * wave of tasks, never to a single-task funnel. */
  final case class Delivery(
      transformDlq: DataFrame,
      apiDlq: DataFrame,
      counters: Seq[Observation],
      channelRows: Map[String, Long])

  /** The single delivery pass — `MapEvents` with its tagged transform-DLQ
    * side output and A3 counters, posting in the same bundle
    * (`M/main.py:145,151-162,274-277,306-423`). Takes compiled frames
    * (`event`, `properties`, `error`, `_counters`), observes each one's
    * counters, and runs ONE `mapPartitions` over their union: a good row
    * goes through `to_json` into an [[EventBatchSink]], an error row
    * passes straight through as a transform-DLQ record, and the sink's
    * dead letters come out as API-DLQ records. The output holds only
    * DLQ rows, tagged by which of its `error`/`api` structs is set, and
    * is materialized once with an eager `localCheckpoint`: that one job
    * is the delivery, and both DLQs and all counters are read from it,
    * so nothing re-scans the input.
    *
    * CONTRACT: evaluation == delivery, AT-LEAST-ONCE. The posts happen
    * inside this call and never again through the returned frames. A
    * retried task re-posts its partition's batches (the endpoint
    * dedups on `$insert_id`, as the reference relies on,
    * `M/main.py:272-273`). */
  def deliver(spark: SparkSession, compiled: Seq[CompiledEvents],
      posterFactory: () => EventPoster): Delivery = {
    val counters = compiled.map(_ => Observation())
    val lines = compiled.zip(counters).map { case (c, obs) =>
      c.observed(obs).df.select(when(col("error").isNull,
        to_json(struct(col("event"), col("properties")))).as("event_json"),
        col("error"))
    }.reduceOption(_ union _).getOrElse(emptyLines(spark))
    val rows = Observation()
    val output = dlqRecords(lines, posterFactory)
      .observe(rows, count(col("error")).as("transform"),
        count(col("api")).as("api"))
      .localCheckpoint(true)
    val channelRows = longs(rows)
    // the checkpoint keeps one partition per scan partition; a DLQ write
    // over it would run that many tasks, most of them empty
    def channel(tag: String, name: String): DataFrame = {
      val records = output.filter(col(tag).isNotNull).select(s"$tag.*")
      if (channelRows(name) == 0)
        spark.createDataFrame(java.util.List.of[Row](), records.schema)
      else records.coalesce(spark.sparkContext.defaultParallelism)
    }
    Delivery(channel("error", "transform"), channel("api", "api"),
      counters, channelRows)
  }

  /** The schema of an API dead-letter record (`M/main.py:377-400`). */
  private val ApiDlqType = StructType(Seq("reason", "response", "payload")
    .map(StructField(_, StringType)))

  /** Lazy DLQ records of posting `lines` (`event_json`, `error`): the
    * transform DLQ passed through in `error`, the sink's dead letters in
    * `api`. Evaluation posts. */
  private def dlqRecords(lines: DataFrame, posterFactory: () => EventPoster)
      : DataFrame = {
    val schema = StructType(Seq(
      StructField("error", lines.schema("error").dataType),
      StructField("api", ApiDlqType)))
    lines.mapPartitions { rows: Iterator[Row] =>
      val sink = new EventBatchSink(posterFactory())
      def api(d: SinkDlqRecord) = Row(null, Row(d.reason, d.response, d.payload))
      rows.flatMap { r =>
        if (r.isNullAt(1)) sink.add(r.getString(0)).iterator.map(api)
        else Iterator.single(Row(r.getStruct(1), null))
      } ++ sink.flush().iterator.map(api)
    }(Encoders.row(schema))
  }

  /** An observation's metrics as longs; blocks until it is filled. */
  private[pipeline] def longs(obs: Observation): Map[String, Long] =
    obs.get.map { case (k, v) => k -> v.asInstanceOf[Number].longValue }

  /** Posting stage alone: the API DLQ of posting an `event_json` frame,
    * through the same per-partition sink as [[deliver]].
    *
    * CONTRACT: evaluation == delivery. The returned frame is lazy; the
    * first action on it performs the HTTP posting, and re-evaluating it
    * would re-post every event. Consume it with exactly one action, or
    * materialize it once (`localCheckpoint(true)`) and hand out only
    * the truncated frame. [[run]] and the streaming sink use
    * [[deliver]], which does that for both DLQ channels in one job. */
  def post(eventsJson: DataFrame, posterFactory: () => EventPoster)
      : DataFrame =
    dlqRecords(eventsJson.select(col("event_json"),
        lit(null).cast(CompiledEvents.ErrorType).as("error")), posterFactory)
      .select("api.*")

  /** Full pipeline: route -> corrupt-isolate -> one [[deliver]] pass
    * (scan -> transform -> post, both DLQs, counters). Posting executes
    * in here, exactly once per row barring task retries; `transformDlq`
    * and `apiDlq` are read from the pass's materialized output (safe to
    * re-use, never re-scan or re-post). `eventsJson` is the lazy event
    * projection: an action on it re-scans but never posts. All counters
    * are complete when this returns. */
  def run(spark: SparkSession, uris: Seq[String], configs: Seq[SourceConfig],
      posterFactory: () => EventPoster,
      opts: ConfigCompiler.Options = ConfigCompiler.Options()): Result = {
    val (routed, matchedCounts, unmatched) =
      if (uris.size > DistributedRouteThreshold)
        routeFilesDistributed(spark, uris, configs)
      else routeFilesOnDriver(uris, configs)
    val checked = checkFooters(spark, routed)
    val (readable, readErrors) = splitChecked(checked)
    val scans = compiledScans(spark,
      checked.map { case (cfg, c) => cfg -> (c.readable, c.schema) }, opts)
    val d = deliver(spark, scans.map(_._2), posterFactory)
    Result(
      scans.map(_._2.json).reduceOption(_ union _).getOrElse(emptyJson(spark)),
      d.transformDlq, d.apiDlq,
      BatchCounters(matchedCounts, unmatched, readErrors,
        scans.map(_._1).zip(d.counters).toMap),
      readable.values.flatten.toSeq)
  }

  private def emptyLines(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
      StructField("event_json", StringType),
      StructField("error", CompiledEvents.ErrorType))))

  private def emptyJson(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[String].toDF("event_json")
  }

  private def emptyDlq(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(String, String, String, String)]
      .toDF("error_type", "config_id", "source_field", "original_row")
  }
}
