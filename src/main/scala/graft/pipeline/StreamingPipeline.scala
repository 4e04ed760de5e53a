package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row

import graft.compile.{CompiledEvents, ConfigCompiler}
import graft.config.SourceConfig
import graft.sink.EventPoster

/** Streaming pipeline — `run()` (`M/main.py:426-523`) re-expressed on
  * Structured Streaming:
  *
  *  - Pub/Sub file notifications + per-file reads (S1+S5) collapse into
  *    the file stream source: `readStream.parquet(dir)` discovers and
  *    reads newly arrived files natively, exactly-once per file — which
  *    also subsumes the reference's 5-minute URI `Distinct` (A1/W1):
  *    the source never re-reads a seen file. For notification-stream
  *    fidelity (URI strings arriving at-least-once), [[dedupUris]]
  *    reproduces the windowed dedup on an ingestion-time watermark.
  *  - The 10 s window + AddRandomKey + GroupByKey micro-batching
  *    (`M/main.py:506-508`) is the micro-batch trigger itself:
  *    `Trigger.ProcessingTime("10 seconds")` + `foreachBatch`.
  *  - Posting + DLQs run inside `foreachBatch` as one
  *    [[BatchPipeline.deliver]] pass per micro-batch — no bundle/window
  *    re-windowing workaround needed (the reference's `# FIX` sites,
  *    `M/main.py:341-344,415-423`).
  */
object StreamingPipeline {

  /** Processing-time dedup of an at-least-once URI notification stream:
    * tumbling 5-minute scope (`M/main.py:461-463`) on an
    * ingestion-time watermark (the reference windows are
    * processing-time; SURVEY.md §2.9). */
  def dedupUris(uriStream: DataFrame, window: String = "5 minutes"): DataFrame =
    uriStream
      .filter(col("uri").isNotNull)
      .withColumn("ingest_ts", current_timestamp())
      .withWatermark("ingest_ts", window)
      .dropDuplicatesWithinWatermark("uri")

  /** Source-side rate control: cap how many newly discovered files a
    * single micro-batch ingests. The reference's Pub/Sub feed +
    * 5-minute windowing naturally paces a backfill
    * (`M/main.py:461-462,506`); a file-stream source without a cap
    * instead lands an entire backfill-sized burst in ONE micro-batch —
    * one giant state commit, one giant post. `None` = unpaced.
    *
    * The source lists `path` recursively: a GCS prefix matches objects
    * at any depth under it, and no directory name becomes a partition
    * column, as in the batch scan of each routed file. */
  private def paced(spark: SparkSession, schema: StructType, path: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val r = spark.readStream.schema(schema).option("recursiveFileLookup", "true")
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n.toLong))
    r.parquet(path)
  }

  /** One config's streaming transform over a watch directory, which
    * several configs may share: each arriving file is routed
    * first-match-wins against the FULL config list
    * (`RouteFileToConfig`, `M/main.py:37-63,466-495`) and
    * only files whose first match is `cfg` are transformed — so N
    * configs watching one directory map every file exactly once, by
    * exactly its first matching config. The route predicate is the
    * same zero-shuffle when-chain the batch router compiles, applied
    * to `input_file_name()`.
    *
    * A file can route to `cfg` only if its path starts with
    * `cfg.sourcePrefix`, so the file source lists and reads only that
    * prefix, at any depth ([[routedSourcePath]]): the stream delivers
    * exactly the files the batch router would route to `cfg`, N queries
    * over one directory read each file once between them, not N times,
    * and `maxFilesPerTrigger` paces the config's own files. The row
    * filter still decides between overlapping prefixes. */
  def transformStreamRouted(spark: SparkSession, cfg: SourceConfig,
      allConfigs: Seq[SourceConfig], dir: String, schema: StructType,
      opts: ConfigCompiler.Options = ConfigCompiler.Options(),
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val input = paced(spark, schema, routedSourcePath(spark, dir,
      cfg.sourcePrefix), maxFilesPerTrigger)
      .filter(graft.operators.Router.firstMatchExpr(
        graft.operators.Router.normalizeFileUri(input_file_name()),
        allConfigs) === cfg.configId)
    ConfigCompiler.compile(cfg, input, opts).df
  }

  /** The path a routed stream over the watch `dir` reads for a config
    * with `prefix`: the glob `root*`, with every glob metacharacter of
    * `root` escaped, where `root` is the prefix when it lies under `dir`
    * as a string and `dir/` when it does not (a `file://` dir with
    * plain-path prefixes, a prefix elsewhere). Listed recursively
    * ([[paced]]), it reaches every file whose path starts with `root`,
    * at any depth: `dir/a_` reads `dir/a_1.parquet` and
    * `dir/a_2024/x/p.parquet`, `dir/sub/` reads only `sub/`. The whole
    * `dir` instead when it holds a `_spark_metadata` sink log (or the
    * check fails): Spark reads such a directory through the log, which
    * hides files of uncommitted batches, and a glob would bypass it. */
  private[graft] def routedSourcePath(spark: SparkSession, dir: String,
      prefix: String): String = {
    val sinkLog = scala.util.Try {
      val log = new org.apache.hadoop.fs.Path(dir, "_spark_metadata")
      log.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(log)
    }.getOrElse(true)
    val base = dir.stripSuffix("/") + "/"
    if (sinkLog) dir
    else globEscape(if (prefix.startsWith(base)) prefix else base) + "*"
  }

  /** Escape Hadoop glob metacharacters so a literal path embeds safely
    * in a glob pattern. */
  private def globEscape(s: String): String =
    s.flatMap(c => if ("*?[]{}\\".contains(c)) s"\\$c" else c.toString)

  /** Wire a compiled stream (`event`, `properties`, `error`,
    * `_counters`, as [[transformStreamRouted]] returns it) to the
    * batched/retrying sink + DLQ sinks via foreachBatch. DLQ frames are handed to the caller's writers so
    * tests can collect and production can append to storage (K2/K3 are
    * pluggable topics in the reference, `M/main.py:497-502,519-523`).
    *
    * Each micro-batch is ONE [[BatchPipeline.deliver]] pass, as the
    * reference's `MapEvents` posts in the bundle that maps
    * (`M/main.py:145,151-162,274-277`): one job scans the batch, posts
    * its good rows, and materializes the transform-DLQ and API-DLQ
    * records with their per-channel row counts and the A3 counters.
    * A writer is called only when its channel has rows, with a frame
    * read from that materialized output: any number of actions on it
    * never re-scan and never re-post. Posting is
    * evaluation == delivery and AT-LEAST-ONCE: a retried task or a
    * replayed micro-batch re-posts — downstream dedup is `$insert_id`,
    * same posture as the reference (`M/main.py:272-273`). A writer that
    * throws fails the query after the batch was posted, so its restart
    * replays that batch.
    *
    * `onCounters` receives the A3 transform counters of every
    * micro-batch (`n_rows`/`n_dlq`/`missing_distinct_id`/
    * `ts_parse_errors`, `M/main.py:145,274-277`) — the streaming twin
    * of `BatchPipeline.BatchCounters.transform`, observed on the
    * delivery pass itself (no extra job). */
  def sinkStream(compiled: DataFrame, posterFactory: () => EventPoster,
      writeTransformDlq: DataFrame => Unit,
      writeApiDlq: DataFrame => Unit,
      triggerInterval: String = "10 seconds",
      onCounters: Map[String, Long] => Unit = _ => ()): DataStreamWriter[Row] =
    compiled.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val d = BatchPipeline.deliver(batch.sparkSession,
          Seq(CompiledEvents(batch)), posterFactory)
        if (d.channelRows("transform") > 0) writeTransformDlq(d.transformDlq)
        if (d.channelRows("api") > 0) writeApiDlq(d.apiDlq)
        onCounters(BatchPipeline.longs(d.counters.head))
      }
}
