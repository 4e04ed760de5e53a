package graft.pipebench

import java.nio.file.{Files, Path => JPath, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.{col, xxhash64}

import graft.Launcher
import graft.compile.ConfigCompiler
import graft.config.SourceConfig
import graft.pipeline.{BatchPipeline, FileLedger}
import graft.sink.EventPoster

/** The batch workloads, `batch_backfill` (no ledger) and `small_files`
  * (with `--processed_ledger_dir`). One pass mirrors `Launcher.main`'s
  * batch branch call for call: Hadoop glob -> ledger filter ->
  * `BatchPipeline.run` with `Launcher.posterFactory` pointed at the
  * loopback endpoint -> ledger record -> both DLQ `write.json` calls.
  *
  * A traced pass calls the steps `BatchPipeline.run` performs one by
  * one, each in a span, and splits the fused scan -> projection ->
  * to_json -> post job by incremental materialization: the scans
  * alone into `noop`, then with the compiled projection (hashed), then
  * with `to_json`; the sink is timed alone over the pass's NDJSON lines. */
final class Etl(h: Harness, ledger: Boolean) {
  import h._

  private val m = manifest
  private val configUri = m.get("config_uri").asText
  private val expectPerFile: Map[Long, Long] =
    m.get("file_good_rows").fields.asScala
      .map(e => e.getKey.toLong -> e.getValue.asLong).toMap
  private var configs: Seq[SourceConfig] = Nil
  private var passNo = 0
  private val off = new Tracer(false)
  private val untracedWalls, tracedWalls = ArrayBuffer.empty[Double]

  def run(): Unit = {
    for (_ <- 1 to Harness.SetupRepeats) configs = setup(Some(configUri))
    // warm-up (JIT, codegen, connections). A small_files pass is long
    // enough that its first, cold pass is the measured one, except in a
    // traced run, which compares warm traced and untraced passes.
    if (!ledger || o.trace) pass(traced = false, timed = false)
    val window = new Window(o.seconds)
    do {
      window.time(pass(traced = false, timed = true))
      if (o.trace) window.time(pass(traced = true, timed = true))
    } while (window.roomFor(if (o.trace) 2 else 1))
    if (o.trace) {
      val (untraced, traced) =
        (Host.median(untracedWalls.toSeq), Host.median(tracedWalls.toSeq))
      layer("untraced_wall_s", untraced)
      layer("traced_wall_s", traced)
      layer("trace_gap_s", traced - untraced)
      // The stage times telescope to the traced pass minus the
      // incremental jobs (scan, project, to_json, sink) and the glue
      // between spans, i.e. to an estimate of the untraced pass; the
      // residual is what that estimate misses, measured, not zero by
      // construction.
      val stageNames = Seq("glob_s", "ledger_read_s", "route_s", "footer_check_s",
        "scan_list_s", "compile_s", "scan_s", "project_s", "to_json_s", "sink_s", "post_s",
        "ledger_write_s", "dlq_write_s")
      val stageSum = stageNames.map(n => layers.get(n).map(v => Host.median(v.toSeq))
        .getOrElse(0.0)).sum
      layer("stage_sum_s", stageSum)
      layer("trace_residual_s", untraced - stageSum)
    }
  }

  private def glob(pattern: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(pattern)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(p).toSeq.map { st =>
      val u = st.getPath.toUri
      if (u.getScheme == null || u.getScheme == "file") u.getPath
      else st.getPath.toString
    }
  }

  private def pass(traced: Boolean, timed: Boolean): Unit = {
    passNo += 1
    val pd = s"$dir/pass-$passNo"
    val led = if (ledger) Some(s"$pd/ledger") else None
    led.foreach(l => Etl.copyTree(Paths.get(m.get("ledger_init").asText), Paths.get(l)))
    val a = Launcher.Args(mode = "batch",
      inputGcsPattern = Some(m.get("pattern").asText),
      sourceConfigsGcsUri = configUri,
      mixpanelProjectToken = "bench-token", mixpanelApiSecret = "bench-secret",
      dlqTopicTransformErrors = Some(s"$pd/dlq_transform"),
      dlqTopicApiErrors = Some(s"$pd/dlq_api"),
      configUriScheme = "file", processedLedgerDir = led,
      mixpanelApiUrl = Some(endpoint.url))
    val base = Launcher.posterFactory(a)
    val poster: () => EventPoster = () => new TimedPoster(base())
    val opts = ConfigCompiler.Options(deterministic = false,
      token = a.mixpanelProjectToken)
    val rec = new Received(expectPerFile, keepLines = traced)
    endpoint.current = rec
    PostStats.reset()
    val tr = if (traced) tracer else off
    tracer.run = s"pass-$passNo"
    val s0 = snap(resetMax = true)
    val t0 = System.nanoTime()
    val t0ms = System.currentTimeMillis()
    var skipped = 0
    val res = tr("pass") {
      val globbed = tr("glob")(glob(a.inputGcsPattern.get))
      val uris = a.processedLedgerDir match {
        case Some(l) => tr("ledger_read")(FileLedger.unprocessed(spark, globbed, l))
        case None => globbed
      }
      skipped = globbed.size - uris.size
      val res =
        if (traced) tracedRun(uris, poster, opts)
        else BatchPipeline.run(spark, uris, configs, poster, opts)
      a.processedLedgerDir.foreach(l =>
        tr("ledger_write")(FileLedger.record(spark, res.imported, l)))
      tr("dlq_write") {
        a.dlqTopicTransformErrors.foreach(d =>
          res.transformDlq.write.mode("append").json(d))
        a.dlqTopicApiErrors.foreach(d => res.apiDlq.write.mode("append").json(d))
      }
      if (traced) sinkLayer(rec.lines.asScala.toSeq)
      res
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val d = snap() - s0
    System.err.println(f"[pipebench] pass $passNo traced=$traced wall=$wall%.3f s " +
      tracer.spans.filter(_.run == tracer.run)
        .map(s => f"${s.name}=${s.seconds}%.3f").mkString(" "))
    if (timed && !traced) {
      untracedWalls += wall
      sample("run_s", wall)
      sample("events_per_s", rec.events.sum / wall)
      sample("cpu_s", d.cpuS)
      rec.doneAtMs.values.asScala.foreach(t => sample("lag_ms", (t - t0ms).toDouble))
    }
    if (timed && traced) {
      tracedWalls += wall
      val s = (n: String) => tracer.total(n)
      layer("glob_s", s("glob"))
      layer("ledger_read_s", s("ledger_read"))
      layer("ledger_write_s", s("ledger_write"))
      layer("ledger_skipped", skipped)
      layer("dlq_write_s", s("dlq_write"))
      layer("ndjson_mb", rec.rawBytes.sum / 1e6)
      layer("post_s", s("post") - s("to_json_job") - s("sink_job"))
      postLayers()
      engineLayers(d)
    }
    verify(res, rec, pd)
    attempted += m.get("rows_total").asLong
  }

  /** The sequence `BatchPipeline.run` performs, one span per step,
    * with the incremental jobs that split the fused post job. */
  private def tracedRun(uris: Seq[String], poster: () => EventPoster,
      opts: ConfigCompiler.Options): BatchPipeline.Result = {
    val tr = tracer
    val (routed, matched, unmatched) = tr("route") {
      if (uris.size > BatchPipeline.DistributedRouteThreshold)
        BatchPipeline.routeFilesDistributed(spark, uris, configs)
      else {
        val r = BatchPipeline.routeFiles(uris, configs)
        val first = uris.flatMap(u =>
          configs.find(c => u.startsWith(c.sourcePrefix)).map(_.configId))
        (r, configs.map(c => c.configId -> first.count(_ == c.configId).toLong).toMap,
          (uris.size - first.size).toLong)
      }
    }
    val (readable, readErrors) =
      tr("footer_check")(BatchPipeline.isolateCorrupt(spark, routed))
    val (json, dlq, obs) =
      tr("transform")(BatchPipeline.transformObserved(spark, readable, opts))
    // the scans transformObserved builds, built again (listing the
    // files again) for the incremental jobs
    val scans = tr("scan_list")(readable.toSeq.sortBy(_._1.configId)
      .filter(_._2.nonEmpty).map { case (cfg, paths) =>
        cfg -> spark.read.option("ignoreCorruptFiles", "true").parquet(paths: _*)
      })
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    val s0 = snap()
    tr("scan_job")(scans.foreach(p => noop(p._2)))
    val scan = snap() - s0
    // the projection's rows are hashed, not materialized: writing the
    // properties struct itself would cost more than serializing it
    tr("project_job")(scans.foreach { case (cfg, df) =>
      noop(ConfigCompiler.compile(cfg, df, opts).ok
        .select(xxhash64(col("event"), col("properties"))))
    })
    tr("to_json_job")(scans.map { case (cfg, df) =>
      ConfigCompiler.compile(cfg, df, opts).json }.reduceOption(_ union _)
      .foreach(noop))
    val apiDlq = tr("post")(BatchPipeline.post(json, poster).localCheckpoint(true))
    val counters = BatchPipeline.BatchCounters(matched, unmatched, readErrors, obs)

    val s = (n: String) => tr.total(n)
    layer("route_s", s("route"))
    layer("uris_in", uris.size)
    layer("uris_unmatched", unmatched)
    layer("footer_check_s", s("footer_check"))
    layer("files_checked", routed.values.map(_.size).sum)
    layer("files_corrupt", readErrors.values.sum)
    layer("scan_list_s", s("scan_list"))
    layer("compile_s", s("transform") - s("scan_list"))
    layer("compile_ms", (s("transform") - s("scan_list")) * 1e3)
    layer("scan_s", s("scan_job"))
    layer("scan_rows", scan.inputRecords)
    layer("scan_mb", readable.values.flatten.map(p =>
      Files.size(Paths.get(p))).sum / 1e6)
    layer("scan_tasks", scan.tasks)
    layer("project_s", s("project_job") - s("scan_job"))
    layer("to_json_s", s("to_json_job") - s("project_job"))
    val tm = readable.keys.toSeq.map(c => counters.transformMetrics(c.configId))
    layer("transform_dlq_rows", tm.map(_.getOrElse("n_dlq", 0L)).sum)
    layer("ts_parse_errors", tm.map(_.getOrElse("ts_parse_errors", 0L)).sum)
    BatchPipeline.Result(json, dlq, apiDlq, counters, readable.values.flatten.toSeq)
  }

  /** The output checks; each failure fails the run. */
  private def verify(res: BatchPipeline.Result, rec: Received, pd: String): Unit = {
    checkDelivery(rec, s"$pd/dlq_transform", s"$pd/dlq_api")
    val c = res.counters
    val (routed, errors) = (manifestCounts("routed"), manifestCounts("read_errors"))
    val unmatched = m.get("unmatched").asLong
    check("router_counters", c.routed == routed &&
      c.unmatchedUris == unmatched && c.readErrors == errors,
      s"routed ${c.routed} unmatched ${c.unmatchedUris} readErrors ${c.readErrors}", 0)
    if (ledger) {
      // read back what FileLedger.record wrote: the pass's ledger must
      // hold the pre-filled URIs plus the imported files, nothing else
      val uris = (f: String) => m.get(f).elements.asScala.map(_.asText).toSeq
      val want = uris("ledgered_uris") ++ uris("imported_uris")
      val got = FileLedger.read(spark, s"$pd/ledger").collect().toSeq.map(_.getString(0))
      val missing = want.diff(got).size
      val extra = got.diff(want).size
      check("ledger_recorded", missing == 0 && extra == 0 &&
        res.imported.sorted == uris("imported_uris").sorted,
        s"${got.size} ledger rows, $missing missing, $extra unexpected, " +
          s"${res.imported.size} imported", missing + extra)
    }
  }
}

object Etl {
  def copyTree(from: JPath, to: JPath): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
}
