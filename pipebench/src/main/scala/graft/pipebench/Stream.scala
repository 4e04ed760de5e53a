package graft.pipebench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.compile.ConfigCompiler
import graft.pipeline.StreamingPipeline
import graft.sink.{EventPoster, HttpEventPoster}

/** `stream_shared_dir`: every PARQUET config watches one directory, the
  * shape `Launcher.startStreams` builds — one
  * `StreamingPipeline.transformStreamRouted` + `sinkStream` per config,
  * posting to the loopback endpoint, both DLQs written per config. An
  * open-loop generator thread renames one pre-written Parquet file
  * into the directory on a fixed schedule; a file's lag runs from its
  * due time to the arrival of its last event. The first
  * `warmup_files` files warm the streams up and are not timed. */
final class Stream(h: Harness) {
  import h._
  import Stream.{F, Progress}

  private val m = manifest
  private val files = m.get("files").elements().asScala.map(f =>
    F(f.get("name").asText, f.get("file_no").asLong, f.get("due_ms").asLong,
      f.get("good_rows").asLong)).toIndexedSeq
  private val warmup = m.get("warmup_files").asInt
  private val stage = m.get("stage").asText
  private val watch = m.get("watch").asText

  private val progress = new ConcurrentLinkedQueue[Progress]()

  def run(): Unit = {
    var configs = Seq.empty[graft.config.SourceConfig]
    for (_ <- 1 to Harness.SetupRepeats) configs = setup(Some(m.get("config_uri").asText))
    val schema = spark.read.parquet(s"$stage/${files.head.name}").schema
    val rec = new Received(files.map(f => f.no -> f.good).toMap, keepLines = o.trace)
    endpoint.current = rec
    PostStats.reset()
    val queryCfg = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Progress(p.numInputRows,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          queryCfg.getOrDefault(p.id, "?")))
      }
    })
    val url = endpoint.url
    val poster: () => EventPoster =
      () => new TimedPoster(new HttpEventPoster(url, "bench-secret"))
    val opts = ConfigCompiler.Options(deterministic = false, token = "bench-token")
    val queries = configs.filter(_.isParquet).map { cfg =>
      val compiled = StreamingPipeline.transformStreamRouted(
        spark, cfg, configs, watch, schema, opts)
      val q = StreamingPipeline.sinkStream(compiled, poster,
        dlq => dlq.write.mode("append").json(s"$dir/dlq_transform/${cfg.configId}"),
        api => api.write.mode("append").json(s"$dir/dlq_api/${cfg.configId}"),
        triggerInterval = Stream.Trigger)
        .option("checkpointLocation", s"$dir/ckpt/${cfg.configId}")
        .start()
      queryCfg.put(q.id, cfg.configId)
      q
    }

    // open-loop generator: file k lands at t0 + due_ms(k), late or not
    val t0 = System.currentTimeMillis() + 500
    val late = new ConcurrentLinkedQueue[java.lang.Long]()
    @volatile var windowSnap: EngineSnap = null
    val gen = new Thread(() => {
      files.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + f.dueMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        if (i == warmup) windowSnap = listener.peek()
        Files.move(Paths.get(stage, f.name), Paths.get(watch, f.name),
          StandardCopyOption.ATOMIC_MOVE)
        if (i >= warmup) late.add(System.currentTimeMillis() - due)
      }
    }, "pipebench-generator")
    gen.start()
    gen.join()
    val want = files.count(_.good > 0)
    val deadline = System.currentTimeMillis() + Stream.DrainMs
    while (rec.doneAtMs.size < want && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    queries.foreach(_.processAllAvailable())
    val d = snap() - windowSnap
    queries.foreach(_.stop())

    val timed = files.drop(warmup)
    val windowStart = t0 + timed.head.dueMs
    val doneAt = timed.flatMap(f => Option(rec.doneAtMs.get(f.no)).map(f -> _.longValue))
    doneAt.foreach { case (f, at) => sample("lag_ms", (at - t0 - f.dueMs).toDouble) }
    val runS = (doneAt.map(_._2).maxOption.getOrElse(windowStart) - windowStart) / 1e3
    sample("run_s", runS)
    sample("events_per_s", timed.map(_.good).sum / runS)
    sample("cpu_s", d.cpuS)

    if (o.trace) traceLayers(rec, d, windowStart, late.asScala.map(_.longValue).toSeq)
    verify(rec, want)
    attempted += m.get("rows_total").asLong
  }

  private def traceLayers(rec: Received, d: EngineSnap, windowStart: Long,
      late: Seq[Long]): Unit = {
    tracer.run = "stream"
    val all = progress.asScala.toSeq
    all.filter(_.rows > 0).foreach(p => tracer.add(s"micro_batch.${p.cfg}",
      p.startMs, p.startMs + p.durations.getOrElse("triggerExecution", 0L)))
    val batches = all.filter(p => p.rows > 0 && p.startMs >= windowStart)
    def p50(k: String) = Host.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    layer("micro_batches", batches.size)
    layer("batch_ms_p50", p50("triggerExecution"))
    layer("add_batch_ms_p50", p50("addBatch"))
    layer("latest_offset_ms_p50", p50("latestOffset"))
    layer("query_planning_ms_p50", p50("queryPlanning"))
    layer("wal_commit_ms_p50", p50("walCommit"))
    layer("stream_jobs", d.jobs)
    layer("stream_jobs_per_batch",
      if (batches.isEmpty) 0 else d.jobs.toDouble / batches.size)
    layer("stream_input_rows", all.map(_.rows).sum)
    layer("stream_rows_landed", m.get("rows_total").asLong)
    layer("stream_read_amplification",
      all.map(_.rows).sum.toDouble / m.get("rows_total").asLong)
    layer("gen_late_ms_max", late.maxOption.getOrElse(0L).toDouble)
    layer("ndjson_mb", rec.rawBytes.sum / 1e6)
    layer("trace_gap_s", 0)
    postLayers()
    engineLayers(d)
    sinkLayer(rec.lines.asScala.toSeq)
  }

  private def verify(rec: Received, want: Int): Unit = {
    check("files_delivered", rec.doneAtMs.size == want,
      s"${rec.doneAtMs.size} of $want files complete", want - rec.doneAtMs.size)
    checkDelivery(rec, s"$dir/dlq_transform", s"$dir/dlq_api")
  }
}

object Stream {
  private final case class F(name: String, no: Long, dueMs: Long, good: Long)
  private final case class Progress(rows: Long, startMs: Long,
      durations: Map[String, Long], cfg: String)

  /** Micro-batch trigger. Short, so per-batch costs are not buried in
    * the 10 s production default's trigger wait. */
  val Trigger = "500 milliseconds"
  /** Longest wait for the last landed files to be delivered. */
  val DrainMs = 30000L
}
