package graft.pipebench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.Sessions
import graft.config.{ConfigLoader, SourceConfig}

/** Benchmark harness entry point. Drives the program through its
  * public entry points on inputs `run.py` generated from a seed, and
  * writes `result.json` into the run directory.
  *
  * Arguments: `--workload W --dir RUNDIR --seconds S --trace 0|1
  * --cpus N [--fault none|drop|dup]`. */
object Main {
  final case class Opts(workload: String, dir: String, seconds: Double,
      trace: Boolean, cpus: Int, fault: String)

  def parse(argv: List[String], o: Opts): Opts = argv match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--dir" :: v :: t => parse(t, o.copy(dir = v))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--cpus" :: v :: t => parse(t, o.copy(cpus = v.toInt))
    case "--fault" :: v :: t => parse(t, o.copy(fault = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList, Opts("", "", 10, trace = false, 4, "none"))
    val h = new Harness(o)
    val code = try {
      o.workload match {
        case "batch_backfill" => new Etl(h, ledger = false).run()
        case "small_files" => new Etl(h, ledger = true).run()
        case "stream_shared_dir" => new Stream(h).run()
        case "corpus_tiers" => new Corpus(h).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      h.writeResult()
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally h.stop()
    System.exit(code)
  }
}

/** State shared by every workload: the session, the engine listener,
  * the loopback endpoint, the tracer, checks and metrics. */
final class Harness(val o: Main.Opts) {
  val dir: String = o.dir
  val master = s"local[${o.cpus}]"
  val mapper = new ObjectMapper()
  val manifest: JsonNode = mapper.readTree(Paths.get(dir, "manifest.json").toFile)
  lazy val endpoint = new Endpoint(o.cpus, o.fault)
  val tracer = new Tracer(o.trace)

  var spark: SparkSession = _
  var listener: EngineListener = _
  val setupS = ArrayBuffer.empty[Double]
  val configLoadMs = ArrayBuffer.empty[Double]

  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L
  /** end-to-end samples, one per timed pass (or per item for lags) */
  val e2e = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** per-layer samples, one per traced pass */
  val layers = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val runStealS0: Double = Host.stealS
  val runT0: Long = System.nanoTime()

  def sample(m: String, v: Double): Unit =
    e2e.getOrElseUpdate(m, ArrayBuffer.empty) += v
  def layer(m: String, v: Double): Unit =
    layers.getOrElseUpdate(m, ArrayBuffer.empty) += v

  /** Record a check; a failing check with no counted failures still
    * counts one, so `failed` is never 0 when a check fails. */
  def check(name: String, ok: Boolean, detail: String, failures: Long): Unit = {
    checks += ((name, ok, detail))
    failed += (if (ok) failures else math.max(1L, failures))
    if (!ok) System.err.println(s"[pipebench] CHECK FAILED $name: $detail")
  }

  def manifestCounts(field: String): Map[String, Long] =
    manifest.get(field).fields.asScala.map(e => e.getKey -> e.getValue.asLong).toMap

  /** The delivery checks of every ETL workload, against the manifest:
    * delivered events, each generated `$insert_id` exactly once, rows
    * planted with a null `insert_id` arriving with distinct minted
    * UUIDs, the `amount` sum, transform-DLQ rows by `error_type`
    * (read back from `dlqDir`), and an empty API DLQ (`apiDir`). */
  def checkDelivery(rec: Received, dlqDir: String, apiDir: String): Unit = {
    val good = manifest.get("good_rows").asLong
    val delivered = rec.events.sum
    check("delivered_events", delivered == good,
      s"$delivered delivered, $good expected", math.abs(delivered - good))
    val dups = rec.ids.values.asScala.map(_.sum - 1).filter(_ > 0).sum
    val lost = manifest.get("generated_ids").asLong - rec.ids.size
    check("insert_ids_once", dups == 0 && lost == 0,
      s"$lost lost, $dups duplicated", math.abs(lost) + dups)
    val minted = rec.minted.asScala.toSeq
    val repeats = minted.size - minted.distinct.size
    val nulls = manifest.get("null_insert_rows").asLong
    check("minted_ids_distinct",
      minted.size == nulls && repeats == 0 && minted.forall(_.matches(Harness.Uuid)),
      s"${minted.size} minted ($nulls expected), $repeats repeated",
      math.abs(minted.size - nulls) + repeats)
    val sum = manifest.get("amount_sum").asLong
    check("amount_sum", rec.amountSum.sum == sum, s"${rec.amountSum.sum} vs $sum", 0)
    val got = outputLines(dlqDir).map(l => mapper.readTree(l).get("error_type").asText)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val want = manifestCounts("dlq_by_reason")
    val off = (got.keySet ++ want.keySet).toSeq
      .map(k => math.abs(got.getOrElse(k, 0L) - want.getOrElse(k, 0L))).sum
    check("transform_dlq_by_reason", off == 0, s"got $got", off)
    val apiDlq = outputLines(apiDir).size.toLong
    check("api_dlq_empty", apiDlq == 0, s"$apiDlq rows", apiDlq)
  }

  /** One set-up: session start as the launcher builds it, the config
    * load, and `Sessions.warm` (the ICU class-init front-load). The
    * extra conf keeps every file the engine writes inside the run
    * directory. Returns the loaded configs. */
  def setup(configUri: Option[String]): Seq[SourceConfig] = {
    if (spark != null) spark.stop()
    val t0 = System.nanoTime()
    spark = Sessions.builder(master, o.cpus)
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.graft.scratch.uri", s"file://$dir/scratch")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    val configs = configUri.map(u =>
      ConfigLoader.loadUri(u, spark.sparkContext.hadoopConfiguration, "file"))
      .getOrElse(Nil)
    val t2 = System.nanoTime()
    Sessions.warm(spark)
    setupS += (System.nanoTime() - t0) / 1e9
    configLoadMs += (t2 - t1) / 1e6
    listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    configs
  }

  def snap(resetMax: Boolean = false): EngineSnap =
    listener.snap(spark.sparkContext, resetMax)

  /** Engine layer metrics over one traced pass. */
  def engineLayers(d: EngineSnap): Unit = {
    layer("tasks", d.tasks)
    layer("task_s", d.runMs / 1e3)
    layer("max_task_cpu_s", d.maxTaskCpuNs / 1e9)
    layer("shuffle_mb", d.shuffleBytes / 1e6)
    layer("spill_mb", d.spillBytes / 1e6)
    layer("gc_s", d.gcMs / 1e3)
  }

  /** Post-side layer metrics over one traced pass. */
  def postLayers(): Unit = {
    val lat = PostStats.latNs.asScala.toSeq
    layer("post_calls", PostStats.calls.sum.toDouble)
    layer("post_retries", (PostStats.calls.sum - PostStats.ok.sum).toDouble)
    layer("post_ms_p50", if (lat.isEmpty) 0 else Host.msQuantiles(lat, 0.5))
    layer("post_ms_p99", if (lat.isEmpty) 0 else Host.msQuantiles(lat, 0.99))
    layer("wire_mb", PostStats.wireBytes.sum / 1e6)
  }

  /** Time EventBatchSink alone over NDJSON lines: `cpus` threads, one
    * slice each (as partitions post in parallel), counting posters.
    * Records sink_s, batches, events_per_batch, gzip_ratio. */
  def sinkLayer(lines: Seq[String]): Unit = {
    val calls = new java.util.concurrent.atomic.LongAdder
    val gzBytes = new java.util.concurrent.atomic.LongAdder
    val counting = new graft.sink.EventPoster {
      def post(gz: Array[Byte], n: Int): graft.sink.PostResult = {
        calls.increment(); gzBytes.add(gz.length)
        graft.sink.PostResult(200, "ok")
      }
    }
    val rawBytes = lines.iterator.map(_.getBytes("UTF-8").length + 1L).sum
    val slices = if (lines.isEmpty) Nil
      else lines.grouped((lines.size + o.cpus - 1) / o.cpus).toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(o.cpus)
    val t0 = System.nanoTime()
    try tracer("sink_job") {
      slices.map { s =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = {
            val sink = new graft.sink.EventBatchSink(counting)
            s.foreach(sink.add)
            sink.flush()
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    layer("sink_s", (System.nanoTime() - t0) / 1e9)
    layer("sink_events", lines.size)
    layer("sink_raw_mb", rawBytes / 1e6)
    layer("sink_gzip_mb", gzBytes.sum / 1e6)
    layer("batches", calls.sum.toDouble)
    layer("events_per_batch",
      if (calls.sum == 0) 0 else lines.size.toDouble / calls.sum)
    layer("gzip_ratio", if (gzBytes.sum == 0) 0 else rawBytes.toDouble / gzBytes.sum)
  }

  def writeResult(): Unit = {
    val ctx = new java.util.LinkedHashMap[String, Any]()
    ctx.put("nproc", Runtime.getRuntime.availableProcessors())
    ctx.put("master", master)
    ctx.put("heap_mb", Host.heapMb)
    ctx.put("steal_s", Host.stealS - runStealS0)
    ctx.put("window_s", (System.nanoTime() - runT0) / 1e9)
    sample("peak_rss_mb", Host.peakRssMb)
    if (o.trace) layer("heap_old_peak_mb", Host.oldGenPeakMb)
    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("context", ctx)
    out.put("attempted", attempted)
    out.put("failed", failed)
    out.put("checks", checks.map { case (n, ok, d) =>
      Map("name" -> n, "ok" -> ok, "detail" -> d).asJava }.asJava)
    out.put("setup_s", setupS.asJava)
    out.put("config_load_ms", configLoadMs.asJava)
    out.put("e2e", e2e.map { case (k, v) => k -> v.asJava }.asJava)
    out.put("layers", layers.map { case (k, v) => k -> v.asJava }.asJava)
    out.put("spans", tracer.spans.map(s => Map[String, Any](
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "run" -> s.run,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs).asJava).asJava)
    mapper.writeValue(Paths.get(dir, "result.json").toFile, out)
  }

  def stop(): Unit = {
    try if (spark != null) spark.stop() catch { case _: Throwable => () }
    if (o.workload != "corpus_tiers") endpoint.stop()
  }

  /** Text lines of every `part-*` file under a Spark output dir. */
  def outputLines(path: String): Seq[String] = {
    val p = Paths.get(path)
    if (!Files.isDirectory(p)) Nil
    else Files.walk(p).iterator().asScala.toSeq
      .filter(f => f.getFileName.toString.startsWith("part-"))
      .flatMap(f => Files.readAllLines(f).asScala)
  }
}

object Harness {
  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
}
