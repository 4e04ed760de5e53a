package graft.pipebench

import java.io.ByteArrayInputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import java.util.zip.GZIPInputStream

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.sink.{EventPoster, PostResult}

/** Engine counters summed over executor tasks, the way
  * `graft.BenchListener` sums them, plus scan rows and job counts. */
final case class EngineSnap(tasks: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    spillBytes: Long, shuffleBytes: Long, inputRecords: Long,
    jobs: Long, maxTaskCpuNs: Long) {
  def -(o: EngineSnap): EngineSnap = EngineSnap(tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs, spillBytes - o.spillBytes,
    shuffleBytes - o.shuffleBytes, inputRecords - o.inputRecords,
    jobs - o.jobs, maxTaskCpuNs)
  def cpuS: Double = cpuNs / 1e9
}

final class EngineListener extends SparkListener {
  private val tasks, runMs, cpuNs, gcMs, spill, shuffle, inRecs, jobs =
    new LongAdder
  /** Largest single-task CPU since the last [[snap]] with `resetMax`. */
  private val maxCpu = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      tasks.increment()
      runMs.add(m.executorRunTime)
      cpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffle.add(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      inRecs.add(m.inputMetrics.recordsRead)
      maxCpu.accumulateAndGet(m.executorCpuTime, Math.max(_, _))
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(sc: SparkContext, resetMax: Boolean = false): EngineSnap = {
    org.apache.spark.PipebenchBus.drain(sc)
    val s = peek()
    if (resetMax) maxCpu.set(0)
    s
  }

  /** Counters as delivered so far, without waiting for the bus. */
  def peek(): EngineSnap = EngineSnap(tasks.sum, runMs.sum, cpuNs.sum,
    gcMs.sum, spill.sum, shuffle.sum, inRecs.sum, jobs.sum, maxCpu.get)
}

/** JVM-wide post statistics. The poster factory is serialized into
  * tasks, so each task holds its own [[TimedPoster]]; they all report
  * here (the benchmark runs at `local[n]`, one JVM). */
object PostStats {
  val calls, ok, wireBytes = new LongAdder
  val latNs = new ConcurrentLinkedQueue[java.lang.Long]()
  def reset(): Unit = { calls.reset(); ok.reset(); wireBytes.reset(); latNs.clear() }
}

/** `EventPoster` decorator: times each `post()` of the wrapped poster
  * (the program's real `HttpEventPoster`) and counts calls. */
final class TimedPoster(inner: EventPoster) extends EventPoster {
  override def post(gz: Array[Byte], n: Int): PostResult = {
    val t0 = System.nanoTime()
    val r = try inner.post(gz, n) finally {
      PostStats.latNs.add(System.nanoTime() - t0)
      PostStats.calls.increment()
      PostStats.wireBytes.add(gz.length)
    }
    if (r.status == 200) PostStats.ok.increment()
    r
  }
}

/** What the loopback endpoint saw for one pass. Events carry their
  * input file as the `file_no` property; `expectPerFile` is the
  * manifest's good-row count per file, so a file's delivery time is
  * the arrival of its last expected event. */
final class Received(expectPerFile: Map[Long, Long], keepLines: Boolean) {
  val events, rawBytes, amountSum = new LongAdder
  /** generated `$insert_id` -> times it arrived */
  val ids = new ConcurrentHashMap[String, LongAdder]()
  /** `$insert_id`s the program minted (null in the source) */
  val minted = new ConcurrentLinkedQueue[String]()
  val perFile = new ConcurrentHashMap[Long, AtomicLong]()
  /** file -> arrival (epoch ms) of its last expected event */
  val doneAtMs = new ConcurrentHashMap[Long, java.lang.Long]()
  /** NDJSON lines as received (traced runs time the sink over them) */
  val lines = new ConcurrentLinkedQueue[String]()

  def record(line: String, insertId: String, amount: Long, file: Long,
      nowMs: Long): Unit = {
    events.increment()
    if (keepLines) lines.add(line)
    if (insertId != null && insertId.startsWith("g:"))
      ids.computeIfAbsent(insertId, _ => new LongAdder).increment()
    else minted.add(String.valueOf(insertId))
    amountSum.add(amount)
    if (file >= 0) {
      val c = perFile.computeIfAbsent(file, _ => new AtomicLong)
      if (c.incrementAndGet() == expectPerFile.getOrElse(file, -1L))
        doneAtMs.put(file, nowMs)
    }
  }
}

/** Loopback import endpoint (JDK `HttpServer` on 127.0.0.1, the
  * `HttpPosterSpec` pattern) with a handler pool of `threads`. It
  * gunzips each body, parses every NDJSON line, records arrival time,
  * `$insert_id`, `amount` and source file, and answers 200.
  *
  * `fault` exists to show that the output checks catch delivery
  * errors: `drop` acknowledges the second batch without recording it,
  * `dup` records the second batch twice. */
final class Endpoint(threads: Int, fault: String) {
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newFixedThreadPool(threads)
  private val json = new JsonFactory()
  private val batchNo = new AtomicLong(0)
  @volatile var current: Received = new Received(Map.empty, false)

  server.createContext("/import", (ex: HttpExchange) => {
    try {
      val wire = ex.getRequestBody.readAllBytes()
      val raw = new GZIPInputStream(new ByteArrayInputStream(wire)).readAllBytes()
      val rec = current
      val copies = batchNo.incrementAndGet() match {
        case 2 if fault == "drop" => 0
        case 2 if fault == "dup" => 2
        case _ => 1
      }
      val now = System.currentTimeMillis()
      rec.rawBytes.add(raw.length)
      val text = new String(raw, UTF_8)
      for (_ <- 0 until copies; line <- text.split('\n') if line.nonEmpty)
        parse(rec, line, now)
      val body = "{\"code\":200,\"status\":\"OK\"}".getBytes(UTF_8)
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
    } catch {
      case e: Exception =>
        System.err.println(s"[pipebench] endpoint error: $e")
        ex.sendResponseHeaders(500, -1)
    } finally ex.close()
  })
  server.setExecutor(pool)
  server.start()

  val url = s"http://127.0.0.1:${server.getAddress.getPort}/import"

  private def parse(rec: Received, line: String, now: Long): Unit = {
    val p = json.createParser(line)
    var insertId: String = null
    var amount = 0L
    var file = -1L
    var depth = 0
    var t = p.nextToken()
    while (t != null) {
      t match {
        case JsonToken.START_OBJECT | JsonToken.START_ARRAY => depth += 1
        case JsonToken.END_OBJECT | JsonToken.END_ARRAY => depth -= 1
        case JsonToken.FIELD_NAME if depth == 2 =>
          p.getCurrentName match {
            case "$insert_id" => p.nextToken(); insertId = p.getValueAsString
            case "amount" => p.nextToken(); amount = p.getValueAsLong
            case "file_no" => p.nextToken(); file = p.getValueAsLong
            case _ =>
          }
        case _ =>
      }
      t = p.nextToken()
    }
    p.close()
    rec.record(line, insertId, amount, file, now)
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** One span: a call into a layer, timed from the harness. */
final case class Span(id: Int, parent: Int, name: String, run: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder; spans are written out when the run ends.
  * Disabled tracers record nothing (untraced runs). */
final class Tracer(val enabled: Boolean) {
  val spans = new ArrayBuffer[Span]()
  private var stack = List(0)
  private var next = 1
  var run = ""

  def apply[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = next; next += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = System.nanoTime()
      try f finally {
        spans += Span(id, parent, name, run, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** Record a span observed elsewhere (epoch milliseconds), e.g. a
    * micro-batch reported by a streaming query listener. */
  def add(name: String, startMs: Long, endMs: Long): Unit =
    if (enabled) {
      spans += Span(next, 0, name, run, startMs * 1000000L - epochOffsetNs,
        endMs * 1000000L - epochOffsetNs)
      next += 1
    }

  /** Total seconds of the spans named `name` in run `r`. */
  def total(name: String, r: String = run): Double =
    spans.filter(s => s.name == name && s.run == r).map(_.seconds).sum
}

/** The measured window of a run: passes start only while the window
  * has room for another pass of the median length so far, so the
  * timed section ends close to `seconds` (at least one pass runs). */
final class Window(seconds: Double) {
  private val t0 = System.nanoTime()
  private val walls = ArrayBuffer.empty[Double]
  def time(f: => Unit): Unit = {
    val s = System.nanoTime(); f; walls += (System.nanoTime() - s) / 1e9
  }
  def roomFor(passes: Int): Boolean =
    (System.nanoTime() - t0) / 1e9 + passes * Host.median(walls.toSeq) <= seconds
}

object Host {
  /** Hypervisor steal since boot, seconds (`/proc/stat` cpu field 8). */
  def stealS: Double = try {
    val f = scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).getOrElse("").trim.split("\\s+")
    if (f.length > 8) f(8).toDouble / 100.0 else 0.0
  } catch { case _: Exception => 0.0 }

  /** Peak resident set of this JVM (`VmHWM`), MB. */
  def peakRssMb: Double = try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
  } catch { case _: Exception => 0.0 }

  def heapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Peak used bytes of the old-generation heap pool (objects that
    * survived young collections, and humongous arrays), MB. Unlike
    * `VmHWM` of a pre-touched heap, it grows with what the program
    * keeps on the heap; unlike eden's peak, it does not follow the
    * collector's young-generation sizing. */
  def oldGenPeakMb: Double = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
      p.getName.contains("Old Gen"))
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def msQuantiles(ns: Iterable[java.lang.Long], q: Double): Double =
    quantile(ns.map(_.longValue / 1e6).toSeq, q)
}
