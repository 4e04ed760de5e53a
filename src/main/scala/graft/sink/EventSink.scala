package graft.sink

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import scala.collection.mutable.ArrayBuffer

/** Result of one HTTP POST attempt. */
final case class PostResult(status: Int, body: String)

/** Pluggable transport so the sink is testable without a network
  * (`M/main.py:356-368` uses a requests.Session; tests inject fakes). */
trait EventPoster extends Serializable {
  /** @param gzippedNdjson gzip of newline-joined event JSON lines. */
  def post(gzippedNdjson: Array[Byte], nEvents: Int): PostResult
}

/** A DLQ record for an event that could not be delivered
  * (`M/main.py:377-400`). */
final case class SinkDlqRecord(reason: String, response: String, payload: String)

/** Batched, retrying event sink — `BatchPostToMixpanel`
  * (`M/main.py:306-423`) re-expressed as a partition-local buffer:
  *
  *  - flush at >= `batchSizeEvents` events or >= `batchSizeBytes` of
  *    UTF-8 payload (checked after each append, `M/main.py:404-413`);
  *  - payload = newline-joined JSON lines, gzipped (`M/main.py:352-354`);
  *  - HTTP 200 => success; 429/5xx/exception => retry with
  *    `min(2^r + U(0,1), 60)`s backoff, at most 5 retries
  *    (`M/main.py:374-376,390-392`);
  *  - other 4xx => whole batch dead-lettered per event with the response
  *    snippet (`M/main.py:377-389`); retries exhausted => per-event DLQ
  *    (`M/main.py:393-400`).
  *
  * Used inside `mapPartitions`/`foreachPartition` — one instance per
  * partition, no shared state, DLQ records returned as data (Spark has
  * no bundle/window mismatch, so the reference's finish_bundle
  * re-windowing workaround disappears; SURVEY.md §2.9).
  */
final class EventBatchSink(
    poster: EventPoster,
    batchSizeEvents: Int = EventBatchSink.DefaultBatchEvents,
    batchSizeBytes: Long = EventBatchSink.DefaultBatchBytes,
    maxRetries: Int = 5,
    sleeper: Long => Unit = Thread.sleep,
    jitter: () => Double = () => scala.util.Random.nextDouble())
  extends Serializable {

  // each event is UTF-8 encoded once, on add; flush joins those bytes
  // and decodes them again only to dead-letter them
  private val buffer = new ArrayBuffer[Array[Byte]]()
  private var bufferBytes = 0L
  private var sent = 0L

  /** Successfully posted event count (monitoring counter analog,
    * `M/main.py:370-372`). */
  def eventsSent: Long = sent

  /** Append one serialized event; returns DLQ records if this append
    * triggered a flush that dead-lettered. */
  def add(eventJson: String): Seq[SinkDlqRecord] = {
    val bytes = eventJson.getBytes(UTF_8)
    buffer += bytes
    bufferBytes += bytes.length
    if (buffer.size >= batchSizeEvents || bufferBytes >= batchSizeBytes) flush()
    else Nil
  }

  /** Flush any buffered events; returns DLQ records for failures. */
  def flush(): Seq[SinkDlqRecord] = {
    if (buffer.isEmpty) return Nil
    val gz = EventBatchSink.gzip(EventBatchSink.joinLines(buffer, bufferBytes))
    val n = buffer.size
    var retries = 0
    var dlq = Vector.empty[SinkDlqRecord]
    var done = false
    while (!done && retries < maxRetries) {
      val attempt =
        try Some(poster.post(gz, n))
        catch { case scala.util.control.NonFatal(_) => None }
      attempt match {
        case Some(r) if r.status == 200 =>
          sent += n
          done = true
        case Some(r) if r.status == 429 || r.status >= 500 =>
          retries += 1
          backoff(retries)
        case Some(r) => // non-retryable client error: dead-letter the batch
          dlq = deadLetters(s"client_error_${r.status}", r.body.take(500))
          done = true
        case None =>
          retries += 1
          backoff(retries)
      }
    }
    if (!done && retries == maxRetries)
      dlq = deadLetters("max_retries_reached", "")
    buffer.clear()
    bufferBytes = 0
    dlq
  }

  /** One DLQ record per buffered event, its payload decoded back. */
  private def deadLetters(reason: String, response: String): Vector[SinkDlqRecord] =
    buffer.iterator.map(b =>
      SinkDlqRecord(reason, response, new String(b, UTF_8))).toVector

  private def backoff(retries: Int): Unit =
    sleeper((math.min(math.pow(2, retries) + jitter(), 60.0) * 1000).toLong)
}

object EventBatchSink {
  /** `MP_BATCH_SIZE_EVENTS` (`M/main.py:22`). */
  val DefaultBatchEvents = 2000
  /** `MP_BATCH_SIZE_BYTES` (`M/main.py:23`). */
  val DefaultBatchBytes: Long = 2L * 1024 * 1024

  /** `lines` joined with '\n'; `bytes` is their total length. */
  private def joinLines(lines: Iterable[Array[Byte]], bytes: Long): Array[Byte] = {
    val out = new Array[Byte]((bytes + lines.size - 1).toInt)
    var at = -1
    lines.foreach { l =>
      if (at >= 0) out(at) = '\n'
      System.arraycopy(l, 0, out, at + 1, l.length)
      at += l.length + 1
    }
    out
  }

  def gzip(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  def gunzip(bytes: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val out = new ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    var n = in.read(buf)
    while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
    out.toByteArray
  }
}

/** Test/offline poster: accepts everything, remembers nothing (for
  * throughput benchmarks) or records batches (for assertions). */
final class RecordingPoster(record: Boolean = true,
    script: Seq[PostResult] = Nil) extends EventPoster {
  val batches = new ArrayBuffer[(Int, Array[Byte])]()
  private var i = 0
  override def post(gz: Array[Byte], nEvents: Int): PostResult = {
    if (record) batches += ((nEvents, gz))
    val r = if (i < script.size) script(i) else PostResult(200, "ok")
    i += 1
    r
  }
}
