package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental materialized-summary maintenance — the streaming
  * lifecycle around [[graft.plans.MvCatalog]]'s summaries: each
  * micro-batch folds its PARTIAL aggregate into the stored summary
  * (sum-of-sums, min-of-mins — the same algebraic-state merge as
  * `LakeQueries.incrementalAgg`), so the summary a rollup-rewrite
  * serves is maintained by deltas, never by rescanning the fact
  * table.
  *
  * Exactly-once across restarts: Structured Streaming REPLAYS the
  * in-flight batch after a failure, and a blind merge would
  * double-count it — so the merge is guarded by a batch-id ledger
  * (`_last_batch`; a replay of batchId ≤ ledger is a no-op). The
  * commit is ATOMIC: each merge writes a fresh versioned directory
  * (`summary_b<batchId>`), never touching the directory the ledger
  * currently points at, and then flips the ledger with a same-dir
  * temp-file + ATOMIC_MOVE rename. A crash anywhere leaves either
  * the old (ledger → old dir, orphan new dir overwritten on replay)
  * or the new state (ledger → new dir) — there is no window where a
  * replayed batch re-merges into a summary that already contains it.
  * This is the standard idempotent `foreachBatch` contract; at scale
  * the same shape is one transactional table commit.
  *
  * State is one summary row per group (here: per event_type) — the
  * summary frame is tiny by construction, so the read-merge-overwrite
  * cycle costs one small job per batch regardless of fact size. */
object MvMaintenance {

  /** Per-batch partial: exact counts, cent-unit value sums (BIGINT —
    * see time_weighted_avg's DECIMAL→double seam note), micro
    * min/max. */
  def summarize(batch: DataFrame): DataFrame =
    batch.select(col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"),
        expr("unix_micros(ts)").as("us"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("us")).as("min_us"), max(col("us")).as("max_us"))

  private def ledgerPath(summaryDir: String) =
    Paths.get(summaryDir, "_last_batch")

  private def versionDir(summaryDir: String, batchId: Long) =
    s"$summaryDir/summary_b$batchId"

  def lastMerged(summaryDir: String): Long = {
    val p = ledgerPath(summaryDir)
    if (Files.exists(p)) Files.readString(p).trim.toLong else -1L
  }

  /** Fold one micro-batch into the stored summary; a replayed
    * batchId is a no-op (returns false). The new version directory is
    * written BEFORE the ledger flips, and the directory the current
    * ledger points at is never modified — see the class doc's
    * crash-window analysis. */
  def mergeBatch(spark: SparkSession, summaryDir: String,
      batch: DataFrame, batchId: Long): Boolean = {
    val prev = lastMerged(summaryDir)
    if (batchId <= prev) return false
    val partial = summarize(batch)
    val merged =
      if (prev >= 0) {
        spark.read.parquet(versionDir(summaryDir, prev))
          .unionByName(partial)
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"),
            min(col("min_us")).as("min_us"), max(col("max_us")).as("max_us"))
      } else partial
    // overwrite handles a crashed prior attempt at this same batchId;
    // the read side (the PREVIOUS version dir) is untouched
    merged.coalesce(1).write.mode("overwrite")
      .parquet(versionDir(summaryDir, batchId))
    // atomic ledger flip: temp file in the same directory + rename
    val tmp = Files.createTempFile(Paths.get(summaryDir), "_lb", ".tmp")
    Files.writeString(tmp, batchId.toString)
    Files.move(tmp, ledgerPath(summaryDir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // GC superseded versions — best effort. The IMMEDIATELY
    // superseded dir survives one extra generation: readSummary
    // returns a LAZY frame over the resolved dir, so a reader that
    // resolved the ledger just before this flip (or a frame held
    // across one subsequent mergeBatch) must not lose its backing
    // files mid-scan. Older generations and crash orphans are swept.
    sweepStaleVersions(summaryDir, keep = batchId, prevKeep = prev)
    true
  }

  /** Delete every `summary_b<id>` directory other than `keep` (the
    * committed ledger value) and `prevKeep` (the one generation of
    * grace for in-flight lazy readers — see [[mergeBatch]]). Safe at
    * any time after the ledger flip: a frame resolved against any
    * OLDER generation has survived a full merge cycle already, which
    * is outside [[readSummary]]'s read-before-the-next-two-merges
    * contract. */
  private def sweepStaleVersions(summaryDir: String, keep: Long,
      prevKeep: Long): Unit =
    try {
      val dir = Paths.get(summaryDir)
      val ls = Files.list(dir)
      val stale =
        try ls.filter(p => {
            val n = p.getFileName.toString
            n.startsWith("summary_b") &&
              scala.util.Try(n.stripPrefix("summary_b").toLong)
                .toOption.exists(id => id != keep && id != prevKeep)
          }).toArray
        finally ls.close()
      stale.foreach { case p: java.nio.file.Path =>
        try {
          val walk = Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(q => Files.deleteIfExists(q))
          finally walk.close()
        } catch { case _: Exception => () }
      }
    } catch { case _: Exception => () }

  /** Lazy frame over the ledger's current version directory. Read
    * contract: consume (or checkpoint) the frame before TWO further
    * [[mergeBatch]] calls land — the resolved directory survives the
    * next merge's sweep (one generation of grace) but not the one
    * after. This read and [[mergeBatch]]'s read of the previous
    * version infer the schema rather than pass the one the merge
    * wrote ([[graft.Tables.writeParquet]]): they must work after a
    * restart, when no in-memory schema exists. */
  def readSummary(spark: SparkSession, summaryDir: String): DataFrame = {
    val b = lastMerged(summaryDir)
    require(b >= 0, s"no committed summary under $summaryDir")
    spark.read.parquet(versionDir(summaryDir, b))
  }
}
