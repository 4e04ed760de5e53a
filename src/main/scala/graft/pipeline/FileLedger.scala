package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Processed-file ledger — the idempotency tracking the reference's
  * README promises (`dataflow_processed_files`, `M/README.md:13,46-48`)
  * but never implements (no Firestore call anywhere; SURVEY.md §2.11).
  * It matters because `$insert_id` falls back to a RANDOM uuid for rows
  * without a source insert id (`M/main.py:272-273`), so re-importing a
  * file duplicates those events downstream — a restart-safe backfill
  * must skip already-imported files.
  *
  * Spark-first shape: the ledger is a parquet table of processed URIs
  * (plus when they were recorded); filtering is a `left_anti` join and
  * recording is an append. At 100 TB the ledger holds file METADATA
  * (millions of rows, not data rows), so the anti-join is trivially
  * cheap relative to any scan it prevents; Spark broadcasts the
  * smaller side automatically.
  */
object FileLedger {

  /** Empty-safe read of the ledger table, with its declared schema: an
    * inferred one would cost a Spark job per read to learn one column.
    * A missing directory reads as empty; so does an empty one. */
  def read(spark: SparkSession, ledgerDir: String): DataFrame = {
    import spark.implicits._
    try spark.read.schema("uri STRING").parquet(ledgerDir)
    catch { case _: Exception => spark.emptyDataset[String].toDF("uri") }
  }

  /** Distributed form: candidate URIs minus already-processed ones. */
  def filterUnprocessed(uris: DataFrame, ledger: DataFrame): DataFrame =
    uris.join(ledger.select(col("uri")), Seq("uri"), "left_anti")

  /** Driver-list convenience for launcher-sized URI lists. */
  def unprocessed(spark: SparkSession, uris: Seq[String],
      ledgerDir: String): Seq[String] = {
    import spark.implicits._
    filterUnprocessed(uris.toDF("uri"), read(spark, ledgerDir))
      .as[String].collect().toSeq
  }

  /** Record URIs as processed (idempotent at read time: duplicates in
    * the ledger are harmless because filtering is an anti-join). Call
    * AFTER the batch completes — crash-before-record re-imports, which
    * is the at-least-once posture the reference runs with
    * (SURVEY.md §2.9). */
  def record(spark: SparkSession, uris: Seq[String],
      ledgerDir: String): Unit = {
    import spark.implicits._
    if (uris.nonEmpty)
      uris.toDF("uri")
        .withColumn("recorded_at", current_timestamp())
        .write.mode("append").parquet(ledgerDir)
  }
}
