package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.pipeline.BatchPipeline
import graft.queries.SharedFrames

/** Schema-carrying reads: a shared tier's or a gate store's read-back
  * takes the schema its build wrote and a base table's load takes the
  * schema of the footer it reads, so none runs the one-task
  * schema-inference job a plain `spark.read.parquet` runs — and that
  * schema is the one inference would give. */
class TierReadSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("a built tier reads back with no Spark job, and every frame of " +
      "the six corpus tiers carries the schema inference gives") {
    // calling the gates builds their tiers (each build is eager)
    Seq("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
      "winnow_pairs", "bigram_novelty")
      .foreach(g => SparkEntry.queries(g)(spark, dir))
    val tiers = Seq("doc_toks", "jaccard_truth", "minhash3",
      "simhash_sketch", "winnow_family", "grams2")
    val (read, jobs, _) = withJobsAndTasks(tiers.map(t =>
      t -> SharedFrames(spark, dir, t)(fail(s"tier $t was not built"))))
    assert(jobs == 0)
    for ((t, frames) <- read; (n, df) <- frames) {
      // the frame's own directory (a gate may have cached the frame, so
      // its optimized plan can be an in-memory relation)
      val path = df.queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation
      }.collect { case r: HadoopFsRelation => r.location.rootPaths.head }.get
      assert(df.schema == spark.read.parquet(path.toString).schema, s"$t/$n")
    }
    assert(read.map(_._2.size).sum == 9)
  }

  test("every sf0.001 table loads with no Spark job and the inferred schema") {
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      val (df, jobs, _) = withJobsAndTasks(Tables(spark, dir, t))
      assert(jobs == 0, t)
      assert(df.schema ==
        Tables.normalize(spark.read.parquet(s"$dir/$t.parquet")).schema, t)
    }
  }

  test("a store written through Tables.writeParquet costs only its write " +
      "job and reads back with the schema inference gives") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("graft_store")
    // the column types the gate-local stores carry (ids, ranks, cosines,
    // text, vectors, SCD history money/dates/flags); primitive columns
    // of a local Seq are non-nullable, the read-back's are not
    val df = Seq(
        (1L, 2, 0.5, Option("a"), Array(1.5f, 2.5f), "12.34",
          Option(java.sql.Date.valueOf("2024-06-01")), true),
        (2L, 3, -1.0, None, Array.empty[Float], "-0.01", None, false))
      .toDF("id", "rank", "cosine", "text", "embedding", "acctbal",
        "valid_to", "is_current")
      .withColumn("acctbal", col("acctbal").cast("decimal(18,2)"))
    val (back, jobs, _) = withJobsAndTasks(
      Tables.writeParquet(df, s"$tmp/store"))
    assert(jobs == 1)
    assert(back.schema == spark.read.parquet(s"$tmp/store").schema)
    assert(back.orderBy("id").collect().toSeq == df.collect().toSeq)
  }

  test("a directory-form table and a directory with a summary file fall " +
      "back to inference") {
    val tmp = Files.createTempDirectory("graft_dir_table")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1)
      .write.parquet(s"$tmp/t.parquet")
    assert(BatchPipeline.footerScanSchema(spark, Seq(s"$tmp/t.parquet")).isEmpty)
    assert(Tables(spark, tmp.toString, "t").as[(Long, String)].collect()
      .sorted.toSeq == Seq((1L, "a"), (2L, "b")))
    // a summary file is what inference reads
    val part = Files.list(tmp.resolve("t.parquet")).filter(
      _.getFileName.toString.startsWith("part-")).findFirst().get
    Files.copy(part, tmp.resolve("t.parquet/_metadata"))
    assert(BatchPipeline.footerScanSchema(spark,
      Seq(s"$tmp/t.parquet/_metadata")).isEmpty)
  }
}
