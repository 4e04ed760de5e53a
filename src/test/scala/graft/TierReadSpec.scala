package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.pipeline.BatchPipeline
import graft.queries.SharedFrames

/** Schema-carrying reads: a shared tier's read-back takes the schema
  * its build wrote and a base table's load takes the schema of the
  * footer it reads, so neither runs the one-task schema-inference job
  * a plain `spark.read.parquet` runs — and that schema is the one
  * inference would give. */
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
