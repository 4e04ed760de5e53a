package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM, one session).
  * `local[4, 2]` = 4 threads, 2 task attempts — task retries exist in
  * the test JVM so FaultToleranceSpec can prove retry transparency;
  * production clusters run 4 attempts. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Sessions.builder("local[4, 2]", 4).getOrCreate()

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  def sf(name: String): DataFrame =
    Tables(spark, "/root/testdata/sf0.001", name)

  /** Writes `df` as ONE flat Parquet file at `target` (the shape GCS
    * notifications deliver — a single object, not a writer directory). */
  def writeFlat(df: DataFrame, target: java.nio.file.Path): java.nio.file.Path = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft_flat")
    df.coalesce(1).write.mode("overwrite").parquet(s"$tmp/out")
    val part = java.nio.file.Files.list(tmp.resolve("out")).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-") &&
        p.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part, target)
  }

  /** Runs `f`; returns its value and the jobs and tasks Spark ran
    * meanwhile. */
  def withJobsAndTasks[T](f: => T): (T, Int, Int) = {
    val jobs, tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (r, jobs.get, tasks.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `f`; returns its value and the records Spark's file scans read
    * meanwhile — stages over a `FileScanRDD` only, since reading back
    * cached or checkpointed blocks counts as records read too. */
  def withScanRecords[T](f: => T): (T, Long) = {
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val s = e.stageInfo
        if (s.rddInfos.exists(_.name == "FileScanRDD") && s.taskMetrics != null)
          read.addAndGet(s.taskMetrics.inputMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r = f
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (r, read.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
