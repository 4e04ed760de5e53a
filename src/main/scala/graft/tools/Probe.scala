package graft.tools

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.{BenchListener, Sessions, SparkEntry, Tables}
import graft.ext.{Dedup, Similarity}
import graft.queries.SharedFrames

/** The measurement runner over the registered queries
  * ([[SparkEntry.queries]]): `runMain graft.tools.Probe <mode> …`.
  *
  *  - `stages [query…]`: each query twice (the second round is the
  *    steady state), printing its wall time and its top stages by
  *    summed task CPU with their graft.* callsites. SF from
  *    `SPARK_GRAFT_SF_DIR` (default sf0.1); queries default to all.
  *  - `plans <outDir> <suffix> [query…]`: `explain("formatted")` to
  *    `<outDir>/<query>_<suffix>.txt`, the layout of `plans/`. SF from
  *    `SPARK_GRAFT_SF_DIR` (default sf0.01); queries default to all.
  *    Plan signals are a grep over the files, e.g. `grep -E
  *    'PushedFilters|ReadSchema|Join|Exchange' <outDir>/q1_agg_x.txt`.
  *  - `scale [--sfs=d1,d2,…] [query…]`: wall, task and CPU seconds per
  *    SF, then CPU growth exponents against input-row growth.
  *  - `candidates [--sfs=d1,d2,…]`: candidate rows of every banded or
  *    blocked generator next to its analytic bound, then their growth
  *    exponents.
  *
  * Queries run into the `noop` sink, as in [[graft.Bench]] (`count()`
  * lets Catalyst prune projection-only work). Cores come from
  * `SPARK_GRAFT_CPUS`, else the JVM's available processors. SF lists
  * come from `--sfs=`, else `SPARK_GRAFT_SF_DIRS` (comma-separated),
  * else the mode's default. */
object Probe {
  val TestData = "/root/testdata"

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe stages [query…] | plans <outDir> <suffix> " +
      "[query…] | scale [--sfs=d1,d2,…] [query…] | candidates [--sfs=…]"
    val mode = args.headOption.getOrElse("")
    val (sfs, rest) = sfList(args.toSeq.drop(1))
    require(Set("stages", "scale", "candidates")(mode) ||
      mode == "plans" && rest.length >= 2, usage)
    val spark = session()
    try mode match {
      case "stages" =>
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$TestData/sf0.1")
        for (q <- select(rest, SparkEntry.queries.keys.toSeq.sorted);
             r <- stages(spark, sfDir, q)) {
          println(f"[stages] ===== ${r.query} r${r.round} " +
            f"wall=${r.wallS}%.2fs stageCpu=${r.stages.map(_.cpuS).sum}%.2fs " +
            s"stages=${r.stages.size} tasks=${r.stages.map(_.tasks).sum}")
          r.stages.take(25).foreach { s =>
            println(f"[stages]  s${s.stageId}%-5d cpu=${s.cpuS}%8.2fs " +
              f"run=${s.runS}%8.1fs tasks=${s.tasks}%5d  ${s.callsite}")
          }
        }
      case "plans" =>
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$TestData/sf0.01")
        plans(spark, sfDir, rest(0), rest(1),
          select(rest.drop(2), SparkEntry.queries.keys.toSeq.sorted))
          .foreach(f => println(s"[plans] $f"))
      case "scale" =>
        scale(spark, sfs.getOrElse(Seq("sf0.001", "sf0.01", "sf0.1")
          .map(s => s"$TestData/$s")), select(rest, ScaleGates.map(_._1)))
      case "candidates" =>
        candidates(spark, sfs.getOrElse(Seq(s"$TestData/sf0.01",
          s"$TestData/sf0.1")))
    } finally spark.stop()
  }

  private def session(): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = Sessions.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Sessions.warm(spark)
    spark
  }

  /** SF dirs from `--sfs=` or `SPARK_GRAFT_SF_DIRS` (None: the mode's
    * default), and the arguments without the flag. */
  private def sfList(args: Seq[String]): (Option[Seq[String]], Seq[String]) =
    (args.collectFirst { case a if a.startsWith("--sfs=") => a.stripPrefix("--sfs=") }
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIRS")).map(_.split(",").toSeq),
      args.filterNot(_.startsWith("--sfs=")))

  private def select(names: Seq[String], default: => Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    if (names.nonEmpty) names else default
  }

  private def noop(spark: SparkSession, sfDir: String, query: String): Unit =
    SparkEntry.queries(query)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Lets the listener bus deliver a query's task events. */
  private def settle(): Unit = Thread.sleep(300)

  /** Growth exponent of a measure m against input size n between two
    * runs: log(m_hi / m_lo) / log(n_hi / n_lo), 1.0 linear and 2.0
    * quadratic. "=" when the input did not grow (the pair measures
    * noise, not growth), "NaN" when a measure is not positive. */
  def growth(mLo: Double, mHi: Double, nLo: Double, nHi: Double): String =
    if (nLo == nHi) "="
    else if (mLo <= 0 || mHi <= 0) "NaN"
    else f"${math.log(mHi / mLo) / math.log(nHi / nLo)}%.2f"

  final case class StageRow(stageId: Int, cpuS: Double, runS: Double,
      tasks: Long, callsite: String)
  final case class Round(query: String, round: Int, wallS: Double,
      stages: Seq[StageRow])

  /** Task CPU, task run time and task count per stage. A stage is
    * named by its first graft.* callsite frames: the stage name itself
    * is the async-execution anonfun. */
  private final class StageListener extends SparkListener {
    private val names = new ConcurrentHashMap[Int, String]()
    // stage -> (executor CPU ns, executor run ms, tasks)
    private val totals = new ConcurrentHashMap[Int, Array[LongAdder]]()

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val g = e.stageInfo.details.linesIterator
        .filter(l => l.contains("graft.") && !l.contains("graft.tools."))
        .take(3).map(_.trim.stripPrefix("at ").takeWhile(_ != ')') + ")")
        .mkString(" <- ")
      names.put(e.stageInfo.stageId,
        if (g.nonEmpty) g.take(220)
        else e.stageInfo.name.takeWhile(_ != '\n').take(140))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = totals.computeIfAbsent(e.stageId, _ => Array.fill(3)(new LongAdder))
        t(0).add(m.executorCpuTime); t(1).add(m.executorRunTime); t(2).add(1)
      }
    }

    def clear(): Unit = { names.clear(); totals.clear() }

    def rows: Seq[StageRow] = totals.asScala.toSeq.map { case (sid, t) =>
      StageRow(sid, t(0).sum / 1e9, t(1).sum / 1e3, t(2).sum,
        names.getOrDefault(sid, "?"))
    }.sortBy(-_.cpuS)
  }

  /** Runs `query` twice and returns each round's wall time and stage
    * table. `drain` waits for the listener bus before the table is
    * read (task events arrive asynchronously). */
  def stages(spark: SparkSession, sfDir: String, query: String,
      drain: () => Unit = () => settle()): Seq[Round] = {
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    try (1 to 2).map { round =>
      listener.clear()
      val t0 = System.nanoTime()
      noop(spark, sfDir, query)
      val wall = seconds(t0)
      spark.catalog.clearCache()
      drain()
      Round(query, round, wall, listener.rows)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Writes each query's formatted explain to
    * `<outDir>/<query>_<suffix>.txt` ("ERROR: …" when planning throws);
    * returns the files. */
  def plans(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, queries: Seq[String]): Seq[java.io.File] = {
    new java.io.File(outDir).mkdirs()
    queries.map { name =>
      val txt =
        try SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        catch { case e: Exception => s"ERROR: $e" }
      val f = new java.io.File(outDir, s"${name}_$suffix.txt")
      val w = new java.io.PrintWriter(f)
      try w.println(txt) finally w.close()
      f
    }
  }

  /** The ten heaviest gates of the round-16 bench (the `scale`
    * default), each with the table whose rows drive its cost. A query
    * not listed gets one exponent row per candidate table, marked '?'. */
  private val ScaleGates = Seq(
    "dedup_family_compare" -> "documents", "corpus_tokenize_e2e" -> "documents",
    "ann_graph_diversify" -> "embeddings", "dedup_stage_costs" -> "documents",
    "corpus_quality_e2e" -> "documents", "substring_dedup" -> "documents",
    "embed_dbscan" -> "embeddings", "stream_incremental_dedup" -> "documents",
    "ann_graph_append" -> "embeddings", "doc_dedup_best" -> "documents")

  /** Wall, task and CPU seconds of each query at each SF, then CPU
    * growth exponents per SF pair. Exponents are taken against the
    * gate's ACTUAL input growth, not the nominal SF: documents and
    * embeddings are the same size at sf0.001 and sf0.01 and grow at
    * sf0.1, while the TPC-H tables grow at every step. No SF is
    * synthesized by replication: duplicated documents all land in one
    * LSH band and distort the very candidate growth this measures. */
  def scale(spark: SparkSession, sfs: Seq[String], queries: Seq[String]): Unit = {
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val cpu = scala.collection.mutable.Map.empty[(String, String), Double]
    for (sf <- sfs; name <- queries) {
      listener.reset()
      SharedFrames.drainBuilt()
      val t0 = System.nanoTime()
      val err = try { noop(spark, sf, name); None }
        catch { case e: Throwable => Some(e.getMessage) }
      val wall = seconds(t0)
      spark.catalog.clearCache()
      settle()
      val built = SharedFrames.drainBuilt()
      val taskS = listener.taskTimeMs.sum / 1e3
      cpu((name, sf)) = listener.taskCpuNs.sum / 1e9
      println(f"[scale] $name%-28s $sf%-24s wall $wall%8.2f s " +
        f"task $taskS%8.2f s cpu ${cpu((name, sf))}%8.2f s" +
        (if (built.nonEmpty) built.mkString(" built:[", ",", "]") else "") +
        err.map(e => s" ERR: $e").getOrElse(""))
    }
    spark.sparkContext.removeSparkListener(listener)
    val tables = Seq("documents", "embeddings")
    val rows = (for (sf <- sfs; t <- tables)
      yield (sf, t) -> spark.read.parquet(s"$sf/$t.parquet").count().toDouble).toMap
    println("[scale] --- CPU scaling exponents vs INPUT-ROW growth " +
      "(1.0 = linear, 2.0 = quadratic; '=' = same input) ---")
    val gateTable = ScaleGates.toMap
    for (name <- queries;
         t <- gateTable.get(name).map(Seq(_)).getOrElse(tables)) {
      val label = t + (if (gateTable.contains(name)) "" else "?")
      val pairs = sfs.sliding(2).collect { case Seq(lo, hi) =>
        s"e(${lo.split('/').last}->${hi.split('/').last}) " +
          f"${growth(cpu((name, lo)), cpu((name, hi)), rows((lo, t)), rows((hi, t)))}%5s"
      }.mkString("   ")
      println(f"[scale] $name%-28s ($label%-12s) $pairs")
    }
  }

  /** Candidate rows of each banded/blocked generator at each SF next
    * to its analytic bound (the scale posture of every dedup/ANN family
    * is "candidates are banded, blocked or list-bounded, never
    * corpus²"), then growth exponents against input rows:
    *
    *  - lsh_pairs: MinHash-LSH candidate pairs; bound Σ C(sz, 2) over
    *    band buckets.
    *  - winnow_pairs: shared-fingerprint pairs; bound Σ C(sz, 2) over
    *    kept (df ≤ 64) fingerprint buckets.
    *  - embed_pairs: hyperplane-LSH bucket-join pairs with the cosine
    *    verify off (threshold −1); no closed-form bound.
    *  - embed_pairs_pl: the same with planes scaled by log2(n), which
    *    holds bucket occupancy constant (the remedy: ~linear growth
    *    where the fixed-plane row reads ~quadratic).
    *  - graph_occl: occlusion candidates of the serving store build
    *    (node × higher-ranked); bound n · k(k−1)/2 at k = 16.
    *  - del_bridge: delete-stage bridge candidates at the gate band
    *    (%10 = 4 over the diversified store); bound holes · degree. */
  def candidates(spark: SparkSession, sfs: Seq[String]): Unit = {
    // (family, sf) -> (measured, bound, input rows); bound < 0 = none
    val res = scala.collection.mutable.LinkedHashMap
      .empty[(String, String), (Long, Long, Long)]
    def choose2(c: Column) = c * (c - 1) / 2
    def scalar(df: DataFrame): Long = {
      val r = df.collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    for (sf <- sfs) {
      val docs = Tables(spark, sf, "documents")
      val emb = Tables(spark, sf, "embeddings")
      val nDocs = docs.count()
      val nEmb = emb.count()

      val sh = Tables.materialize(Dedup.shingles(docs, col("doc_id"), col("text"), 3))
      res(("lsh_pairs", sf)) = (Dedup.minhashLshPairsFromShingles(sh).count(),
        scalar(Dedup.minhashBandRows(sh).groupBy(col("band"), col("bh"))
          .agg(count(lit(1)).as("sz")).agg(sum(choose2(col("sz"))).cast("long"))),
        nDocs)

      res(("winnow_pairs", sf)) = (
        Dedup.winnowPairs(docs, col("doc_id"), col("text")).count(),
        scalar(Dedup.winnowFingerprints(docs, col("doc_id"), col("text"))
          .select(col("doc_id"), col("fp_hash")).distinct()
          .groupBy(col("fp_hash")).agg(count(lit(1)).as("sz"))
          .filter(col("sz") <= 64)
          .agg(sum(choose2(col("sz"))).cast("long"))),
        nDocs)

      res(("embed_pairs", sf)) = (Similarity.lshNearDupPairs(emb, col("vec_id"),
        col("embedding"), dim = 64, threshold = -1.0).count(), -1L, nEmb)
      val planes = math.max(4, math.ceil(math.log(nEmb / 2.0) / math.log(2.0)).toInt)
      res(("embed_pairs_pl", sf)) = (Similarity.lshNearDupPairs(emb, col("vec_id"),
        col("embedding"), dim = 64, numPlanes = planes, threshold = -1.0).count(),
        -1L, nEmb)

      val store = Tables.materialize(Similarity.nnDescent(emb, col("vec_id"),
        col("embedding"), k = 16, rounds = 4))
      res(("graph_occl", sf)) = (store.as("x").join(store.as("y"),
        col("x.node_id") === col("y.node_id") && col("y.rank") < col("x.rank"))
        .count(), nEmb * 16 * 15 / 2, nEmb)

      val dg = Tables.materialize(Similarity.diversifyGraph(emb, col("vec_id"),
        col("embedding"), store, degree = 8))
      val del = emb.filter(col("vec_id") % 10 === 4).select(col("vec_id").as("del_id"))
      val holeEdges = Tables.materialize(
        dg.join(del.select(col("del_id").as("node_id")), Seq("node_id"), "left_anti")
          .join(del.select(col("del_id").as("nbr_id")), Seq("nbr_id"), "left_semi"))
      val bridges = holeEdges.select(col("node_id"), col("nbr_id").as("mid"))
        .join(dg.select(col("node_id").as("mid"), col("nbr_id").as("cand")), "mid")
        .count()
      res(("del_bridge", sf)) = (bridges, holeEdges.count() * 8, nEmb)
      spark.catalog.clearCache()
    }
    println("[cand] family         sf                        " +
      "measured      bound      input")
    for (((fam, sf), (m, b, n)) <- res) {
      val bs = if (b < 0) "         -" else f"$b%10d"
      println(f"[cand] $fam%-14s $sf%-24s $m%10d $bs $n%10d")
    }
    println("[cand] --- growth: e = log(m_hi/m_lo)/log(n_hi/n_lo) " +
      "(1.0 linear, 2.0 quadratic; '=' = same input) ---")
    for (fam <- res.keys.map(_._1).toSeq.distinct; Seq(lo, hi) <- sfs.sliding(2)) {
      val (mLo, _, nLo) = res((fam, lo))
      val (mHi, _, nHi) = res((fam, hi))
      println(f"[cand] $fam%-14s e($lo%s -> $hi%s) = " +
        growth(mLo.toDouble, mHi.toDouble, nLo.toDouble, nHi.toDouble))
    }
  }
}
