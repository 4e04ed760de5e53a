package graft.pipebench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.queries.SharedFrames

/** `corpus_tiers`: training-data gates that build and read the shared
  * tiers (`doc_toks`, `jaccard_truth`, `minhash3`, `simhash_sketch`,
  * `grams2`, `winnow_family`), in a fixed order, each into the `noop`
  * sink as `graft.Bench` runs them. Every pass is a fresh Spark
  * application, so every tier build falls inside the timed pass; there
  * is no warm-up pass, so the first pass also pays the JVM's JIT and
  * class loading, as a freshly launched job does;
  * `SharedFrames.drainBuilt()` after each gate attributes the builds.
  * After the passes each gate's output is written out once for the
  * DuckDB oracle compare `run.py` makes. */
final class Corpus(h: Harness) {
  import h._

  private val sf = manifest.get("sf").asText
  private val docs = manifest.get("docs").asLong
  private var passNo = 0
  private val untracedWalls, tracedWalls = ArrayBuffer.empty[Double]

  def run(): Unit = {
    for (_ <- 1 to Harness.SetupRepeats) setup(None)
    val window = new Window(o.seconds)
    window.time(pass(traced = false, timed = true))
    while (window.roomFor(1)) { setup(None); window.time(pass(traced = false, timed = true)) }
    if (o.trace) {
      // the passes above include the JVM's JIT warm-up; compare the
      // traced pass with a warm untraced one
      setup(None); pass(traced = false, timed = false)
      setup(None); pass(traced = true, timed = true)
      layer("trace_gap_s", tracedWalls.last - untracedWalls.last)
    }
    dumpForOracle()
  }

  private def pass(traced: Boolean, timed: Boolean): Unit = {
    passNo += 1
    tracer.run = s"pass-$passNo"
    val tr = if (traced) tracer else new Tracer(false)
    SharedFrames.drainBuilt()
    val s0 = snap(resetMax = true)
    val t0 = System.nanoTime()
    val gates = tr("pass")(Corpus.Gates.map { g =>
      val g0 = System.nanoTime()
      val err =
        try {
          tr(g)(SparkEntry.queries(g)(spark, sf)
            .write.mode("overwrite").format("noop").save())
          None
        } catch { case e: Exception => Some(s"$g: ${e.getMessage}") }
      (g, (System.nanoTime() - g0) / 1e9, (System.nanoTime() - t0) / 1e6,
        SharedFrames.drainBuilt(), err)
    })
    val wall = (System.nanoTime() - t0) / 1e9
    val d = snap() - s0
    System.err.println(f"[pipebench] pass $passNo traced=$traced wall=$wall%.3f s " +
      gates.map(g => f"${g._1}=${g._2}%.3f${g._4.mkString("[", ",", "]")}").mkString(" "))
    val errors = gates.flatMap(_._5)
    check("gate_errors", errors.isEmpty, errors.mkString("; "), errors.size)
    attempted += gates.size
    if (!traced) untracedWalls += wall
    if (timed && !traced) {
      sample("run_s", wall)
      sample("events_per_s", docs / wall)
      sample("cpu_s", d.cpuS)
      gates.foreach(g => sample("lag_ms", g._3))
    }
    if (timed && traced) {
      tracedWalls += wall
      gates.foreach { case (g, s, _, _, _) => layer(s"gate_s.$g", s) }
      layer("tier_build_s", gates.filter(_._4.nonEmpty).map(_._2).sum)
      layer("tier_read_s", gates.filter(_._4.isEmpty).map(_._2).sum)
      layer("tiers_built", gates.map(_._4.size).sum)
      engineLayers(d)
    }
  }

  /** Each gate's output as one parquet dump, plus the gates' oracle
    * SQL, in the layout `tools/check_oracle.py` reads. */
  private def dumpForOracle(): Unit = {
    val out = s"$dir/verify"
    Corpus.Gates.foreach { g =>
      SparkEntry.queries(g)(spark, sf).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$g")
    }
    val sql = Corpus.Gates.map(g => g -> SparkEntry.oracleSql(g)).toMap.asJava
    mapper.writeValue(Paths.get(out, "oracle_sql.json").toFile, sql)
  }
}

object Corpus {
  /** Gates that read nothing but `documents`, in run order. Each of the
    * six tiers is built by the first gate listed that needs it. */
  val Gates: Seq[String] = Seq(
    "dedup_ngram_jaccard", "jaccard_threshold_sweep", "dedup_minhash_lsh",
    "lsh_pair_pr", "dedup_simhash", "dedup_simhash_pairs", "winnow_pairs",
    "bigram_novelty")
}
