package graft

import java.nio.file.Files

import graft.tools.Probe

/** The measurement runner's modes on sf0.001: plan files, the stage
  * table and the growth exponent the scale and candidate modes print. */
class ProbeSpec extends SparkSpec {
  private val sf0001 = s"${Probe.TestData}/sf0.001"

  test("plans writes one <query>_<suffix>.txt per query, each a physical plan") {
    val out = Files.createTempDirectory("graft_probe_plans").toFile
    val queries = Seq("map_events", "q1_agg")
    val files = Probe.plans(spark, sf0001, out.getPath, "before", queries)
    assert(files.map(_.getName) == Seq("map_events_before.txt", "q1_agg_before.txt"))
    assert(out.list().sorted.toSeq == files.map(_.getName).sorted)
    files.foreach { f =>
      val txt = new String(Files.readAllBytes(f.toPath))
      assert(txt.contains("== Physical Plan =="), s"${f.getName}: $txt")
    }
  }

  test("stages reports each round's stage rows with their task CPU") {
    val rounds = Probe.stages(spark, sf0001, "map_events",
      drain = () => org.apache.spark.ListenerBusDrain(spark.sparkContext))
    assert(rounds.map(_.round) == Seq(1, 2))
    rounds.foreach { r =>
      assert(r.query == "map_events" && r.wallS > 0)
      assert(r.stages.exists(s => s.tasks > 0 && s.cpuS > 0), r)
    }
  }

  test("stages names AQE-submitted stages by their operator scopes") {
    val rounds = Probe.stages(spark, sf0001, "q1_agg",
      drain = () => org.apache.spark.ListenerBusDrain(spark.sparkContext))
    val names = rounds.flatMap(_.stages.map(_.callsite))
    assert(names.exists(_.contains("Exchange")), names)
    assert(!names.exists(_.contains("withThreadLocalCaptured")), names)
  }

  test("plans dumps are byte-identical across runs of the same plan") {
    val out = Files.createTempDirectory("graft_probe_stable").toFile
    val Seq(a, b) = Seq("one", "two").flatMap(suffix =>
      Probe.plans(spark, sf0001, out.getPath, suffix, Seq("doc_dedup_pipeline")))
    val (ta, tb) = (new String(Files.readAllBytes(a.toPath)),
      new String(Files.readAllBytes(b.toPath)))
    assert(ta.contains("== Physical Plan =="), ta)
    assert(ta == tb)
    assert("#\\d|plan_id=\\d".r.findFirstIn(ta).isEmpty, ta)
    // the shared tier it reads, with the fixed token for the random suffix
    assert(ta.contains("graft_shared_dedup_core<tmp>/"), ta)
  }

  test("growth: '=' for the same input, NaN for a non-positive measure") {
    assert(Probe.growth(3, 7, 500, 500) == "=")
    assert(Probe.growth(0, 7, 500, 5000) == "NaN")
    assert(Probe.growth(3, -1, 500, 5000) == "NaN")
    assert(Probe.growth(3, 30, 500, 5000) == "1.00")
    assert(Probe.growth(3, 300, 500, 5000) == "2.00")
    assert(Probe.growth(300, 3, 500, 5000) == "-2.00")
  }
}
