package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Persist-once shared-frame tier for gate queries.
  *
  * Several audit gates grade candidate generators against one
  * expensive truth frame (exact-Jaccard pairs, the dedup-core
  * survivor graph, the embedding ε-graph, the four PQ top-10 stacks,
  * the trained unigram vocabulary). Each used to rebuild that frame
  * per gate by isolation; here the FIRST caller in a JVM computes it
  * once, persists it to scratch parquet, and every later caller reads
  * it back. Keyed by (applicationId, sfDir, name) so a fresh session
  * or a different SF never serves stale frames; the consumers'
  * outputs are byte-identical either way (same frames, same
  * aggregates). At 100 TB this is the same shape deliberately: one
  * persisted truth tier that every audit reads, not a per-audit
  * recompute — and the scratch location follows
  * `spark.graft.scratch.uri` ([[graft.Tables.scratchDir]]), so on a
  * cluster the tier lands on a shared filesystem every executor can
  * reach.
  *
  * Reads are schema-carrying: every read of a frame, the first
  * included, takes the schema its build wrote and runs no Spark job
  * (inference would run one to parse that same footer).
  */
private[graft] object SharedFrames {

  /** Value records the frame names DECLARED by the build alongside
    * the scratch path — later callers resolve frames by those names
    * (never by listing the directory, whose contents an external tmp
    * cleaner or a stray file could misrepresent) — and each frame's
    * schema as the build wrote it. */
  private val built = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[(String, StructType)])]()

  /** Tier names whose build ran since the last [[drainBuilt]] — the
    * bench drains this after each query so first-caller attribution
    * of shared-frame builds is readable from the bench JSON alone
    * (per-query cost swings between rounds as the board grows and the
    * first caller of a tier changes; without this the swings look
    * like regressions). */
  private val buildLog =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def drainBuilt(): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var n = buildLog.poll()
    while (n != null) { out += n; n = buildLog.poll() }
    out.toSeq
  }

  /** (tier name, scratch dir) of every tier built in this JVM. */
  def scratchDirs: Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    built.asScala.toSeq.map { case (key, (path, _)) =>
      key.substring(key.lastIndexOf('|') + 1) -> path }
  }

  /** First caller per (applicationId, sfDir, name) runs `build` (a
    * seq of frame name → definition), persists every frame to one
    * scratch dir, and returns the read-back handles; later callers
    * read the persisted parquet by the recorded names and schemas. A
    * frame's recorded schema is the one [[graft.Tables.writeParquet]]
    * reads it back with: what inference gives a scan of the written
    * files. The write goes through
    * repartition(1) — NOT coalesce(1), which would collapse the whole
    * upstream computation into one task; the shuffle boundary keeps
    * the build parallel while only the (small) result funnels to one
    * file.
    *
    * Bench-attribution note: if the BUILDER gate's measurement window
    * absorbs steal and is re-measured, the retry reads the
    * already-persisted frames — the build cost then lives only in the
    * run's steal envelope, not in any accepted per-query wall. The
    * work is still done once per run; only its attribution moves. */
  def apply(spark: SparkSession, dir: String, name: String)
      (build: => Seq[(String, DataFrame)]): Map[String, DataFrame] = {
    val key = spark.sparkContext.applicationId + "|" + dir + "|" + name
    val (path, names) = built.computeIfAbsent(key, _ => {
      val p = graft.Tables.scratchDir(s"graft_shared_$name")
      val schemas = build.map { case (n, df) =>
        n -> graft.Tables.writeParquet(df.repartition(1), s"$p/$n").schema
      }
      buildLog.add(name)
      (p, schemas)
    })
    names.map { case (n, schema) =>
      n -> spark.read.schema(schema).parquet(s"$path/$n")
    }.toMap
  }
}
