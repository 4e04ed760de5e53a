package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for shuffle joins.
  *
  * A hot join key sends its whole partition to one reducer. WHEN to
  * reach for manual salting is evidence-based (round-7 A/B on a
  * 12M-row join with 90% of rows on one key; decision record: the
  * "skew mitigation decision record" row of SURVEY.md):
  *
  *  - Plain hot-key DIMENSION equi-join: AQE's OptimizeSkewedJoin
  *    splits the skewed partition by map-output bytes — it can split
  *    even a single hot key, duplicating the other side's partition
  *    into each split. With thresholds sized to the deployment it
  *    matched or beat salting in every clean round, because salting
  *    pays an unconditional tax (a content hash per big-side row,
  *    `salts`x dimension replication, a wider shuffle key) that the
  *    AQE split doesn't. PREFER AQE here; keep its stock 256 MB
  *    threshold in mind — it's tuned for cluster-sized partitions
  *    and simply doesn't fire on toy-scale data.
  *  - OUTPUT-EXPLODING self-joins (LSH band / simhash band / range
  *    bins): the skew is in the join's output (quadratic in bucket
  *    size) while map-output bytes stay small and balanced — AQE's
  *    input-byte statistics cannot see it (round-6 measurement: one
  *    21 s single-task band bucket, fixed by 8-way content salting).
  *    Manual salt is THE mechanism here.
  *  - Stateful STREAMING joins: Spark disables AQE entirely
  *    ("Disabling AQE since AQE is not supported in stateful
  *    workloads"), so the runtime split never happens. Manual salt is
  *    the only option.
  *
  * Mechanics: the big side scatters each row into one of `salts`
  * sub-keys, the small side replicates each row to ALL `salts`
  * sub-keys, and the join key becomes (key, salt) — the hot key's
  * rows spread over `salts` reducers at the cost of replicating the
  * small side `salts` times.
  *
  * The salt is derived deterministically from the big side's row
  * content (xxhash64 of all columns mod `salts`), not `rand()` — same
  * result on retry/replay, oracle-checkable, and no RNG in the plan.
  * Join semantics are exactly the plain equi-join's for any join where
  * the replicated side is joined 1:N on the key (dimension joins).
  */
object Skew {

  /** Salt column in [0, salts) from the given columns' content. */
  def saltOf(salts: Int, cols: Column*): Column =
    pmod(xxhash64(cols: _*), lit(salts.toLong)).cast("int")

  /** Inner equi-join of `big` with `small` on `key`, salted `salts`
    * ways. `small` is replicated `salts` x — keep it the dimension
    * side. */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val bigCols = big.columns.map(c => col(s"`$c`"))
    val salted = big.withColumn("_salt", saltOf(salts, bigCols: _*))
    val replicated = small.withColumn("_salt",
      explode(array((0 until salts).map(lit): _*)))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
