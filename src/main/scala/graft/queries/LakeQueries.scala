package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-9 lakehouse-maintenance operators: the jobs that keep a
  * 100 TB lake correct and cheap to re-aggregate — incremental
  * (algebraic) aggregate maintenance, snapshot reconciliation (CDC
  * audit diff), and quantile feature binning. The reference rescans
  * its whole input per run (`M/main_batch.py:431-503` — every batch
  * is a full GCS re-read); these operators are what replaces rescans
  * once the lake outgrows that.
  *
  * Cross-engine determinism rules match the other query modules: sums
  * carried in exact DECIMAL and cast to DOUBLE only at the end;
  * double-valued formulas written as the textually identical
  * expression tree on both engines (IEEE `+ - * /` are correctly
  * rounded, so identical operands give identical bits); comparisons
  * and min/max on raw doubles are bit-safe.
  */
object LakeQueries {

  private def dec(c: Column) = c.cast("decimal(18,2)")

  /** Incremental aggregate maintenance: the algebraic partial-state
    * merge behind every "update yesterday's rollup with today's
    * delta" job. The aggregate state per group — (count, exact-decimal
    * sum, min, max) — is what Spark's own map-side combine carries;
    * materializing it makes the rollup MAINTAINABLE: merging a stored
    * state table with a new delta's state touches only the delta and
    * the (group-sized) state, never the 100 TB history. Every
    * aggregate here is distributive/algebraic on purpose — a median
    * could not be maintained this way (that's what the t-digest path
    * in `quantiles_approx_bounds` is for).
    *
    * The query proves the algebra: lineitem is split at a ship-date
    * cutoff into "history" and "delta", each side aggregates to states
    * independently (in production these would be two separate jobs,
    * days apart), and the union of states re-aggregates to the final
    * rollup. The oracle is the single-pass full-scan aggregate — so
    * the gate IS the merge-equals-rescan identity. Plan shape: two
    * scans (one per slice) each with map-side combine, one tiny
    * state-union exchange on the 3-value group key; the merge agg
    * never sees row-level data. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    def li = Tables(spark, dir, "lineitem")
    val cutoff = lit("1996-01-01").cast("timestamp")
    def states(slice: DataFrame): DataFrame =
      slice.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          sum(dec(col("l_quantity"))).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).as("sum_price"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    // the two slices must partition the table EXHAUSTIVELY — a plain
    // >= complement silently drops NULL ship dates from both slices
    // and breaks the merge-equals-rescan identity the gate asserts
    val history = states(li.filter(col("l_shipdate") < cutoff))
    val delta = states(li.filter(
      col("l_shipdate") >= cutoff || col("l_shipdate").isNull))
    history.unionByName(delta)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_qty")).as("sum_qty"),
        sum(col("sum_price")).as("sum_price"),
        min(col("min_qty")).as("min_qty"),
        max(col("max_qty")).as("max_qty"))
      .select(col("l_returnflag"),
        col("cnt"),
        col("sum_qty").cast("double").as("sum_qty"),
        col("sum_price").cast("double").as("sum_price"),
        col("min_qty"), col("max_qty"),
        (col("sum_qty").cast("double") / col("cnt").cast("double"))
          .as("avg_qty"))
  }

  /** Snapshot reconciliation: classify every key as added / deleted /
    * changed between two table snapshots — the anti-entropy audit for
    * a CDC pipeline (did the MERGE stream actually converge the
    * replica?), and the inverse of [[graft.ext.Merge.upsert]], which
    * APPLIES a delta this query would recover. One co-partitioned
    * full-outer hash join on the snapshot key is the whole cost; with
    * both snapshots bucketed by key the exchange disappears, and at
    * 100 TB the join never widens past the two snapshots' keys +
    * compared columns (project before diffing). Unchanged keys — the
    * overwhelming majority in a real lake — are dropped before any
    * further processing.
    *
    * The two snapshots are carved deterministically from `orders`:
    * keys ≡ 0 (mod 83) are missing from the old snapshot ("added"),
    * keys ≡ 0 (mod 89) are missing from the new one ("deleted"), and
    * the new snapshot reprices keys ≡ 0 (mod 97) ("changed" — double
    * multiply is IEEE-exact-rounded, so both engines compute the same
    * bits and the inequality test is deterministic). */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    def orders = Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    val old = orders.filter(col("o_orderkey") % 83 =!= 0)
      .withColumnRenamed("o_totalprice", "old_price")
    val neu = orders.filter(col("o_orderkey") % 89 =!= 0)
      .withColumn("new_price",
        when(col("o_orderkey") % 97 === 0, col("o_totalprice") * lit(1.1))
          .otherwise(col("o_totalprice")))
      .drop("o_totalprice")
    old.join(neu, Seq("o_orderkey"), "full_outer")
      .withColumn("change_type",
        when(col("old_price").isNull, lit("added"))
          .when(col("new_price").isNull, lit("deleted"))
          .when(col("old_price") =!= col("new_price"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change_type") =!= "unchanged")
      .select(col("o_orderkey"), col("change_type"),
        col("old_price"), col("new_price"))
  }

  /** SCD Type-2 MERGE — the dimension-history upsert every warehouse
    * runs: an incoming attribute snapshot closes the current version
    * of each CHANGED key (valid_to = effective date, is_current
    * false), inserts a new current version for changed and brand-new
    * keys, and leaves unchanged keys and closed history untouched.
    *
    * Plan shape (the MERGE a lakehouse engine would compile): one
    * equi-join of current rows against the batch to find changed
    * keys (null-safe attribute compare so NULL→value transitions
    * count as changes), one anti-join for new keys, then unions of
    * semi/anti-filtered slices — no window, no global sort; at
    * 100 TB the joins co-partition on the dimension key and the
    * batch side broadcasts when small. History rows are append-only:
    * closed versions are never rewritten, which is what makes the
    * table time-travelable. */
  def scdType2Merge(current: DataFrame, batch: DataFrame,
      key: String, attrs: Seq[String], effective: Column): DataFrame = {
    val cur = current.filter(col("is_current"))
    val diff = attrs.map(a =>
      !(col(a) <=> col(s"_b_$a"))).reduce(_ || _)
    val bat = batch.select(col(key) +:
      attrs.map(a => col(a).as(s"_b_$a")): _*)
    val changedKeys = cur.join(bat, key)
      .filter(diff).select(col(key))
    // anti-join against OPEN versions only: a key whose history holds
    // only closed rows (externally authored / hard-deleted current)
    // must re-enter as a new current version, not vanish
    val newKeys = batch.select(col(key))
      .join(cur.select(col(key)), Seq(key), "left_anti")
    val upsertKeys = changedKeys.unionByName(newKeys).distinct()
    val closed = cur.join(changedKeys, Seq(key), "left_semi")
      .withColumn("valid_to", effective)
      .withColumn("is_current", lit(false))
    val inserted = batch.join(upsertKeys, Seq(key), "left_semi")
      .withColumn("valid_from", effective)
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    current.filter(!col("is_current"))                 // closed history
      .unionByName(cur.join(changedKeys, Seq(key), "left_anti")) // untouched
      .unionByName(closed)
      .unionByName(inserted.select(current.columns.map(col): _*))
  }

  /** [[scdType2Merge]] gated: the customer dimension as the standing
    * history (one open version per key, valid from 2024-01-01), an
    * incoming snapshot where every mod-7 key's balance moved by +10
    * (exact DECIMAL, no float drift) — post-merge history emitted
    * with version bounds. Mod-7 keys carry two rows (closed + new
    * current); everyone else keeps their single open row. */
  private def scdHistory(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "customer")
      .select(col("c_custkey"), dec(col("c_acctbal")).as("acctbal"))
    val current = base
      .withColumn("valid_from", to_date(lit("2024-01-01")))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
    val batch = base
      .withColumn("acctbal",
        when(col("c_custkey") % 7 === 0, col("acctbal") + lit(10))
          .otherwise(col("acctbal")))
    scdType2Merge(current, batch, "c_custkey", Seq("acctbal"),
      to_date(lit("2024-06-01")))
  }

  def scdType2(spark: SparkSession, dir: String): DataFrame =
    scdHistory(spark, dir)
      // version bounds as strings: Spark date32 and DuckDB DATE
      // stringify differently through the gate's pandas compare
      .select(col("c_custkey"), col("acctbal").cast("double").as("acctbal"),
        date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
        col("is_current"))

  /** Point-in-time dimension read (time travel) over the SCD2
    * history: a snapshot as of date D is the rows with
    * `valid_from <= D < coalesce(valid_to, ∞)` — one scan-side
    * filter, no join, which is exactly why the type-2 layout is the
    * time-travelable one. Gated as cent-exact totals at one date
    * before and one after the merge's effective date: the two
    * snapshots differ by precisely the mod-7 keys' +10 updates. */
  def scdAsOf(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.Tables.materialize(scdHistory(spark, dir))
    Seq("2024-03-01", "2024-09-01").map { d =>
      val asof = to_date(lit(d))
      hist.filter(col("valid_from") <= asof &&
          (col("valid_to").isNull || col("valid_to") > asof))
        .agg(count(lit(1)).as("n_rows"),
          sum((col("acctbal") * 100).cast("long")).as("sum_cents"))
        .select(lit(d).as("as_of"), col("n_rows"), col("sum_cents"))
    }.reduce(_.unionByName(_))
  }

  /** Quantile feature binning: assign every order to a global price
    * decile — the discretization step in front of any categorical
    * model feature or stratified report. Two passes, no global sort:
    * pass 1 reduces the whole column to 9 boundary values (one
    * map-side-combined aggregate to a single row; at 100 TB swap
    * `percentile` for `percentile_approx` — same plan shape, and the
    * bin EDGES move within sketch ε while the binning stays exact
    * w.r.t. those edges); pass 2 broadcasts the one-row boundary
    * frame and bins scan-side with 9 comparisons — no join on data,
    * no shuffle beyond the final 10-group aggregate. The interpolated
    * boundaries are bit-identical cross-engine (same interpolation
    * definition as the `quantiles_agg` gate), so the strict `>`
    * comparisons classify identically. */
  def quantileBins(spark: SparkSession, dir: String): DataFrame = {
    def orders = Tables(spark, dir, "orders")
    val qs = (1 to 9).map(_ / 10.0)
    val bounds = orders.agg(
      expr(s"percentile(o_totalprice, array(${qs.mkString(",")}))")
        .as("bs"))
    val bin = (1 to 9).map(i =>
      (col("o_totalprice") > col("bs").getItem(i - 1)).cast("int"))
      .reduce(_ + _) + lit(1)
    // NULL prices are excluded EXPLICITLY on both engines: Spark's
    // summed comparison would yield a NULL bin while a CASE-WHEN
    // oracle folds the same row into bin 1 — pin one semantics
    orders.filter(col("o_totalprice").isNotNull)
      .crossJoin(broadcast(bounds))
      .select(bin.cast("long").as("bin"), col("o_totalprice"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
  }

  /** Small-file compaction planning: pack per-source document runs
    * into ~1 MiB output bins by exclusive running size — the planner
    * half of the OPTIMIZE/compaction job every parquet lake needs
    * (thousands of small files per partition is the canonical 100 TB
    * failure mode: footer-bound scans, NameNode/listing pressure,
    * undersized row groups). Plan shape: one window sort per source
    * partition (each source's run is independent — the sort never
    * crosses partitions) + the tiny per-bin aggregate; the actual
    * rewrite would then read each bin's members and write one file,
    * embarrassingly parallel over bins.
    *
    * Bin id is the exclusive prefix sum divided by the target — the
    * streaming first-fit that guarantees every bin except a run's
    * last holds ≥ target bytes once the straddling member lands.
    * Integer arithmetic end to end: BIGINT running sums and truncating
    * division (non-negative ⇒ floor), bit-stable on any engine. */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val target = 1L << 20
    val docs = Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Long.MinValue, 0)
    docs.withColumn("cum", sum(col("n_chars")).over(w))
      .withColumn("bin", expr(s"(cum - n_chars) div $target"))
      .groupBy(col("source"), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_chars")).as("bin_chars"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Declarative data-quality validation: the constraint battery a
    * lake runs before publishing a snapshot (completeness, key
    * uniqueness, referential integrity, domain ranges, freshness) —
    * one row per check with the measured value and a pass verdict.
    * Per-table scalar checks FUSE into a single wide aggregate (one
    * pass over orders covers row count, null fraction, and freshness
    * — adding a check adds a column, not a scan); the two checks that
    * need their own shape stay separate by necessity: exact key
    * uniqueness is a two-level distinct (no Expand over the fused
    * agg), and FK orphan counting is a broadcast-or-shuffle anti-join
    * against the parent key set. The 1-row check frames cross-join
    * into ONE fused row that explodes into the report — NOT a union
    * of per-check branches, which would replay each source aggregate
    * per branch (Catalyst can't share scans across branches that
    * prune different columns). Fixed pass count no matter how many
    * scalar checks ride along. Values surface as DOUBLE uniformly
    * (counts are integer-exact in double far past any violation
    * count); verdicts are closed-form comparisons, bit-stable on any
    * engine. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame =
    dqChecksOn(Tables(spark, dir, "orders"), Tables(spark, dir, "lineitem"))

  /** [[dqChecks]] over injected snapshots — package-visible so specs
    * can poison a frame and prove the verdicts actually flip. */
  private[graft] def dqChecksOn(orders: DataFrame, li: DataFrame)
      : DataFrame = {
    val horizon = lit("1990-01-01").cast("timestamp")
    // one fused scalar pass over orders (count, null count, freshness
    // all ride the same aggregate); the two checks that need their
    // own shape run as their own 1-row frames
    val o = orders.agg(
      count(lit(1)).as("n"),
      count(col("o_custkey")).as("n_cust"),
      unix_micros(max(col("o_orderdate"))).as("max_us"))
    val nd = orders.select(col("o_orderkey")).distinct()
      .agg(count(lit(1)).as("nd"))
    val orphans = li.select(col("l_orderkey"))
      .join(orders.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("orphans"))
    val badDisc = li.agg(
      sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("bad_disc"))
    // cross-join the 1-row frames into ONE fused row, then explode it
    // into the per-check rows — a union of per-check branches would
    // instead replay the source aggregates once per branch (each
    // branch prunes different columns, so Catalyst cannot share the
    // scans; measured: 5 orders scans for these 6 checks)
    def check(name: String, value: Column, passed: Column) =
      struct(lit(name).as("check"), value.cast("double").as("value"),
        passed.as("passed"))
    o.crossJoin(nd).crossJoin(orphans).crossJoin(badDisc)
      .select(explode(array(
        check("orders_nonempty", col("n"), col("n") > 0),
        check("orders_custkey_null_frac",
          (col("n") - col("n_cust")).cast("double")
            / col("n").cast("double"),
          col("n_cust") === col("n")),
        check("orders_fresh_after_1990", col("max_us"),
          col("max_us") >= unix_micros(horizon)),
        check("orders_pk_unique", col("n") - col("nd"),
          col("n") === col("nd")),
        check("lineitem_fk_orphans", col("orphans"),
          col("orphans") === 0),
        check("lineitem_discount_in_range", col("bad_disc"),
          col("bad_disc") === 0))).as("c"))
      .select(col("c.check").as("check"), col("c.value").as("value"),
        col("c.passed").as("passed"))
  }

  /** Key-skew audit — the measurement that decides whether a join or
    * aggregation key needs salting / AQE skew thresholds BEFORE the
    * job runs at 100 TB: the 10 heaviest keys with their share of
    * total rows and their ratio to the average key (skew_x). One
    * map-side-combined count per key, a distributed TakeOrdered on
    * (count desc, key asc), a broadcast 1-row total — nothing here
    * scales with event volume past the first aggregate. Shares are
    * exact BIGINTs divided once as doubles (bit-stable). */
  def keySkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables(spark, dir, "events")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
    val tot = cnt.agg(sum(col("n")).as("total"),
      count(lit(1)).as("n_keys"))
    def d(c: Column) = c.cast("double")
    cnt.orderBy(col("n").desc, col("user_id").asc).limit(10)
      .crossJoin(broadcast(tot))
      .select(col("user_id"), col("n"), col("total"), col("n_keys"),
        (d(col("n")) / d(col("total"))).as("share"),
        (d(col("n")) * d(col("n_keys")) / d(col("total"))).as("skew_x"))
  }

  /** Null repair by exact per-group median — the imputation pass a
    * feature pipeline runs before training export. Nulls are
    * synthesized deterministically (event_id ≡ 0 mod 97 plays the
    * corrupted slice); the fill value is the LOWER MEDIAN — the
    * element at rank ⌈n/2⌉ of the (value, event_id) total order among
    * surviving rows — an exact element selection, not an
    * interpolation, so it hash-gates bit-for-bit (quantile_cont
    * interpolation differs across engines). Per type the gate pins
    * how many rows were filled, the median used, and the exact-
    * decimal post-impute sum.
    *
    * Scale: one rank window per group over the survivors + one
    * broadcast of the |groups|-row median frame back onto the scan —
    * the window input is per-group bounded, the repair itself is a
    * map-side coalesce. */
  def imputeMedian(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        when(pmod(col("event_id"), lit(97)) === 0, lit(null))
          .otherwise(col("value")).as("value"))
    val good = ev.filter(col("value").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .orderBy(col("value").asc, col("event_id").asc)
    // two-pass: count per group, then pick the rank-⌈n/2⌉ element
    val cnt = good.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val medians = good.withColumn("rk", row_number().over(w))
      .join(broadcast(cnt), "event_type")
      .filter(col("rk") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("value").as("median"))
    ev.join(broadcast(medians), "event_type")
      .select(col("event_type"),
        col("value").isNull.cast("long").as("filled"),
        coalesce(col("value"), col("median")).as("v"),
        col("median"))
      .groupBy(col("event_type"), col("median"))
      .agg(sum(col("filled")).as("n_filled"),
        sum(col("v").cast("decimal(18,2)")).cast("double")
          .as("sum_imputed"))
  }

  private val StatsCols =
    Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")

  /** ANALYZE-style column statistics — the table profile a cost-based
    * optimizer (or a human sizing a join) consumes: per column, null
    * count, exact NDV, and min/max (stringified — one report schema
    * across types; restricted to integer/varchar columns because
    * float stringification is not cross-engine canonical). ONE fused
    * aggregate row over a single scan (the dq_checks pattern — a
    * UNION of per-column branches would rescan once per column),
    * exploded to report rows. At 100 TB exact NDV swaps for the
    * gated HLL sketch (`hll_agg_native`) with the same report
    * shape. */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val aggs = StatsCols.flatMap(c => Seq(
      count(col(c)).as(s"${c}_nn"),
      count_distinct(col(c)).as(s"${c}_ndv"),
      min(col(c)).cast("string").as(s"${c}_min"),
      max(col(c)).cast("string").as(s"${c}_max")))
    val allAggs = count(lit(1)).as("n_rows") +: aggs
    o.agg(allAggs.head, allAggs.tail: _*)
      .select(col("n_rows"), explode(array(StatsCols.map(c =>
        struct(lit(c).as("column"),
          (col("n_rows") - col(s"${c}_nn")).as("n_nulls"),
          col(s"${c}_ndv").as("ndv"),
          col(s"${c}_min").as("min_s"),
          col(s"${c}_max").as("max_s"))): _*)).as("s"))
      .select(col("s.column").as("column"), col("n_rows"),
        col("s.n_nulls").as("n_nulls"), col("s.ndv").as("ndv"),
        col("s.min_s").as("min_s"), col("s.max_s").as("max_s"))
  }

  /** Robust (median/MAD) outlier audit, SELECTION-exact flavor —
    * the integer-algebra twin of Analytics' interpolated-percentile
    * `mad_outliers`: same anomaly screen, but fully
    * integer/selection-exact: values in cents, per-group LOWER median
    * by rank selection (same two-pass shape as [[imputeMedian]] — no
    * interpolation, bit-gateable), MAD = lower median of |x − med|,
    * and the 3·MAD outlier test as pure integer comparison (no float
    * thresholds anywhere). Output per event type: median/MAD cents,
    * n, outlier count. At 100 TB both medians swap to the
    * sketch-bound + exact-scan-within-bound pattern
    * (`quantiles_approx_bounds`) with identical downstream algebra. */
  def madOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
      .filter(col("cents").isNotNull)
    def lowerMedian(df: DataFrame, valueCol: String,
        outName: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
        .orderBy(col(valueCol).asc, col("event_id").asc)
      val cnt = df.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      df.withColumn("rk", row_number().over(w))
        .join(broadcast(cnt), "event_type")
        .filter(col("rk") === expr("(n + 1) div 2"))
        .select(col("event_type"), col(valueCol).as(outName))
    }
    val med = lowerMedian(ev, "cents", "median_cents")
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("cents") - col("median_cents")))
    val mad = lowerMedian(
      dev.select(col("event_type"), col("event_id"),
        col("adev").as("cents")), "cents", "mad_cents")
    dev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"), col("median_cents"), col("mad_cents"))
      .agg(count(lit(1)).as("n"),
        sum((col("adev") > col("mad_cents") * 3).cast("long"))
          .as("n_outliers"))
  }

  /** Aggregate answered FROM the materialized summary by the
    * [[graft.plans.MvRewrite]] optimizer rule: the query groups by a
    * SUBSET of the MV's keys (a true rollup — partial counts/sums
    * re-aggregate, partial extrema re-min/max), the rule swaps the
    * lineitem scan for the in-memory summary (plan pinned by
    * `MvRewriteSpec`), and the DuckDB oracle computes straight from
    * the base table — so the gate proves the rewrite changes the
    * PLAN and not one bit of the answer. */
  def mvRollupRewrite(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.MvCatalog.registerSummary(s"li_flag_status:$dir",
      Tables(spark, dir, "lineitem"), s"$dir/lineitem.parquet",
      keys = Seq("l_returnflag", "l_linestatus"),
      covered = Seq("l_linenumber", "l_shipdate"))
    val s = spark.newSession()
    s.conf.set(graft.plans.MvRewrite.EnabledKey, "true")
    Tables(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("l_linenumber")).as("sum_linenumber"),
        count(col("l_linenumber")).as("n_linenumber"),
        min(col("l_shipdate")).as("first_ship"),
        max(col("l_shipdate")).as("last_ship"))
  }

  /** k-anonymity audit ([[graft.ext.Privacy.kAnonymityAudit]]) of a
    * customer release keyed by (nation, segment) quasi-identifiers,
    * k = 10: class size, at-risk flag, small-cell-suppressed release
    * value. One hash aggregate — the shuffle the release itself pays. */
  def kAnonymityAudit(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Privacy.kAnonymityAudit(Tables(spark, dir, "customer"),
      Seq(col("c_nationkey"), col("c_mktsegment")), k = 10)

  /** Noisy count release ([[graft.ext.Privacy.noisyCounts]]) per
    * market segment, noise uniform on [-10, 10] drawn deterministically
    * from md5(group ∥ epoch salt) — the sticky-noise release seam; a
    * deployed DP release swaps the draw for a calibrated Laplace RNG
    * (one Column), everything else unchanged. */
  def dpNoisyCounts(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Privacy.noisyCounts(Tables(spark, dir, "customer"),
      col("c_mktsegment"), bound = 10)

  /** Per-group Gini impurity of a categorical column — the data-
    * profiling "how mixed is this key's label distribution" readout
    * (feature audits, split-quality checks, label-skew monitoring)
    * computed in EXACT integer algebra: gini = (n² − Σc²)/n², with
    * n and Σc² exact BIGINTs and ONE closing IEEE divide, so the
    * double hash-gates cross-engine (the entropy variant can't —
    * `ln` differs in the last ulp between libm and the JVM; SKILL).
    * Two stacked hash aggregates, both map-side combined. */
  def giniImpurity(spark: SparkSession, dir: String): DataFrame = {
    val cls = Tables(spark, dir, "orders")
      .groupBy(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("c"))
    cls.groupBy(col("o_orderstatus"))
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_classes"),
        sum(col("c") * col("c")).as("sum_sq"))
      .select(col("o_orderstatus"), col("n"), col("n_classes"),
        col("sum_sq"),
        ((col("n") * col("n") - col("sum_sq")).cast("double") /
          (col("n") * col("n")).cast("double")).as("gini"))
  }

  /** l-diversity audit — k-anonymity's necessary complement: a
    * quasi-identifier class can be large (k-safe) yet expose its
    * members anyway when they all share one SENSITIVE value
    * (homogeneity attack). Per (nation, segment) class: size, the
    * number of distinct sensitive values (account-balance bands of
    * 1000), and the l ≥ 3 flag. Same single-aggregate release shape
    * as [[kAnonymityAudit]]; the two audits together gate a release.
    * Band = floor(bal/1000) — one IEEE divide + floor, engine-stable. */
  def lDiversityAudit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / lit(1000.0)).cast("long").as("band"))
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("band")).as("l_distinct"))
      .withColumn("diverse", col("l_distinct") >= 3)

  /** Partition-gap audit — the backfill planner's input: which hourly
    * partitions are MISSING per event type between each type's first
    * and last observed hour, reported as contiguous gap runs
    * (gaps-and-islands on the anti-joined expected grid: island key =
    * hr − row_number). An ingestion pipeline alerts on fresh gaps and
    * feeds the (start, end) ranges straight to a backfill job —
    * ranges, not single hours, because backfills are launched per
    * contiguous window. All integer arithmetic; the window runs over
    * |missing hours| × |types| rows, never event volume. */
  def partitionGapAudit(spark: SparkSession, dir: String): DataFrame = {
    val hr = expr("unix_micros(ts) div 1000000 div 3600")
    val obs = Tables(spark, dir, "events")
      .select(col("event_type"), hr.as("hr")).distinct()
    val obsM = graft.Tables.materialize(obs)
    val expected = obsM.groupBy(col("event_type"))
      .agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      .select(col("event_type"),
        explode(sequence(col("lo"), col("hi"))).as("hr"))
    val missing = expected.join(obsM, Seq("event_type", "hr"), "left_anti")
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
    missing
      .withColumn("grp", col("hr") - row_number().over(w))
      .groupBy(col("event_type"), col("grp"))
      .agg(min(col("hr")).as("gap_start_hr"),
        max(col("hr")).as("gap_end_hr"),
        count(lit(1)).as("n_missing"))
      .select(col("event_type"), col("gap_start_hr"),
        col("gap_end_hr"), col("n_missing"))
  }

  /** t-closeness audit ([[graft.ext.Privacy.tClosenessAudit]]) —
    * the distribution-skew leg completing k-anonymity + l-diversity:
    * ordered-domain EMD between each (nation, segment) class's
    * acctbal-band distribution and the global one, integer-exact
    * until one closing divide, flagged at t = 0.2. */
  def tClosenessAudit(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Privacy.tClosenessAudit(Tables(spark, dir, "customer"),
        Seq(col("c_nationkey"), col("c_mktsegment")),
        floor(col("c_acctbal") / lit(1000.0)).cast("long"), t = 0.2)
      .withColumnRenamed("_q0", "c_nationkey")
      .withColumnRenamed("_q1", "c_mktsegment")

  /** Schema evolution through the real file layer: a v1 batch
    * (key, name) and a widened v2 batch (+ regionkey) land as
    * separate parquet writes; `mergeSchema` reads them as ONE table
    * with nulls where v1 predates the column — the append-only
    * widening every long-lived lake table goes through. The gate
    * fingerprint (total rows, rows carrying the new column, key sum,
    * new-column sum) pins that evolution loses nothing and
    * fabricates nothing. Per-file footers carry their own schema, so
    * at 100 TB the merge costs footer reads, not data rewrites. The
    * read infers on purpose (not [[Tables.writeParquet]]): merging the
    * two footers' schemas is what the gate exercises. */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Tables.scratchDir("graft_evo")
    val nation = Tables(spark, dir, "nation")
    nation.select(col("n_nationkey"), col("n_name"))
      .write.mode("overwrite").parquet(s"$tmp/v1")
    nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode("overwrite").parquet(s"$tmp/v2")
    spark.read.option("mergeSchema", "true")
      .parquet(s"$tmp/v1", s"$tmp/v2")
      .agg(count(lit(1)).as("n_total"),
        count(col("n_regionkey")).as("n_with_region"),
        sum(col("n_nationkey")).cast("long").as("key_sum"),
        sum(col("n_regionkey")).cast("long").as("region_sum"))
  }

  /** Compaction EXECUTED, not just planned ([[compactionPlan]] is the
    * planning half): a 16-file small-files layout is rewritten to 2
    * files and both generations are fingerprinted — identical
    * checksums with the file count dropping 16 → 2 is the whole
    * contract of a compaction job (fewer tasks/footers downstream,
    * zero data change). File counts come from the re-read table's
    * actual file listing. */
  def compactionExec(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Tables.scratchDir("graft_compact")
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"))
    val small = Tables.writeParquet(ev.repartition(16), s"$tmp/small")
    val compacted = Tables.writeParquet(small.repartition(2),
      s"$tmp/compacted")
    def fp(phase: String, df: DataFrame, nFiles: Int): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          sum(col("event_id")).cast("long").as("id_sum"),
          sum(col("user_id")).cast("long").as("user_sum"))
        .select(lit(phase).as("phase"),
          lit(nFiles.toLong).as("n_files"),
          col("n_rows"), col("id_sum"), col("user_sum"))
    fp("small", small, small.inputFiles.length)
      .unionByName(fp("compacted", compacted,
        compacted.inputFiles.length))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mv_rollup_rewrite" -> mvRollupRewrite _,
    "schema_evolution" -> schemaEvolution _,
    "compaction_exec" -> compactionExec _,
    "k_anonymity_audit" -> kAnonymityAudit _,
    "t_closeness_audit" -> tClosenessAudit _,
    "partition_gap_audit" -> partitionGapAudit _,
    "dp_noisy_counts" -> dpNoisyCounts _,
    "l_diversity_audit" -> lDiversityAudit _,
    "gini_impurity" -> giniImpurity _,
    "key_skew_audit" -> keySkewAudit _,
    "impute_median" -> imputeMedian _,
    "incremental_agg" -> incrementalAgg _,
    "snapshot_diff" -> snapshotDiff _,
    "quantile_bins" -> quantileBins _,
    "compaction_plan" -> compactionPlan _,
    "dq_checks" -> dqChecks _,
    "scd_type2" -> scdType2 _,
    "scd_as_of" -> scdAsOf _,
    "mad_outliers_cents" -> madOutliers _,
    "table_stats" -> tableStats _)

  val oracleSql: Map[String, String] = Map(
    "mad_outliers_cents" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events WHERE value IS NOT NULL),
        |m1 AS (
        |  SELECT event_type, cents AS median_cents FROM (
        |    SELECT event_type, cents,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY cents, event_id) AS rk,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM ev) WHERE rk = CAST((n + 1) // 2 AS BIGINT)),
        |dev AS (
        |  SELECT e.event_type, e.event_id, m1.median_cents,
        |    abs(e.cents - m1.median_cents) AS adev
        |  FROM ev e JOIN m1 USING (event_type)),
        |m2 AS (
        |  SELECT event_type, adev AS mad_cents FROM (
        |    SELECT event_type, adev,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY adev, event_id) AS rk,
        |      count(*) OVER (PARTITION BY event_type) AS n
        |    FROM dev) WHERE rk = CAST((n + 1) // 2 AS BIGINT))
        |SELECT d.event_type, d.median_cents, m2.mad_cents,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CASE WHEN d.adev > m2.mad_cents * 3 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_outliers
        |FROM dev d JOIN m2 USING (event_type)
        |GROUP BY 1, 2, 3""".stripMargin,
    "table_stats" ->
      """WITH f AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(count(o_orderkey) AS BIGINT) AS o_orderkey_nn,
        |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS o_orderkey_ndv,
        |    CAST(min(o_orderkey) AS VARCHAR) AS o_orderkey_min,
        |    CAST(max(o_orderkey) AS VARCHAR) AS o_orderkey_max,
        |    CAST(count(o_custkey) AS BIGINT) AS o_custkey_nn,
        |    CAST(count(DISTINCT o_custkey) AS BIGINT) AS o_custkey_ndv,
        |    CAST(min(o_custkey) AS VARCHAR) AS o_custkey_min,
        |    CAST(max(o_custkey) AS VARCHAR) AS o_custkey_max,
        |    CAST(count(o_orderstatus) AS BIGINT) AS o_orderstatus_nn,
        |    CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS o_orderstatus_ndv,
        |    CAST(min(o_orderstatus) AS VARCHAR) AS o_orderstatus_min,
        |    CAST(max(o_orderstatus) AS VARCHAR) AS o_orderstatus_max,
        |    CAST(count(o_orderpriority) AS BIGINT) AS o_orderpriority_nn,
        |    CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS o_orderpriority_ndv,
        |    CAST(min(o_orderpriority) AS VARCHAR) AS o_orderpriority_min,
        |    CAST(max(o_orderpriority) AS VARCHAR) AS o_orderpriority_max
        |  FROM orders)
        |SELECT 'o_orderkey' AS "column", n_rows, n_rows - o_orderkey_nn AS n_nulls,
        |  o_orderkey_ndv AS ndv, o_orderkey_min AS min_s, o_orderkey_max AS max_s FROM f
        |UNION ALL
        |SELECT 'o_custkey' AS "column", n_rows, n_rows - o_custkey_nn AS n_nulls,
        |  o_custkey_ndv AS ndv, o_custkey_min AS min_s, o_custkey_max AS max_s FROM f
        |UNION ALL
        |SELECT 'o_orderstatus' AS "column", n_rows, n_rows - o_orderstatus_nn AS n_nulls,
        |  o_orderstatus_ndv AS ndv, o_orderstatus_min AS min_s, o_orderstatus_max AS max_s FROM f
        |UNION ALL
        |SELECT 'o_orderpriority' AS "column", n_rows, n_rows - o_orderpriority_nn AS n_nulls,
        |  o_orderpriority_ndv AS ndv, o_orderpriority_min AS min_s, o_orderpriority_max AS max_s FROM f""".stripMargin,
    "scd_as_of" ->
      """WITH base AS (
        |  SELECT c_custkey,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal
        |  FROM customer),
        |cur AS (
        |  SELECT c_custkey, acctbal, DATE '2024-01-01' AS valid_from,
        |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        |  FROM base),
        |bat AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN acctbal + 10
        |         ELSE acctbal END AS acctbal
        |  FROM base),
        |changed AS (
        |  SELECT c.c_custkey FROM cur c JOIN bat b USING (c_custkey)
        |  WHERE c.acctbal IS DISTINCT FROM b.acctbal),
        |closed AS (
        |  SELECT c_custkey, acctbal, valid_from,
        |    DATE '2024-06-01' AS valid_to, FALSE AS is_current
        |  FROM cur WHERE c_custkey IN (SELECT c_custkey FROM changed)),
        |untouched AS (
        |  SELECT * FROM cur
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)),
        |ins AS (
        |  SELECT c_custkey, acctbal, DATE '2024-06-01' AS valid_from,
        |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        |  FROM bat WHERE c_custkey IN (SELECT c_custkey FROM changed)),
        |hist AS (
        |  SELECT * FROM untouched UNION ALL SELECT * FROM closed
        |  UNION ALL SELECT * FROM ins)
        |SELECT '2024-03-01' AS as_of,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(acctbal * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM hist WHERE valid_from <= DATE '2024-03-01'
        |  AND (valid_to IS NULL OR valid_to > DATE '2024-03-01')
        |UNION ALL
        |SELECT '2024-09-01' AS as_of,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(CAST(acctbal * 100 AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM hist WHERE valid_from <= DATE '2024-09-01'
        |  AND (valid_to IS NULL OR valid_to > DATE '2024-09-01')""".stripMargin,
    "scd_type2" ->
      """WITH base AS (
        |  SELECT c_custkey,
        |    CAST(c_acctbal AS DECIMAL(18,2)) AS acctbal
        |  FROM customer),
        |cur AS (
        |  SELECT c_custkey, acctbal, DATE '2024-01-01' AS valid_from,
        |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        |  FROM base),
        |bat AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN acctbal + 10
        |         ELSE acctbal END AS acctbal
        |  FROM base),
        |changed AS (
        |  SELECT c.c_custkey FROM cur c JOIN bat b USING (c_custkey)
        |  WHERE c.acctbal IS DISTINCT FROM b.acctbal),
        |newk AS (
        |  SELECT b.c_custkey FROM bat b
        |  WHERE b.c_custkey NOT IN (SELECT c_custkey FROM cur)),
        |upsert AS (
        |  SELECT c_custkey FROM changed
        |  UNION SELECT c_custkey FROM newk),
        |closed AS (
        |  SELECT c_custkey, acctbal, valid_from,
        |    DATE '2024-06-01' AS valid_to, FALSE AS is_current
        |  FROM cur WHERE c_custkey IN (SELECT c_custkey FROM changed)),
        |untouched AS (
        |  SELECT * FROM cur
        |  WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)),
        |ins AS (
        |  SELECT c_custkey, acctbal, DATE '2024-06-01' AS valid_from,
        |    CAST(NULL AS DATE) AS valid_to, TRUE AS is_current
        |  FROM bat WHERE c_custkey IN (SELECT c_custkey FROM upsert))
        |SELECT c_custkey, CAST(acctbal AS DOUBLE) AS acctbal,
        |  strftime(valid_from, '%Y-%m-%d') AS valid_from,
        |  strftime(valid_to, '%Y-%m-%d') AS valid_to, is_current
        |FROM (SELECT * FROM untouched UNION ALL SELECT * FROM closed
        |      UNION ALL SELECT * FROM ins)""".stripMargin,
    // gaps-and-islands over the anti-joined expected hour grid;
    // island key = hr - row_number
    "partition_gap_audit" ->
      """WITH pg_o AS (
        |  SELECT DISTINCT event_type,
        |    epoch_us(ts) // 1000000 // 3600 AS hr
        |  FROM events),
        |pg_b AS (
        |  SELECT event_type, min(hr) AS lo, max(hr) AS hi
        |  FROM pg_o GROUP BY 1),
        |pg_e AS (
        |  SELECT event_type, unnest(range(lo, hi + 1)) AS hr
        |  FROM pg_b),
        |pg_m AS (
        |  SELECT e.event_type, e.hr FROM pg_e e
        |  LEFT JOIN pg_o o
        |    ON o.event_type = e.event_type AND o.hr = e.hr
        |  WHERE o.hr IS NULL),
        |pg_g AS (
        |  SELECT event_type, hr,
        |    hr - row_number() OVER (PARTITION BY event_type
        |      ORDER BY hr) AS grp
        |  FROM pg_m)
        |SELECT event_type,
        |  CAST(min(hr) AS BIGINT) AS gap_start_hr,
        |  CAST(max(hr) AS BIGINT) AS gap_end_hr,
        |  CAST(count(*) AS BIGINT) AS n_missing
        |FROM pg_g GROUP BY event_type, grp""".stripMargin,
    // mirrors Privacy.tClosenessAudit: scaled integer cumulative
    // differences (cum_c*N - cum_g*n_c), one closing divide
    "t_closeness_audit" ->
      """WITH tc_b AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / CAST(1000.0 AS DOUBLE)) AS BIGINT)
        |      AS band
        |  FROM customer),
        |tc_c AS (
        |  SELECT c_nationkey, c_mktsegment, band,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM tc_b GROUP BY 1, 2, 3),
        |tc_g AS (
        |  SELECT band, CAST(count(*) AS BIGINT) AS g
        |  FROM tc_b GROUP BY 1),
        |tc_gc AS (
        |  SELECT band, SUM(g) OVER (ORDER BY band
        |    ROWS UNBOUNDED PRECEDING) AS cum_g
        |  FROM tc_g),
        |tc_t AS (
        |  SELECT CAST(SUM(g) AS BIGINT) AS nn,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM tc_g),
        |tc_grid AS (
        |  SELECT q.c_nationkey, q.c_mktsegment, b.band,
        |    COALESCE(c.c, 0) AS c
        |  FROM (SELECT DISTINCT c_nationkey, c_mktsegment FROM tc_c) q
        |  CROSS JOIN (SELECT band FROM tc_g) b
        |  LEFT JOIN tc_c c ON c.c_nationkey = q.c_nationkey
        |    AND c.c_mktsegment = q.c_mktsegment AND c.band = b.band),
        |tc_cum AS (
        |  SELECT c_nationkey, c_mktsegment, band, c,
        |    SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY band ROWS UNBOUNDED PRECEDING) AS cum_c,
        |    SUM(c) OVER (PARTITION BY c_nationkey, c_mktsegment)
        |      AS n_c
        |  FROM tc_grid),
        |tc_s AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(max(n_c) AS BIGINT) AS n,
        |    CAST(SUM(abs(cum_c * nn - cum_g * n_c)) AS BIGINT) AS num,
        |    CAST(max(nn) AS BIGINT) AS nx, CAST(max(m) AS BIGINT) AS mx
        |  FROM tc_cum JOIN tc_gc USING (band), tc_t
        |  GROUP BY 1, 2)
        |SELECT c_nationkey, c_mktsegment, n,
        |  CAST(num AS DOUBLE) / CAST(n * nx * (mx - 1) AS DOUBLE)
        |    AS emd,
        |  (CAST(num AS DOUBLE) / CAST(n * nx * (mx - 1) AS DOUBLE))
        |    <= CAST(0.2 AS DOUBLE) AS t_close
        |FROM tc_s""".stripMargin,
    "k_anonymity_audit" ->
      """SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n,
        |  count(*) < 10 AS at_risk,
        |  CASE WHEN count(*) >= 10 THEN CAST(count(*) AS BIGINT) END
        |    AS released_n
        |FROM customer GROUP BY 1, 2""".stripMargin,
    "schema_evolution" ->
      """SELECT CAST(2 * count(*) AS BIGINT) AS n_total,
        |  CAST(count(*) AS BIGINT) AS n_with_region,
        |  CAST(2 * sum(n_nationkey) AS BIGINT) AS key_sum,
        |  CAST(sum(n_regionkey) AS BIGINT) AS region_sum
        |FROM nation""".stripMargin,
    "compaction_exec" ->
      """SELECT p.phase,
        |  CASE WHEN p.phase = 'small' THEN CAST(16 AS BIGINT)
        |       ELSE CAST(2 AS BIGINT) END AS n_files,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(sum(user_id) AS BIGINT) AS user_sum
        |FROM events, (VALUES ('small'), ('compacted')) AS p(phase)
        |GROUP BY p.phase""".stripMargin,
    "l_diversity_audit" ->
      """WITH ld AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(floor(c_acctbal / CAST(1000.0 AS DOUBLE)) AS BIGINT)
        |      AS band
        |  FROM customer)
        |SELECT c_nationkey, c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT band) AS BIGINT) AS l_distinct,
        |  count(DISTINCT band) >= 3 AS diverse
        |FROM ld GROUP BY 1, 2""".stripMargin,
    "gini_impurity" ->
      """WITH gcls AS (
        |  SELECT o_orderstatus, o_orderpriority, count(*) AS c
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderstatus,
        |  CAST(SUM(c) AS BIGINT) AS n,
        |  CAST(COUNT(*) AS BIGINT) AS n_classes,
        |  CAST(SUM(c * c) AS BIGINT) AS sum_sq,
        |  CAST(SUM(c) * SUM(c) - SUM(c * c) AS DOUBLE) /
        |    CAST(SUM(c) * SUM(c) AS DOUBLE) AS gini
        |FROM gcls GROUP BY 1""".stripMargin,
    "dp_noisy_counts" ->
      """WITH npc_g AS (
        |  SELECT c_mktsegment AS group_key,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM customer GROUP BY 1),
        |npc_z AS (
        |  SELECT group_key, n,
        |    CAST((('0x' || substr(md5(group_key || '|noise-epoch-1'),
        |      1, 8))::BIGINT % 21) - 10 AS BIGINT) AS noise
        |  FROM npc_g)
        |SELECT group_key, n, noise,
        |  CAST(greatest(n + noise, 0) AS BIGINT) AS released_n
        |FROM npc_z""".stripMargin,
    // straight from the base table — the MV path must agree bit-exactly
    "mv_rollup_rewrite" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(l_linenumber) AS BIGINT) AS sum_linenumber,
        |  CAST(COUNT(l_linenumber) AS BIGINT) AS n_linenumber,
        |  MIN(l_shipdate) AS first_ship,
        |  MAX(l_shipdate) AS last_ship
        |FROM lineitem GROUP BY 1""".stripMargin,
    // lower median = exact element at rank (n+1) div 2 of the
    // (value, event_id) order — selection, not interpolation
    "impute_median" ->
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value
        |  FROM events),
        |g AS (SELECT * FROM e WHERE value IS NOT NULL),
        |c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
        |      FROM g GROUP BY 1),
        |m AS (
        |  SELECT r.event_type, r.value AS median FROM (
        |    SELECT event_type, value, event_id,
        |      row_number() OVER (PARTITION BY event_type
        |        ORDER BY value, event_id) AS rk
        |    FROM g) r JOIN c ON c.event_type = r.event_type
        |  WHERE r.rk = (c.n + 1) // 2)
        |SELECT e.event_type, m.median,
        |  CAST(SUM(CASE WHEN e.value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_filled,
        |  CAST(SUM(CAST(COALESCE(e.value, m.median) AS DECIMAL(18,2)))
        |    AS DOUBLE) AS sum_imputed
        |FROM e JOIN m ON m.event_type = e.event_type
        |GROUP BY 1, 2""".stripMargin,
    // Spark SUM(BIGINT) stays BIGINT; DuckDB widens -> CAST back
    "key_skew_audit" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |t AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n_keys FROM c)
        |SELECT c.user_id, c.n, t.total, t.n_keys,
        |  CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS share,
        |  CAST(c.n AS DOUBLE) * CAST(t.n_keys AS DOUBLE)
        |    / CAST(t.total AS DOUBLE) AS skew_x
        |FROM c, t ORDER BY c.n DESC, c.user_id LIMIT 10""".stripMargin,
    // the oracle is the single-pass rescan: the gate asserts the
    // state-merge identity, not just "some numbers came out"
    "incremental_agg" ->
      """SELECT l_returnflag,
        |  CAST(COUNT(*) AS BIGINT) AS cnt,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  MIN(l_quantity) AS min_qty,
        |  MAX(l_quantity) AS max_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "snapshot_diff" ->
      """WITH old AS (
        |  SELECT o_orderkey, o_totalprice AS old_price
        |  FROM orders WHERE o_orderkey % 83 <> 0),
        |neu AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice * 1.1
        |         ELSE o_totalprice END AS new_price
        |  FROM orders WHERE o_orderkey % 89 <> 0)
        |SELECT o_orderkey,
        |  CASE WHEN old_price IS NULL THEN 'added'
        |       WHEN new_price IS NULL THEN 'deleted'
        |       ELSE 'changed' END AS change_type,
        |  old_price, new_price
        |FROM old FULL OUTER JOIN neu USING (o_orderkey)
        |WHERE old_price IS NULL OR new_price IS NULL
        |   OR old_price <> new_price""".stripMargin,
    "quantile_bins" ->
      """WITH b AS (
        |  SELECT quantile_cont(o_totalprice, 0.1) AS b1,
        |         quantile_cont(o_totalprice, 0.2) AS b2,
        |         quantile_cont(o_totalprice, 0.3) AS b3,
        |         quantile_cont(o_totalprice, 0.4) AS b4,
        |         quantile_cont(o_totalprice, 0.5) AS b5,
        |         quantile_cont(o_totalprice, 0.6) AS b6,
        |         quantile_cont(o_totalprice, 0.7) AS b7,
        |         quantile_cont(o_totalprice, 0.8) AS b8,
        |         quantile_cont(o_totalprice, 0.9) AS b9
        |  FROM orders)
        |SELECT CAST(1
        |    + CASE WHEN o_totalprice > b1 THEN 1 ELSE 0 END
        |    + CASE WHEN o_totalprice > b2 THEN 1 ELSE 0 END
        |    + CASE WHEN o_totalprice > b3 THEN 1 ELSE 0 END
        |    + CASE WHEN o_totalprice > b4 THEN 1 ELSE 0 END
        |    + CASE WHEN o_totalprice > b5 THEN 1 ELSE 0 END
        |    + CASE WHEN o_totalprice > b6 THEN 1 ELSE 0 END
        |    + CASE WHEN o_totalprice > b7 THEN 1 ELSE 0 END
        |    + CASE WHEN o_totalprice > b8 THEN 1 ELSE 0 END
        |    + CASE WHEN o_totalprice > b9 THEN 1 ELSE 0 END
        |  AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  MIN(o_totalprice) AS lo,
        |  MAX(o_totalprice) AS hi
        |FROM orders, b
        |WHERE o_totalprice IS NOT NULL
        |GROUP BY 1""".stripMargin,
    "compaction_plan" ->
      """WITH c AS (
        |  SELECT source, doc_id, n_chars,
        |    SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM documents)
        |SELECT source, CAST((cum - n_chars) // 1048576 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(n_chars) AS BIGINT) AS bin_chars,
        |  MIN(doc_id) AS first_doc,
        |  MAX(doc_id) AS last_doc
        |FROM c GROUP BY 1, 2""".stripMargin,
    "dq_checks" ->
      """SELECT 'orders_nonempty' AS "check",
        |  CAST(COUNT(*) AS DOUBLE) AS value, COUNT(*) > 0 AS passed
        |FROM orders
        |UNION ALL
        |SELECT 'orders_custkey_null_frac',
        |  CAST(COUNT(*) - COUNT(o_custkey) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE),
        |  COUNT(o_custkey) = COUNT(*)
        |FROM orders
        |UNION ALL
        |SELECT 'orders_fresh_after_1990',
        |  CAST(epoch_us(MAX(o_orderdate)) AS DOUBLE),
        |  epoch_us(MAX(o_orderdate)) >= epoch_us(TIMESTAMP '1990-01-01')
        |FROM orders
        |UNION ALL
        |SELECT 'orders_pk_unique',
        |  CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE),
        |  COUNT(*) = COUNT(DISTINCT o_orderkey)
        |FROM orders
        |UNION ALL
        |SELECT 'lineitem_fk_orphans',
        |  CAST(COUNT(*) AS DOUBLE), COUNT(*) = 0
        |FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |UNION ALL
        |SELECT 'lineitem_discount_in_range',
        |  CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
        |                THEN 1 ELSE 0 END) AS DOUBLE),
        |  SUM(CASE WHEN l_discount < 0 OR l_discount > 1
        |      THEN 1 ELSE 0 END) = 0
        |FROM lineitem""".stripMargin)
}
