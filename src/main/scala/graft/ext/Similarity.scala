package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{TextFunctions, VecKernels}

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Two paths, mirroring what a 100 TB ANN pipeline needs:
  *  - brute-force cosine top-k: exact baseline; the query side is tiny
  *    and broadcast, the corpus streams wide.
  *  - random-hyperplane LSH buckets: each vector gets a small bucket id
  *    from the signs of `numPlanes` deterministic hyperplane dots;
  *    bucketing turns the all-pairs problem into per-bucket joins
  *    (shuffle O(vectors), compare O(bucket²)).
  *
  * Execution shape: every pairwise dot product is ONE call to the
  * native codegen'd [[graft.functions.DecimalVecDot]] expression
  * (`vec_dot_dec`) on the two vectors — no row expansion, no
  * aggregation, a tight JIT'd loop per pair. The per-component
  * posexplode shape survives only where per-component math is
  * genuinely needed (LSH all-planes pass, k-means re-centering);
  * higher-order-function folds (`zip_with`+`aggregate`, measured 30x
  * slower: interpreted per element per pair) only in the unit-test
  * `dotExact` twin.
  *
  * Numeric determinism (for the DuckDB oracle): per-component products
  * are exact in DOUBLE (float widening), then summed as exact
  * DECIMAL(28,12), so no engine's accumulation order can change the
  * result; cosines derive from those sums with IEEE-deterministic
  * sqrt/div. Hyperplane weights are md5-derived integers reproducible
  * in SQL (`('0x'||substr(md5(j||'_'||i),1,8))::BIGINT % 2001 - 1000`).
  */
object Similarity {

  private val Dec = "decimal(28,12)"

  /** (id, i, x) component view of a vector frame, widened to the
    * session's parallelism so downstream stages run on every core. */
  private def components(df: DataFrame, id: Column, vec: Column,
      idName: String, xName: String): DataFrame =
    df.select(id.as(idName), vec.as("v"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idName), posexplode(col("v")))
      .select(col(idName), col("pos").as("i"),
        col("col").cast("double").as(xName))

  /** Exact decimal fold of sum(a[i]*b[i]) as a Column — for small/unit
    * use; hot paths use the exploded-join shape instead. */
  def dotExact(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => (x.cast("double") * y.cast("double")).cast(Dec)),
      lit(0).cast(Dec),
      (acc, v) => (acc + v).cast(Dec))

  /** (id, v, norm) view of a vector frame: the unit of the
    * pairwise-dot execution shape. Empty/null vectors are dropped
    * (the explode-based shape dropped them structurally); elements
    * stay in their storage type — the kernel reads floats in place.
    * Widened to the session's parallelism so downstream per-row
    * kernels run on every core. */
  /** Public face of the (id, v, norm) vector-frame prep — consumed by
    * composition queries (decontamination etc.) that need the same
    * drop-empty/repartition/precomputed-norm discipline as the
    * operators here. */
  def vectorsWithNorm(df: DataFrame, id: Column, vec: Column,
      idName: String, vName: String, normName: String): DataFrame =
    vectors(df, id, vec, idName, vName, normName)

  private def vectors(df: DataFrame, id: Column, vec: Column,
      idName: String, vName: String, normName: String): DataFrame =
    df.select(id.as(idName), vec.as(vName))
      .filter(size(col(vName)) > 0)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn(normName,
        sqrt(VecKernels.vecDotDec(col(vName), col(vName)).cast("double")))

  /** Brute-force cosine top-k: for each query vector (small frame,
    * broadcast), the k nearest corpus vectors. Deterministic tie-break
    * on corpus id. One `vec_dot_dec` call per (corpus, query) pair —
    * the corpus streams through a broadcast nested-loop against the
    * tiny query side, no shuffle until the per-query top-k. */
  def bruteForceTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c")
    val q = vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q")
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cosine",
        VecKernels.vecDotDec(col("cv"), col("qv")).cast("double") /
          (col("sn_c") * col("sn_q")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank"), col("cosine"))
  }

  /** [[bruteForceTopK]] with the query row itself excluded — the
    * exact k-NN-GRAPH truth (every query is a corpus member, and a
    * neighbor list that spends a slot on self is useless). Filtering
    * BEFORE the rank matters: dropping self after a top-k would leave
    * k−1 neighbors for most queries. */
  def bruteForceKnnTruth(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c")
    val q = vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("cosine",
        VecKernels.vecDotDec(col("cv"), col("qv")).cast("double") /
          (col("sn_c") * col("sn_q")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank"), col("cosine"))
  }

  /** NN-Descent k-NN-graph construction (Dong, Moses & Li, WWW'11 —
    * "Efficient K-Nearest Neighbor Graph Construction for Generic
    * Similarity Measures"), the graph-family ANN backbone
    * (HNSW/NSG-style indexes start from exactly this structure), in
    * the repo's fixed-round deterministic discipline:
    *
    *  - INIT: each node's candidates are its ±k/2 neighbors on the
    *    id-order ring ([[graft.ext.Corpus.globalOrderRank]] —
    *    range-partition rank, no single-partition sort; the ring is
    *    arbitrary-but-deterministic, which is all NN-Descent needs
    *    from its random init).
    *  - ROUND: the paper's local-join — candidates(a) = neighbors of
    *    (in ∪ out)-neighbors of a, i.e. b ∈ U(a), c ∈ U(b) ⇒ (a, c) —
    *    unioned with the current list, scored, and merged by the
    *    (cosine DESC, id ASC) top-k. Fixed `rounds` iterations (no
    *    data-dependent convergence test), so the oracle unrolls the
    *    rounds as CTEs and the output hash-gates — the
    *    pageRank/bfsDistances discipline.
    *
    * Scale shape: per-round candidate volume is ≤ (2k)² per node —
    * banded by construction, never all-pairs; scoring is one
    * codegen'd `vec_dot_dec` per candidate pair after an equi-join on
    * node id; the merge is a per-node window (hash-partitioned on the
    * node key). Each round localCheckpoints (truncated lineage — the
    * iterative-loop house rule). Cosine algebra is the audited
    * exact-decimal-sum / IEEE-divide chain, so cross-engine parity
    * holds through every round.
    *
    * Returns (node_id, nbr_id, rank 1..k, cosine) — the directed
    * k-NN graph. `rounds = 0` returns the scored ring init (the
    * audit's baseline). */
  def nnDescent(df: DataFrame, id: Column, vec: Column, k: Int = 8,
      rounds: Int = 2): DataFrame =
    nnDescentStates(df, id, vec, k, rounds).last

  /** Every round state of [[nnDescent]] in one build — element r is
    * the list after r local-join rounds (element 0 = the scored ring
    * init). Because round r's state is a plain prefix of round r+1's
    * computation, ONE trajectory build serves a whole convergence
    * curve / parameter sweep: the audits read states 0..rounds from a
    * single pass instead of re-running init + rounds per point (the
    * `ivfRecallSweep` one-candidate-pass discipline applied to the
    * build axis). Each state is localCheckpoint-materialized by the
    * loop anyway, so exposing them is free. */
  def nnDescentStates(df: DataFrame, id: Column, vec: Column,
      k: Int = 8, rounds: Int = 2): Seq[DataFrame] = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2 && k % 2 == 0, "k even and >= 2")
    require(rounds >= 0 && rounds <= 8, "rounds in [0,8]")
    val spark = df.sparkSession
    val p = spark.sparkContext.defaultParallelism
    val v = graft.Tables.materialize(
      vectors(df, id, vec, "vid", "v", "sn"))
    val ranked = graft.Tables.materialize(
      Corpus.globalOrderRank(v.select(col("vid")), p, col("vid"))
        .select(col("vid"), col("_rank").as("r")))
    val nAgg = ranked.agg(count(lit(1)).as("n"))
    val offs = ((-k / 2) to (k / 2)).filter(_ != 0).map(_.toLong)
    val init = ranked.crossJoin(broadcast(nAgg))
      .select(col("vid").as("a"), col("r"), col("n"),
        explode(lit(offs.toArray)).as("off"))
      .withColumn("nr", pmod(col("r") + col("off"), col("n")))
      .join(ranked.select(col("vid").as("b"), col("r").as("nr")), "nr")
      .filter(col("b") =!= col("a"))
      .select(col("a"), col("b"))
    def score(pairs: DataFrame): DataFrame =
      pairs.distinct()
        .join(v.select(col("vid").as("a"), col("v").as("av"),
          col("sn").as("sa")), "a")
        .join(v.select(col("vid").as("b"), col("v").as("bv"),
          col("sn").as("sb")), "b")
        .withColumn("cos",
          VecKernels.vecDotDec(col("av"), col("bv")).cast("double") /
            (col("sa") * col("sb")))
        .select(col("a"), col("b"), col("cos"))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("cos").desc, col("b").asc)
    def topK(scored: DataFrame): DataFrame =
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
    var cur = topK(score(init)).localCheckpoint(true)
    val states = scala.collection.mutable.ListBuffer(cur)
    for (_ <- 1 to rounds) {
      val und = cur.select(col("a"), col("b"))
        .unionByName(cur.select(col("b").as("a"), col("a").as("b")))
        .distinct()
      val cand = und.as("x")
        .join(und.as("y"), col("x.b") === col("y.a"))
        .filter(col("y.b") =!= col("x.a"))
        .select(col("x.a").as("a"), col("y.b").as("b"))
        .unionByName(cur.select(col("a"), col("b")))
      cur = topK(score(cand)).localCheckpoint(true)
      states += cur
    }
    states.toSeq.map(_.select(col("a").as("node_id"),
      col("b").as("nbr_id"), col("rank"), col("cos").as("cosine")))
  }

  /** Graph-ANN SERVING — greedy BEAM SEARCH over a prebuilt k-NN
    * graph (the query-time half of the graph-ANN family; NN-Descent
    * builds the structure, this walks it — the flat single-layer
    * form of HNSW's layer-0 search): start from a fixed entry set
    * (the `entries` smallest corpus ids — the IVF seed convention),
    * then `hops` rounds of expand-frontier-through-graph-edges →
    * score → keep the per-query (cosine DESC, id ASC) top-`beam`.
    * Fixed hops and beam make the walk oracle-unrollable and the
    * output hash-gateable (the nnDescent discipline); per-query work
    * is ≤ beam·degree + beam scored candidates per hop — INDEPENDENT
    * of corpus size, which is the whole point of serving from a
    * graph instead of scanning.
    *
    * The candidate set is re-scored per hop (each score is the same
    * deterministic exact-decimal value, so the merge is stable);
    * state stays (queries × beam) rows — driver-trivial, but the
    * joins all run distributed so a 10⁶-query batch serves at the
    * same plan shape. Returns the final state's (query_id, nbr_id,
    * rank ≤ k, cosine). */
  def graphBeamSearch(corpus: DataFrame, id: Column, vec: Column,
      graph: DataFrame, queries: DataFrame, queryId: Column,
      queryVec: Column, k: Int = 10, beam: Int = 16, hops: Int = 3,
      entries: Int = 8, entriesDf: Option[DataFrame] = None)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(beam >= k && hops >= 0 && hops <= 8 && entries >= 1,
      "beam >= k, hops in [0,8]")
    val v = graft.Tables.materialize(
      vectors(corpus, id, vec, "cand", "cv", "sn_c"))
    val q = graft.Tables.materialize(
      vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q"))
    // default entry convention: the STRATIFIED stride — one entry per
    // ⌈n/entries⌉ block of the corpus id order, the same spread
    // insertion uses (the role HNSW's upper layers play). Through
    // round 15 this default was the `entries` SMALLEST ids (the IVF
    // seed convention); the round-16 serving A/B (SURVEY.md,
    // "Round-16 notes") measured that clustered low-id entries are
    // what capped post-append serving — same 8-entry/3-hop budget,
    // stratified vs smallest: self_found 0.86 → 1.00, walk_top10
    // 0.494 → 0.658. Entry PLACEMENT, not
    // orphaned inserts, was the serving ceiling. Callers may still
    // pass an explicit (cand) entry frame.
    val entry = entriesDf.map(_.select(col("cand"))).getOrElse {
      val p = corpus.sparkSession.sparkContext.defaultParallelism
      Corpus.globalOrderRank(v.select(col("cand")), p, col("cand"))
        .crossJoin(broadcast(v.agg(count(lit(1)).as("n"))))
        .filter(pmod(col("_rank"),
          floor((col("n") + lit(entries - 1)) / lit(entries))
            .cast("long")) === 0)
        .select(col("cand"))
    }
    val edges = graph.select(col("node_id").as("cand"),
      col("nbr_id").as("next"))
    def score(cands: DataFrame): DataFrame =
      cands.distinct()
        .join(v, "cand")
        .join(broadcast(q), "query_id")
        .withColumn("cos",
          VecKernels.vecDotDec(col("cv"), col("qv")).cast("double") /
            (col("sn_c") * col("sn_q")))
        .select(col("query_id"), col("cand"), col("cos"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cand").asc)
    def top(scored: DataFrame, n: Int): DataFrame =
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= n)
    val init = q.select(col("query_id")).crossJoin(broadcast(entry))
    var state = top(score(init), beam).localCheckpoint(true)
    for (_ <- 1 to hops) {
      val expanded = state.select(col("query_id"), col("cand"))
        .join(edges, "cand")
        .select(col("query_id"), col("next").as("cand"))
        .unionByName(state.select(col("query_id"), col("cand")))
      state = top(score(expanded), beam).localCheckpoint(true)
    }
    state.filter(col("rank") <= k)
      .select(col("query_id"), col("cand").as("nbr_id"),
        col("rank"), col("cos").as("cosine"))
  }

  /** Matryoshka truncation eval — recall@k of retrieval under
    * PREFIX-truncated embeddings vs the full-dimension exact top-k:
    * the measurement behind serving MRL-style embeddings at a
    * fraction of the bandwidth (rank with the first d components,
    * re-rank or accept the recall loss). One full-dim baseline pass,
    * then one sliced-vector pass per candidate dim — all the exact
    * decimal-dot algebra of [[bruteForceTopK]], so the curve is
    * hash-gateable; output one row per dim: (dim, n_queries,
    * sum_hits, recall). The full dim itself belongs in `dims` as the
    * recall=1 sanity row. */
  def matryoshkaRecall(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, k: Int, dims: Seq[Int]): DataFrame = {
    val full = graft.Tables.materialize(
      bruteForceTopK(corpus, corpusId, corpusVec,
          queries, queryId, queryVec, k)
        .select(col("query_id"), col("nbr_id")))
    val qs = full.select(col("query_id")).distinct()
    dims.map { d =>
      val trunc = bruteForceTopK(corpus, corpusId, slice(corpusVec, 1, d),
          queries, queryId, slice(queryVec, 1, d), k)
        .select(col("query_id"), col("nbr_id"))
      val overlap = trunc.join(full, Seq("query_id", "nbr_id"))
        .groupBy(col("query_id")).agg(count(lit(1)).as("hits"))
      qs.join(overlap, Seq("query_id"), "left_outer")
        .agg(count(lit(1)).as("n_queries"),
          sum(coalesce(col("hits"), lit(0L))).as("sum_hits"))
        .select(lit(d.toLong).as("dim"), col("n_queries"),
          col("sum_hits"),
          (col("sum_hits").cast("double") /
            (col("n_queries") * k).cast("double")).as("recall"))
    }.reduce(_.unionByName(_))
  }

  /** Hard-negative mining for contrastive training: for each labeled
    * query, the k most-SIMILAR corpus vectors carrying a DIFFERENT
    * label — the near-miss negatives a contrastive/embedding trainer
    * wants in the batch (random negatives are too easy; the hard ones
    * sit right across the decision boundary). Same physical shape as
    * [[bruteForceTopK]] — corpus streams against the broadcast query
    * side, label mismatch filters before the per-query top-k window —
    * so the label columns ride along at zero extra shuffles. At
    * 100 TB the same mining runs over [[ivfTopK]]'s probed candidates
    * instead of the full cross product; this exact variant is the
    * auditable baseline. */
  /** Metadata-FILTERED exact top-k — the other constrained-search
    * shape next to [[hardNegatives]]' cross-label mining: each query
    * retrieves its k nearest SAME-label neighbors (self excluded),
    * the "search within category / tenant / language" query every
    * production vector store fields. This is the PRE-filter form —
    * the constraint enters before ranking, so the result always
    * carries k qualifying rows; post-filtering an unconstrained
    * top-k would silently return fewer (the classic filtered-ANN
    * recall trap). The label equi-join confines the cross product to
    * label blocks; at 100 TB the deployment form is one IVF index
    * per label shard (or label-partitioned cells), same algebra. */
  def filteredTopK(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, corpusLabel: Column, queries: DataFrame,
      queryId: Column, queryVec: Column, queryLabel: Column,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = corpus.sparkSession.sparkContext.defaultParallelism
    val c = corpus.select(corpusId.as("nbr_id"), corpusVec.as("cv"),
        corpusLabel.as("nbr_label"))
      .filter(size(col("cv")) > 0)
      .repartition(p)
      .withColumn("sn_c",
        sqrt(VecKernels.vecDotDec(col("cv"), col("cv")).cast("double")))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"),
        queryLabel.as("query_label"))
      .filter(size(col("qv")) > 0)
      .withColumn("sn_q",
        sqrt(VecKernels.vecDotDec(col("qv"), col("qv")).cast("double")))
    val scored = c.join(broadcast(q),
        col("nbr_label") === col("query_label") &&
          col("nbr_id") =!= col("query_id"))
      .withColumn("cosine",
        VecKernels.vecDotDec(col("cv"), col("qv")).cast("double") /
          (col("sn_c") * col("sn_q")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("nbr_id"),
        col("rank"), col("cosine"))
  }

  def hardNegatives(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      corpusLabel: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, queryLabel: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = corpus.sparkSession.sparkContext.defaultParallelism
    val c = corpus.select(corpusId.as("nbr_id"), corpusVec.as("cv"),
        corpusLabel.as("nbr_label"))
      .filter(size(col("cv")) > 0)
      .repartition(p)
      .withColumn("sn_c",
        sqrt(VecKernels.vecDotDec(col("cv"), col("cv")).cast("double")))
    val q = queries.select(queryId.as("query_id"), queryVec.as("qv"),
        queryLabel.as("query_label"))
      .filter(size(col("qv")) > 0)
      .withColumn("sn_q",
        sqrt(VecKernels.vecDotDec(col("qv"), col("qv")).cast("double")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nbr_label") =!= col("query_label"))
      .withColumn("cosine",
        VecKernels.vecDotDec(col("cv"), col("qv")).cast("double") /
          (col("sn_c") * col("sn_q")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("nbr_id"),
        col("nbr_label"), col("rank"), col("cosine"))
  }

  /** IVF (inverted-file) approximate top-k: coarse-quantize the corpus
    * into `numCells` cells, then each query probes only its `nProbe`
    * nearest cells and ranks exactly within them.
    *
    * Cost vs brute force: assignment O(N x C x dim) once + per-query
    * O(C x dim + (N x nProbe / C) x dim) instead of O(N x dim) — at
    * 100 TB the probed fraction (nProbe/C) is the whole point. Recall
    * is < 1 by design (a true neighbor in an unprobed cell is missed);
    * brute force stays the exact baseline.
    *
    * Cells default to a deterministic seed partition (the `numCells`
    * smallest-id corpus vectors) so the DuckDB oracle reproduces the
    * result bit-for-bit; pass `centroids` (e.g. [[kmeansCentroids]])
    * to swap in trained cells — only the seed frame changes, not the
    * query shape. Ties broken on cell id / neighbor id. */
  /** Centroid arrays (cell_id, cvec, sn_cell): trained centroids when
    * given (component-shaped, re-packed to arrays in index order),
    * else the numCells smallest-id corpus vectors. */
  private def centroidArrays(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, numCells: Int,
      centroids: Option[DataFrame]): DataFrame =
    graft.Tables.materialize(centroids
      .map(_.groupBy(col("cell_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("i"), col("cx")))),
          s => s.getField("cx")).as("cvec")))
      .getOrElse {
        val cellIds = corpus.select(corpusId.as("cell_id"))
          .orderBy(col("cell_id").asc).limit(numCells)
        corpus.join(broadcast(cellIds), corpusId === col("cell_id"))
          .select(col("cell_id"), corpusVec.as("cvec"))
      }
      .withColumn("sn_cell",
        sqrt(VecKernels.vecDotDec(col("cvec"), col("cvec")).cast("double"))))

  private def cellCos(vCol: String, snCol: String): Column =
    VecKernels.vecDotDec(col(vCol), col("cvec")).cast("double") /
      (col(snCol) * col("sn_cell"))

  /** Corpus assignment: nearest cell per vector — an aggregated
    * argmax (max_by over (cosine, -cell_id): ties take the smallest
    * cell), partial-aggregatable, instead of a window sort over the
    * corpus×cells expansion. `c` is a prepared vectors() frame. */
  private def cellAssignments(c: DataFrame, centArr: DataFrame): DataFrame =
    c.crossJoin(broadcast(centArr))
      .withColumn("ccos", cellCos("cv", "sn_c"))
      .groupBy(col("nbr_id"))
      .agg(max_by(col("cell_id"),
        struct(col("ccos"), (-col("cell_id")).as("nc"))).as("cell_id"))

  /** IVF index-balance audit: member count per cell — the index
    * health measurement behind probe-latency SLOs (one hot cell makes
    * every probe of it scan that cell's whole population; rebalance =
    * retrain or split). Same assignment logic as [[ivfTopK]], one
    * aggregate on top. */
  def ivfCellSizes(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      numCells: Int = 16): DataFrame = {
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells, None)
    cellAssignments(c, centArr)
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("nbr_id")).as("min_id"),
        max(col("nbr_id")).as("max_id"))
  }

  /** Cluster-balanced diversity sample: assign every vector to its
    * nearest seed cell (the [[ivfCellSizes]] assignment) and keep at
    * most `cap` members per cell, chosen in content-hash order — the
    * "sample evenly across embedding-space regions" pass that stops a
    * dominant mode from monopolizing a fine-tuning batch. The
    * per-cell window is bounded by the cell population (cells are
    * capped by design in a healthy index; a hot cell argues for
    * retraining — see `ann_drift_trigger`), and the hash order makes
    * the draw deterministic on any engine/partitioning. */
  def clusterBalancedSample(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, numCells: Int = 16, cap: Int = 24): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells, None)
    val w = Window.partitionBy(col("cell_id"))
      .orderBy(md5(col("nbr_id").cast("string")).asc, col("nbr_id").asc)
    cellAssignments(c, centArr)
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= cap)
      .select(col("nbr_id"), col("cell_id"))
  }

  /** Probe + exact-rank tail shared by every IVF entry point: nProbe
    * nearest cells per query, then one vec_dot_dec per surviving
    * (query, candidate) pair. `cells` is the (nbr_id, cell_id)
    * assignment frame — computed or LOADED. */
  private def ivfProbeRank(c: DataFrame, q: DataFrame, centArr: DataFrame,
      cells: DataFrame, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    val probes = q.crossJoin(broadcast(centArr))
      .withColumn("ccos", cellCos("qv", "sn_q"))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= nProbe)
      .select(col("query_id"), col("cell_id"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    probes.join(cells, "cell_id")
      .select(col("query_id"), col("nbr_id"))
      .join(c, "nbr_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine",
        VecKernels.vecDotDec(col("cv"), col("qv")).cast("double") /
          (col("sn_c") * col("sn_q")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank"), col("cosine"))
  }

  def ivfTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int, numCells: Int = 16, nProbe: Int = 4,
      centroids: Option[DataFrame] = None): DataFrame = {
    // cache: corpus/query vector frames each feed two stages
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val q = graft.Tables.materialize(
      vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells,
      centroids)
    ivfProbeRank(c, q, centArr, cellAssignments(c, centArr), k, nProbe)
  }

  /** One-time IVF index BUILD — the artifacts a deployed vector store
    * persists so that probes never retrain or re-assign: trained
    * centroids (cell_id, i, cx — [[kmeansCentroids]]) and the full
    * corpus cell assignment (nbr_id, cell_id). Write both as parquet
    * tables; [[ivfTopKFromIndex]] probes them. Assignment is the one
    * corpus-sized pass (crossJoin against the broadcast centroid
    * frame + per-vector argmax); at 100 TB it runs once per retrain,
    * not once per query batch. */
  def buildIvfIndex(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      numCells: Int = 16, iters: Int = 3, sampleMod: Long = 1L)
      : (DataFrame, DataFrame) = {
    val cent = kmeansCentroids(corpus, corpusId, corpusVec, numCells,
      iters, sampleMod)
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells,
      Some(cent))
    (cent, cellAssignments(c, centArr))
  }

  /** Corpus cell assignment for an EXTERNALLY supplied centroid
    * frame (cell_id, i, cx) — the builder half [[buildIvfIndex]] uses
    * for trained centroids, exposed for seed-cell or imported
    * indexes. Output (nbr_id, cell_id). */
  def cellAssignmentsFor(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, centroids: DataFrame): DataFrame = {
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec,
      numCells = 0, Some(centroids))
    cellAssignments(c, centArr)
  }

  /** Assignment-only APPEND to a persisted IVF index — how a deployed
    * vector store absorbs a day's new vectors WITHOUT retraining:
    * the stored centroids are read (never recomputed) and only the
    * incoming vectors run the one crossJoin-against-broadcast-
    * centroids argmax; history contributes just its (nbr_id, cell_id)
    * rows. Because assignment is per-row against fixed centroids,
    * append-then-probe is EXACTLY equal to assigning the union corpus
    * from scratch with the same centroids — the property the
    * `ann_ivf_append` gate checks. Ids already present in `stored`
    * are skipped (anti-join), so a replayed append batch is
    * idempotent. Pair with the gated drift monitors
    * (`ann_drift_trigger`) to decide when a real retrain is due.
    * Returns the merged (nbr_id, cell_id) assignment table. */
  def appendIvfAssignments(stored: DataFrame, newVecs: DataFrame,
      id: Column, vec: Column, centroids: DataFrame): DataFrame = {
    val fresh = newVecs.select(id.as("nbr_id"), vec.as("v"))
      .join(stored.select(col("nbr_id")), Seq("nbr_id"), "left_anti")
    val delta = cellAssignmentsFor(fresh, col("nbr_id"), col("v"),
      centroids)
    stored.select(col("nbr_id"), col("cell_id")).unionByName(delta)
  }

  /** Tombstone COMPACTION for row-shaped persisted ANN index tables —
    * the IVF (nbr_id, cell_id) assignment table and the PQ
    * (nbr_id, j, code) codes table: drop the deleted ids' rows and
    * collapse replayed-append duplicates in one rewrite. Serving-time
    * deletion is the cheap tombstone MASK (probe anti-joins the
    * tombstone table — see `ann_ivf_delete_serve` /
    * `ann_pq_delete_serve`); compaction is the periodic rewrite that
    * makes deleted vectors physically LEAVE the store and reclaims
    * the mask's probe-time anti-join. The result equals a clean
    * re-assignment / re-encoding of the live corpus under the FROZEN
    * centroids / codebooks by construction — both tables are pure
    * per-row functions of (vector, frozen artifact), so dropping a
    * row never changes any other row (the property the compaction
    * gates' clean-rebuild oracles check, and the reason no retrain
    * is implied; pair with `ann_drift_trigger` for when one is).
    * Cost: one anti-join + one distinct — corpus-linear, and the
    * anti-join side is |deleted|, never corpus². The band-index twin
    * is [[Dedup.compactBandIndex]]. */
  def compactIndexRows(stored: DataFrame, deleted: DataFrame,
      deletedId: Column): DataFrame =
    stored.join(deleted.select(deletedId.as("nbr_id")),
      Seq("nbr_id"), "left_anti").distinct()

  /** Probe a PERSISTED IVF index: `centroids` (cell_id, i, cx) and
    * `assignments` (nbr_id, cell_id) are read from storage — this
    * entry point has no training inputs and recomputes neither; the
    * only corpus access is fetching the PROBED cells' member vectors
    * for exact ranking (semi-join through the assignment table). The
    * spec proves the table is authoritative: an assignment row edited
    * on disk changes which candidates a probe sees. */
  def ivfTopKFromIndex(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, k: Int, nProbe: Int,
      centroids: DataFrame, assignments: DataFrame): DataFrame = {
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val q = graft.Tables.materialize(
      vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec,
      numCells = 0, Some(centroids))
    ivfProbeRank(c, q, centArr,
      assignments.select(col("nbr_id"), col("cell_id")), k, nProbe)
  }

  /** IVF probing × int8 ranking — the two compression axes COMPOSED
    * the way a deployed vector store runs them: the float index side
    * (cell assignment + query probing, exact-decimal algebra) prunes
    * the candidate set to the probed cells, and the in-cell ranking
    * runs entirely on quantized vectors with the exact integer
    * [[graft.functions.VecKernels.vecDotI8]] kernel — 4× less
    * candidate bandwidth AND a deterministic integer top-k. Recall
    * composes multiplicatively from the two audited single-axis
    * numbers (`ann_ivf_recall`, `ann_quantized_recall`). */
  def ivfQuantizedTopK(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, k: Int, numCells: Int = 16, nProbe: Int = 4)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val q = graft.Tables.materialize(
      vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells,
      None)
    val cells = cellAssignments(c, centArr)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    val probes = q.crossJoin(broadcast(centArr))
      .withColumn("ccos", cellCos("qv", "sn_q"))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= nProbe)
      .select(col("query_id"), col("cell_id"))
    val cq = corpus.select(corpusId.as("nbr_id"),
      VecKernels.vecQuantI8(corpusVec).as("qc"))
    val qq = queries.select(queryId.as("query_id"),
      VecKernels.vecQuantI8(queryVec).as("qq"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id").asc)
    probes.join(cells, "cell_id")
      .select(col("query_id"), col("nbr_id"))
      .join(cq, "nbr_id")
      .join(broadcast(qq), "query_id")
      .withColumn("score", VecKernels.vecDotI8(col("qc"), col("qq")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank"), col("score"))
  }

  /** Recall-vs-nProbe sweep — the full IVF tuning curve behind
    * `ann_ivf_recall`'s single point: for each probe budget, the
    * probed top-k's overlap with the exact brute-force top-k,
    * aggregated to (n_probe, hits, possible, recall). ONE candidate
    * pass serves every budget: probe ranks are computed once to
    * max(probes) and each budget filters `pr <= n_probe` — correct
    * because a smaller probe set is always a PREFIX of a larger one
    * under the same (ccos, cell_id) order. This is the measurement a
    * deployment reads to place itself on the latency/recall frontier
    * before committing an nProbe. */
  def ivfRecallSweep(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, k: Int = 10, numCells: Int = 16,
      probes: Seq[Int] = Seq(1, 2, 4, 8)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probes.nonEmpty && probes.forall(_ >= 1))
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val q = graft.Tables.materialize(
      vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells,
      None)
    val cells = cellAssignments(c, centArr)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    val probeRank = q.crossJoin(broadcast(centArr))
      .withColumn("ccos", cellCos("qv", "sn_q"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= probes.max)
      .select(col("query_id"), col("cell_id"), col("pr"))
    val truth = graft.Tables.materialize(
      bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId,
          queryVec, k)
        .select(col("query_id"), col("nbr_id")))
    val probeSet = broadcast(corpus.sparkSession
      .createDataFrame(probes.map(Tuple1(_))).toDF("n_probe"))
    val wTop = Window.partitionBy(col("query_id"), col("n_probe"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    val topk = probeRank.join(cells, "cell_id")
      .select(col("query_id"), col("nbr_id"), col("pr"))
      .crossJoin(probeSet)
      .filter(col("pr") <= col("n_probe"))
      .join(c, "nbr_id")
      .join(broadcast(q), "query_id")
      .withColumn("cosine",
        VecKernels.vecDotDec(col("cv"), col("qv")).cast("double") /
          (col("sn_c") * col("sn_q")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("n_probe"), col("query_id"), col("nbr_id"))
    val hits = topk.join(truth, Seq("query_id", "nbr_id"), "left_semi")
      .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hits"))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    hits.crossJoin(broadcast(nq))
      .select(col("n_probe"), col("n_hits"),
        (col("nq") * k).as("n_possible"),
        (col("n_hits").cast("double") /
          (col("nq") * k).cast("double")).as("recall"))
  }

  /** Embedding-centroid drift monitor — per-label cosine between the
    * mean embedding directions of two corpus snapshots: the data-drift
    * alarm a production embedding pipeline runs between refreshes
    * (cosine near 1 = stable class geometry; a drop = upstream model
    * or distribution change). Scale-invariance makes the unnormalized
    * per-component DECIMAL SUM the mean direction (the same argument
    * [[kmeansCentroids]] documents), so the whole statistic is exact
    * sums + per-term IEEE products re-folded exactly + one divide and
    * two sqrts — bit-stable cross-engine. State is |labels|·dim rows
    * per snapshot, mergeable by addition: an incremental refresh adds
    * today's component sums without touching yesterday's vectors. */
  def centroidDrift(df: DataFrame, id: Column, vec: Column,
      label: Column, snapshot: Column): DataFrame = {
    val comp = df
      .select(label.as("lbl"), snapshot.as("half"), posexplode(vec))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("lbl"), col("half"), col("pos").as("i"),
        col("col").cast("double").as("x"))
    // 2^-10 scale (exact in IEEE) keeps the sum products near unit
    // magnitude: Spark's double->decimal cast rounds the Double.toString
    // SHORT representation, which loses last-ulp agreement with
    // DuckDB's exact-value cast once products carry hundreds before
    // the point. Cosine is scale-invariant, so this costs nothing; at
    // a larger corpus pick 2^-ceil(log2(n)) the same exact way.
    val sums = comp.groupBy(col("lbl"), col("half"), col("i"))
      .agg(sum(col("x").cast(Dec)).as("s"))
      .withColumn("sd", col("s").cast("double") / lit(1024.0))
    val a = sums.filter(col("half") === 0)
      .select(col("lbl"), col("i"), col("sd").as("sa"))
    val b = sums.filter(col("half") === 1)
      .select(col("lbl"), col("i"), col("sd").as("sb"))
    a.join(b, Seq("lbl", "i"))
      .groupBy(col("lbl"))
      .agg(sum((col("sa") * col("sb")).cast(Dec)).as("dot"),
        sum((col("sa") * col("sa")).cast(Dec)).as("na"),
        sum((col("sb") * col("sb")).cast(Dec)).as("nb"))
      .select(col("lbl").as("label"),
        when(col("na") > 0 && col("nb") > 0,
          col("dot").cast("double") /
            (sqrt(col("na").cast("double")) *
              sqrt(col("nb").cast("double"))))
          .as("centroid_cosine"))
  }

  /** Anisotropy / collapse audit: cosine of each LABEL's mean
    * direction against the GLOBAL mean direction. A healthy embedding
    * space spreads label centroids around the sphere (mixed, even
    * negative alignments); a collapsing space drags every centroid
    * toward the global mean — uniformly high alignment is the classic
    * "all my embeddings point the same way" failure this monitor
    * catches before retrieval quality craters. Same exact-decimal
    * component-sum algebra as [[centroidDrift]] (unnormalized sums
    * ARE the mean directions; 2^-10 exact rescale; one IEEE
    * sqrt/divide tree), so the readout is hash-gateable. Label×dim
    * mergeable state — one pass at any corpus size. */
  def anisotropyAudit(df: DataFrame, id: Column, vec: Column,
      label: Column): DataFrame = {
    val comp = df
      .select(label.as("lbl"), posexplode(vec))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("lbl"), col("pos").as("i"),
        col("col").cast("double").as("x"))
    val lsums = graft.Tables.materialize(
      comp.groupBy(col("lbl"), col("i"))
        .agg(sum(col("x").cast(Dec)).as("s"))
        .withColumn("sd", col("s").cast("double") / lit(1024.0)))
    // the global direction is the label sums re-folded — decimal
    // addition is exact, so this equals summing the raw rows
    val gsums = lsums.groupBy(col("i"))
      .agg((sum(col("s")).cast("double") / lit(1024.0)).as("gd"))
    lsums.join(broadcast(gsums), Seq("i"))
      .groupBy(col("lbl"))
      .agg(sum((col("sd") * col("gd")).cast(Dec)).as("dot"),
        sum((col("sd") * col("sd")).cast(Dec)).as("nl"),
        sum((col("gd") * col("gd")).cast(Dec)).as("ng"))
      .select(col("lbl").as("label"),
        when(col("nl") > 0 && col("ng") > 0,
          col("dot").cast("double") /
            (sqrt(col("nl").cast("double")) *
              sqrt(col("ng").cast("double"))))
          .as("align_cosine"))
  }

  /** IVF-probed contrastive hard-negative mining — [[hardNegatives]]'
    * 100 TB path made concrete: candidates come from each query's
    * `nProbe` nearest cells instead of the whole corpus, then the
    * cross-label filter + exact rank run within the probed population
    * only. Same probed-recall trade as [[ivfTopK]] (a near-miss
    * negative in an unprobed cell is missed; `ann_ivf_recall` is the
    * audit shape for that), same assignment/probe logic verbatim —
    * only the candidate set differs from the brute gate. */
  def hardNegativesIvf(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, corpusLabel: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      queryLabel: Column, k: Int,
      numCells: Int = 16, nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val q = graft.Tables.materialize(
      vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q"))
    val cl = corpus.select(corpusId.as("nbr_id"),
      corpusLabel.as("nbr_label"))
    val ql = queries.select(queryId.as("query_id"),
      queryLabel.as("query_label"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells,
      None)
    val cells = cellAssignments(c, centArr)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    val probes = q.crossJoin(broadcast(centArr))
      .withColumn("ccos", cellCos("qv", "sn_q"))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= nProbe)
      .select(col("query_id"), col("cell_id"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    probes.join(cells, "cell_id")
      .select(col("query_id"), col("nbr_id"))
      .join(c, "nbr_id")
      .join(broadcast(q), "query_id")
      .join(cl, "nbr_id")
      .join(broadcast(ql), "query_id")
      .filter(col("nbr_label") =!= col("query_label"))
      .withColumn("cosine",
        VecKernels.vecDotDec(col("cv"), col("qv")).cast("double") /
          (col("sn_c") * col("sn_q")))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("nbr_id"),
        col("nbr_label"), col("rank"), col("cosine"))
  }

  /** Deterministic id-mod training sample, collected to the driver
    * for the bounded-sample trainers ([[kmeansCentroids]],
    * [[pqTrainCodebooks]]). Guarded by a BYTE budget before the
    * collect — a row-count cap alone is blind to dimensionality
    * (2^20 rows × 768 dims ≈ 6 GB on the driver). One cheap
    * pruned-scan aggregate sizes the sample; the budget is conf'd
    * (`spark.graft.kmeans.maxSampleBytes`, default 1 GiB) so a
    * beefier driver can raise it. */
  private def collectTrainingSample(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, sampleMod: Long): Array[(Long, Array[Double])] = {
    val spark = corpus.sparkSession
    val sampleDf = corpus
      .filter(pmod(corpusId.cast("long"), lit(sampleMod)) === 0)
      .select(corpusId.cast("long").as("id"),
        corpusVec.cast("array<double>").as("v"))
      .filter(size(col("v")) > 0)
    val stats = sampleDf
      .agg(count(lit(1)).as("n"), max(size(col("v"))).as("dim"))
      .collect()(0)
    val nRows = stats.getLong(0)
    val dim = if (stats.isNullAt(1)) 0 else stats.getInt(1)
    val budget = spark.conf
      .get("spark.graft.kmeans.maxSampleBytes", (1L << 30).toString).toLong
    val bytes = nRows * dim.toLong * 8L
    require(bytes <= budget,
      s"training sample ≈ $bytes bytes ($nRows rows × $dim dims × 8) " +
        s"exceeds spark.graft.kmeans.maxSampleBytes=$budget — raise " +
        "sampleMod or the byte budget")
    sampleDf.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
  }

  /** Spherical k-means centroids for [[ivfTopK]]: Lloyd's iterations —
    * assign each vector to its max-cosine centroid, re-center each cell
    * on the member direction — from the deterministic smallest-id
    * seeds. On real embedding distributions the smallest-id seeds land
    * wherever the ids happen to sit and give unbalanced cells; a few
    * Lloyd's rounds move the centroids to the density, which is what
    * recall/latency at scale depend on.
    *
    * Re-centering uses the exact-decimal component SUM, not the mean:
    * cosine assignment is invariant to positive scaling of the
    * centroid, so the unnormalized sum IS the mean direction — and
    * dropping the division keeps every step either exact decimal
    * arithmetic or an IEEE-deterministic double op, which is what lets
    * a SQL oracle reproduce the trained path bit for bit (a decimal
    * mean's intermediate scale/rounding is engine-specific).
    *
    * Training input is a deterministic id-mod sample (`sampleMod`):
    * centroid quality depends on sample density, not corpus size, so
    * the 100 TB sizing rule is numCells x O(100) training vectors —
    * pick sampleMod to land there (same rule as FAISS IVF training;
    * use a hash of the id when ids aren't uniform). The sample is the
    * ONLY thing training reads: one filtered column-pruned scan, zero
    * shuffles, then driver-local Lloyd's (see the in-body note).
    *
    * Deterministic end to end (exact decimal sums, ties on cell id),
    * fixed `iters` (no convergence test keeps the job graph static),
    * empty cells keep their previous centroid. Returns (cell_id, i, cx). */
  def kmeansCentroids(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      numCells: Int = 16, iters: Int = 3, sampleMod: Long = 1L): DataFrame = {
    // Training runs DRIVER-SIDE on the collected sample. This is the
    // deliberate exception to the no-driver-loops rule: the sample is
    // bounded by construction (caller sizes sampleMod; hard guard
    // below), and moving Lloyd's off the cluster removes 4 shuffles x
    // iters + per-round materializations whose scheduling dominated
    // the distributed trainer at ANY corpus size (the per-iteration
    // work is O(sample x cells x dim), never corpus-sized). The
    // arithmetic contract is exactly the distributed operators':
    // products via BigDecimal.valueOf(x*y) rounded HALF_UP to 12dp
    // (== vec_dot_dec per-product semantics == CAST(x*y AS
    // DECIMAL(28,12)) on both engines), exact decimal sums, IEEE
    // sqrt/div, ties to the smallest cell id — verified bit-for-bit
    // against the previous in-cluster trainer via the unchanged
    // DuckDB oracle at sampleMod=1.
    val spark = corpus.sparkSession
    val sample = collectTrainingSample(corpus, corpusId, corpusVec, sampleMod)
    require(sample.length >= numCells,
      s"training sample ${sample.length} < numCells $numCells — lower sampleMod")
    def round12(d: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(d)
        .setScale(12, java.math.RoundingMode.HALF_UP)
    // same fast scaled-long execution as the distributed kernel
    // ([[graft.functions.VecKernels.prodPicos]] — identical
    // per-product contract), BigDecimal fallback on overflow
    def dotDec(a: Array[Double], b: Array[Double]): Double =
      graft.functions.VecKernels.dotPicosDouble(a, b)
    val norms: Array[Double] = sample.map(v => math.sqrt(dotDec(v._2, v._2)))
    val cellIds: Array[Long] = sample.take(numCells).map(_._1)
    var cent: Array[Array[Double]] = sample.take(numCells).map(_._2.clone())
    for (_ <- 1 to iters) {
      val snCell = cent.map(c => math.sqrt(dotDec(c, c)))
      // per-cell exact-decimal component sums (the unnormalized mean
      // direction); ascending-cell scan with strict > keeps ties on
      // the smallest cell id, matching the distributed argmax
      val sums = Array.fill(numCells)(
        Array.fill(cent(0).length)(java.math.BigDecimal.ZERO))
      val counts = new Array[Int](numCells)
      for (((_, v), vi) <- sample.zipWithIndex) {
        var best = -1; var bestCos = Double.NegativeInfinity
        for (ci <- 0 until numCells) {
          val ccos = dotDec(v, cent(ci)) / (norms(vi) * snCell(ci))
          if (ccos > bestCos) { bestCos = ccos; best = ci }
        }
        counts(best) += 1
        var i = 0
        while (i < v.length) {
          sums(best)(i) = sums(best)(i).add(round12(v(i))); i += 1
        }
      }
      cent = Array.tabulate(numCells) { ci =>
        if (counts(ci) == 0) cent(ci) // empty cell keeps its centroid
        else sums(ci).map(_.doubleValue())
      }
    }
    import spark.implicits._
    cellIds.zip(cent).toSeq
      .flatMap { case (cid, c) => c.zipWithIndex.map { case (cx, i) =>
        (cid, i, cx) } }
      .toDF("cell_id", "i", "cx")
  }

  // ------------------------------------------------------------------
  // Product quantization (IVF-PQ) — the 32-64× compression axis that
  // makes a 100 TB embedding corpus servable: each vector is stored as
  // m sub-codebook codes (one byte each at ksub ≤ 256) instead of dim
  // floats, and query scoring is m integer table lookups per candidate
  // (asymmetric distance computation, ADC) instead of a dim-wide dot.
  // Jégou/Douze/Schmid PQ, FAISS IVF-PQ layout; every stage below is
  // deterministic integer/exact-decimal algebra so a SQL oracle can
  // replay train → encode → serve bit-for-bit.
  // ------------------------------------------------------------------

  /** Per-subspace PQ codebooks: the vector's `dim` components split
    * into `m` contiguous subvectors of dim/m; each subspace trains its
    * own `ksub`-centroid codebook with driver-local L2 Lloyd's over
    * the bounded id-mod sample ([[collectTrainingSample]], byte-budget
    * guarded — the [[kmeansCentroids]] discipline, L2 instead of
    * cosine because PQ approximates the vector itself, not its
    * direction).
    *
    * Deterministic end to end, same contract as the IVF trainer:
    * initial centroids are the sample's first `ksub` vectors' slices
    * (codes 0..ksub−1 in id order); assignment argmin uses
    * d² = ‖c‖² − 2⟨x,c⟩ (the ‖x‖² term is constant per x) with both
    * dots as exact-decimal sums of HALF_UP-rounded 12dp products cast
    * to double and ONE IEEE combine, ties to the smallest code;
    * re-centering is the exact-decimal component sum divided by the
    * member count in double (L2 means need the division — unlike the
    * spherical trainer — and double ÷ integer is IEEE-identical
    * cross-engine). Empty codes keep their centroid; fixed `iters`
    * keeps the job graph static.
    *
    * 100 TB sizing: training reads ONE pruned id-mod sample scan;
    * per-subspace Lloyd's is O(sample × ksub × dim/m) on the driver.
    * Returns (j, code, i, cx): subspace, code id, within-subspace
    * component index, component value. */
  def pqTrainCodebooks(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, m: Int = 4, ksub: Int = 8, iters: Int = 2,
      sampleMod: Long = 1L): DataFrame = {
    val spark = corpus.sparkSession
    val sample = collectTrainingSample(corpus, corpusId, corpusVec,
      sampleMod)
    require(sample.length >= ksub,
      s"training sample ${sample.length} < ksub $ksub — lower sampleMod")
    val dim = sample(0)._2.length
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    require(sample.forall(_._2.length == dim), "ragged embedding dims")
    val sub = dim / m
    def round12(d: Double): java.math.BigDecimal =
      java.math.BigDecimal.valueOf(d)
        .setScale(12, java.math.RoundingMode.HALF_UP)
    // same fast scaled-long execution as the distributed kernel
    // ([[graft.functions.VecKernels.prodPicos]] — identical
    // per-product contract), BigDecimal fallback on overflow
    def dotDec(a: Array[Double], b: Array[Double]): Double =
      graft.functions.VecKernels.dotPicosDouble(a, b)
    // subspaces are independent — train them on a driver thread pool
    // (the serial BigDecimal inner loop is the training cost: sample ×
    // ksub × iters × sub exact-decimal products per subspace).
    // Determinism is untouched: each subspace's arithmetic is
    // self-contained and results assemble in j order.
    def trainSubspace(j: Int): IndexedSeq[(Int, Long, Int, Double)] = {
      val xs: Array[Array[Double]] =
        sample.map(_._2.slice(j * sub, (j + 1) * sub))
      var cent: Array[Array[Double]] = xs.take(ksub).map(_.clone())
      for (_ <- 1 to iters) {
        val cn2 = cent.map(c => dotDec(c, c))
        val sums = Array.fill(ksub)(
          Array.fill(sub)(java.math.BigDecimal.ZERO))
        val counts = new Array[Int](ksub)
        xs.foreach { x =>
          var best = -1; var bestD2 = Double.PositiveInfinity
          for (ci <- 0 until ksub) {
            val d2 = cn2(ci) - 2.0 * dotDec(x, cent(ci))
            if (d2 < bestD2) { bestD2 = d2; best = ci }
          }
          counts(best) += 1
          var i = 0
          while (i < sub) {
            sums(best)(i) = sums(best)(i).add(round12(x(i))); i += 1
          }
        }
        cent = Array.tabulate(ksub) { ci =>
          if (counts(ci) == 0) cent(ci)
          else sums(ci).map(_.doubleValue() / counts(ci).toDouble)
        }
      }
      for (code <- 0 until ksub; i <- 0 until sub)
        yield (j, code.toLong, i, cent(code)(i))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(m, Runtime.getRuntime.availableProcessors().max(1)))
    val rows =
      try {
        val futures = (0 until m).map(j =>
          pool.submit(new java.util.concurrent.Callable[
            IndexedSeq[(Int, Long, Int, Double)]] {
            def call() = trainSubspace(j)
          }))
        futures.flatMap(_.get())
      } finally pool.shutdown()
    import spark.implicits._
    rows.toDF("j", "code", "i", "cx")
  }

  /** Codebook rows re-packed to per-(subspace, code) arrays with the
    * precomputed exact-decimal ‖c‖² — the broadcast-sized frame every
    * PQ stage joins against (m × ksub rows). */
  private def pqCodebookArrays(codebooks: DataFrame): DataFrame =
    graft.Tables.materialize(codebooks
      .groupBy(col("j"), col("code"))
      .agg(transform(
        array_sort(collect_list(struct(col("i"), col("cx")))),
        s => s.getField("cx")).as("cvec"))
      .withColumn("cn2",
        VecKernels.vecDotDec(col("cvec"), col("cvec")).cast("double")))

  /** PQ ENCODE — the one corpus-sized pass of the PQ lifecycle: each
    * vector's m subvector slices assign to their subspace's
    * argmin-d² code against the broadcast codebook (m × ksub rows per
    * vector of fan-out, map-side only, partial-aggregated argmin —
    * no shuffle wider than the output). Output (nbr_id, j, code):
    * m small ints per vector, the 32-64× storage cut. Runs once per
    * retrain window and appends like [[appendIvfAssignments]]
    * (per-row against frozen codebooks ⇒ append ≡ re-encode). */
  def pqEncode(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      codebooks: DataFrame): DataFrame = {
    val cb = pqCodebookArrays(codebooks)
    val subDim = size(col("cvec"))
    val p = corpus.sparkSession.sparkContext.defaultParallelism
    corpus.select(corpusId.as("nbr_id"),
        corpusVec.cast("array<double>").as("v"))
      // the m×ksub fan-out below is the expensive stage and a
      // single-file local scan is ONE partition — widen first
      .repartition(p)
      .crossJoin(broadcast(cb))
      .withColumn("d2", col("cn2") - lit(2.0) *
        VecKernels.vecDotDec(
          slice(col("v"), col("j") * subDim + lit(1), subDim),
          col("cvec")).cast("double"))
      .groupBy(col("nbr_id"), col("j"))
      .agg(max_by(col("code"),
        struct((-col("d2")).as("nd"), (-col("code")).as("nc"))).as("code"))
  }

  /** Per-query ADC lookup table: for every (subspace, code), the
    * query slice's exact-decimal dot with the codebook centroid,
    * quantized to an INTEGER in 2⁻²⁰ units (round-half-away — the
    * audited [[graft.functions.VecKernels]] i8 discipline: both
    * engines round the same exact double). Scoring a candidate is
    * then Σ_j adc[j, code_j] — pure BIGINT, deterministic top-k.
    * m × ksub rows per query; broadcast. */
  def pqAdcTable(queries: DataFrame, queryId: Column, queryVec: Column,
      codebooks: DataFrame): DataFrame = {
    val cb = pqCodebookArrays(codebooks)
    val subDim = size(col("cvec"))
    queries.select(queryId.as("query_id"),
        queryVec.cast("array<double>").as("qv"))
      .crossJoin(broadcast(cb))
      .select(col("query_id"), col("j"), col("code"),
        round(VecKernels.vecDotDec(
            slice(col("qv"), col("j") * subDim + lit(1), subDim),
            col("cvec")).cast("double") * lit(1048576.0), 0)
          .cast("long").as("a"))
  }

  /** ADC top-k over ENCODED candidates: join the candidate code rows
    * against the broadcast per-query ADC table on (j, code), sum the
    * m integer lookups per (query, candidate), rank. `cand` is the
    * (query_id, nbr_id) candidate set — the full corpus for the
    * exhaustive-ADC baseline, or the probed cells' members for
    * IVF-PQ. The scan reads CODES only (m longs per vector), never
    * the float vectors — the bandwidth shape that makes PQ serving
    * scale. */
  def pqAdcTopK(cand: DataFrame, codes: DataFrame, adc: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id").asc)
    cand.join(codes, "nbr_id")
      .join(broadcast(adc), Seq("query_id", "j", "code"))
      .groupBy(col("query_id"), col("nbr_id"))
      .agg(sum(col("a")).as("score"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank"), col("score"))
  }

  /** IVF-PQ serving — the composed 100 TB ANN shape: IVF cells prune
    * the candidate set to the probed cells' members (coarse float
    * stage: numCells × dim of broadcast centroids), then PQ-ADC ranks
    * the survivors from their m-byte codes (fine integer stage). The
    * corpus's float vectors are touched ONLY by the build-side passes
    * (assignment + encode, once per retrain window); the query path
    * reads centroids, the assignment table, and codes. */
  /** Seed-cell IVF candidate set (query_id, nbr_id): the probed
    * cells' members per query — the coarse pruning stage IVF-PQ
    * composes under the ADC ranker. */
  private def ivfCandidates(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, numCells: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val q = graft.Tables.materialize(
      vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells,
      None)
    val cells = cellAssignments(c, centArr)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    q.crossJoin(broadcast(centArr))
      .withColumn("ccos", cellCos("qv", "sn_q"))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= nProbe)
      .select(col("query_id"), col("cell_id"))
      .join(cells, "cell_id")
      .select(col("query_id"), col("nbr_id"))
  }

  /** One-time PQ index BUILD — train + encode, the two artifacts a
    * PQ store persists (codebooks: m × ksub × dim/m components;
    * codes: m small ints per vector). [[ivfPqTopKFromIndex]] serves
    * from them without retraining or re-encoding. */
  def buildPqIndex(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, m: Int = 4, ksub: Int = 8, iters: Int = 2,
      sampleMod: Long = 1L): (DataFrame, DataFrame) = {
    val cbs = pqTrainCodebooks(corpus, corpusId, corpusVec, m, ksub,
      iters, sampleMod)
    (cbs, pqEncode(corpus, corpusId, corpusVec, cbs))
  }

  /** Serve IVF-PQ from a PERSISTED index: `codebooks` (j, code, i,
    * cx) and `codes` (nbr_id, j, code) are read from storage — no
    * training, no encoding on the query path; the candidates' float
    * vectors are never read for ranking (codes only). The coarse IVF
    * stage here recomputes seed-cell candidates from the corpus; a
    * deployment passes its stored assignment table through
    * [[ivfTopKFromIndex]]'s shape instead. */
  def ivfPqTopKFromIndex(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, k: Int, numCells: Int, nProbe: Int,
      codebooks: DataFrame, codes: DataFrame): DataFrame =
    pqAdcTopK(
      ivfCandidates(corpus, corpusId, corpusVec, queries, queryId,
        queryVec, numCells, nProbe),
      codes.select(col("nbr_id"), col("j"), col("code")),
      pqAdcTable(queries, queryId, queryVec, codebooks), k)

  /** RESIDUAL IVF-PQ — the full FAISS IVF-PQ layout: PQ codebooks
    * train on and codes encode the residual r = x − ĉ(x) (what's left
    * after the coarse quantizer; ĉ is the UNIT-normalized cell
    * centroid — the FAISS spherical-kmeans convention, see the
    * in-body note), which concentrates the codebooks' capacity on
    * within-cell structure instead of re-spending it on the cell
    * means. Inner-product scoring decomposes exactly:
    * ⟨q, ĉ + r̂⟩ = ⟨q, ĉ⟩ + ⟨q, r̂⟩ — so the serving path is ONE
    * integer coarse term per (query, probed cell)
    * (round(⟨q,ĉ⟩·2²⁰), exact-decimal dot) plus the m ADC lookups of
    * raw-query-slice × residual-codebook tables; the candidate's
    * float vector is never read. All stages reuse the audited PQ
    * pieces ([[pqTrainCodebooks]]/[[pqEncode]]/[[pqAdcTable]]) over
    * the residual frame. The residual subtract here is a zip_with
    * (interpreted, bounded by dim); a 100 TB deployment swaps it for
    * a codegen'd kernel like the dot kernels.
    *
    * `centroids` swaps the deterministic seed cells for TRAINED
    * coarse cells (the [[kmeansCentroids]] frame) — residual PQ's
    * whole value is residuals against GOOD centroids: under seed
    * cells the residual distribution keeps the cell means' spread and
    * can be HARDER to quantize than the raw vectors (measured on this
    * corpus — see `ann_residual_recall_audit`), while trained cells
    * concentrate the codebooks on within-cell structure. Only the
    * cell frame changes; every downstream stage is identical. */
  def ivfPqResidualTopK(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, k: Int, numCells: Int = 16, nProbe: Int = 4,
      m: Int = 4, ksub: Int = 8, iters: Int = 2,
      sampleMod: Long = 1L, centroids: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val q = graft.Tables.materialize(
      vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells,
      centroids)
    val cells = graft.Tables.materialize(cellAssignments(c, centArr))
    // Residuals subtract the UNIT-normalized centroid (FAISS spherical
    // kmeans normalizes its centroids; our trainer returns the
    // unnormalized mean-direction SUM for oracle-exactness). Without
    // this, a trained centroid's ~√members magnitude dominates the
    // residual — per-cell offsets the GLOBAL codebooks must span grow
    // with cell size and recall collapses (trained-cell recall@10
    // measured 0.34 before the fix, 0.47 after, on the fixture). The
    // divide is one IEEE op per component on identical operands, so
    // the SQL twin reproduces it bit-for-bit; assignment/probing stay
    // on the raw frame (cosine is scale-invariant).
    val ncent = graft.Tables.materialize(centArr
      .select(col("cell_id"),
        transform(col("cvec"), cx => cx / col("sn_cell")).as("ncvec")))
    val resid = corpus
      .select(corpusId.as("nbr_id"), corpusVec.cast("array<double>").as("v"))
      .join(cells, "nbr_id")
      .join(broadcast(ncent), "cell_id")
      .select(col("nbr_id"),
        zip_with(col("v"), col("ncvec"), (a, b) => a - b).as("rv"))
    val cbs = pqTrainCodebooks(resid, col("nbr_id"), col("rv"), m, ksub,
      iters, sampleMod)
    val codes = pqEncode(resid, col("nbr_id"), col("rv"), cbs)
    // ADC over RAW query slices vs the residual codebooks
    val adc = pqAdcTable(queries, queryId, queryVec, cbs)
    // exact coarse term per (query, cell), integer-quantized like ADC
    val qcell = q.crossJoin(broadcast(ncent))
      .select(col("query_id"), col("cell_id"),
        round(VecKernels.vecDotDec(col("qv"), col("ncvec"))
          .cast("double") * lit(1048576.0), 0).cast("long").as("qc"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    val cand = q.crossJoin(broadcast(centArr))
      .withColumn("ccos", cellCos("qv", "sn_q"))
      .withColumn("r", row_number().over(wProbe))
      .filter(col("r") <= nProbe)
      .select(col("query_id"), col("cell_id"))
      .join(cells, "cell_id")
      .select(col("query_id"), col("nbr_id"), col("cell_id"))
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id").asc)
    cand.join(codes, "nbr_id")
      .join(broadcast(adc), Seq("query_id", "j", "code"))
      .groupBy(col("query_id"), col("nbr_id"), col("cell_id"))
      .agg(sum(col("a")).as("adc_sum"))
      .join(broadcast(qcell), Seq("query_id", "cell_id"))
      .withColumn("score", col("qc") + col("adc_sum"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank"), col("score"))
  }

  /** IVF-PQ recall-vs-nProbe sweep — [[ivfRecallSweep]] with the fine
    * stage swapped to integer ADC ranking over the PQ codes: the
    * measurement a PQ deployment reads to place itself on the
    * latency/recall frontier, where the loss now COMPOSES the coarse
    * probing miss and the compression miss (grade against
    * `ann_pq_recall`'s flat-ADC ceiling to separate the two). One
    * candidate pass serves every budget — a smaller probe set is a
    * PREFIX of a larger one under the same (ccos, cell_id) order. */
  def ivfPqRecallSweep(corpus: DataFrame, corpusId: Column,
      corpusVec: Column, queries: DataFrame, queryId: Column,
      queryVec: Column, k: Int = 10, numCells: Int = 16,
      probes: Seq[Int] = Seq(1, 2, 4, 8), m: Int = 4, ksub: Int = 8,
      iters: Int = 2, sampleMod: Long = 1L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(probes.nonEmpty && probes.forall(_ >= 1))
    val (cbs, codes0) = buildPqIndex(corpus, corpusId, corpusVec, m,
      ksub, iters, sampleMod)
    val codes = graft.Tables.materialize(codes0)
    val adc = graft.Tables.materialize(
      pqAdcTable(queries, queryId, queryVec, cbs))
    val c = graft.Tables.materialize(
      vectors(corpus, corpusId, corpusVec, "nbr_id", "cv", "sn_c"))
    val q = graft.Tables.materialize(
      vectors(queries, queryId, queryVec, "query_id", "qv", "sn_q"))
    val centArr = centroidArrays(corpus, corpusId, corpusVec, numCells,
      None)
    val cells = cellAssignments(c, centArr)
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    val probeRank = q.crossJoin(broadcast(centArr))
      .withColumn("ccos", cellCos("qv", "sn_q"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= probes.max)
      .select(col("query_id"), col("cell_id"), col("pr"))
    val truth = graft.Tables.materialize(
      bruteForceTopK(corpus, corpusId, corpusVec, queries, queryId,
          queryVec, k)
        .select(col("query_id"), col("nbr_id")))
    val probeSet = broadcast(corpus.sparkSession
      .createDataFrame(probes.map(Tuple1(_))).toDF("n_probe"))
    val wTop = Window.partitionBy(col("query_id"), col("n_probe"))
      .orderBy(col("score").desc, col("nbr_id").asc)
    val topk = probeRank.join(cells, "cell_id")
      .select(col("query_id"), col("nbr_id"), col("pr"))
      .crossJoin(probeSet)
      .filter(col("pr") <= col("n_probe"))
      .join(codes, "nbr_id")
      .join(broadcast(adc), Seq("query_id", "j", "code"))
      .groupBy(col("n_probe"), col("query_id"), col("nbr_id"))
      .agg(sum(col("a")).as("score"))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= k)
      .select(col("n_probe"), col("query_id"), col("nbr_id"))
    val hits = topk.join(truth, Seq("query_id", "nbr_id"), "left_semi")
      .groupBy(col("n_probe")).agg(count(lit(1)).as("n_hits"))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    hits.crossJoin(broadcast(nq))
      .select(col("n_probe"), col("n_hits"),
        (col("nq") * k).as("n_possible"),
        (col("n_hits").cast("double") /
          (col("nq") * k).cast("double")).as("recall"))
  }

  /** Deterministic hyperplane weight for (plane, dim): md5-derived
    * integer in [-1000, 1000]. Computed driver-side; shipped as a tiny
    * broadcast table. */
  def planeWeight(plane: Int, dim: Int): Long =
    TextFunctions.hash32Local(s"${plane}_$dim") % 2001L - 1000L

  /** Multi-table LSH bucket ids as a frame (id, tbl, bucket): one
    * per-component broadcast join against the (plane, dim) weight table
    * computes ALL `numTables * numPlanes` plane signs in a single pass;
    * table t packs the signs of planes [t*k, (t+1)*k) into a long.
    *
    * Why multi-table: a single k-plane table has only 2^k buckets — at
    * 100x the corpus each bucket grows 100x and per-bucket pair work
    * 10,000x, and raising k alone collapses recall. L independent
    * tables keep per-table recall while the bucket-size cap (see
    * [[lshNearDupPairs]]) bounds the quadratic work per bucket.
    *
    * Join-based on purpose: inlining numPlanes x dim weight literals
    * into one expression tree was measured at ~2 minutes of one-time
    * codegen. */
  def lshBuckets(df: DataFrame, id: Column, vec: Column, dim: Int,
      numPlanes: Int = 8, numTables: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val w = (for (j <- 0 until numTables * numPlanes; i <- 0 until dim)
      yield (j, i, planeWeight(j, i))).toDF("j", "i", "wt")
    val comp = components(df, id, vec, "id", "x")
    comp.join(broadcast(w), "i")
      .groupBy(col("id"), col("j"))
      .agg((sum((col("x") * col("wt")).cast(Dec)) >= 0).as("pos"))
      .select(col("id"),
        floor(col("j") / numPlanes).cast("int").as("tbl"),
        when(col("pos"), expr(
          s"shiftleft(cast(1 as bigint), cast(j % $numPlanes as int))"))
          .otherwise(lit(0L)).as("bit"))
      .groupBy(col("id"), col("tbl"))
      .agg(sum(col("bit")).as("bucket"))
  }

  /** Bucketed near-duplicate pairs: exact cosine >= threshold, but only
    * for pairs sharing an LSH bucket in at least one of the
    * `numTables` tables — the scale path for embedding-cosine dedup
    * (per-bucket self-join instead of all pairs).
    *
    * `maxBucketSize` drops degenerate buckets (near-constant regions of
    * the embedding space where one bucket would swallow the corpus and
    * reintroduce O(n^2)): a bucket with more members contributes no
    * candidates from that table. Deterministic and mirrored in the
    * DuckDB oracle; the dropped-bucket count is cheap to surface via
    * the `sized` frame if a run needs the telemetry. */
  def lshNearDupPairs(df: DataFrame, id: Column, vec: Column, dim: Int,
      numPlanes: Int = 8, threshold: Double = 0.9,
      numTables: Int = 2, maxBucketSize: Int = 1000): DataFrame = {
    // cache: vector frame feeds both pair sides; buckets feed a
    // self-join — without caching each side recomputes the lineage
    val va = graft.Tables.materialize(
      vectors(df, id, vec, "id", "v", "sn"))
    val b = graft.Tables.materialize(
      lshBuckets(df, id, vec, dim, numPlanes, numTables))
    val sized = b.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize)
      .select(col("tbl"), col("bucket"))
    val kept = b.join(broadcast(sized), Seq("tbl", "bucket"), "left_semi")
    val pairs = kept.as("bx").join(kept.as("by"),
        col("bx.tbl") === col("by.tbl") &&
          col("bx.bucket") === col("by.bucket") &&
          col("bx.id") < col("by.id"))
      .select(col("bx.id").as("id1"), col("by.id").as("id2"))
      .distinct() // a pair may collide in several tables
    // exact verify: one vec_dot_dec per surviving candidate pair
    pairs
      .join(va.select(col("id").as("id1"), col("v").as("v1"),
        col("sn").as("sn1")), "id1")
      .join(va.select(col("id").as("id2"), col("v").as("v2"),
        col("sn").as("sn2")), "id2")
      .withColumn("cosine",
        VecKernels.vecDotDec(col("v1"), col("v2")).cast("double") /
          (col("sn1") * col("sn2")))
      .filter(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  /** Per-dimension moment audit of the embedding matrix — the
    * dead/constant-dimension screen run after a projection or
    * quantization change: a dimension whose variance collapses
    * carries no retrieval signal but still costs its share of every
    * distance computation, and a drifted mean flags a normalization
    * bug upstream. One mergeable aggregate over (dim → n, Σx, Σx²,
    * min, max): at 100 TB this is a single map-side-combined pass at
    * scan parallelism — dims, not rows, reach the reducer.
    *
    * Exactness: components quantize to q = floor(x·2²⁰) — a
    * power-of-two rescale of a float32 is EXACT in double (exponent
    * shift only), so q is the same integer on every engine, with no
    * decimal tie-rounding anywhere (the trap both a scale-12 decimal
    * cast — per-term ties — and a scale-30 one — DuckDB's
    * double-rounded decimal→double conversion — fall into). Integer
    * sums are order-independent; Σq and Σq² stay below 2⁵³ for any
    * realistic n so their double conversions are exact, and the
    * mean/variance readout is ONE fixed IEEE divide/multiply tree.
    * Moments are therefore of the 2⁻²⁰-quantized components —
    * quantization noise ~2⁻⁴⁰ is far beneath the 1e-6 `is_dead`
    * screen. */
  /** Embedding covariance matrix (upper triangle) — the whitening /
    * PCA-prep statistic: cov(i,j) over the 2⁻²⁰-quantized components,
    * from exact integer sums (Σqᵢqⱼ, Σqᵢ, n) under one fixed IEEE
    * readout tree — [[dimVarianceAudit]]'s exactness contract
    * extended to pairs (that audit is this matrix's diagonal).
    *
    * Shape: components co-partition by vector id, one self-join
    * fans each vector to its d(d+1)/2 index pairs, one
    * map-side-combined aggregate reduces to d(d+1)/2 cells. At
    * 100 TB the join shuffle is rows×d; the further optimization is
    * a per-partition d×d accumulator in `mapPartitions` (X^T X via
    * outer products, d² merge state) — same algebra, no fan-out;
    * the gate keeps the join form because every operator stays in
    * whole-stage codegen. Σqᵢqⱼ ≤ 2⁴⁰·n, so the BIGINT is exact to
    * n ≈ 8·10⁶ and its double conversion to n ≈ 8000 — quantize
    * coarser or shard the sum beyond that. */
  def covarianceMatrix(df: DataFrame, id: Column, vec: Column)
      : DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val Q = 1048576.0 // 2^20
    val comp = df.select(id.as("vid"), posexplode(vec))
      .repartition(p, col("vid"))
      .select(col("vid"), col("pos").as("i"),
        floor(col("col").cast("double") * Q).cast("long").as("q"))
    val a = comp.select(col("vid"), col("i"), col("q"))
    val b = comp.select(col("vid"), col("i").as("j"),
      col("q").as("qj"))
    val meanI = col("s_i").cast("double") / col("n").cast("double")
    val meanJ = col("s_j").cast("double") / col("n").cast("double")
    a.join(b, "vid").filter(col("i") <= col("j"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(col("q") * col("qj")).as("s_ij"),
        sum(col("q")).as("s_i"), sum(col("qj")).as("s_j"))
      .select(col("i").cast("long").as("i"),
        col("j").cast("long").as("j"), col("n"),
        ((col("s_ij").cast("double") / col("n").cast("double")
          - meanI * meanJ) / (Q * Q)).as("cov"))
  }

  /** OPQ-lite orthogonal rotation (Householder form of "Optimized
    * Product Quantization", Ge et al.): PQ's subspace split is
    * axis-aligned, so a dominant variance direction that lands inside
    * ONE subspace spends that subspace's whole codebook on it. The
    * standard fix rotates the space before splitting; the cheapest
    * rotation that balances the top direction is the Householder
    * reflection H = I − 2ppᵀ/⟨p,p⟩ with p = u − v, which maps the
    * dominant direction u onto the balanced diagonal v = 1/√d — after
    * H, the top direction spreads evenly across ALL subspaces. Full
    * OPQ alternates SVD solves; this one-reflection form captures the
    * first-order win and stays oracle-replayable.
    *
    * u comes from one power-iteration step over [[covarianceMatrix]]
    * (seed = the all-ones vector): w = C·1, i.e. per-dimension row
    * sums of the covariance cells. The cov doubles are already
    * bit-identical cross-engine (the `embed_covariance` gate's fixed
    * IEEE readout tree over exact quantized-integer moments), and the
    * row sum uses the audited Dec(28,12)-rounded-term exact-sum
    * idiom, as does every later step (norms, dots) — so the rotated
    * vectors hash-gate.
    *
    * Applying H is y = x − t·p with t = 2⟨p,x⟩/⟨p,p⟩ — O(d) per
    * vector, one broadcast (p, ⟨p,p⟩) row, no d×d matrix anywhere; a
    * degenerate p (u already balanced) takes t = 0, the exact
    * identity. Returns (vid, yvec). 100 TB shape: moments are one
    * map-side-combined aggregate (d²/2 cells), rotation is map-side. */
  def opqRotate(df: DataFrame, id: Column, vec: Column,
      dim: Int = 64): DataFrame = {
    val cov = covarianceMatrix(df, id, vec)
    val wcomp = cov.select(col("i"), col("cov"))
      .unionByName(cov.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("cov")))
      .groupBy(col("i")).agg(sum(col("cov").cast(Dec)).as("ws"))
      .select(col("i"), col("ws").cast("double").as("w"))
    val rot = wcomp
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("i"), col("w")))),
        s => s.getField("w")).as("wvec"))
      .withColumn("snw",
        sqrt(VecKernels.vecDotDec(col("wvec"), col("wvec")).cast("double")))
      .select(col("snw"), transform(col("wvec"),
        wi => wi / col("snw") - lit(1.0) / sqrt(lit(dim.toDouble)))
        .as("pvec"))
      .withColumn("pp",
        VecKernels.vecDotDec(col("pvec"), col("pvec")).cast("double"))
    // Degenerate guards take the documented t=0 identity instead of
    // silently propagating NaN: snw=0 (all-zero covariance row sums —
    // a constant corpus) makes pvec NaN and pp NaN, and `pp < 1e-12`
    // is FALSE for NaN. When t=0 the output is x verbatim (never
    // x − 0·pvec, whose 0·NaN would still poison it).
    df.select(id.as("vid"), vec.cast("array<double>").as("v"))
      .crossJoin(broadcast(rot))
      .withColumn("pd",
        VecKernels.vecDotDec(col("v"), col("pvec")).cast("double"))
      .withColumn("t", when(col("pp") < lit(1e-12) || isnan(col("pp")) ||
          col("snw") < lit(1e-12), lit(0.0))
        .otherwise(lit(2.0) * col("pd") / col("pp")))
      .select(col("vid"),
        when(col("t") === lit(0.0), col("v"))
          .otherwise(zip_with(col("v"), col("pvec"),
            (x, pi) => x - col("t") * pi)).as("yvec"))
  }

  def dimVarianceAudit(df: DataFrame, vec: Column): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val Q = 1048576.0 // 2^20
    val comp = df.select(posexplode(vec))
      .repartition(p)
      .select(col("pos").as("i"), col("col").cast("double").as("x"))
      .withColumn("q", floor(col("x") * Q).cast("long"))
    val meanQ = col("s1").cast("double") / col("n").cast("double")
    comp.groupBy(col("i"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("s1"),
        sum(col("q") * col("q")).as("s2"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"))
      .select(col("i").cast("long").as("i"), col("n"),
        (meanQ / Q).as("mean"),
        ((col("s2").cast("double") / col("n").cast("double")
          - meanQ * meanQ) / (Q * Q)).as("variance"),
        col("x_min"), col("x_max"))
      .withColumn("is_dead", col("variance") < lit(1e-6))
  }

  /** Occlusion-rule neighbor SELECTION over a candidate pool — the
    * shared primitive behind [[diversifyGraph]] (one-shot store
    * pruning) and [[graphAppend]] (HNSW's insert-side neighbor
    * selection, Malkov & Yashunin §4): rank the pool per node by
    * (cosine DESC, id ASC), drop every candidate b OCCLUDED by a
    * higher-ranked pool member b′ (cos(b′, b) > cos(node, b) — b′
    * already covers b's direction), re-rank survivors in original
    * order, cut to `k`. Checking against all higher-ranked pool
    * members (not just kept ones) is the deterministic order-free
    * relaxation — it over-prunes slightly but unrolls to one
    * self-join, and gives the auditable invariant that NO selected
    * edge is occluded by ANY higher-ranked selected edge. Pool is
    * (node_id, nbr_id, cosine); `v` must carry vectors for every id
    * appearing as nbr (vid, v, sn). Pairs are pool-bounded (node ×
    * |pool|²), one codegen'd exact-decimal dot each — never corpus². */
  private[graft] def occlusionSelect(pool: DataFrame, v: DataFrame,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("node_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    val ranked = graft.Tables.materialize(
      pool.withColumn("rank", row_number().over(w)))
    val pairs = ranked.as("x").join(ranked.as("y"),
        col("x.node_id") === col("y.node_id") &&
          col("y.rank") < col("x.rank"))
      .select(col("x.node_id").as("node_id"),
        col("x.nbr_id").as("nbr_id"), col("x.cosine").as("cos_ab"),
        col("y.nbr_id").as("occ"))
    val occluded = pairs
      .join(v.select(col("vid").as("nbr_id"), col("v").as("bv"),
        col("sn").as("sb")), "nbr_id")
      .join(v.select(col("vid").as("occ"), col("v").as("pv"),
        col("sn").as("sp")), "occ")
      .filter(VecKernels.vecDotDec(col("bv"), col("pv")).cast("double") /
        (col("sb") * col("sp")) > col("cos_ab"))
      .select(col("node_id"), col("nbr_id")).distinct()
    ranked.join(occluded, Seq("node_id", "nbr_id"), "left_anti")
      .withColumn("new_rank", row_number().over(
        Window.partitionBy(col("node_id")).orderBy(col("rank").asc)))
      .filter(col("new_rank") <= k)
      .select(col("node_id"), col("nbr_id"),
        col("new_rank").as("rank"), col("cosine"))
  }

  /** Incremental k-NN-graph APPEND — the HNSW insertion primitive
    * (Malkov & Yashunin: insert = search-then-connect, here on the
    * flat layer) as a batch operator over a persisted graph: each
    * appended vector is PLACED by [[graphBeamSearch]] over the
    * existing graph (serving-as-insertion — the same walk a query
    * takes, so placement costs beam·degree per hop, independent of
    * base size); its neighbor list is OCCLUSION-SELECTED from the
    * full beam pool ([[occlusionSelect]] — HNSW's insert-side
    * neighbor-selection heuristic, so a diversity-pruned store stays
    * diversity-pruned under ingest), and every selected edge (q→b)
    * proposes q as a REVERSE neighbor of b — touched base lists
    * occlusion-select from (existing ∪ proposals) under the same
    * (cosine DESC, id ASC) total order. Cosine is symmetric, so the
    * reverse edge reuses the walk's exact score — no second kernel
    * pass. Through round 16 both selections were plain cosine top-k,
    * which re-introduced on every ingest tick exactly the redundant
    * edges [[diversifyGraph]] removes; the occlusion selection is
    * what makes the diversified store's serving-recall win (measured
    * 0.54 → 0.79 at equal degree) hold under ingest.
    *
    * After the selection, ORPHANS are repaired: an appended node
    * present in no updated list (it would be unreachable to serving
    * except as an entry) is FORCED into its nearest touched list
    * (rank-1 selected placement target). The target's list pre-cuts
    * to max(k − |adoptees|, 0) and the union re-ranks with a final
    * rank ≤ k cut, so the capacity-k contract holds even when more
    * than k orphans share one target; the excess adoptees (evicted
    * under the same total order) stay UNREACHABLE to serving — they
    * are emitted as `src='dropped'` observability rows rather than
    * silently cut, so a caller can count reachability-contract
    * misses per batch (and e.g. re-drive them as a retry wave).
    * Forced adoptees may be occluded — reachability outranks
    * diversity for repair edges.
    *
    * Returns (node_id, nbr_id, rank, cosine, src): `src='appended'`
    * rows are the new nodes' lists, `src='updated'` the re-selected
    * (and where needed, repaired) lists of the base nodes the append
    * touched — exactly the delta a persisted graph store writes
    * back (write-back excludes the `src='dropped'` rows, whose
    * rank > k); untouched lists never move. This is what makes a graph index viable at 100 TB:
    * ingest cost scales with the BATCH (walks + a touched-list
    * re-rank), never with the corpus — the graph twin of the
    * incremental IVF/PQ/LSH append gates. */
  def graphAppend(base: DataFrame, id: Column, vec: Column,
      graph: DataFrame, appended: DataFrame, appendedId: Column,
      appendedVec: Column, k: Int = 8, beam: Int = 16, hops: Int = 3,
      entries: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // entries: the stratified stride over the base id order — since
    // round 16 this IS [[graphBeamSearch]]'s default convention
    // (one entry per ⌈n/entries⌉ block; a k-NN graph over a clustered
    // corpus is DISCONNECTED, so entries must spread across the graph
    // — the role HNSW's upper layers play)
    val vAll = graft.Tables.materialize(
      vectors(base, id, vec, "vid", "v", "sn").unionByName(
        vectors(appended, appendedId, appendedVec, "vid", "v", "sn")))
    // full beam pool (k = beam): the selection heuristic picks k
    // diverse neighbors from all beam candidates, not the k closest
    val pool = graft.Tables.materialize(
      graphBeamSearch(base, id, vec, graph, appended, appendedId,
        appendedVec, k = beam, beam = beam, hops = hops,
        entries = entries))
    val placed = graft.Tables.materialize(
      occlusionSelect(pool.select(col("query_id").as("node_id"),
        col("nbr_id"), col("cosine")), vAll, k))
    val rev = placed.select(col("nbr_id").as("node_id"),
      col("node_id").as("nbr_id"), col("cosine"))
    val existing = graph
      .join(rev.select(col("node_id")).distinct(),
        Seq("node_id"), "left_semi")
      .select(col("node_id"), col("nbr_id"), col("cosine"))
    val w = Window.partitionBy(col("node_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    val updated = graft.Tables.materialize(
      occlusionSelect(existing.unionByName(rev), vAll, k))
    // ORPHAN REPAIR — forced reverse-adoption: an appended node whose
    // reverse proposals ALL lost their selections sits in no base
    // list — unreachable to serving except as an entry. Each such
    // orphan claims a slot in its NEAREST touched list (its rank-1
    // selected placement target); capacity stays ≤ k via the
    // max(k − |adoptees|, 0) pre-cut + final rank ≤ k cut.
    val orphans = placed.select(col("node_id").as("query_id")).distinct()
      .join(updated.select(col("nbr_id").as("query_id")),
        Seq("query_id"), "left_anti")
      .select(col("query_id").as("node_id"))
    val adopt = placed.filter(col("rank") === 1)
      .join(orphans, Seq("node_id"), "left_semi")
      .select(col("nbr_id").as("node_id"),
        col("node_id").as("nbr_id"), col("cosine"))
    val acnt = adopt.groupBy(col("node_id"))
      .agg(count(lit(1)).as("na"))
    val ranked = updated.join(acnt, Seq("node_id"))
      .filter(col("rank") <= greatest(lit(k) - col("na"), lit(0)))
      .select(col("node_id"), col("nbr_id"), col("cosine"))
      .unionByName(adopt)
      .withColumn("rank", row_number().over(w))
    val repaired = ranked.filter(col("rank") <= k)
    val finalUpd = repaired
      .unionByName(updated
        .join(acnt, Seq("node_id"), "left_anti")
        .select(col("node_id"), col("nbr_id"), col("cosine"),
          col("rank")))
    placed
      .select(col("node_id"), col("nbr_id"), col("rank"), col("cosine"))
      .withColumn("src", lit("appended"))
      .unionByName(finalUpd
        .select(col("node_id"), col("nbr_id"), col("rank"),
          col("cosine"))
        .withColumn("src", lit("updated")))
      // evicted adoptions (> k orphans claiming one target) — NOT
      // store edges; observability rows so a silently-unreachable
      // insert is visible in the delta. Write-back excludes them.
      .unionByName(ranked.filter(col("rank") > k)
        .select(col("node_id"), col("nbr_id"), col("rank"),
          col("cosine"))
        .withColumn("src", lit("dropped")))
  }

  /** Tombstone DELETE from a k-NN graph store with HOLE REPAIR — the
    * remaining lifecycle operation next to build ([[nnDescent]]),
    * serve ([[graphBeamSearch]]), append ([[graphAppend]]) and
    * streaming maintenance: deleted nodes' lists drop outright, and
    * every surviving list that LOST a member (a "hole") re-selects
    * from (surviving members ∪ BRIDGE candidates) — the bridge set is
    * each deleted member's own neighbor list (the 2-hop-through-the-
    * tombstone reconnection every production HNSW deletion uses:
    * the deleted node's neighborhood is exactly where its in-edges
    * were pointing, so re-linking through it preserves local
    * connectivity instead of just shrinking lists). Bridge cosines
    * are computed with the same exact-decimal kernel; selection is
    * [[occlusionSelect]], so a diversified store stays diversified
    * through deletion too.
    *
    * After the re-selection, deletion ORPHANS are repaired: a live
    * node whose every adoption lived in dropped or rewritten lists
    * and survived no re-selection would be unreachable to serving —
    * it force-adopts into its NEAREST CANDIDATE touched list
    * (highest cosine, id tiebreak, candidates restricted to touched
    * lists 2-hop-adjacent to the orphan's former adopters —
    * [[deleteAdoptionCandidates]]; the naive global-nearest form is
    * a deletion-batch-quadratic cross join), capacity-capped like
    * the append repair
    * (max(k − |adoptees|, 0) pre-cut + final rank ≤ k cut). Adopted
    * edges rank LAST in their list (they are reachability patches,
    * not proximity neighbors), which keeps the occlusion audit
    * exact: only `src = 'adopted'` rows may ever be occluded —
    * genuine repair rows were all selected against every
    * higher-ranked pool member.
    *
    * Cost scales with the TOUCHED lists (holes × the deleted
    * member's list length — batch-bounded, never corpus-bounded)
    * plus |orphans| × in-degree × list-degree for the adoption
    * candidates; untouched
    * lists never move, the store write-back is the returned delta ∪
    * untouched MINUS src='dropped' rows. Returns the repaired
    * touched lists (node_id, nbr_id, rank ≤ k, cosine, src ∈
    * {repair, adopted}) plus observability rows (src = 'dropped',
    * rank > k): adoptions evicted when more than k orphans share
    * one target — those orphans stay unreachable, and the delta
    * says so instead of silently cutting them. */
  def graphDelete(corpus: DataFrame, id: Column, vec: Column,
      graph: DataFrame, deleted: DataFrame, deletedId: Column,
      k: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val del = graft.Tables.materialize(
      deleted.select(deletedId.as("del_id")))
    val g = graft.Tables.materialize(
      graph.select(col("node_id"), col("nbr_id"), col("cosine")))
    val v = graft.Tables.materialize(
      vectors(corpus, id, vec, "vid", "v", "sn"))
    val gKeep = g.join(del.select(col("del_id").as("node_id")),
      Seq("node_id"), "left_anti")
    val holeEdges = gKeep
      .join(del.select(col("del_id").as("nbr_id")),
        Seq("nbr_id"), "left_semi")
    val touched = holeEdges.select(col("node_id")).distinct()
    val survivors = gKeep
      .join(touched, Seq("node_id"), "left_semi")
      .join(del.select(col("del_id").as("nbr_id")),
        Seq("nbr_id"), "left_anti")
      .select(col("node_id"), col("nbr_id"), col("cosine"))
    val bridge = holeEdges
      .select(col("node_id"), col("nbr_id").as("mid"))
      .join(g.select(col("node_id").as("mid"),
        col("nbr_id").as("cand")), "mid")
      .filter(col("cand") =!= col("node_id"))
      .join(del.select(col("del_id").as("cand")),
        Seq("cand"), "left_anti")
      .select(col("node_id"), col("cand").as("nbr_id")).distinct()
      .join(survivors.select(col("node_id"), col("nbr_id")),
        Seq("node_id", "nbr_id"), "left_anti")
      .join(v.select(col("vid").as("node_id"), col("v").as("av"),
        col("sn").as("sa")), "node_id")
      .join(v.select(col("vid").as("nbr_id"), col("v").as("bv"),
        col("sn").as("sb")), "nbr_id")
      .withColumn("cosine",
        VecKernels.vecDotDec(col("av"), col("bv")).cast("double") /
          (col("sa") * col("sb")))
      .select(col("node_id"), col("nbr_id"), col("cosine"))
    val sel = graft.Tables.materialize(
      occlusionSelect(survivors.unionByName(bridge), v, k))
    // deletion-ORPHAN repair: pre-delete adopters of a node were the
    // dropped lists ∪ the touched lists; post-delete adopters are the
    // untouched lists ∪ the re-selections. Live nodes in the first
    // set but absent from the second force-adopt into their nearest
    // touched list, rank-last.
    val postNbrs = gKeep.join(touched, Seq("node_id"), "left_anti")
      .select(col("nbr_id"))
      .unionByName(sel.select(col("nbr_id"))).distinct()
    val preNbrs = g
      .join(del.select(col("del_id").as("node_id")),
        Seq("node_id"), "left_semi")
      .select(col("nbr_id"))
      .unionByName(gKeep.join(touched, Seq("node_id"), "left_semi")
        .select(col("nbr_id")))
      .distinct()
    val orphans = preNbrs
      .join(del.select(col("del_id").as("nbr_id")),
        Seq("nbr_id"), "left_anti")
      .join(postNbrs, Seq("nbr_id"), "left_anti")
      .select(col("nbr_id").as("oid"))
    val adopt = deleteAdoptionCandidates(g, touched, orphans)
      .join(v.select(col("vid").as("node_id"), col("v").as("tv"),
        col("sn").as("st")), "node_id")
      .join(v.select(col("vid").as("oid"), col("v").as("ov"),
        col("sn").as("so")), "oid")
      .withColumn("cosine",
        VecKernels.vecDotDec(col("tv"), col("ov")).cast("double") /
          (col("st") * col("so")))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("oid"))
          .orderBy(col("cosine").desc, col("node_id").asc)))
      .filter(col("r") === 1)
      .select(col("node_id"), col("oid").as("nbr_id"), col("cosine"))
    val acnt = adopt.groupBy(col("node_id"))
      .agg(count(lit(1)).as("na"))
    val wTail = Window.partitionBy(col("node_id"))
      .orderBy(col("ad").asc, col("cosine").desc, col("nbr_id").asc)
    val ranked = sel.join(acnt, Seq("node_id"))
      .filter(col("rank") <= greatest(lit(k) - col("na"), lit(0)))
      .select(col("node_id"), col("nbr_id"), col("cosine"),
        lit(0).as("ad"))
      .unionByName(adopt.withColumn("ad", lit(1)))
      .withColumn("rank", row_number().over(wTail))
    val repaired = ranked.filter(col("rank") <= k)
      .select(col("node_id"), col("nbr_id"), col("rank"),
        col("cosine"),
        when(col("ad") === 1, lit("adopted")).otherwise(lit("repair"))
          .as("src"))
    // evicted adoptions (> k orphans sharing one target) are NOT
    // store edges — emitted src='dropped' so the reachability-
    // contract failure is observable in the delta; write-back paths
    // must exclude them
    val dropped = ranked.filter(col("rank") > k)
      .select(col("node_id"), col("nbr_id"), col("rank"),
        col("cosine"), lit("dropped").as("src"))
    repaired.unionByName(dropped).unionByName(
      sel.join(acnt, Seq("node_id"), "left_anti")
        .select(col("node_id"), col("nbr_id"), col("rank"),
          col("cosine"), lit("repair").as("src")))
  }

  /** Adoption-CANDIDATE generation for [[graphDelete]]'s orphan
    * repair: an orphan may adopt only into a touched list 2-hop-
    * adjacent (undirected, over the pre-delete graph) to one of its
    * FORMER ADOPTERS — the lists that held the orphan pre-delete
    * (by the orphan definition every former adopter is a dropped or
    * a touched list, so the repair edge stays in the neighborhood
    * the deletion tore). Candidate volume is |orphans| × in-degree ×
    * (1 + degree + in-degree) — BATCH-bounded, the delete twin of
    * [[graphAppend]]'s beam placement — where the naive form
    * (`touched × orphans`) is deletion-batch-QUADRATIC: both sides
    * grow with |del|, ~k·|del|² pairs through a broadcast nested
    * loop at a production-sized delete batch. Honesty note on the
    * INPUT side: the two 2-hop expansion joins each scan the full
    * pre-delete graph relation once (corpus-LINEAR input, like the
    * caller's own store re-selection scans) — it is the candidate
    * OUTPUT volume, not the scan input, that is batch-bounded.
    * Returns distinct
    * (node_id ∈ touched, oid) pairs; an orphan whose whole 2-hop
    * adopter neighborhood holds no touched list (its only adopters
    * were deleted nodes with no surviving in-edges — lists that were
    * themselves near-unreachable) yields no pair and surfaces via
    * the caller's src='dropped' accounting being absent entirely. */
  private[graft] def deleteAdoptionCandidates(g: DataFrame,
      touched: DataFrame, orphans: DataFrame): DataFrame = {
    val fad = g.select(col("node_id").as("fa"), col("nbr_id").as("oid"))
      .join(orphans, Seq("oid"), "left_semi")
    fad.select(col("fa").as("node_id"), col("oid"))
      .unionByName(fad.join(
        g.select(col("node_id").as("fa"), col("nbr_id").as("t2")),
        "fa").select(col("t2").as("node_id"), col("oid")))
      .unionByName(fad.join(
        g.select(col("nbr_id").as("fa"), col("node_id").as("t2")),
        "fa").select(col("t2").as("node_id"), col("oid")))
      .distinct()
      .join(touched, Seq("node_id"), "left_semi")
  }

  /** Neighbor-DIVERSITY pruning of a k-NN graph — the occlusion rule
    * behind HNSW's insert-side neighbor selection and NSG's edge
    * selection (Malkov & Yashunin §4; Fu et al., NSG), in the
    * order-free one-shot form: neighbor b of node a is OCCLUDED when
    * some HIGHER-RANKED neighbor b′ is closer to b than a is
    * (cos(b′, b) > cos(a, b)) — b′ already covers b's direction, so
    * keeping b spends a list slot on a redundant edge; dropping it
    * lets the list span more directions at the same degree, which is
    * what lets a greedy walk ESCAPE a dense neighborhood. (True HNSW
    * checks only against already-KEPT neighbors — a sequential
    * greedy; checking against all higher-ranked is the deterministic
    * order-free relaxation that over-prunes slightly but unrolls to
    * one self-join, no per-slot iteration.) Survivors re-rank in
    * their original (cos DESC, id ASC) order and cut to `degree`.
    *
    * Scale shape: the candidate pair set is node × k² (list-bounded,
    * never corpus²); one codegen'd exact-decimal dot per pair; the
    * verdict is a distinct anti-join + one per-node window. Delegates
    * to [[occlusionSelect]] — PRECONDITION: the input graph's stored
    * `rank` column is IGNORED; ranks are re-derived from the
    * (cosine DESC, nbr_id ASC) total order, which matches every
    * [[nnDescent]] output (identical outcome, one definition shared
    * with the append path). A caller whose stored rank order
    * deviates from that total order gets the re-derived order, not
    * its own. Returns (node_id, nbr_id,
    * rank ≤ degree, cosine). */
  def diversifyGraph(corpus: DataFrame, id: Column, vec: Column,
      graph: DataFrame, degree: Int): DataFrame = {
    require(degree >= 1, "degree >= 1")
    val v = graft.Tables.materialize(
      vectors(corpus, id, vec, "vid", "v", "sn"))
    occlusionSelect(
      graph.select(col("node_id"), col("nbr_id"), col("cosine")),
      v, degree)
  }

  // ----------------------------------------------------- binary (1-bit)

  /** Per-dimension centering thresholds for 1-bit sign quantization:
    * for each dimension i, (Σ x_i as DOUBLE from an exact DECIMAL
    * fold, row count n). One corpus pass — a 64-key hash aggregate
    * with map-side partial combine — and a 64-row driver collect
    * (bounded; the k-means-sample license) so the encoder below can
    * be a zero-shuffle literal expression chain. The bit rule
    * downstream is `x·n > Σ` rather than `x > Σ/n`: the compare is an
    * IEEE multiply against an exactly-summed threshold, so no
    * engine's mean-division rounding can flip a bit at the boundary
    * (the DuckDB twin replays the identical algebra). */
  def binaryDimThresholds(df: DataFrame, vec: Column, dim: Int)
      : Array[(Double, Long)] = {
    // same ragged-row guard as the encoder: a stray over-length
    // vector would otherwise index past the thresholds array
    val rows = df.select(vec.as("bv")).filter(size(col("bv")) === dim)
      .select(posexplode(col("bv")))
      .select(col("pos").as("i"), col("col").cast("double").as("x"))
      .groupBy(col("i"))
      .agg(sum(col("x").cast(Dec)).cast("double").as("s"),
        count(lit(1)).as("n"))
      .collect()
    val out = Array.fill(dim)((0.0, 0L))
    rows.foreach { r => out(r.getInt(0)) = (r.getDouble(1), r.getLong(2)) }
    out
  }

  /** 1-bit sign quantization: bit i = (x_i · n > Σ_i), packed into two
    * 32-bit half-words stored as BIGINTs (`w0` = dims [0,32), `w1` =
    * [32,64)) — 64 floats collapse to 8 bytes, the coarsest rung of
    * the quantization ladder (float → int8 → PQ → 1-bit) and the form
    * a 100 TB corpus keeps RESIDENT for first-stage filtering. The
    * encode is a static 64-term when-chain over the driver-collected
    * thresholds: map-side, zero shuffle, whole-stage-codegen'd — the
    * corpus never row-expands. Two half-words keep every packed value
    * < 2³², so neither engine's signed-BIGINT shift edge cases (bit
    * 63) are ever in play. */
  def binarySignWords(df: DataFrame, id: Column, vec: Column,
      thresholds: Array[(Double, Long)]): DataFrame = {
    require(thresholds.length == 64,
      s"binarySignWords expects dim 64, got ${thresholds.length}")
    def word(lo: Int): Column =
      (lo until lo + 32).map { i =>
        val (s, n) = thresholds(i)
        when(element_at(col("bv"), i + 1).cast("double") *
            lit(n.toDouble) > lit(s), lit(1L << (i - lo)))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    df.select(id.as("bid"), vec.as("bv"))
      .filter(size(col("bv")) === 64)
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col("bid"), word(0).as("w0"), word(32).as("w1"))
  }

  /** Hamming distance between two packed (w0, w1) pairs: two XORs +
    * two popcounts, integer-exact (ties in the ranking break on id as
    * everywhere else). */
  def hammingWords(aw0: Column, aw1: Column,
      bw0: Column, bw1: Column): Column =
    (call_function("bit_count", aw0.bitwiseXOR(bw0)) +
      call_function("bit_count", aw1.bitwiseXOR(bw1))).cast("long")
}
