package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Corpus, Dedup, Graph, Similarity}
import graft.functions.TextFunctions

/** Training-data pipeline operators (SURVEY.md §7.1 `ext`): text
  * analysis, dedup family, embedding similarity — each with a DuckDB
  * oracle that reconstructs the exact same hashes/arithmetic (portable
  * md5-based hashing, exact DECIMAL folds; see Dedup/Similarity docs).
  */
object ExtQueries {

  // ---------------------------------------------------------------- text

  def textStats(spark: SparkSession, dir: String): DataFrame = {
    import TextFunctions._
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      tokenCount(col("text")).as("n_tokens"),
      regexTokenCount(col("text")).as("n_subwords"),
      punctRatio(col("text")).as("punct_ratio"),
      stopwordRatio(col("text")).as("stopword_ratio"),
      avgTokenLength(col("text")).as("avg_token_len"),
      qualityScore(col("text")).as("quality"))
  }

  def textLangId(spark: SparkSession, dir: String): DataFrame = {
    import TextFunctions._
    val scores = LangMarkers.map { case (lang, m) =>
      langScore(col("text"), m).as(s"score_$lang")
    }
    Tables(spark, dir, "documents").select(
      col("doc_id") +: langId(col("text")).as("lang_guess") +: scores: _*)
  }

  /** RESIDUAL IVF-PQ serving gate
    * ([[Similarity.ivfPqResidualTopK]]): the full FAISS layout —
    * codebooks over x − c(x), inner-product scoring decomposed as the
    * integer coarse term round(⟨q,c⟩·2²⁰) plus raw-query × residual-
    * codebook ADC lookups. The oracle builds the residual component
    * relation from the shared cell-assignment CTEs and reuses the
    * whole PQ chain over it.
    *
    * Measured on THIS corpus: recall@10 0.61 vs raw-PQ's 0.68 — the
    * residual variant LOSES here, and that is the instructive number:
    * residuals concentrate codebook capacity on within-cell structure
    * only when the coarse quantizer captures real structure; under
    * near-uniform data with seed cells the residual distribution is
    * HARDER to quantize than the raw vectors. A deployment reads
    * exactly `ann_residual_recall_audit` (against clustered data,
    * where residuals win) before picking the layout. */
  // The four PQ top-10 stacks below each serve THREE consumers (their
  // own gate plus ann_residual_recall_audit / ann_opq_recall and the
  // off-seed audit), so they ride the SharedFrames persist-once
  // pattern — the first consumer builds, the audits read back.
  //
  // Each build trains ONCE and serves BOTH query bands (the seed band
  // vec_id < 10 and the off-seed band [100, 110)) in one pass:
  // training (codebooks, centroids, rotation) is query-independent
  // and serving is per-query (probes, ADC table, rank all partition
  // by query_id), so the seed-band rows of a two-band serve are
  // byte-identical to a seed-only serve — the existing gates' hashes
  // cannot move.
  private val bothBands: Column =
    col("vec_id") < 10 || (col("vec_id") >= 100 && col("vec_id") < 110)
  private def splitBands(top: DataFrame): Seq[(String, DataFrame)] = {
    val m = Tables.materialize(top)
    Seq("topk" -> m.filter(col("query_id") < 10),
      "topk_offseed" -> m.filter(col("query_id") >= 100))
  }

  private def pqSeedResidualFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] =
    SharedFrames(spark, dir, "pq_seed_residual_topk") {
      val emb = Tables(spark, dir, "embeddings")
      splitBands(Similarity.ivfPqResidualTopK(emb, col("vec_id"),
        col("embedding"), emb.filter(bothBands), col("vec_id"),
        col("embedding"), k = 10, numCells = 16, nProbe = 4, m = 16,
        ksub = 64, iters = 2, sampleMod = 1))
    }
  private def pqSeedResidualTopK(spark: SparkSession, dir: String)
      : DataFrame = pqSeedResidualFrames(spark, dir)("topk")

  private def pqTrainedResidualFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] =
    SharedFrames(spark, dir, "pq_trained_residual_topk") {
      val emb = Tables(spark, dir, "embeddings")
      val cent = Similarity.kmeansCentroids(emb, col("vec_id"),
        col("embedding"), numCells = 16, iters = 3, sampleMod = 4)
      splitBands(Similarity.ivfPqResidualTopK(emb, col("vec_id"),
        col("embedding"), emb.filter(bothBands), col("vec_id"),
        col("embedding"), k = 10, numCells = 16, nProbe = 4, m = 16,
        ksub = 64, iters = 2, sampleMod = 1, centroids = Some(cent)))
    }
  private def pqTrainedResidualTopK(spark: SparkSession, dir: String)
      : DataFrame = pqTrainedResidualFrames(spark, dir)("topk")

  private def pqFlatFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] =
    SharedFrames(spark, dir, "pq_flat_topk") {
      val emb = Tables(spark, dir, "embeddings")
      val queries = emb.filter(bothBands)
      val (cbs, codes) = Similarity.buildPqIndex(emb, col("vec_id"),
        col("embedding"), m = 16, ksub = 64, iters = 2, sampleMod = 1)
      splitBands(Similarity.pqAdcTopK(
        emb.select(col("vec_id").as("nbr_id"))
          .crossJoin(broadcast(queries.select(col("vec_id").as("query_id")))),
        codes,
        Similarity.pqAdcTable(queries, col("vec_id"), col("embedding"),
          cbs), k = 10)) ++
        // the PERSISTED store artifacts, exposed for the delete-serve
        // and compaction lifecycle gates (one training, many readers)
        Seq("codes" -> codes, "codebooks" -> cbs)
    }
  private def pqFlatTopK(spark: SparkSession, dir: String): DataFrame =
    pqFlatFrames(spark, dir)("topk")

  private def opqIvfPqFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] =
    SharedFrames(spark, dir, "opq_ivf_pq_topk") {
      val emb = Tables(spark, dir, "embeddings")
      val rotated = Tables.materialize(
        Similarity.opqRotate(emb, col("vec_id"), col("embedding"),
          dim = 64))
      val cent = Similarity.kmeansCentroids(rotated, col("vid"),
        col("yvec"), numCells = 16, iters = 3, sampleMod = 4)
      splitBands(Similarity.ivfPqResidualTopK(rotated, col("vid"),
        col("yvec"),
        rotated.filter(col("vid") < 10 ||
          (col("vid") >= 100 && col("vid") < 110)), col("vid"),
        col("yvec"), k = 10, numCells = 16, nProbe = 4, m = 16,
        ksub = 64, iters = 2, sampleMod = 1, centroids = Some(cent)))
    }
  private def opqIvfPqTopK(spark: SparkSession, dir: String): DataFrame =
    opqIvfPqFrames(spark, dir)("topk")

  def annIvfPqResidual(spark: SparkSession, dir: String): DataFrame =
    pqSeedResidualTopK(spark, dir)

  /** TRAINED-cell residual IVF-PQ — the full FAISS production layout:
    * coarse cells from 3 Lloyd's rounds ([[Similarity.kmeansCentroids]],
    * the `ann_ivf_kmeans` constants), residual codebooks trained on
    * x − ĉ(x) against the UNIT-normalized trained cells. The oracle
    * composes the unrolled kmeans CTE chain with the residual-PQ
    * chain — the same audited pieces, adapted relation names.
    *
    * Reading the audit (`ann_residual_recall_audit`): the GATED rows
    * show flat 0.68 / seed 0.61 / trained 0.47 — but the seed number
    * rides a fixture artifact: the gate's queries (vec_id < 10) are
    * THEMSELVES seed centroids, so seed cells are query-centered
    * (near-zero residual and an exact coarse term for each query's
    * own cell). The round-14 off-seed A/B (SURVEY.md, "Round 14")
    * re-ran the same comparison over query bands that are NOT seed
    * ids: trained wins every band
    * (45/48/49 vs seed's 38/39/37 hits of 100 at bands 100/200/300) —
    * the Lloyd's rounds buy ~+25% relative recall for the residual
    * layout on honest queries, even on this near-uniform corpus. */
  def annIvfPqTrained(spark: SparkSession, dir: String): DataFrame =
    pqTrainedResidualTopK(spark, dir)

  /** Residual-layout recall audit — the measurement that picks the PQ
    * layout before anything ships: recall@10 against the exact
    * brute-force top-10 for (a) flat ADC (no IVF pruning — the
    * compression ceiling), (b) seed-cell residual IVF-PQ, (c)
    * TRAINED-cell residual IVF-PQ, all at the same m/ksub/probe
    * budget. The flat−residual gap separates probing loss from
    * compression loss; the trained−seed gap is what the Lloyd's
    * rounds buy the residual layout — on THIS gate's query band it
    * reads inverted because the queries double as seed centroids (see
    * [[annIvfPqTrained]]'s scaladoc and the round-14 off-seed A/B in
    * SURVEY.md, which shows trained > seed on every off-seed band). One
    * brute-force truth set, three candidate stacks. */
  def annResidualRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val truth = Tables.materialize(
      Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), 10)
        .select(col("query_id"), col("nbr_id")))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    // all four candidate stacks are the shared persisted top-10
    // frames their own gates build — the audit reads, never retrains
    val flat = pqFlatTopK(spark, dir)
    val seed = pqSeedResidualTopK(spark, dir)
    val trained = pqTrainedResidualTopK(spark, dir)
    // the SHIPPED composition (rotation + trained cells + residual
    // PQ) graded on the same truth — rotation is orthogonal, so the
    // original-space top-10 stays the right answer key
    val composed = opqIvfPqTopK(spark, dir)
    recallRows(truth, nq, Seq("flat_adc" -> flat,
      "seed_residual" -> seed, "trained_residual" -> trained,
      "opq_trained_residual" -> composed))
  }

  /** recall@k rows for N candidate stacks against one truth set —
    * shared by the residual audits and the NN-Descent audit. */
  private def recallRows(truth: DataFrame, nq: DataFrame,
      stacks: Seq[(String, DataFrame)], k: Int = 10): DataFrame = {
    def hitRow(name: String, top: DataFrame): DataFrame =
      top.select(col("query_id"), col("nbr_id"))
        .join(truth, Seq("query_id", "nbr_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(name).as("variant"), col("n_hits"))
    stacks.map((hitRow _).tupled).reduce(_ unionByName _)
      .crossJoin(broadcast(nq))
      .select(col("variant"), col("n_hits"),
        (col("nq") * k).as("n_possible"),
        (col("n_hits").cast("double") /
          (col("nq") * k).cast("double")).as("recall"))
  }

  /** OFF-SEED residual-recall audit — the gated number a deployment
    * ACTS on. [[annResidualRecallAudit]]'s query band (vec_id < 10)
    * doubles as the seed-centroid set, which inverts the trained-vs-
    * seed comparison (seed cells are query-centered there); this gate
    * re-runs the identical four-stack A/B over a query band DISJOINT
    * from every seeding input — vec_id ∈ [100, 110): not an IVF seed
    * cell (first 16 ids), not a PQ codebook seed (first 64 sampled
    * ids ⊂ [0, 64)), not a kmeans-trained seed (vec_id % 4 = 0 picks
    * [0, 64) ∩ 4ℤ). Each stack is the SAME persisted frame its own
    * gate serves, sliced at the off-seed band (training ran once for
    * both bands). On honest queries the Lloyd's rounds win: trained ≥
    * seed here, matching the round-14 off-gate sweep (SURVEY.md)
    * (45/48/49 vs 38/39/37 of 100 at bands 100/200/300) — the
    * seed-band gate stays as the documented fixture-artifact
    * demonstration. */
  def annResidualOffseedAudit(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val truth = Tables.materialize(
      Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), 10)
        .select(col("query_id"), col("nbr_id")))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    recallRows(truth, nq, Seq(
      "flat_adc" -> pqFlatFrames(spark, dir)("topk_offseed"),
      "seed_residual" -> pqSeedResidualFrames(spark, dir)("topk_offseed"),
      "trained_residual" ->
        pqTrainedResidualFrames(spark, dir)("topk_offseed"),
      "opq_trained_residual" -> opqIvfPqFrames(spark, dir)("topk_offseed")))
  }

  /** Shared NN-Descent frames ([[Similarity.nnDescentStates]],
    * k = 8): ONE 4-round trajectory build whose states 0..4 are the
    * audits' convergence-curve points — round r is a prefix of round
    * r + 1's computation, so the single pass replaces the three
    * separate builds (init + 1-round + 3-round) this tier ran through
    * round 15 AND extends the curve to round 4 for the parameter
    * sweep. `knn` (round 3) stays the serving graph every graph-family
    * gate reads. */
  private def nnDescentFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] =
    SharedFrames(spark, dir, "nndescent_knn") {
      val emb = Tables(spark, dir, "embeddings")
      val st = Similarity.nnDescentStates(emb,
        col("vec_id"), col("embedding"), k = 8, rounds = 4)
      Seq("knn" -> st(3), "knn_r1" -> st(1), "knn_init" -> st(0),
        "knn_r2" -> st(2), "knn_r4" -> st(4))
    }

  /** Shared k = 16 NN-Descent trajectory — the second axis of the
    * parameter sweep (list width), built once per (applicationId,
    * sfDir) from one 4-round pass. */
  private def nnDescentK16Frames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] =
    SharedFrames(spark, dir, "nndescent_k16") {
      val emb = Tables(spark, dir, "embeddings")
      val st = Similarity.nnDescentStates(emb,
        col("vec_id"), col("embedding"), k = 16, rounds = 4)
      Seq("r2" -> st(2), "r3" -> st(3), "r4" -> st(4))
    }

  /** Shared exact top-10 truth for the OFF-SEED query band
    * [100, 110) — the answer key the three graph-serving audits
    * (`ann_graph_search_recall`, `ann_graph_entry_sweep`,
    * `ann_graph_diversify`) grade against, persisted once instead of
    * one brute pass per gate. */
  private def offseedTruth10(spark: SparkSession, dir: String)
      : DataFrame =
    SharedFrames(spark, dir, "offseed_truth10") {
      val emb = Tables(spark, dir, "embeddings")
      Seq("truth" -> Similarity.bruteForceTopK(emb,
          col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") >= 100 && col("vec_id") < 110),
          col("vec_id"), col("embedding"), 10)
        .select(col("query_id"), col("nbr_id")))
    }("truth")

  /** Shared exact self-excluded top-8 truth over the vec_id < 100
    * node band ([[Similarity.bruteForceKnnTruth]]) — the answer key
    * both the NN-Descent recall audit and the parameter sweep grade
    * against, persisted once. */
  private def knnTruth8(spark: SparkSession, dir: String): DataFrame =
    SharedFrames(spark, dir, "knn_truth8") {
      val emb = Tables(spark, dir, "embeddings")
      Seq("truth" -> Similarity.bruteForceKnnTruth(emb,
          col("vec_id"), col("embedding"),
          emb.filter(col("vec_id") < 100), col("vec_id"),
          col("embedding"), 8)
        .select(col("query_id"), col("nbr_id")))
    }("truth")

  /** The persisted SERVING graph store — the lifecycle artifact
    * every graph-serving gate walks (round 17, deploying the
    * round-16 `ann_graph_diversify` measurement): build WIDE (the
    * shared k=16 4-round NN-Descent trajectory), occlusion-PRUNE to
    * degree 8 ([[Similarity.diversifyGraph]] — the HNSW/NSG
    * insert-side neighbor-selection rule), serve at degree-8 cost.
    * At equal degree the diversity-pruned store walked 0.79 recall@10
    * vs 0.54 for the raw k8_r3 build — this tier is that measured
    * win deployed as THE store `ann_graph_search`/`_recall`/
    * `_entry_sweep` serve from. */
  private def servingGraph(spark: SparkSession, dir: String)
      : DataFrame = {
    val k16r4 = nnDescentK16Frames(spark, dir)("r4")
    SharedFrames(spark, dir, "graph_diverse8") {
      val emb = Tables(spark, dir, "embeddings")
      Seq("diverse8" -> Similarity.diversifyGraph(emb,
        col("vec_id"), col("embedding"), k16r4, degree = 8))
    }("diverse8")
  }

  /** Graph-ANN SERVING gate ([[Similarity.graphBeamSearch]]): greedy
    * beam search over the persisted DIVERSIFIED store
    * ([[servingGraph]] — build-k16 → occlusion-prune to degree 8;
    * through round 16 this gate walked the raw k8_r3 build at 0.54
    * recall while the diversify audit had already measured 0.79 from
    * the same slots) — 8 STRATIFIED entries (one per ⌈n/8⌉ block of
    * the id order; the smallest-8 convention through round 15 was
    * measured by the round-16 serving A/B (SURVEY.md) to be the walk's
    * ceiling), beam 16, 3 hops, top-10 out — for the off-seed query
    * band [100, 110) (disjoint from the entry set at every SF:
    * stride ≥ n/8 ≥ 62 > 110's first stratum, so every hit is a
    * genuine graph walk). Per-query serving cost is beam·degree per
    * hop, independent of corpus size — the reason a deployment
    * builds the graph at all; the recall audit
    * (`ann_graph_search_recall`) records what that budget buys per
    * hop on THIS corpus — MEASURED at sf0.01 over the deployed
    * store: 0.18 / 0.56 / **0.79** at hops 1/2/3, vs 0.54 @ hop 3 on
    * the raw k8_r3 graph through round 16. Entry count stays 8 — the
    * recorded sweep decision at [[annGraphEntrySweep]]. */
  def annGraphSearch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.graphBeamSearch(emb, col("vec_id"), col("embedding"),
      servingGraph(spark, dir),
      emb.filter(col("vec_id") >= 100 && col("vec_id") < 110),
      col("vec_id"), col("embedding"),
      k = 10, beam = 16, hops = 3, entries = 8)
  }

  /** Beam-search recall-by-hop audit: recall@10 of the 1/2/3-hop
    * walks against the exact brute-force top-10 over the same
    * off-seed query band — the latency/recall frontier of graph
    * serving (each hop is one more batched round trip). The graph is
    * the persisted diversified store ([[servingGraph]]); the hop
    * curve shows how fast the beam exhausts the store's quality at
    * the deployed degree. */
  def annGraphSearchRecall(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val truth = offseedTruth10(spark, dir)
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val graph = servingGraph(spark, dir)
    def walk(h: Int): DataFrame =
      Similarity.graphBeamSearch(emb, col("vec_id"), col("embedding"),
        graph, queries, col("vec_id"), col("embedding"),
        k = 10, beam = 16, hops = h, entries = 8)
    recallRows(truth, nq, Seq(
      "hop1" -> walk(1), "hop2" -> walk(2), "hop3" -> walk(3)))
  }

  /** Serving-ENTRY sweep — the knob round 16's serving A/B (SURVEY.md)
    * surfaced as the real serving ceiling, recorded as a gated
    * frontier: recall@10 of the same beam-16/3-hop walk over the
    * DEPLOYED serving store ([[servingGraph]]) at entries ∈
    * {4, 8, 16, 32} (stratified stride), off-seed query band. Entry
    * count is the graph twin of IVF's nProbe — each entry seeds one
    * more beam basin, costing one more scored candidate set in hop 0
    * — so this table is what sizes the serving config next to
    * `ann_probe_sweep`. Walks only; the store and truth are
    * persisted shared frames.
    *
    * RECORDED DECISION (round 17): serving stays at 8 entries.
    * Round 16 measured the RAW k8_r3 graph at 0.45/0.54/0.62/0.61
    * (knee at 16); on the DEPLOYED diversified store this sweep
    * measures 0.53 / **0.79** / 0.76 / 0.73 at e4/e8/e16/e32 — e8 is
    * the argmax. The raw graph needed extra entry basins to compensate
    * for redundant lists trapping the walk; the diversified store
    * escapes from 8, and PAST 8 the extra far-basin seeds displace
    * productive candidates from the FIXED beam-16 state (recall
    * declines monotonically). Default and sweep agree. */
  def annGraphEntrySweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val truth = offseedTruth10(spark, dir)
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val graph = servingGraph(spark, dir)
    def walk(e: Int): DataFrame =
      Similarity.graphBeamSearch(emb, col("vec_id"), col("embedding"),
        graph, queries, col("vec_id"), col("embedding"),
        k = 10, beam = 16, hops = 3, entries = e)
    recallRows(truth, nq, Seq(
      "e4" -> walk(4), "e8" -> walk(8),
      "e16" -> walk(16), "e32" -> walk(32)))
  }

  /** Neighbor-DIVERSITY audit ([[Similarity.diversifyGraph]] — the
    * HNSW/NSG occlusion rule) + the build-width CONVERSION readout:
    * three degree-8 serving graphs walked at the same budget
    * (8 stratified entries, beam 16, 3 hops) and graded on the same
    * off-seed truth — the production k8_r3 build, the k16_r4 build
    * rank-TRUNCATED to 8 (pure width win), and the k16_r4 build
    * diversity-PRUNED to 8 (does spending the same 8 slots on
    * non-redundant directions beat spending them on the 8 closest?).
    * Equal degree means equal serving cost — the rows isolate edge
    * SELECTION from edge BUDGET, the decision HNSW's heuristic
    * embodies. Both k16 stacks derive from the one shared k16
    * trajectory frame; the audit builds no graphs of its own.
    * MEASURED at sf0.01: k8_r3 0.54, k16_trunc8 0.69, k16_diverse8
    * **0.79** — at the same 8 slots, non-redundant directions buy
    * +10 recall points over the 8 closest: the occlusion rule
    * converts build width into serving recall for free. */
  def annGraphDiversify(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val truth = offseedTruth10(spark, dir)
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val k16r4 = nnDescentK16Frames(spark, dir)("r4")
    def walk(g: DataFrame): DataFrame =
      Similarity.graphBeamSearch(emb, col("vec_id"), col("embedding"),
        g, queries, col("vec_id"), col("embedding"),
        k = 10, beam = 16, hops = 3, entries = 8)
    // the occlusion pass (node × k² exact dots) persists as the
    // graph_diverse8 tier — since round 17 that IS the serving store
    // ([[servingGraph]]); this audit is the A/B that justifies it
    recallRows(truth, nq, Seq(
      "k8_r3" -> walk(nnDescentFrames(spark, dir)("knn")),
      "k16_trunc8" -> walk(k16r4.filter(col("rank") <= 8)),
      "k16_diverse8" -> walk(servingGraph(spark, dir))))
  }

  /** Hubness audit of the NN-Descent graph: the in-degree
    * distribution (including 0 — vectors no list points at). Skewed
    * in-degree is THE known pathology of k-NN graphs over
    * high-dimensional embeddings (Radovanović et al., JMLR'10): hub
    * nodes absorb list slots and orphans become unreachable for
    * graph serving ([[annGraphSearch]] can never return a node with
    * in-degree 0 unless it's an entry). One aggregate over the
    * shared graph frame plus a left join against the vector set. */
  def annGraphHubness(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val counts = nnDescentFrames(spark, dir)("knn")
      .groupBy(col("nbr_id")).agg(count(lit(1)).as("in_deg"))
    emb.select(col("vec_id").as("nbr_id"))
      .join(counts, Seq("nbr_id"), "left_outer")
      .select(coalesce(col("in_deg"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree")).agg(count(lit(1)).as("n_nodes"))
  }

  /** Incremental graph-index maintenance ([[Similarity.graphAppend]]
    * — the HNSW insert primitive, search-then-connect): the base
    * store follows the deployed lifecycle (build k=16 NN-Descent
    * over the 90% band `vec_id % 10 <> 9`, occlusion-prune to
    * degree 8 — the same recipe as [[servingGraph]]); the 10% band
    * appends by beam-search placement (same walk as serving) with
    * occlusion-SELECTED neighbor lists, and touched base lists
    * re-select from (existing ∪ reverse proposals) — so the
    * diversified store stays diversified under ingest
    * (`ann_graph_append_diversity` audits exactly that). The gate
    * outputs the store's write-back delta: the appended nodes' lists
    * plus the updated base lists — the graph twin of
    * `ann_ivf_append` / `pq_encode_append` / `dedup_incremental_lsh`,
    * closing the incremental story for the graph-ANN family. Bands
    * are proportional (modulus, not a fixed id cut) so the gate
    * shapes identically at every SF. */
  /** Shared banded-base DIVERSIFIED graph + append delta ([[
    * Similarity.graphAppend]] at the gate constants) — built once per
    * (applicationId, sfDir) and read by the append gate, the
    * post-append serving audit, the post-append diversity audit, and
    * the streaming maintenance gate. */
  private def graphAppendFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] =
    SharedFrames(spark, dir, "graph_append") {
      val emb = Tables(spark, dir, "embeddings")
      val base = emb.filter(col("vec_id") % 10 =!= 9)
      val appended = emb.filter(col("vec_id") % 10 === 9)
      val wide = Tables.materialize(Similarity.nnDescent(base,
        col("vec_id"), col("embedding"), k = 16, rounds = 4))
      val g = Tables.materialize(Similarity.diversifyGraph(base,
        col("vec_id"), col("embedding"), wide, degree = 8))
      Seq("base_graph" -> g,
        "delta" -> Similarity.graphAppend(base, col("vec_id"),
          col("embedding"), g, appended, col("vec_id"),
          col("embedding"), k = 8, beam = 16, hops = 3, entries = 8))
    }

  def annGraphAppend(spark: SparkSession, dir: String): DataFrame =
    graphAppendFrames(spark, dir)("delta")

  /** The banded-base NN-Descent graph from the shared `graph_append`
    * tier — exposed for [[graft.queries.PipelineQueries.
    * streamGraphAppend]], whose standing store is byte-identical to
    * it (same band, same constants), so the streaming gate reads the
    * persisted frame instead of re-running the build. */
  private[queries] def graphAppendBaseGraph(spark: SparkSession,
      dir: String): DataFrame = graphAppendFrames(spark, dir)("base_graph")

  /** Post-append REACHABILITY audit — the serving proof insertion
    * exists for: beam search over the MERGED graph (appended lists ∪
    * updated lists ∪ untouched base lists) with the appended band as
    * the query set. An inserted vector that placement + reverse
    * edges actually wired in is its own exact nearest neighbor, so
    * `self_found` counts appended nodes whose walk returns themselves
    * at rank 1 — orphaned inserts (in-degree 0, unreachable except
    * as entries) fail this row first. Round 15 measured self_found
    * 0.86 and hypothesized hub-orphaned inserts; round 16 closed it
    * with BOTH layers: (a) [[Similarity.graphAppend]] now force-
    * adopts true orphans (the HNSW insert heuristic — zero on this
    * corpus, every insert already had 7-8 adopters, but the repair
    * guards the clustered case the spec pins), and (b)
    * the round-16 serving A/B (SURVEY.md, "Round-16 notes")
    * attributed the actual miss to the smallest-8 SERVING-entry
    * convention — stratified entries at the same 8-entry/3-hop
    * budget lift self_found 0.86 → 1.00 and walk_top10 0.494 → 0.658
    * (now the beam-search default).
    * `recall` grades the same walks against the full-corpus
    * brute-force top-10. One readout row per measure; the merged
    * graph is pure column algebra over the shared frames. Round 17
    * moved the whole lifecycle onto the DIVERSIFIED store (banded
    * k16 build → occlusion-prune to 8 → occlusion-preserving
    * append): measured at sf0.01 self_found **1.00**, walk_top10
    * 0.658 → **0.74**. */
  def annGraphAppendServe(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val frames = graphAppendFrames(spark, dir)
    val delta = frames("delta")
    val touched = delta.filter(col("src") === "updated")
      .select(col("node_id")).distinct()
    // src='dropped' rows are observability, not store edges
    val merged = delta.filter(col("src") =!= "dropped")
      .select(col("node_id"), col("nbr_id"))
      .unionByName(frames("base_graph")
        .join(touched, Seq("node_id"), "left_anti")
        .select(col("node_id"), col("nbr_id")))
    val queries = emb.filter(col("vec_id") % 10 === 9)
    val walked = Tables.materialize(
      Similarity.graphBeamSearch(emb, col("vec_id"), col("embedding"),
        merged, queries, col("vec_id"), col("embedding"),
        k = 10, beam = 16, hops = 3, entries = 8))
    val truth = Tables.materialize(
      Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), 10)
        .select(col("query_id"), col("nbr_id")))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val selfRow = walked
      .filter(col("rank") === 1 && col("nbr_id") === col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
      .select(lit("self_found").as("variant"), col("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("variant"), col("n_hits"),
        col("nq").as("n_possible"),
        (col("n_hits").cast("double") / col("nq").cast("double"))
          .as("recall"))
    selfRow.unionByName(
      recallRows(truth, nq, Seq("walk_top10" -> walked)))
  }

  /** Post-append DIVERSITY audit — the invariant that makes the
    * diversified store durable under ingest: in every delta list the
    * append wrote (the appended nodes' occlusion-selected lists AND
    * the touched bases' re-selections), NO edge may be occluded by a
    * higher-ranked one — otherwise every ingest tick would re-pollute
    * the store with exactly the redundant edges
    * [[Similarity.diversifyGraph]] removed, and the deployed
    * serving-recall win would decay. One row per delta side
    * (src ∈ {appended, updated}): total edges, occluded-edge count —
    * both counts must read 0 occluded (forced orphan adoptees are the
    * one documented exemption; zero on this corpus, pinned on the
    * clustered fixture by `GraphAppendSpec`). Pairs are list-bounded
    * (node × k²), one codegen'd exact-decimal dot each. MEASURED at
    * sf0.01: 0 occluded of 2,080 delta edges (370 appended + 1,710
    * updated). */
  def annGraphAppendDiversity(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val delta = graphAppendFrames(spark, dir)("delta")
    val v = Tables.materialize(Similarity.vectorsWithNorm(emb,
      col("vec_id"), col("embedding"), "vid", "v", "sn"))
    val pairs = delta.as("x").join(delta.as("y"),
        col("x.node_id") === col("y.node_id") &&
          col("y.rank") < col("x.rank"))
      .select(col("x.src").as("src"), col("x.node_id").as("node_id"),
        col("x.nbr_id").as("nbr_id"), col("x.cosine").as("cos_ab"),
        col("y.nbr_id").as("occ"))
    val occluded = pairs
      .join(v.select(col("vid").as("nbr_id"), col("v").as("bv"),
        col("sn").as("sb")), "nbr_id")
      .join(v.select(col("vid").as("occ"), col("v").as("pv"),
        col("sn").as("sp")), "occ")
      .filter(graft.functions.VecKernels.vecDotDec(col("bv"), col("pv"))
        .cast("double") / (col("sb") * col("sp")) > col("cos_ab"))
      .select(col("src"), col("node_id"), col("nbr_id")).distinct()
    delta.groupBy(col("src")).agg(count(lit(1)).as("n_edges"))
      .join(occluded.groupBy(col("src"))
          .agg(count(lit(1)).as("n_occ")),
        Seq("src"), "left_outer")
      .select(col("src"), col("n_edges"),
        coalesce(col("n_occ"), lit(0L)).as("n_occluded"))
  }

  /** Shared DELETE tier over the serving store: the 10% band
    * `vec_id % 10 = 4` tombstones out of the diversified store,
    * holes repair by 2-hop bridging ([[Similarity.graphDelete]]),
    * and the post-delete store persists for the serve audit —
    * built once per (applicationId, sfDir). */
  private def graphDeleteFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    // resolve the serving-store tier BEFORE entering this build block
    val store = servingGraph(spark, dir)
    SharedFrames(spark, dir, "graph_delete") {
      val emb = Tables(spark, dir, "embeddings")
      val del = emb.filter(col("vec_id") % 10 === 4)
        .select(col("vec_id"))
      val repaired = Tables.materialize(Similarity.graphDelete(emb,
        col("vec_id"), col("embedding"), store, del, col("vec_id"),
        k = 8))
      // touched is derived from the STORE (lists holding a deleted
      // member), not from `repaired` — a touched list whose repair
      // came back empty must still drop its stale original
      val keep = store.join(del.select(col("vec_id").as("node_id")),
        Seq("node_id"), "left_anti")
      val touched = keep
        .join(del.select(col("vec_id").as("nbr_id")),
          Seq("nbr_id"), "left_semi")
        .select(col("node_id")).distinct()
      val untouched = keep.join(touched, Seq("node_id"), "left_anti")
        .select(col("node_id"), col("nbr_id"), col("rank"),
          col("cosine"))
      Seq("repaired" -> repaired,
        "store" -> untouched.unionByName(repaired
          .filter(col("src") =!= "dropped")
          .select(col("node_id"), col("nbr_id"), col("rank"),
            col("cosine"))))
    }
  }

  /** Graph-store DELETE gate ([[Similarity.graphDelete]]) — the
    * remaining lifecycle operation (build / serve / append / stream
    * / DELETE): the `vec_id % 10 = 4` band tombstones out of the
    * deployed diversified store; every surviving list that lost a
    * member re-selects from (survivors ∪ the deleted member's own
    * neighbors — the 2-hop bridge that preserves local connectivity
    * through the tombstone), under the same occlusion rule as build
    * and append; deletion orphans (live nodes whose every adoption
    * lived in dropped or rewritten lists) force-adopt into their
    * nearest CANDIDATE touched list — candidates restricted to
    * touched lists 2-hop-adjacent to the orphan's former adopters
    * ([[Similarity.deleteAdoptionCandidates]]), which keeps the
    * repair batch-bounded where a global nearest-touched search is
    * deletion-batch-quadratic — rank-last (`src = 'adopted'` — the
    * reachability patch the delete-serve audit's self-reachability
    * depends on; adoptions evicted past capacity surface as
    * `src = 'dropped'` observability rows, excluded from write-back).
    * Output is the write-back delta: the repaired
    * touched lists with provenance. Cost rides the touched lists
    * (holes × deleted member's degree), never the corpus. */
  def annGraphDelete(spark: SparkSession, dir: String): DataFrame =
    graphDeleteFrames(spark, dir)("repaired")

  /** Post-DELETE serving audit: beam walk over the repaired store
    * (untouched ∪ repaired lists, deleted nodes' lists dropped) for
    * the off-seed query band, entries stratified over the LIVE
    * corpus. Two contract rows: `deleted_served` counts tombstoned
    * ids appearing in any result (MUST be 0 — the row a production
    * deletion is deployed for), `walk_top10` grades recall@10
    * against the exact brute truth RESTRICTED to the live corpus
    * (what a correct post-delete index can still find). The query
    * band [100, 110) deliberately KEEPS its one tombstoned id (104,
    * `%10 = 4`): querying BY a deleted vector is a legitimate
    * production case (query vectors need not be corpus members) and
    * exercises exactly the contract under audit — a deleted vector
    * may still ASK, it must never be SERVED; its truth row is
    * likewise restricted to the live corpus, so the readout stays
    * consistent. MEASURED at
    * sf0.01: deleted_served 0/100, walk_top10 0.66 after tombstoning
    * 10% of the store (vs 0.79 pre-delete — the truth set changes
    * and a tenth of the wiring leaves with the band). */
  def annGraphDeleteServe(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val live = emb.filter(col("vec_id") % 10 =!= 4)
    val queries = emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
    val store = graphDeleteFrames(spark, dir)("store")
    val walked = Tables.materialize(
      Similarity.graphBeamSearch(live, col("vec_id"), col("embedding"),
        store, queries, col("vec_id"), col("embedding"),
        k = 10, beam = 16, hops = 3, entries = 8))
    val truth = Tables.materialize(
      Similarity.bruteForceTopK(live, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), 10)
        .select(col("query_id"), col("nbr_id")))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val delRow = walked.filter(col("nbr_id") % 10 === 4)
      .agg(count(lit(1)).as("n_hits"))
      .select(lit("deleted_served").as("variant"), col("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("variant"), col("n_hits"),
        (col("nq") * 10).as("n_possible"),
        (col("n_hits").cast("double") /
          (col("nq") * 10).cast("double")).as("recall"))
    delRow.unionByName(
      recallRows(truth, nq, Seq("walk_top10" -> walked)))
  }

  /** STALENESS readout assembly for a maintained graph store — the
    * audit core shared by the [[annGraphStaleness]] gate and the
    * planted-degradation spec: given the final corpus, the
    * maintained store WITH per-edge provenance (`cls` ∈ base /
    * appended / append_updated / repair / adopted), a FRESH rebuild
    * of the same corpus, and the query band, emits uniform
    * (variant, num, den, ratio) rows: per-class edge shares, the
    * maintained vs fresh walk recall@10 against the exact brute
    * truth, and the integer-predicate REBUILD flag — rebuild = 1
    * when adopted edges exceed 2% of the store
    * (`n_adopted · 50 > n_edges`) or the fresh rebuild beats the
    * maintained walk by more than 0.1 recall
    * (`(fresh_hits − maint_hits) · 10 > n_queries · 10`) — all
    * integer compares, so the flag is hash-exact cross-engine. */
  private[graft] def graphStalenessReadout(corpus: DataFrame,
      clsStore: DataFrame, fresh: DataFrame, queries: DataFrame)
      : DataFrame = {
    val walkM = Tables.materialize(
      Similarity.graphBeamSearch(corpus, col("vec_id"),
        col("embedding"), clsStore.select(col("node_id"),
          col("nbr_id")), queries, col("vec_id"), col("embedding"),
        k = 10, beam = 16, hops = 3, entries = 8))
    val walkF = Tables.materialize(
      Similarity.graphBeamSearch(corpus, col("vec_id"),
        col("embedding"), fresh.select(col("node_id"),
          col("nbr_id")), queries, col("vec_id"), col("embedding"),
        k = 10, beam = 16, hops = 3, entries = 8))
    val truth = Tables.materialize(
      Similarity.bruteForceTopK(corpus, col("vec_id"),
          col("embedding"), queries, col("vec_id"), col("embedding"),
          10)
        .select(col("query_id"), col("nbr_id")))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val total = clsStore.agg(count(lit(1)).as("total"))
    val edgeRows = clsStore.groupBy(col("cls"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(concat(lit("edges_"), col("cls")).as("variant"),
        col("n").as("num"), col("total").as("den"),
        (col("n").cast("double") / col("total").cast("double"))
          .as("ratio"))
    def hitCount(w: DataFrame) = w
      .select(col("query_id"), col("nbr_id"))
      .join(truth, Seq("query_id", "nbr_id"), "left_semi")
      .agg(count(lit(1)).as("h"))
    val mh = hitCount(walkM)
    val fh = hitCount(walkF)
    def walkRow(name: String, h: DataFrame) = h
      .crossJoin(broadcast(nq))
      .select(lit(name).as("variant"), col("h").as("num"),
        (col("nq") * 10).as("den"),
        (col("h").cast("double") /
          (col("nq") * 10).cast("double")).as("ratio"))
    val adopted = clsStore.filter(col("cls") === "adopted")
      .agg(count(lit(1)).as("na"))
    val rebuild = mh.select(col("h").as("mhh"))
      .crossJoin(fh.select(col("h").as("fhh")))
      .crossJoin(nq).crossJoin(adopted).crossJoin(total)
      .select(lit("rebuild").as("variant"),
        when(col("na") * 50 > col("total") ||
            (col("fhh") - col("mhh")) * 10 > col("nq") * 10, 1L)
          .otherwise(0L).as("num"),
        lit(1L).as("den"))
      .withColumn("ratio", col("num").cast("double"))
    edgeRows
      .unionByName(walkRow("walk_maintained", mh))
      .unionByName(walkRow("walk_fresh", fh))
      .unionByName(rebuild)
  }

  /** Shared STALENESS tier: the CDC maintenance composition
    * (append tick `%20 = 9` then delete tick `%10 = 3` over the
    * banded diversified base — exactly [[graft.queries.
    * PipelineQueries.streamGraphUpsert]]'s store) with per-edge
    * PROVENANCE carried through both stages, plus a FRESH rebuild of
    * the final corpus (k16 NN-Descent → occlusion-prune 8, the
    * deployed build recipe) — the comparison baseline maintenance
    * drift is measured against. */
  private def graphStaleFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    // resolve the graph_append tier BEFORE entering this build block
    val g0 = graphAppendBaseGraph(spark, dir)
    SharedFrames(spark, dir, "graph_stale") {
      val emb = Tables(spark, dir, "embeddings")
      val standing = emb.filter(col("vec_id") % 10 =!= 9)
        .select(col("vec_id"), col("embedding"))
      val adds = emb.filter(col("vec_id") % 20 === 9)
        .select(col("vec_id"), col("embedding"))
      val dels = emb.filter(col("vec_id") % 10 === 3)
        .select(col("vec_id"))
      // localCheckpoint at every stage boundary — each stage's
      // output is referenced several times by the next (the delete
      // chain alone walks its graph relation ~10×), and cache-only
      // materialization re-nests the full upstream LOGICAL plan per
      // reference: composed un-truncated, the readout's plan string
      // hit the 2 GiB cap and the driver OOM'd (the CC-loop lesson,
      // tier edition)
      val da = Similarity.graphAppend(standing,
        col("vec_id"), col("embedding"), g0, adds, col("vec_id"),
        col("embedding"), k = 8, beam = 16, hops = 3, entries = 8)
        .localCheckpoint(true)
      val touchedA = da.filter(col("src") === "updated")
        .select(col("node_id")).distinct()
      val g1 = da.filter(col("src") =!= "dropped")
        .select(col("node_id"), col("nbr_id"), col("rank"),
          col("cosine"))
        .unionByName(g0.join(touchedA, Seq("node_id"), "left_anti")
          .select(col("node_id"), col("nbr_id"), col("rank"),
            col("cosine")))
        .localCheckpoint(true)
      val cFinal = standing.unionByName(adds)
        .join(dels, Seq("vec_id"), "left_anti")
        .localCheckpoint(true)
      val rep = Similarity.graphDelete(cFinal,
        col("vec_id"), col("embedding"), g1, dels, col("vec_id"),
        k = 8)
        .localCheckpoint(true)
      val keep = g1.join(dels.select(col("vec_id").as("node_id")),
        Seq("node_id"), "left_anti")
      val touchedD = keep
        .join(dels.select(col("vec_id").as("nbr_id")),
          Seq("nbr_id"), "left_semi")
        .select(col("node_id")).distinct()
      val untouched = keep.join(touchedD, Seq("node_id"), "left_anti")
      val appFlag = da.filter(col("src") === "appended")
        .select(col("node_id")).distinct()
        .withColumn("is_app", lit(1))
      val updFlag = touchedA.withColumn("is_upd", lit(1))
      val clsStore = rep.filter(col("src") =!= "dropped")
        .select(col("node_id"), col("nbr_id"), col("rank"),
          col("cosine"), col("src").as("cls"))
        .unionByName(untouched
          .join(appFlag, Seq("node_id"), "left")
          .join(updFlag, Seq("node_id"), "left")
          .select(col("node_id"), col("nbr_id"), col("rank"),
            col("cosine"),
            when(col("is_app") === 1, lit("appended"))
              .when(col("is_upd") === 1, lit("append_updated"))
              .otherwise(lit("base")).as("cls")))
      val freshWide = Similarity.nnDescent(cFinal,
        col("vec_id"), col("embedding"), k = 16, rounds = 4)
        .localCheckpoint(true)
      val fresh = Similarity.diversifyGraph(cFinal, col("vec_id"),
        col("embedding"), freshWide, degree = 8)
      Seq("store_cls" -> clsStore.localCheckpoint(true),
        "fresh" -> fresh, "corpus" -> cFinal)
    }
  }

  /** The maintained post-CDC graph store — the append-tick ∘
    * delete-tick composition's final edge set, served from the
    * shared `graph_stale` tier (provenance column dropped). This is
    * byte-identical to the store [[graft.queries.PipelineQueries.
    * streamGraphUpsert]]'s foreachBatch loop persists: the tier runs
    * the same graphAppend merge (src='dropped' excluded, touched
    * lists replaced) then the same graphDelete merge over the same
    * banded waves, and `StreamGraphUpsertSpec` pins the streaming
    * loop against this exact batch composition. Sharing ONE
    * maintained store between the staleness audit and the upsert
    * gate removes the duplicate maintenance chain that was the two
    * slowest walls on the r18 board (89.7 s + 47.6 s, §6 recompute
    * elimination). */
  private[queries] def graphMaintainedStore(spark: SparkSession,
      dir: String): DataFrame =
    graphStaleFrames(spark, dir)("store_cls")
      .select(col("node_id"), col("nbr_id"), col("rank"),
        col("cosine"))

  /** Graph-store STALENESS audit + rebuild trigger — the lifecycle
    * readout every other index family already has
    * (`ann_drift_trigger` for IVF, `*_drift_audit` for tokenizers,
    * `pq_encode_append` for the quantizers), closing the gap for the
    * live-maintained graph store: after the CDC composition (append
    * tick, delete tick) the store's per-edge provenance is read out
    * (base / appended / append_updated / repair / adopted shares —
    * adopted and repair edges are reachability patches, not
    * proximity neighbors, so their share IS the degradation metric),
    * the maintained store's walk recall is measured against a FRESH
    * rebuild of the final corpus, and an integer-predicate REBUILD
    * flag fires when adopted share exceeds 2% or the fresh rebuild
    * wins by more than 0.1 recall. A store maintained forever
    * without this signal silently decays; with it, the retrain
    * decision is one gated row. Cost: the maintenance chain is the
    * shared tier, the fresh build is the audit's one deliberate
    * expense (it IS the comparison baseline), walks are
    * beam·degree·hops per query. */
  def annGraphStaleness(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val f = graphStaleFrames(spark, dir)
    val queries = emb
      .filter(col("vec_id") >= 100 && col("vec_id") < 110)
    graphStalenessReadout(f("corpus"), f("store_cls"), f("fresh"),
      queries)
  }

  /** SemDeDup over the NN-Descent graph: MUTUAL-kNN edges (both
    * directions present, cosine ≥ 0.3) are the ε-pair substrate,
    * min-label connected components pick per-cluster keepers —
    * [[embedDedupCc]]'s exact shape with the graph in place of the
    * LSH candidate pass. Mutuality is the classic precision filter
    * for kNN-graph clustering: an asymmetric edge (a ranks b, b
    * doesn't rank a) is usually a hub artifact, and requiring both
    * directions plus the floor keeps only genuinely close pairs
    * (96 mutual pairs of 4000 directed edges on this corpus). At
    * 100 TB the graph is the persisted build artifact and this gate
    * is one self-join + the CC fixpoint on its survivors. */
  def embedKnnCc(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val strong = nnDescentFrames(spark, dir)("knn")
      .filter(col("cosine") >= 0.3)
      .select(col("node_id").as("a"), col("nbr_id").as("b"))
    val mutual = strong
      .join(strong.select(col("b").as("a"), col("a").as("b")),
        Seq("a", "b"), "left_semi")
      .filter(col("a") < col("b"))
      .select(col("a").as("id1"), col("b").as("id2"))
    val cc = Dedup.connectedComponents(mutual)
    val dropped = cc.filter(col("id") =!= col("component"))
      .select(col("id"))
    emb.select(col("vec_id").as("id"))
      .join(dropped, Seq("id"), "left_anti").select(col("id"))
  }

  /** k-NN-GRAPH construction gate ([[Similarity.nnDescent]]) — the
    * graph-family ANN backbone (what HNSW/NSG build on), absent from
    * the IVF/PQ quantization family: every node's directed top-8
    * cosine neighbor list after 3 deterministic NN-Descent rounds
    * from a ring init. The oracle unrolls init + all local-join
    * rounds as materialized CTEs (the pageRank fixed-round
    * discipline). Beyond serving, this graph is an ε-graph source for
    * SemDeDup-style clustering — see `ann_nndescent_recall_audit` for
    * the measured round-by-round recall on THIS corpus (weak cosine
    * structure: top-8 mean cos 0.31 vs 0.00 ± 0.13 background, so the
    * local join converges slowly here; `NnDescentSpec`'s clustered
    * fixture pins the strong-structure win case). */
  def annNndescentTopk(spark: SparkSession, dir: String): DataFrame =
    nnDescentFrames(spark, dir)("knn")

  /** NN-Descent recall audit — the convergence CURVE: recall@8 of
    * the ring init (round 0), the 1-round list, and the 3-round
    * graph against the exact self-excluded top-8
    * ([[Similarity.bruteForceKnnTruth]]) over the vec_id < 100 node
    * band. What the local-join rounds BUY at fixed k: on this
    * near-uniform corpus the gated curve runs ~0.02 → 0.04 → 0.10 —
    * each round roughly doubles recall, and the slope (not the
    * absolute) is the decision signal: flat slope ⇒ structure too
    * weak for a graph index, keep IVF/PQ; steep slope (the spec's
    * clustered fixture reaches ≥ 0.9 by round 2) ⇒ the graph family
    * earns its build cost. All three stacks are the shared persisted
    * frames the top-k gate serves. */
  def annNndescentRecallAudit(spark: SparkSession, dir: String)
      : DataFrame = {
    val truth = knnTruth8(spark, dir)
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val frames = nnDescentFrames(spark, dir)
    def stack(f: DataFrame): DataFrame =
      f.filter(col("node_id") < 100)
        .select(col("node_id").as("query_id"), col("nbr_id"))
    recallRows(truth, nq, Seq(
      "ring_init" -> stack(frames("knn_init")),
      "nndescent_r1" -> stack(frames("knn_r1")),
      "nndescent_r3" -> stack(frames("knn"))), k = 8)
  }

  /** NN-Descent PARAMETER sweep — the k × rounds frontier behind the
    * production graph's (k = 8, rounds = 3) choice, recorded as a
    * gated decision instead of a default: recall@8 (top-8 prefix of
    * each list vs the exact [[knnTruth8]] answer key over the
    * vec_id < 100 band) for k ∈ {8, 16} × rounds ∈ {2, 3, 4}. The
    * graph's construction recall is the ceiling on everything served
    * from it (`ann_graph_search_recall`'s walk_top10 caps at it), so
    * this table is what a deployment reads before buying more build
    * rounds or wider lists. Cost discipline: ONE trajectory build per
    * k ([[Similarity.nnDescentStates]] — round r is a prefix of round
    * r + 1, the `ivfRecallSweep` shape on the build axis), both
    * persisted shared frames; the sweep itself only reads and counts.
    * MEASURED at sf0.01: recall@8 k8 = 0.056/0.090/0.133 vs k16 =
    * 0.119/0.208/0.365 at rounds 2/3/4 — widening k buys ~2.5× at
    * every round count on this weak-structure corpus, and one
    * k16 round beats two extra k8 rounds (k16_r3 0.21 > k8_r4 0.13)
    * because a wider list widens the local-join candidate pool
    * quadratically — the classic NN-Descent trade (Dong et al.,
    * WWW'11: recall rises with K at fixed iteration count). The
    * production choice stays k8_r3 for build cost; this table is the
    * recorded evidence a recall-starved deployment acts on. */
  def annNndescentParamSweep(spark: SparkSession, dir: String)
      : DataFrame = {
    val truth = knnTruth8(spark, dir)
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val k8 = nnDescentFrames(spark, dir)
    val k16 = nnDescentK16Frames(spark, dir)
    def stack(f: DataFrame): DataFrame =
      f.filter(col("node_id") < 100 && col("rank") <= 8)
        .select(col("node_id").as("query_id"), col("nbr_id"))
    recallRows(truth, nq, Seq(
      "k8_r2" -> stack(k8("knn_r2")),
      "k8_r3" -> stack(k8("knn")),
      "k8_r4" -> stack(k8("knn_r4")),
      "k16_r2" -> stack(k16("r2")),
      "k16_r3" -> stack(k16("r3")),
      "k16_r4" -> stack(k16("r4"))), k = 8)
  }

  /** OPQ rotation recall audit ([[Similarity.opqRotate]]): flat-ADC
    * recall@10 vs the exact top-10 for plain PQ and for PQ over the
    * Householder-rotated space, same m/ksub budget. The rotation is
    * orthogonal (⟨Hx, Hq⟩ = ⟨x, q⟩), so the original-space
    * brute-force truth grades both variants; the pq_opq − pq_raw gap
    * IS the rotation's value, recorded here whether positive or null
    * — on a near-isotropic corpus (no dominant variance direction to
    * spread) expect ~zero. MEASURED on this fixture: pq_raw 0.68 /
    * pq_opq 0.64 — the honest null (the corpus is near-uniform on
    * the sphere, so the reflection spreads noise, not signal). The
    * spec's anisotropic fixture proves the variance-SPREADING
    * contract; the OPQ anisotropic A/B (SURVEY.md, "Round-15 notes")
    * tested whether the spread converts to an ADC-recall win on
    * gain-scaled corpora and REFUTED it for this one-reflection form
    * (raw ≥ opq at every gain: 65/54/47 vs 64/52/40 at g = 4/8/16) —
    * for inner-product
    * ADC, concentrating a single dominant direction in one codebook
    * can beat balancing it across all m; full OPQ's recall win needs
    * the alternating rotation/codebook solve. That is why no
    * anisotropic recall GATE exists: it would record the same
    * direction as this null, and the evidence lives in SURVEY.md. */
  def annOpqRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val truth = Tables.materialize(
      Similarity.bruteForceTopK(emb, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), 10)
        .select(col("query_id"), col("nbr_id")))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    def flatTop(corpus: DataFrame, cid: Column, cvec: Column): DataFrame = {
      val qs = corpus.filter(cid < 10)
      val (cbs, codes) = Similarity.buildPqIndex(corpus, cid, cvec,
        m = 16, ksub = 64, iters = 2, sampleMod = 1)
      Similarity.pqAdcTopK(
        corpus.select(cid.as("nbr_id"))
          .crossJoin(broadcast(qs.select(cid.as("query_id")))),
        codes, Similarity.pqAdcTable(qs, cid, cvec, cbs), k = 10)
    }
    val rotated = Tables.materialize(
      Similarity.opqRotate(emb, col("vec_id"), col("embedding"), dim = 64))
    def hitRow(name: String, top: DataFrame): DataFrame =
      top.select(col("query_id"), col("nbr_id"))
        .join(truth, Seq("query_id", "nbr_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(name).as("variant"), col("n_hits"))
    hitRow("pq_raw", pqFlatTopK(spark, dir))
      .unionByName(
        hitRow("pq_opq", flatTop(rotated, col("vid"), col("yvec"))))
      .crossJoin(broadcast(nq))
      .select(col("variant"), col("n_hits"),
        (col("nq") * 10).as("n_possible"),
        (col("n_hits").cast("double") /
          (col("nq") * 10).cast("double")).as("recall"))
  }

  /** The COMPOSED FAISS production stack in one gated query — OPQ
    * rotation → spherical-kmeans coarse cells trained on the rotated
    * corpus → residual PQ against the unit rotated cells → integer
    * ADC serving: every accuracy lever this module builds, stacked
    * the way a deployment ships them (`OPQ16,IVF16,PQ16` in FAISS
    * index-factory terms). The rotation is orthogonal, so
    * rotated-space scores approximate original inner products; each
    * lever's individual contribution is measured by its own audit
    * gate (`ann_opq_recall`, `ann_residual_recall_audit`,
    * `ann_pq_recall`) — this gate pins the COMPOSITION's exact
    * semantics so the stack can't drift from its parts. */
  def annOpqIvfPq(spark: SparkSession, dir: String): DataFrame =
    opqIvfPqTopK(spark, dir)

  /** PQ encode-APPEND gate ([[Similarity.pqEncode]] against FROZEN
    * codebooks): codebooks train on the STANDING corpus (vec_id ≢ 4
    * mod 5) and persist; the standing codes persist; the incoming
    * batch (≡ 4 mod 5) encodes against the frozen codebooks read back
    * from storage and APPENDS. The oracle trains on the standing
    * relation and encodes the full corpus in one pass — bit-equal
    * precisely because encode is per-row against frozen artifacts
    * (the `ann_ivf_append` argument, PQ edition); a retrain on the
    * union would move codebooks and fail the hash. */
  def pqEncodeAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    val incoming = emb.filter(col("vec_id") % 5 === 4)
    val tmp = graft.Tables.scratchDir("graft_pq_append")
    val frozen = Tables.writeParquet(
      Similarity.pqTrainCodebooks(standing, col("vec_id"),
        col("embedding"), m = 16, ksub = 64, iters = 2, sampleMod = 1),
      s"$tmp/codebooks")
    Tables.writeParquet(
        Similarity.pqEncode(standing, col("vec_id"), col("embedding"),
          frozen),
        s"$tmp/codes")
      .unionByName(
        Similarity.pqEncode(incoming, col("vec_id"), col("embedding"),
          frozen))
      .select(col("nbr_id"), col("j").cast("long").as("j"),
        col("code").cast("long").as("code"))
  }

  /** IVF-PQ recall-vs-nProbe sweep
    * ([[Similarity.ivfPqRecallSweep]]): per probe budget, the
    * ADC-ranked top-10's overlap with the exact brute-force top-10 —
    * the tuning curve that places an IVF-PQ deployment on the
    * latency/recall frontier; `ann_pq_recall`'s flat-ADC number is
    * the budget→∞ ceiling that separates compression loss from
    * probing loss. */
  def annPqProbeSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.ivfPqRecallSweep(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10, numCells = 16, probes = Seq(1, 2, 4, 8), m = 16,
      ksub = 64, iters = 2, sampleMod = 1)
  }

  /** Deterministic markup wrapper around each document — the shared
    * fixture of the extraction gates. Plants every hazard the chain
    * must survive: a nav div whose anchor text dominates it (link
    * density), a `<script>` body carrying a raw `<` comparison and a
    * `<style>` rule (both must vanish WHOLE — zero anchor density
    * would otherwise sail them through the keep rule), an HTML
    * comment, a content paragraph of character entities, and an empty
    * paragraph. */
  private[queries] def plantedHtml(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      concat(lit("<html><body><p>"), substring(col("text"), 1, 120),
        lit("</p><div class=\"nav\"><a href=\"/l1\">click here</a> " +
          "<a href=\"/l2\">more links</a> nav menu</div>" +
          "<script type=\"text/javascript\">var n = 1; " +
          "if (n < 2) { track(\"menu\"); }</script>" +
          "<style>.nav a { color: #fff; }</style>" +
          "<!-- boilerplate wrapper --><p>"),
        substring(col("text"), 121, 100000),
        lit("</p><p>Tom &amp; Jerry &lt;3 &quot;ads&quot; " +
          "&#39;n&#8217; more</p><br><p>  </p></body></html>"))
        .as("html"))

  /** Markup/boilerplate extraction gate ([[Corpus.htmlExtract]]):
    * the documents table carries plain text, so the gate runs over
    * the [[plantedHtml]] wrapper — the kept blocks must be exactly
    * the two content paragraphs plus the decoded entity paragraph,
    * with the nav block dropped by the integer link-density rule, the
    * script/style/comment bodies stripped whole, and the empty block
    * never counted. The DuckDB twin replays the same planting concat
    * and the same RE2-safe regex chain. */
  /** Shared planted-markup extraction tier — the regex-heavy
    * [[Corpus.htmlExtract]] pass over [[plantedHtml]] ran three times
    * per board (the extraction gate, the crawl-ingest E2E, and the
    * tokenizer-lifecycle E2E); the first caller now persists the full
    * extraction frame once and all three read it (§6 recompute
    * elimination). */
  private[queries] def htmlExtractFrames(spark: SparkSession,
      dir: String): DataFrame =
    SharedFrames(spark, dir, "html_extract") {
      Seq("ex" -> Corpus.htmlExtract(
        plantedHtml(Tables(spark, dir, "documents")),
        col("doc_id"), col("html")))
    }("ex")

  def htmlExtract(spark: SparkSession, dir: String): DataFrame =
    htmlExtractFrames(spark, dir)
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        col("n_link_chars"),
        substring(col("extracted"), 1, 200).as("head"))

  /** Extraction → quality composed, the crawl-ingest E2E: the
    * planted-markup corpus is EXTRACTED ([[Corpus.htmlExtract]]) and
    * the bigram-LM fluency scorer ([[graft.ext.Lm.scoreDocs]]) runs
    * over the extracted text — nav/anchor boilerplate never reaches
    * the model's counts, which is the point of running extraction
    * before any quality stage. Per-language doc counts and fluency
    * aggregates over the extracted corpus, one plan. */
  def htmlCorpusE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val ex = htmlExtractFrames(spark, dir)
      .select(col("doc_id"), col("extracted"))
    val per = graft.ext.Lm.scoreDocs(ex, col("doc_id"), col("extracted"))
    docs.select(col("doc_id").as("id"), col("lang"))
      .join(per, Seq("id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_bigrams")).as("n_bigrams"),
        sum(col("q_sum")).as("q_sum"))
      .withColumn("mean_p", col("q_sum").cast("double") /
        (col("n_bigrams") * lit(1048576L)).cast("double"))
  }

  /** Corpus-LM novelty: fraction of each document's distinct bigrams
    * outside the corpus top-1000 bigram vocabulary
    * ([[Corpus.bigramNovelty]]) — the hash-gateable stand-in for a
    * KenLM perplexity filter. */
  def bigramNovelty(spark: SparkSession, dir: String): DataFrame =
    Corpus.bigramNoveltyFromGrams(Tables(spark, dir, "documents"),
      col("doc_id"), grams2Frames(spark, dir), vocabK = 1000)

  /** C4-style boilerplate stripping: repeated 8-token tiles dropped,
    * documents rewritten from surviving tiles —
    * [[Corpus.stripRepeatedTiles]]. */
  def boilerplateStrip(spark: SparkSession, dir: String): DataFrame =
    Corpus.stripRepeatedTiles(Tables(spark, dir, "documents"),
      col("doc_id"), col("text"), tileTokens = 8, minFreq = 2)

  def textFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import TextFunctions._
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      fingerprint(col("text")).as("fp"),
      canonicalFingerprint(col("text")).as("canon_fp"))
  }

  /** Corpus scrub: PII redaction + whole-word masking, with audit
    * counts. The PII patterns hit zero on the synthetic corpus —
    * which still pins the regex dialects cross-engine — while the
    * word mask exercises real replacements on every row. */
  def textScrub(spark: SparkSession, dir: String): DataFrame = {
    import TextFunctions._
    Tables(spark, dir, "documents").select(
      col("doc_id"),
      substring(maskWord(redactPii(col("text")), "data"), 1, 120)
        .as("scrubbed"),
      regexp_count(col("text"), lit("\\bdata\\b")).cast("long")
        .as("n_masked"),
      piiCount(col("text")).cast("long").as("n_pii"))
  }

  /** Model-scoring seam through the [[graft.ext.Scoring.StubScorer]]
    * (see [[graft.ext.Scoring]]): real per-partition batched scoring
    * plumbing, deterministic stand-in model, oracle-exact dyadic
    * score arithmetic. */
  def textModelScore(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Scoring.scoreDocuments(Tables(spark, dir, "documents"),
      col("doc_id"), col("text")).toDF()

  /** The fastText-shaped hashed-linear model through the same seam
    * (see [[graft.ext.Scoring.HashedLinearScorer]]): real classifier
    * architecture, toy deterministic weights, integer-exact score
    * algebra. */
  def textModelScoreLinear(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Scoring.scoreDocuments(Tables(spark, dir, "documents"),
      col("doc_id"), col("text"),
      newScorer = () => new graft.ext.Scoring.HashedLinearScorer()).toDF()

  /** Score-calibration (reliability) readout — the eval that pairs
    * with [[textModelScoreLinear]]: bin the linear model's score into
    * deciles of [−1, 1] and report each bin's agreement rate against
    * the reference labeler ([[textModelScore]]'s stub). Binning is
    * ALL-INTEGER: score = raw/(1001·n) never materializes — bin =
    * min(9, 10·(raw + 1001·n) div (2002·n)) on exact BIGINTs, and
    * the only double is each bin's closing rate divide. The two
    * scorers here are the repo's deterministic stand-ins; production
    * swaps real models behind the same seam and this exact query
    * becomes the calibration monitor. */
  def scoreCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val tok = docs.select(col("doc_id"),
      explode(TextFunctions.tokens(col("text"))).as("tok"))
    val perDoc = tok
      .select(col("doc_id"),
        (conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long")
          % 1024).as("b"))
      .select(col("doc_id"),
        ((col("b") * 2654435761L) % 2003L - 1001L).as("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), sum(col("w")).as("raw"))
    val labeled = docs.select(col("doc_id"),
      (conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
        >= 2147483648L).cast("long").as("truth_keep"))
    perDoc.join(labeled, "doc_id")
      .select(
        least(lit(9L), expr("(10 * (raw + 1001 * n)) div (2002 * n)"))
          .as("bin"),
        col("truth_keep"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("truth_keep")).as("n_keep"))
      .select(col("bin"), col("n_docs"), col("n_keep"),
        (col("n_keep").cast("double") / col("n_docs").cast("double"))
          .as("keep_rate"))
  }

  /** MinHash estimation-error audit — per LSH candidate pair, the
    * 16-component signature agreement rate against the EXACT Jaccard
    * over the same shingles: the measurement behind choosing
    * numHashes/bands (is the sketch tight enough to trust its
    * threshold?). One shingle frame feeds signatures, candidates and
    * the exact intersection — built once, reused three times. The
    * error column is two IEEE divides + one subtract on identical
    * operands in both engines; everything upstream is integer.
    * Candidate-pair cardinality is LSH-bounded, so the exact-verify
    * join never goes all-pairs at scale. */
  def minhashEstimateError(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.Tables.materialize(docToksFrames(spark, dir)("grams3"))
    val sig = Dedup.minhashSignaturesFromShingles(g, numHashes = 16)
    val cand = minhash3Frames(spark, dir)("pairs")
    val sizes = g.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(g.select(col("id").as("ga_id"), col("gram")),
        col("id1") === col("ga_id"))
      .join(g.select(col("id").as("gb_id"), col("gram")),
        Seq("gram")).filter(col("id2") === col("gb_id"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
    val matchCnt = (0 until 16)
      .map(j => (col(s"sa.sig_$j") === col(s"sb.sig_$j")).cast("long"))
      .reduce(_ + _)
    cand
      .join(sig.as("sa"), col("id1") === col("sa.id"))
      .join(sig.as("sb"), col("id2") === col("sb.id"))
      .select(col("id1"), col("id2"), matchCnt.as("match_cnt"))
      .join(inter, Seq("id1", "id2"), "left_outer")
      .join(sizes.select(col("id").as("id1"), col("sz").as("sz1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("sz").as("sz2")), "id2")
      .select(col("id1"), col("id2"), col("match_cnt"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        (col("sz1") + col("sz2") - coalesce(col("inter"), lit(0L)))
          .as("usz"))
      .withColumn("est_err",
        abs(col("match_cnt").cast("double") / lit(16.0) -
          col("inter").cast("double") / col("usz").cast("double")))
  }

  // --------------------------------------------------------------- dedup

  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs3(spark, dir)

  /** Directed containment pairs — c(A→B) = |grams(A) ∩ grams(B)| /
    * |grams(A)|: the ASYMMETRIC near-dup relation Jaccard
    * structurally misses. A short document quoted inside a long one
    * has high containment but low Jaccard (the union is dominated by
    * the long side), and excerpt/quotation relationships are exactly
    * what a corpus pipeline must catch to avoid training on the same
    * passage twice at different granularities. Same gram-intersection
    * algebra as the Jaccard join, thresholded on the directed ratio;
    * emitted per direction so A-in-B and B-in-A are distinguishable.
    *
    * Scale path ([[Dedup.containmentPairs]]): adaptive Σ df² dispatch
    * between the plain gram self-join (the oracle's algebra, chosen
    * at harmless candidate volume) and the CONTAINED-side prefix
    * filter — lossless, so the oracle SQL is unchanged. NOT LSH: LSH
    * bands estimate Jaccard, and the containment-high/Jaccard-low
    * pairs this operator exists for collide with vanishing
    * probability. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairsFromGrams(
      docToksFrames(spark, dir)("grams3"), threshold = 0.9)

  /** Per-document dedup LINEAGE — the audit manifest a corpus release
    * ships: every document tagged with the FIRST pipeline stage that
    * would remove it (`exact_dup` → `near_dup` → `high_coverage`) or
    * `kept`. Composes the already-gated pieces (canonical-fingerprint
    * survivors, the LSH→Jaccard→CC near-dup graph, repeated-span
    * coverage) into one verdict frame — precedence mirrors execution
    * order, so the tag answers "WHY is this document not in the
    * release" without re-running anything. */
  def dedupLineage(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val (survivors, verified) = dedupCore(spark, dir)
    val surv = survivors.select(col("id").as("doc_id"),
      lit(true).as("surv"))
    val nearDropped = Dedup.connectedComponents(verified)
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"), lit(true).as("near"))
    val cov = Dedup.repeatedSpanCoverageFromSpans(docs, col("doc_id"),
        col("text"), spanFrames(spark, dir), maxCoverage = 0.5)
      .select(col("doc_id"), col("keep"))
    docs.select(col("doc_id"))
      .join(surv, Seq("doc_id"), "left_outer")
      .join(nearDropped, Seq("doc_id"), "left_outer")
      .join(cov, Seq("doc_id"))
      .select(col("doc_id"),
        when(col("surv").isNull, lit("exact_dup"))
          .when(col("near"), lit("near_dup"))
          .when(!col("keep"), lit("high_coverage"))
          .otherwise(lit("kept")).as("verdict"))
  }

  /** Dedup-stage COST manifest — the operational readout next to
    * [[dedupLineage]]'s per-document verdicts: where does the dedup
    * budget actually go at 100 TB. One row per stage with input/
    * output doc counts, pair volumes, and the BYTES the stage must
    * touch: `exact` scans every document once; `near_candidates`
    * reports the LSH generator's raw pair volume and the text bytes
    * the verify stage reads for it (the precision-of-the-generator
    * number — candidates vs verified IS the wasted-work ratio);
    * `near_verify` the surviving pair count and post-CC doc count;
    * `coverage` the final keep. All counts are exact aggregates over
    * the SAME materialized frames the lineage gate composes — no
    * stage recomputes another's work. */
  def dedupStageCosts(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.materialize(Tables(spark, dir, "documents")
      .select(col("doc_id").as("id"), col("text")))
    val (survivors, cand, verified0) = Dedup.dedupStagesWithCandidates(
      docs, col("id"), col("text"), n = 3, jaccardThreshold = 0.8,
      materializeCand = true)
    val verified = graft.Tables.materialize(verified0)
    val lens = graft.Tables.materialize(
      docs.select(col("id"), length(col("text")).cast("long").as("len")))
    val nearDropped = graft.Tables.materialize(
      Dedup.connectedComponents(verified)
        .filter(col("id") =!= col("component")).select(col("id")))
    val afterNear = graft.Tables.materialize(
      survivors.select(col("id"))
        .join(nearDropped, Seq("id"), "left_anti"))
    val kept = afterNear
      .join(Dedup.repeatedSpanCoverageFromSpans(docs, col("id"),
          col("text"), spanFrames(spark, dir), maxCoverage = 0.5)
        .select(col("doc_id").as("id"), col("keep")), "id")
      .filter(col("keep"))
    val docsStats = docs.join(lens, "id")
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("bytes_all"))
    val survStats = survivors.select(col("id")).join(lens, "id")
      .agg(count(lit(1)).as("n_surv"), sum(col("len")).as("bytes_surv"))
    val candStats = cand
      .join(lens.select(col("id").as("id1"), col("len").as("l1")), "id1")
      .join(lens.select(col("id").as("id2"), col("len").as("l2")), "id2")
      .agg(coalesce(count(lit(1)), lit(0L)).as("n_cand"),
        coalesce(sum(col("l1") + col("l2")), lit(0L)).as("bytes_cand"))
    val verStats = verified.agg(count(lit(1)).as("n_ver"))
    val nearStats = afterNear.join(lens, "id")
      .agg(count(lit(1)).as("n_after_near"),
        sum(col("len")).as("bytes_after_near"))
    val keptStats = kept.agg(count(lit(1)).as("n_kept"))
    docsStats.crossJoin(broadcast(survStats))
      .crossJoin(broadcast(candStats))
      .crossJoin(broadcast(verStats))
      .crossJoin(broadcast(nearStats))
      .crossJoin(broadcast(keptStats))
      .select(explode(array(
        struct(lit("1_exact").as("stage"), col("n_docs").as("n_in"),
          col("n_surv").as("n_out"), lit(0L).as("n_pairs"),
          col("bytes_all").as("bytes_touched")),
        struct(lit("2_near_candidates").as("stage"),
          col("n_surv").as("n_in"), col("n_surv").as("n_out"),
          col("n_cand").as("n_pairs"),
          col("bytes_cand").as("bytes_touched")),
        struct(lit("3_near_verify").as("stage"), col("n_surv").as("n_in"),
          col("n_after_near").as("n_out"), col("n_ver").as("n_pairs"),
          lit(0L).as("bytes_touched")),
        struct(lit("4_coverage").as("stage"),
          col("n_after_near").as("n_in"), col("n_kept").as("n_out"),
          lit(0L).as("n_pairs"),
          col("bytes_after_near").as("bytes_touched")))).as("s"))
      .select(col("s.stage").as("stage"), col("s.n_in").as("n_in"),
        col("s.n_out").as("n_out"), col("s.n_pairs").as("n_pairs"),
        col("s.bytes_touched").as("bytes_touched"))
  }

  /** Jaccard threshold sweep — the LSH parameter-tuning histogram:
    * verified pair counts per 0.1-wide similarity bin above 0.5. This
    * is how a deployment picks its dedup threshold and its MinHash
    * band/row split: a thin high band means aggressive thresholds are
    * cheap; a fat 0.5-0.7 mass means the S-curve needs more bands.
    * One aggregate over the already-gated pair frame; binning is
    * floor(j·10) capped at 9 (exact doubles in, integer bins out). */
  def jaccardThresholdSweep(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs3(spark, dir)
      .select(least(floor(col("jaccard") * lit(10.0)), lit(9.0))
        .cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n_pairs"))

  def dedupMinhashSig(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignaturesFromShingles(
      docToksFrames(spark, dir)("grams3"), numHashes = 16)

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhash3Frames(spark, dir)("pairs")

  /** Reorder-attack surface — how much duplication BYTE hashing
    * misses: docs collapsed by the canonical (sorted-distinct-token)
    * fingerprint minus docs collapsed by the plain content hash. A
    * positive `reorder_only` count is exactly the dup mass that
    * survives a naive md5 dedup (token-shuffled spam, re-serialized
    * scrapes) and is why [[dedupIncremental]]'s ledger keys on the
    * canonical form. Two distinct-counts over one scan. */
  def dedupReorderAudit(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .select(TextFunctions.fingerprint(col("text")).as("bfp"),
        TextFunctions.canonicalFingerprint(col("text")).as("cfp"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("bfp")).as("n_byte_distinct"),
        countDistinct(col("cfp")).as("n_canon_distinct"))
      .select(col("n_docs"),
        (col("n_docs") - col("n_byte_distinct")).as("byte_dups"),
        (col("n_docs") - col("n_canon_distinct")).as("canon_dups"),
        (col("n_byte_distinct") - col("n_canon_distinct"))
          .as("reorder_only"))
  }

  /** Shared document tokenization tier — the (id, toks) frame and its
    * n = 3 distinct-gram explosion, built ONCE per run and read by
    * every doc-level sketch family (Jaccard, MinHash, SimHash,
    * winnowing, containment, evidence, leakage). Before r19 each of
    * ~12 gates re-read and re-split the corpus text independently —
    * the §6 recompute-elimination shape again: ONE tokenization
    * artifact, many readers. Frames are re-widened to the session's
    * parallelism on read-back (the tier persists single-file). */
  private[queries] def docToksFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    val p = spark.sparkContext.defaultParallelism
    SharedFrames(spark, dir, "doc_toks") {
      val toked = graft.Tables.materialize(
        Dedup.tokenize(Tables(spark, dir, "documents"),
          col("doc_id"), col("text")))
      Seq("toks" -> toked, "grams3" -> Dedup.shinglesFromToks(toked, 3))
    }.map { case (k, v) => k -> v.repartition(p) }
  }

  /** Full exact-Jaccard pair frame (n = 3, τ = 0.5) over the shared
    * gram tier — `dedup_ngram_jaccard`'s whole output, persisted once;
    * the threshold sweep bins it and the truth-set audits project it
    * to (id1, id2). The tier keyword stays `jaccard_truth` (the name
    * the bench's built_frames attribution has carried since r15);
    * only its persisted columns widened from (id1, id2) to the full
    * (id1, id2, jaccard). doc_toks is resolved BEFORE the build:
    * SharedFrames tiers must never nest (computeIfAbsent).
    *
    * It is the exact-Jaccard truth set for the three audit gates that
    * grade candidate generators against it ([[winnowRecallAudit]],
    * [[dedupFamilyCompare]], [[lshPairPr]]): the truth set is the
    * expensive frame each audit used to rebuild independently (three
    * Σdf²-dispatched exact joins per run), so the FIRST caller in a JVM
    * computes it once and persists it to driver-local scratch parquet;
    * later callers read it back. Keyed by (applicationId, sfDir) so a
    * fresh session or a different SF never serves stale pairs; the
    * audits' outputs are byte-identical either way (same pairs, same
    * aggregates). At 100 TB this is the same shape deliberately: one
    * persisted truth tier that every audit reads, not a per-audit
    * recompute. */
  private def jaccardPairs3(spark: SparkSession, dir: String): DataFrame = {
    val grams3 = docToksFrames(spark, dir)("grams3")
    SharedFrames(spark, dir, "jaccard_truth") {
      Seq("pairs" -> Dedup.ngramJaccardPairsFromGrams(grams3,
        threshold = 0.5))
    }("pairs")
  }

  private def jaccardTruth3(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs3(spark, dir).select(col("id1"), col("id2"))

  /** Shared MinHash tier at the gate constants (n = 3, 16 hashes,
    * 4 rows/band): the persistable band-row index (the unit
    * `lsh_index_compact` maintains) and the distinct band-collision
    * pairs (`dedup_minhash_lsh`'s whole output; the family-compare and
    * leakage audits read the same frame). */
  private[queries] def minhash3Frames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    val grams3 = docToksFrames(spark, dir)("grams3")
    SharedFrames(spark, dir, "minhash3") {
      val bands = graft.Tables.materialize(
        Dedup.minhashBandRows(grams3, numHashes = 16, rowsPerBand = 4))
      Seq("bands" -> bands,
        "pairs" -> Dedup.minhashLshPairsFromBandRows(bands))
    }
  }

  /** Shared n = 2 gram frame over the shared tokenization — the word
    * co-occurrence substrate four gates previously rebuilt from the
    * raw corpus each: `bigram_novelty` consumes the (id, gram) frame
    * whole, and the three word-graph gates (`word_pagerank`,
    * `graph_bfs_dist`, `word_communities`) split the same grams into
    * (w1, w2) edges. doc_toks resolved BEFORE the build (tiers never
    * nest). */
  private def grams2Frames(spark: SparkSession, dir: String): DataFrame = {
    val toks = docToksFrames(spark, dir)("toks")
    SharedFrames(spark, dir, "grams2") {
      Seq("grams" -> Dedup.shinglesFromToks(toks, 2))
    }("grams")
  }

  /** Directed distinct word-bigram edges from the shared n = 2 gram
    * tier — byte-identical to each gate's old
    * `Dedup.shingles(documents, n = 2)` + split (shingles ≡
    * shinglesFromToks ∘ tokenize over the same corpus). */
  private def wordEdges2(spark: SparkSession, dir: String): DataFrame =
    grams2Frames(spark, dir).select(
      split(col("gram"), " ").getItem(0).as("w1"),
      split(col("gram"), " ").getItem(1).as("w2"))

  /** Shared 64-bit SimHash sketch over the shared tokenization —
    * `dedup_simhash`'s whole output; both banding gates
    * (`dedup_simhash_pairs` at maxBits = 12, the family compare at
    * 64) re-band the same persisted sketch. */
  private def simhashSketch(spark: SparkSession, dir: String): DataFrame = {
    val toks = docToksFrames(spark, dir)("toks")
    SharedFrames(spark, dir, "simhash_sketch") {
      Seq("sketch" -> Dedup.simhashFromToks(toks))
    }("sketch")
  }

  /** Shared survivors/verified frames of THE doc-dedup chain
    * (canonical-fp first-wins → shingle → MinHash-LSH → exact-Jaccard
    * verify at n = 3, τ = 0.8) — seven gates compose these two frames
    * (keepers, lineage, cluster stats, evidence, triplets); each used
    * to rebuild the whole chain by gate isolation. Same persisted
    * shape a 100 TB run uses: the pair graph and survivor set are
    * build artifacts every audit reads, not per-audit recomputes.
    * dedup_stage_costs keeps its own chain on purpose — it audits the
    * BUILD's stage volumes, so reading a prebuilt store would measure
    * nothing. */
  private def dedupCore(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val m = SharedFrames(spark, dir, "dedup_core") {
      val (s, v) = Dedup.dedupSurvivorsAndVerified(
        Tables(spark, dir, "documents"), col("doc_id"), col("text"),
        n = 3, jaccardThreshold = 0.8)
      Seq("survivors" -> s, "verified" -> v)
    }
    (m("survivors"), m("verified"))
  }

  /** Shared embedding ε-pair graph ([[Similarity.lshNearDupPairs]] at
    * the gate constants) — the substrate six gates build on
    * (embed_neardup_lsh itself, SemDeDup CC, DBSCAN, k-core,
    * triangles, two-hop). */
  private def embedPairs(spark: SparkSession, dir: String): DataFrame =
    SharedFrames(spark, dir, "embed_pairs") {
      Seq("pairs" -> Similarity.lshNearDupPairs(
        Tables(spark, dir, "embeddings"), col("vec_id"),
        col("embedding"), dim = 64, numPlanes = 8,
        threshold = 0.2, numTables = 2, maxBucketSize = 1000))
    }("pairs")

  /** Shared winnowing-family frames — ONE tokenization pass builds
    * the capped winnow pair sets at both audit gram sizes plus the
    * k = 5 exact-Jaccard truth, persisted via [[SharedFrames]] (the
    * disk-backed tier — NOT `.cache()`, whose best-effort executor
    * memory let the grown board evict the tokenized corpus between
    * `winnow_recall_audit`'s two passes and silently double its CPU
    * in round 15). The k = 3 pair set at the gate constants
    * (w = 4, maxDf = 64, minShared = 2) is the byte-identical frame
    * FIVE gates consume (`winnow_pairs` itself, the recall audit,
    * `winnow_verify_exact`, `dedup_family_compare`,
    * `winnow_dedup_cc`), so the detector runs once per run. */
  private[queries] def winnowFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    // resolved BEFORE the build — SharedFrames tiers must never nest
    val toked0 = docToksFrames(spark, dir)("toks")
    SharedFrames(spark, dir, "winnow_family") {
      val toked = graft.Tables.materialize(toked0)
      Seq(
        "wp3" -> Dedup.winnowPairsFromToks(toked,
          k = 3, w = 4, maxDf = 64, minShared = 2),
        "wp5" -> Dedup.winnowPairsFromToks(toked,
          k = 5, w = 4, maxDf = 64, minShared = 2))
    }
  }

  /** k = 5 exact-Jaccard truth set — its ONLY consumer is
    * [[winnowRecallAudit]], so it lives in its own tier: since r19
    * `winnow_family` has many non-audit consumers (the four
    * TrainQueries gates riding wp3) and they must not pay the k = 5
    * exact join on first touch. */
  private def jaccardTruth5(spark: SparkSession, dir: String): DataFrame = {
    val toked0 = docToksFrames(spark, dir)("toks")
    SharedFrames(spark, dir, "jaccard_truth5") {
      Seq("pairs" -> Dedup.ngramJaccardPairsFromToks(toked0,
        n = 5, threshold = 0.5).select(col("id1"), col("id2")))
    }("pairs")
  }

  /** Winnowing-vs-exact RECALL table at two gram sizes — the recorded
    * miss rate of the approximation [[winnowPairsQ]] deploys: per
    * k ∈ {3, 5}, the exact n-gram-Jaccard ≥ 0.5 truth set
    * ([[Dedup.ngramJaccardPairs]], the Σdf²-dispatched exact join)
    * vs capped winnowing pairs ([[Dedup.winnowPairs]], w = 4), with
    * pair counts, hits, recall, and detector precision. Two exact
    * integers and two closing divides per row — hash-stable; the
    * counts compose via crossed 1-row aggregates, nothing through
    * the driver. Every operand is a persisted [[winnowFrames]] /
    * [[jaccardTruth3]] frame — the audit only reads and counts. A
    * production run points the same audit at a deterministic sample
    * tier. */
  def winnowRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val wf = winnowFrames(spark, dir)
    Seq(3, 5).map { k =>
      val truth =
        if (k == 3) jaccardTruth3(spark, dir)
        else jaccardTruth5(spark, dir)
      val wp = wf(s"wp$k")
        .select(col("id_a").as("id1"), col("id_b").as("id2"))
      val hit = truth.join(wp, Seq("id1", "id2"), "left_semi")
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(wp.agg(count(lit(1)).as("n_winnow")))
        .crossJoin(hit.agg(count(lit(1)).as("n_hit")))
        .select(lit(k.toLong).as("gram_k"), col("n_truth"),
          col("n_winnow"), col("n_hit"),
          when(col("n_truth") > 0, col("n_hit").cast("double") /
              col("n_truth").cast("double"))
            .otherwise(lit(1.0)).as("recall"),
          when(col("n_winnow") > 0, col("n_hit").cast("double") /
              col("n_winnow").cast("double"))
            .otherwise(lit(1.0)).as("prec"))
    }.reduce(_ unionByName _)
  }

  /** EXACT verification tier above winnowing — the suffix-array-style
    * check run only on the candidates the sketch surfaced: for each
    * [[Dedup.winnowPairs]] pair, the exact LONGEST SHARED TOKEN RUN
    * between the two documents via the diagonal-islands algebra
    * (token-position matches grouped by the alignment offset
    * pa − pb; a run of consecutive pa within one diagonal is a
    * shared run, so max island size = exact LCS run length).
    * `verified` (run ≥ 6 = w+k−1) certifies the pair is a true
    * long-run overlap, not a hash accident. Note the implication
    * only runs one way: the winnowing guarantee (any shared run ≥ 6
    * shares a fingerprint) holds for RAW fingerprints, but
    * [[Dedup.winnowPairs]]' df cap (maxDf=64) and minShared ≥ 2 can
    * drop hot fingerprints, so run ≥ 6 does not certify WHICH
    * surviving fingerprints surfaced the pair under the cap.
    *
    * Scale shape: the corpus contributes only the PAIRED docs' token
    * positions (semi-join); per-pair match volume is bounded by
    * token-frequency products within two documents, and the islands
    * window partitions by (pair, diagonal) — state bounded by doc
    * length, never corpus size. All integers; hash-exact. */
  def winnowVerifyExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val pairs = winnowFrames(spark, dir)("wp3")
    val runs = Dedup.longestSharedRuns(pairs, docs, col("doc_id"),
      col("text"))
    pairs.join(runs, Seq("id_a", "id_b"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("lcs_run"), (col("lcs_run") >= 6).as("verified"))
  }

  /** Sketch-family bake-off — [[lshPairPr]] generalized to the three
    * candidate generators on the SAME exact-Jaccard truth set: raw
    * MinHash band collisions, raw SimHash band collisions (no
    * hamming verify — the generator alone), and capped winnowing
    * pairs. One table answers "which sketch fits this corpus":
    * per family, candidate volume, precision (verify cost) and
    * recall (what survives dedup silently). All operands reuse the
    * gated operators verbatim; the audit is one union + one join
    * against the bounded truth set. */
  def dedupFamilyCompare(spark: SparkSession, dir: String): DataFrame = {
    val (exact, nExact) =
      graft.Tables.materializeCounted(jaccardTruth3(spark, dir))
    val fams = Seq(
      "minhash_lsh" -> minhash3Frames(spark, dir)("pairs"),
      "simhash" -> Dedup.simhashNearDupPairsFromSketch(
          simhashSketch(spark, dir), maxBits = 64)
        .select(col("id1"), col("id2")),
      "winnow" -> winnowFrames(spark, dir)("wp3")
        .select(col("id_a").as("id1"), col("id_b").as("id2")))
    val union = fams.map { case (f, df) =>
      df.withColumn("family", lit(f))
    }.reduce(_ unionByName _)
    def d(c: Column) = c.cast("double")
    union
      .join(exact.withColumn("hit", lit(1L)), Seq("id1", "id2"), "left")
      .groupBy(col("family"))
      .agg(count(lit(1)).as("n_cand"),
        sum(coalesce(col("hit"), lit(0L))).as("n_both"))
      .withColumn("n_exact", lit(nExact))
      .select(col("family"), col("n_exact"), col("n_cand"),
        col("n_both"),
        when(col("n_cand") > 0, d(col("n_both")) / d(col("n_cand")))
          .otherwise(lit(1.0)).as("precision"),
        when(col("n_exact") > 0, d(col("n_both")) / d(col("n_exact")))
          .otherwise(lit(1.0)).as("recall"))
  }

  /** LSH candidate quality MEASURED — precision/recall of the raw
    * MinHash band candidates ([[dedupMinhashLsh]]) against the exact
    * Jaccard ≥ 0.5 truth set ([[dedupNgramJaccard]]): the one-number
    * answer to "are 16 hashes × 4 bands the right sketch for this
    * corpus". Low precision → wasted verify work (more bands/rows);
    * low recall → silently surviving near-dups (fewer rows per
    * band). Both operands are the already-gated frames; the audit
    * adds two counts and one join on the bounded pair sets. */
  def lshPairPr(spark: SparkSession, dir: String): DataFrame = {
    val (exact, nExact) =
      graft.Tables.materializeCounted(jaccardTruth3(spark, dir))
    val (cand, nCand) = graft.Tables.materializeCounted(
      dedupMinhashLsh(spark, dir).select(col("id1"), col("id2")))
    val nBoth = exact.join(cand, Seq("id1", "id2")).count()
    val spark2 = spark
    import spark2.implicits._
    Seq((nExact, nCand, nBoth,
      if (nCand > 0) nBoth.toDouble / nCand.toDouble else 1.0,
      if (nExact > 0) nBoth.toDouble / nExact.toDouble else 1.0))
      .toDF("n_exact", "n_cand", "n_both", "precision", "recall")
  }

  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashSketch(spark, dir)

  def dedupSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairsFromSketch(
      simhashSketch(spark, dir), maxBits = 12)

  // Production shape: the band-bucket skew cap is ON
  // (Dedup.DefaultMaxBandBucket) — at every gated/benched SF the
  // largest band bucket is far below the cap, so the capped plan and
  // the uncapped oracle agree exactly while the O(n²)-bucket guard
  // stays in the measured path.
  def docDedupPipeline(spark: SparkSession, dir: String): DataFrame = {
    val (survivors, verified) = dedupCore(spark, dir)
    Dedup.keptFrom(survivors, verified)
  }

  def docDedupCc(spark: SparkSession, dir: String): DataFrame = {
    val (survivors, verified) = dedupCore(spark, dir)
    Dedup.ccKeptFrom(survivors, verified)
  }

  /** [[docDedupCc]] with a QUALITY-AWARE keeper: per duplicate
    * component, keep the member with the best model score (ties → min
    * id; exact-dup members share text and therefore score, so the
    * tie-break is load-bearing) instead of blindly keeping min id —
    * the policy real corpus prep uses (keep the best-quality
    * representative, drop its near-dups). The keeper is one
    * row_number window over the component frame, so swapping policy
    * costs nothing structural — the pair graph and CC are unchanged. */
  def docDedupBest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
    val (survivors, verified) = dedupCore(spark, dir)
    val cc = Dedup.connectedComponents(verified)
    val scored = graft.ext.Scoring.scoreDocuments(docs,
        col("doc_id"), col("text"),
        newScorer = () => new graft.ext.Scoring.HashedLinearScorer())
      .toDF().select(col("doc_id").as("id"), col("score"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("score").desc, col("id").asc)
    val best = cc.join(scored, "id")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select(col("id"))
    val dropped = cc.select(col("id")).join(best, Seq("id"), "left_anti")
    survivors.join(dropped, Seq("id"), "left_anti").select(col("id"))
  }

  /** Shared repeated-span frame ([[Dedup.repeatedSpans]] at the gate
    * constants gramChars = 40, minFreq = 2) — the per-position gram
    * pass is the expensive half of SIX gates (`substring_dedup`
    * itself, `substring_splice`, `substring_dedup_filter`,
    * `corpus_quality_e2e`, `dedup_lineage`, `dedup_stage_costs`'
    * coverage stage), each of which used to re-run it by gate
    * isolation (~45 task-CPU-s per pass at sf0.1, ~200 MB of gram
    * shuffle each). The FIRST caller persists the (doc_id,
    * span_start, span_end, n_gram_hits) frame; consumers compose
    * coverage/splice algebra over it — byte-identical outputs, one
    * gram pass per run. Same shape at 100 TB: the span frame is a
    * build artifact every policy readout shares. */
  private def spanFrames(spark: SparkSession, dir: String): DataFrame =
    SharedFrames(spark, dir, "substring_spans") {
      Seq("spans" -> Dedup.repeatedSpans(Tables(spark, dir, "documents"),
        col("doc_id"), col("text"), gramChars = 40, minFreq = 2))
    }("spans")

  /** Substring/passage-level exact dedup (see [[Dedup.repeatedSpans]]):
    * maximal spans whose 40-char grams repeat corpus-wide — the
    * suffix-array-dedup output in distributed gram algebra. */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    spanFrames(spark, dir)

  /** Contrastive TRIPLET mining — the training-pair prep a
    * retrieval/embedding trainer runs over the dedup graph: every
    * LSH-verified near-dup pair is an (anchor, positive); negatives
    * are drawn deterministically from a small mod-sampled pool
    * (doc_id ≡ 0 mod 29, broadcast), excluding pool docs in the
    * anchor's duplicate component (a near-dup is NOT a negative —
    * exactly the false-negative poisoning in-batch sampling suffers),
    * ranked per (anchor, positive) by md5(anchor|neg) with 2 kept.
    * Pool-bounded: the candidate frame is |pairs| × |pool| with a
    * per-pair window over ≤ |pool| rows — never corpus². */
  def contrastiveTriplets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val (_, verified) = dedupCore(spark, dir)
    val pairs = graft.Tables.materialize(
      verified.select(col("id1").as("anchor"),
        col("id2").as("positive")))
    val cc = graft.Tables.materialize(Dedup.connectedComponents(
      pairs.select(col("anchor").as("id1"), col("positive").as("id2"))))
    val pool = docs.filter(col("doc_id") % 29 === 0)
      .select(col("doc_id").as("neg_id"))
    val aComp = cc.select(col("id").as("anchor"),
      col("component").as("ac"))
    val nComp = cc.select(col("id").as("neg_id"),
      col("component").as("nc"))
    pairs.crossJoin(broadcast(pool))
      .join(aComp, Seq("anchor"), "left")
      .join(nComp, Seq("neg_id"), "left")
      .filter(col("neg_id") =!= col("anchor"))
      .filter(col("nc").isNull || col("nc") =!= col("ac"))
      .withColumn("h", md5(concat_ws("|", col("anchor"), col("neg_id"))))
      .withColumn("neg_rank", row_number().over(
        Window.partitionBy(col("anchor"), col("positive"))
          .orderBy(col("h").asc, col("neg_id").asc)).cast("long"))
      .filter(col("neg_rank") <= 2)
      .select(col("anchor"), col("positive"), col("neg_id"),
        col("neg_rank"))
  }

  /** Surgical substring removal ([[Dedup.spliceRepeatedSpans]]):
    * every repeated span cut out exactly, docs rebuilt from the
    * complement gaps — the splice the span frame exists to drive
    * (coverage-filter drops WHOLE docs; this keeps the unique
    * remainder). */
  def substringSplice(spark: SparkSession, dir: String): DataFrame =
    Dedup.spliceRepeatedSpansFromSpans(Tables(spark, dir, "documents"),
      col("doc_id"), col("text"), spanFrames(spark, dir))

  /** Winnowing (MOSS) fingerprint selection over token 3-grams with a
    * 4-gram window ([[Dedup.winnowFingerprints]]): the localized
    * fingerprint family — any shared run of ≥ 6 tokens between two
    * docs is guaranteed a shared fingerprint, at ~2/(w+1) density. */
  def winnowFingerprint(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowFingerprints(Tables(spark, dir, "documents"),
      col("doc_id"), col("text"), k = 3, w = 4)

  /** Localized near-dup pairs over the winnowing index
    * ([[Dedup.winnowPairs]]): docs sharing ≥ 2 selected fingerprint
    * hashes, hot fingerprints (df > 64) dropped before the
    * self-join — the partial-overlap detector whole-doc MinHash
    * dilutes away. */
  def winnowPairsQ(spark: SparkSession, dir: String): DataFrame =
    winnowFrames(spark, dir)("wp3")

  /** Survivors after clustering the winnowing pair graph
    * ([[Dedup.winnowPairs]] → [[Dedup.connectedComponents]], min-id
    * keeper) — the fingerprint family run end-to-end
    * (select → pair → cluster → keep), the localized-overlap twin of
    * [[embedDedupCc]]'s geometric one. */
  def winnowDedupCc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val pairs = winnowFrames(spark, dir)("wp3")
      .select(col("id_a").as("id1"), col("id_b").as("id2"))
    val cc = Dedup.connectedComponents(pairs)
    val dropped = cc.filter(col("id") =!= col("component"))
      .select(col("id"))
    docs.select(col("doc_id").as("id"))
      .join(dropped, Seq("id"), "left_anti").select(col("id"))
  }

  /** Doc-level verdict over the span frame (see
    * [[Dedup.repeatedSpanCoverage]]): duplicated-character coverage
    * per doc and the C4-style keep/drop at 50%. */
  def substringDedupFilter(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpanCoverageFromSpans(Tables(spark, dir, "documents"),
      col("doc_id"), col("text"), spanFrames(spark, dir),
      maxCoverage = 0.5)

  /** The round-10 operators composed end-to-end — the quality half of
    * corpus prep: model-score filter ([[graft.ext.Scoring
    * .HashedLinearScorer]], keep score >= 0) ∩ span-coverage filter
    * ([[Dedup.repeatedSpanCoverage]], keep <= 50% duplicated chars),
    * then exact canonical-fingerprint dedup among the SURVIVORS
    * (min doc_id wins). Output is the quality-annotated manifest
    * (doc_id, score, dup_coverage) a downstream sampler consumes.
    * Each stage is the already-gated operator unchanged; the gate
    * pins the composition semantics (filters before dedup, so a
    * dropped low-quality representative promotes the next id). */
  def corpusQualityE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val scored = graft.ext.Scoring.scoreDocuments(docs,
        col("doc_id"), col("text"),
        newScorer = () => new graft.ext.Scoring.HashedLinearScorer())
      .toDF()
      .filter(col("label") === "keep")
      .select(col("doc_id"), col("score"))
    val cov = Dedup.repeatedSpanCoverageFromSpans(docs, col("doc_id"),
        col("text"), spanFrames(spark, dir), maxCoverage = 0.5)
      .filter(col("keep"))
      .select(col("doc_id"), col("dup_coverage"))
    val canon = docs.select(col("doc_id"),
      TextFunctions.canonicalFingerprint(col("text")).as("cfp"))
    val surv = scored.join(cov, "doc_id").join(canon, "doc_id")
    val keepIds = surv.groupBy(col("cfp"))
      .agg(min(col("doc_id")).as("doc_id"))
    surv.join(keepIds, Seq("cfp", "doc_id"))
      .select(col("doc_id"), col("score"), col("dup_coverage"))
  }

  /** URL-canonicalization dedup (see
    * [[graft.functions.UrlFunctions.canonicalizeUrl]]): the crawl-key
    * pass that runs before any content dedup. The corpus has no URL
    * column, so the query derives a deterministic messy-URL FIXTURE
    * from doc_id arithmetic — five surface variants (mixed-case host +
    * default port + trailing slash, utm params, fragment, gclid mixed
    * with a real param, http:80) over 100 shared paths — then
    * canonicalizes and keeps min(doc_id) per canonical key. Variants
    * 0/1/2 of each path group collapse to one key; the ?id=7 and the
    * http-scheme variants stay distinct by design (real params and
    * scheme are content-bearing). One hash shuffle, all codegen'd
    * string expressions. */
  def urlDedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.UrlFunctions
    val g = pmod(col("doc_id"), lit(100)).cast("string")
    val url = when(expr("doc_id div 100 % 5") === 0,
        concat(lit("https://Example.COM:443/site/page-"), g, lit("/")))
      .when(expr("doc_id div 100 % 5") === 1,
        concat(lit("https://example.com/site/page-"), g,
          lit("?utm_source=feed&utm_campaign=x")))
      .when(expr("doc_id div 100 % 5") === 2,
        concat(lit("https://example.com/site/page-"), g, lit("#section-2")))
      .when(expr("doc_id div 100 % 5") === 3,
        concat(lit("https://example.com/site/page-"), g,
          lit("?id=7&gclid=abc123")))
      .otherwise(concat(lit("HTTP://EXAMPLE.com:80/site/page-"), g))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"),
        UrlFunctions.canonicalizeUrl(col("url")).as("canon"))
      .groupBy(col("canon"))
      .agg(min(col("doc_id")).as("kept_doc_id"),
        count(lit(1)).as("n_variants"))
  }

  // ---------------------------------------------------------- similarity

  def annBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.bruteForceTopK(
      emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10)
  }

  /** HYBRID lexical+vector retrieval with Reciprocal-Rank-Fusion —
    * the production search composition (BM25 ∪ embedding ANN fused by
    * RRF, Cormack et al., SIGIR'09) absent from either family alone:
    * per query-by-example doc (id < 10, the seed-query convention,
    * doc_id ↔ vec_id row alignment), (a) the LEXICAL list — the
    * query doc's top-3 tokens by (tf DESC, token ASC) scored through
    * the [[bm25LiteRank]] IEEE tree over only their posting lists,
    * pivoted to a fixed three-term sum (no float-order ambiguity),
    * top-10; (b) the VECTOR list — exact cosine top-10
    * ([[annBruteForce]]'s algebra); (c) RRF fusion — score =
    * Σ_list 1/(60 + rank), each term one IEEE divide, their sum one
    * add, absent-list membership contributes exactly 0 — then the
    * fused (rrf DESC, doc_id ASC) top-10. RRF is THE fusion rule
    * deployed stacks use because it needs no score calibration
    * between modalities — only ranks cross the boundary, which is
    * also what makes it hash-gateable. Scale shape: lexical work is
    * posting-list-bounded, vector work is the audited brute pass (a
    * deployment swaps in the IVF/graph serving path behind the same
    * rank contract), fusion is a 20-row-per-query outer join.
    * MEASURED at sf0.01: of 100 fused rows, 12 appear in BOTH lists
    * and leapfrog every single-list row below them (e.g. lex-7/vec-3
    * fuses to rank 2) — the cross-modality agreement signal RRF
    * exists to surface. */
  /** Shared hybrid-fusion tier: all three fused rankings
    * (brute-legged truth, served-IVF leg, diversified-graph-walk
    * leg) persist once per (applicationId, sfDir) — the fusion
    * gates and the overlap audits each read their frame instead of
    * re-running the lexical chain, the index build, or the walk. */
  private def hybridFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    // resolve the serving-store tier BEFORE entering this tier's
    // build block (the no-nested-computeIfAbsent house rule)
    val graphLeg = hybridGraphLeg(spark, dir)
    SharedFrames(spark, dir, "hybrid_rrf") {
      Seq("brute" -> hybridRrf(spark, dir, hybridBruteLeg(spark, dir)),
        "served" -> hybridRrf(spark, dir, hybridServedLeg(spark, dir)),
        "graph" -> hybridRrf(spark, dir, graphLeg))
    }
  }

  /** The GRAPH-served vector leg: the same beam walk
    * `ann_graph_search` serves (diversified store, 8 stratified
    * entries, beam 16, 3 hops) shaped to the fusion contract — the
    * second deployment form of the vector side, per-query cost
    * beam·degree·hops regardless of corpus size. */
  private def hybridGraphLeg(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.graphBeamSearch(emb, col("vec_id"), col("embedding"),
        servingGraph(spark, dir), emb.filter(col("vec_id") < 10),
        col("vec_id"), col("embedding"),
        k = 10, beam = 16, hops = 3, entries = 8)
      .select(col("query_id"), col("nbr_id").as("doc_id"),
        col("rank").as("vec_rank"))
  }

  /** Hybrid RRF fusion over the GRAPH serving path — the third
    * variant row next to [[hybridRrfFusion]] (brute truth) and
    * [[hybridRrfServed]] (IVF probe): identical lexical leg and
    * fusion rule, vector candidates from the diversified-graph beam
    * walk. `hybrid_rrf_graph_overlap` audits its fused-rank drift
    * against the brute truth, the same contract as the IVF leg. */
  def hybridRrfGraph(spark: SparkSession, dir: String): DataFrame =
    hybridFrames(spark, dir)("graph")

  /** Brute-vs-GRAPH fused-rank overlap — [[hybridRrfServedOverlap]]'s
    * twin for the graph leg: how much of the fused top-10 survives
    * swapping the exact vector scan for the beam walk. MEASURED at
    * sf0.01: 80 of 100 fused rows agree (the walk's 0.79-recall leg
    * vs the IVF leg's 0.97 at nProbe 4 — the fusion drift tracks the
    * vector leg's own recall, as the rank contract predicts). */
  def hybridRrfGraphOverlap(spark: SparkSession, dir: String)
      : DataFrame = {
    val frames = hybridFrames(spark, dir)
    val brute = frames("brute").select(col("query_id"), col("doc_id"))
    val graph = frames("graph").select(col("query_id"), col("doc_id"))
    val nq = brute.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    brute.join(graph, Seq("query_id", "doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
      .crossJoin(broadcast(nq))
      .select(col("nq").as("n_queries"),
        (col("nq") * 10).as("n_possible"), col("n_overlap"),
        (col("n_overlap").cast("double") /
          (col("nq") * 10).cast("double")).as("overlap"))
  }

  def hybridRrfFusion(spark: SparkSession, dir: String): DataFrame =
    hybridFrames(spark, dir)("brute")

  /** The exact vector leg: [[annBruteForce]]'s algebra shaped to the
    * fusion contract (query_id, doc_id, vec_rank) — the truth column
    * the served variant is audited against. */
  private def hybridBruteLeg(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.bruteForceTopK(emb, col("vec_id"),
        col("embedding"), emb.filter(col("vec_id") < 10),
        col("vec_id"), col("embedding"), 10)
      .select(col("query_id"), col("nbr_id").as("doc_id"),
        col("rank").as("vec_rank"))
  }

  /** The SERVED vector leg: the persisted-IVF probe
    * ([[Similarity.ivfTopKFromIndex]] — seed-cell centroids + the
    * full assignment table written to parquet and read back, the
    * `ann_ivf_persisted` lifecycle at the shared ivfAssign oracle
    * algebra). This is the form a deployment's fusion actually runs:
    * vector candidates come from the index, never a corpus scan. */
  private def hybridServedLeg(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val tmp = graft.Tables.scratchDir("graft_hybrid_ivf")
    val centroids = Tables.writeParquet(emb.orderBy(col("vec_id").asc)
        .limit(16)
        .select(col("vec_id").as("cell_id"),
          posexplode(col("embedding")).as(Seq("i", "cx")))
        .select(col("cell_id"), col("i"),
          col("cx").cast("double").as("cx")),
      s"$tmp/centroids")
    val assignments = Tables.writeParquet(
      Similarity.cellAssignmentsFor(emb, col("vec_id"), col("embedding"),
        centroids),
      s"$tmp/assignments")
    Similarity.ivfTopKFromIndex(emb, col("vec_id"), col("embedding"),
        emb.filter(col("vec_id") < 10), col("vec_id"),
        col("embedding"), k = 10, nProbe = 4, centroids, assignments)
      .select(col("query_id"), col("nbr_id").as("doc_id"),
        col("rank").as("vec_rank"))
  }

  /** Hybrid RRF fusion over the SERVED ANN path — the deployment
    * form of [[hybridRrfFusion]]: identical lexical leg and fusion
    * rule, vector candidates from the persisted IVF index
    * ([[hybridServedLeg]]) instead of the brute scan. Only ranks
    * cross the modality boundary, so swapping the vector engine
    * cannot perturb the fusion algebra — what CAN drift is the
    * candidate set (probed cells miss true neighbors);
    * `hybrid_rrf_served_overlap` audits exactly that delta against
    * the brute-legged truth — MEASURED at sf0.01: 97 of 100 fused
    * top-10 rows agree (nProbe = 4 of 16 cells). */
  def hybridRrfServed(spark: SparkSession, dir: String): DataFrame =
    hybridFrames(spark, dir)("served")

  /** The audited brute-vs-served fusion delta: per-query overlap of
    * the two fused top-10s (same lexical leg, vector leg exact vs
    * probed), aggregated to ONE readout row — the number a
    * deployment checks before trusting the indexed fusion path.
    * Rank-contract drift between exact and probed candidate lists
    * surfaces here first. */
  def hybridRrfServedOverlap(spark: SparkSession, dir: String)
      : DataFrame = {
    val frames = hybridFrames(spark, dir)
    val brute = frames("brute").select(col("query_id"), col("doc_id"))
    val served = frames("served").select(col("query_id"), col("doc_id"))
    val nq = brute.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    brute.join(served, Seq("query_id", "doc_id"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
      .crossJoin(broadcast(nq))
      .select(col("nq").as("n_queries"),
        (col("nq") * 10).as("n_possible"), col("n_overlap"),
        (col("n_overlap").cast("double") /
          (col("nq") * 10).cast("double")).as("overlap"))
  }

  /** Shared END-TO-END serving composition tier — the stack a
    * deployment actually runs, in ONE plan: hybrid RRF candidates
    * (graph-walk vector leg ∪ BM25-lite lexical leg, the
    * [[hybridRrfGraph]] chain) → cross-encoder RERANK through the
    * [[graft.ext.Scoring]] seam (query ‖ document text, the
    * deterministic [[graft.ext.Scoring.HashedLinearScorer]] —
    * production swaps a real model behind the same seam) → grouped
    * MMR diversity re-rank ([[graft.ext.Corpus.mmrRerankGrouped]],
    * λ = 0.5, k = 5). Until now each stage was gated alone
    * (`hybrid_rrf_graph`, `retrieval_rerank`,
    * `retrieval_mmr_grouped`); composing them in one plan pins the
    * STAGE-INTERFACE contracts — rank columns, tie orders, candidate
    * hand-off — that drift silently when stages are only audited in
    * isolation. Funnel: 10 fused candidates/query → top-8 reranked →
    * 5 diversified; model cost is bounded by candidates (80 scores),
    * never the corpus — the economics the manifest frame records
    * per stage. */
  /** The rerank→MMR tail of the serving composition, factored so
    * the gate tier and the structural spec run ONE implementation:
    * candidates (query_id, doc_id) are scored through the Scoring
    * seam on 'q<query_id> <doc text>' (cross-encoder shape), cut to
    * the per-query top-`rerankK` on (score DESC, doc_id ASC), and
    * diversity-re-ranked by grouped MMR (λ = 0.5) to `mmrK` picks.
    * Returns (reranked, final). */
  private[graft] def serveRerankMmr(docs: DataFrame, cand: DataFrame,
      rerankK: Int = 8, mmrK: Int = 5): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val withText = cand
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("query_id"), col("doc_id"),
        (col("query_id") * lit(1000000L) + col("doc_id")).as("pid"),
        concat(lit("q"), col("query_id"), lit(" "), col("text"))
          .as("qtext"))
    val scored = graft.ext.Scoring.scoreDocuments(
        withText.select(col("pid"), col("qtext")),
        col("pid"), col("qtext"),
        newScorer = () => new graft.ext.Scoring.HashedLinearScorer())
      .toDF()
      .select(col("doc_id").as("pid"),
        col("score").as("rerank_score"))
    val reranked = graft.Tables.materialize(withText
      .join(scored, "pid")
      .withColumn("rr", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rerank_score").desc, col("doc_id").asc)))
      .filter(col("rr") <= rerankK)
      .select(col("query_id"), col("doc_id"), col("rerank_score")))
    val withToks = reranked.join(docs.select(col("doc_id"),
        array_distinct(graft.functions.TextFunctions
          .tokens(col("text"))).as("toks")), "doc_id")
    val fin = graft.ext.Corpus.mmrRerankGrouped(withToks,
        col("query_id"), col("doc_id"), col("rerank_score"),
        col("toks"), k = mmrK, lambda = 0.5)
      .select(col("qid").cast("long").as("query_id"), col("rnk"),
        col("id").as("doc_id"), col("mmr_score"))
    (reranked, fin)
  }

  private def serveE2eFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] = {
    // resolve the hybrid tier BEFORE entering this build block
    val hybrid = hybridFrames(spark, dir)("graph")
    SharedFrames(spark, dir, "serve_e2e") {
      val docs = Tables(spark, dir, "documents")
      val cand = hybrid.select(col("query_id"), col("doc_id"))
      val (reranked, fin) = serveRerankMmr(docs, cand)
      def cnt(df: DataFrame) =
        df.agg(count(lit(1)).cast("long").as("c"))
      def stageRow(name: String, in: DataFrame, out: DataFrame) =
        cnt(in).select(lit(name).as("stage"), col("c").as("n_in"))
          .crossJoin(cnt(out).select(col("c").as("n_out")))
      val stages = stageRow("hybrid",
          cand.select(col("query_id")).distinct(), cand)
        .unionByName(stageRow("rerank", cand, reranked))
        .unionByName(stageRow("mmr", reranked, fin))
      Seq("final" -> fin, "stages" -> stages)
    }
  }

  /** The fused→reranked→diversified top-k itself — what the serving
    * stack returns to a user: (query_id, rnk 1..5, doc_id,
    * mmr_score). The oracle composes the three stages' existing
    * chains end-to-end. */
  def serveE2e(spark: SparkSession, dir: String): DataFrame =
    serveE2eFrames(spark, dir)("final")

  /** The composition's stage MANIFEST: candidates in/out per stage
    * (hybrid fuse-in queries → candidates, rerank 10→8 cut, MMR
    * 8→5 picks) — the funnel record that catches a stage silently
    * widening (model cost explosion) or collapsing (starved
    * diversity re-rank). */
  def serveE2eStages(spark: SparkSession, dir: String): DataFrame =
    serveE2eFrames(spark, dir)("stages")

  private def hybridRrf(spark: SparkSession, dir: String,
      vec: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(spark, dir, "documents")
    // single-space split with empty tokens filtered — the SAME
    // whitespace convention as `dl` below and the DuckDB twin's
    // string_split(text, ' ') … term <> '' (a phantom-empty-token /
    // tab-separation divergence otherwise, the Corpus.makeNgrams
    // lesson)
    val tf = docs
      .select(col("doc_id"),
        explode(filter(split(col("text"), " "), t => t =!= lit("")))
          .as("term"))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    val qdf = tf.filter(col("doc_id") < 10)
      .withColumn("tr", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("term").asc)))
      .filter(col("tr") <= 3)
      .groupBy(col("doc_id"))
      .agg(max(when(col("tr") === 1, col("term"))).as("t1"),
        max(when(col("tr") === 2, col("term"))).as("t2"),
        max(when(col("tr") === 3, col("term"))).as("t3"))
      .select(col("doc_id").as("query_id"), col("t1"), col("t2"),
        col("t3"))
    val dl = docs.select(col("doc_id"),
      size(filter(split(col("text"), " "), t => t =!= ""))
        .cast("long").as("dl"))
    val nDocs = docs.count()
    val sumDl = dl.agg(sum(col("dl"))).collect()(0).getLong(0)
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    def d(c: Column) = c.cast("double")
    val qterms = qdf.select(explode(array(col("t1"), col("t2"),
      col("t3"))).as("term")).na.drop().distinct()
    val ts = graft.Tables.materialize(
      tf.join(broadcast(qterms), "term")
        .join(broadcast(dfreq.join(broadcast(qterms), "term")), "term")
        .join(dl, "doc_id")
        .select(col("term"), col("doc_id"),
          (((d(lit(nDocs)) - d(col("df")) + lit(0.5)) /
            (d(col("df")) + lit(0.5))) *
          (d(col("tf")) * lit(2.2)) /
          (d(col("tf")) + lit(1.2) *
            (lit(0.25) + lit(0.75) *
              (d(col("dl")) / (d(lit(sumDl)) / d(lit(nDocs)))))))
            .as("s")))
    val cand = qdf
      .select(col("query_id"), explode(array(col("t1"), col("t2"),
        col("t3"))).as("term"))
      .na.drop()
      .join(ts.select(col("term"), col("doc_id")), "term")
      .select(col("query_id"), col("doc_id")).distinct()
    def side(i: Int) = ts.select(col("term").as(s"t$i"),
      col("doc_id"), col("s").as(s"s$i"))
    val lex = cand.join(broadcast(qdf), "query_id")
      .join(side(1), Seq("t1", "doc_id"), "left")
      .join(side(2), Seq("t2", "doc_id"), "left")
      .join(side(3), Seq("t3", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"),
        (coalesce(col("s1"), lit(0.0)) + coalesce(col("s2"), lit(0.0))
          + coalesce(col("s3"), lit(0.0))).as("score"))
      .withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("lex_rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    def rrfTerm(rank: Column): Column =
      when(rank.isNotNull,
        lit(1.0) / (lit(60.0) + rank.cast("double")))
        .otherwise(lit(0.0))
    lex.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_score",
        rrfTerm(col("lex_rank")) + rrfTerm(col("vec_rank")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_score").desc, col("doc_id").asc))
        .cast("long"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        col("rrf_score"), col("rank"))
  }

  /** Contrastive hard negatives (see [[Similarity.hardNegatives]]):
    * per labeled query vector, the 10 most-similar cross-label corpus
    * vectors. */
  def annHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.hardNegatives(
      emb, col("vec_id"), col("embedding"), col("label"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      col("label"), k = 10)
  }

  /** The pre-filter-vs-post-filter deficit MEASURED: per query, how
    * many same-label rows actually appear in the UNFILTERED exact
    * top-10 (what post-filtering would return) vs the 5 the
    * pre-filtered search guarantees. A positive deficit row is a
    * query the post-filter strategy silently under-serves — the
    * audit that justifies [[annFilteredTopK]]'s join shape. */
  def annPostfilterDeficit(spark: SparkSession, dir: String)
      : DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val lab = emb.select(col("vec_id").as("nbr_id"),
      col("label").as("nbr_label"))
    val qlab = emb.select(col("vec_id").as("query_id"),
      col("label").as("query_label"))
    annBruteForce(spark, dir)
      .join(lab, "nbr_id").join(qlab, "query_id")
      .groupBy(col("query_id"))
      .agg(sum(when(col("nbr_label") === col("query_label") &&
          col("nbr_id") =!= col("query_id"), 1L).otherwise(0L))
        .as("post_filter_hits"))
      .select(col("query_id"), col("post_filter_hits"),
        greatest(lit(5L) - col("post_filter_hits"), lit(0L))
          .as("deficit"))
  }

  /** Metadata-filtered retrieval ([[Similarity.filteredTopK]]): each
    * query's 5 nearest SAME-label neighbors, self excluded — the
    * pre-filter "search within category" shape; the label equi-join
    * blocks the cross product. */
  def annFilteredTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.filteredTopK(
      emb, col("vec_id"), col("embedding"), col("label"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      col("label"), k = 5)
  }

  /** Per-label centroid drift between the two vec_id-parity halves of
    * the embeddings table (standing in for consecutive snapshots) —
    * see [[Similarity.centroidDrift]]. */
  def embedDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.centroidDrift(emb, col("vec_id"), col("embedding"),
      col("label"), pmod(col("vec_id"), lit(2)))
  }

  /** The recall-vs-nProbe curve at the standard gate constants —
    * [[Similarity.ivfRecallSweep]]. */
  def annProbeSweep(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.ivfRecallSweep(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10, numCells = 16, probes = Seq(1, 2, 4, 8))
  }

  /** The IVF-probed hard-negative path at the brute gate's constants
    * (numCells=16, nProbe=4, k=10) — see
    * [[Similarity.hardNegativesIvf]]. */
  def annHardNegativesIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.hardNegativesIvf(
      emb, col("vec_id"), col("embedding"), col("label"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      col("label"), k = 10, numCells = 16, nProbe = 4)
  }

  def embedNearDupLsh(spark: SparkSession, dir: String): DataFrame =
    embedPairs(spark, dir)

  /** Semantic dedup (the SemDeDup composition): embedding-space
    * near-dup pairs ([[Similarity.lshNearDupPairs]]) clustered by
    * [[Dedup.connectedComponents]], min-id keeper per component —
    * exactly [[docDedupCc]]'s shape with cosine-verified LSH pairs in
    * place of n-gram Jaccard pairs. Vectors not touching any pair
    * survive trivially via the left-anti join. */
  def embedDedupCc(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val pairs = embedPairs(spark, dir)
    val cc = Dedup.connectedComponents(pairs)
    val dropped = cc.filter(col("id") =!= col("component"))
      .select(col("id"))
    emb.select(col("vec_id").as("id"))
      .join(dropped, Seq("id"), "left_anti").select(col("id"))
  }

  /** Density clustering (DBSCAN) over the cosine-verified LSH
    * ε-candidate graph — the same pair substrate as [[embedDedupCc]]
    * but with DBSCAN's core/border/noise semantics instead of the
    * keep-min keeper: cores need ≥ 2 ε-neighbors, clusters are
    * min-id components of the core-core subgraph, borders adopt the
    * smallest adjacent core cluster, everything unreached is noise.
    * The candidate pass carries the geometry; [[Graph
    * .dbscanFromPairs]] is pure graph algebra on top — see its
    * scaladoc for the 100 TB shape. */
  def embedDbscan(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Graph.dbscanFromPairs(emb, col("vec_id"), embedPairs(spark, dir),
      minPts = 2)
  }

  /** Positional phrase search through an inverted index — the
    * adjacency query (`"the data"` as consecutive tokens) that
    * term-frequency retrieval (`inverted_index_query`) can't answer.
    * The postings frame carries (doc, position) rows for ONLY the
    * phrase's terms — the term filter sits directly on the exploded
    * tokens, so at 100 TB a pre-built positional index (this frame
    * written out, partitioned by term) serves the same join and the
    * full corpus is never re-tokenized per query. Adjacency is one
    * equi-join on (doc, pos+1); per-doc hit count and first position
    * close it out with a single aggregate. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    val Seq(t1, t2) = Seq("the", "data")
    val pos = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text")))
          .as(Seq("p", "w")))
      .filter(col("w").isin(t1, t2))
    val a = pos.filter(col("w") === t1)
      .select(col("doc_id"), col("p"))
    val b = pos.filter(col("w") === t2)
      .select(col("doc_id").as("doc_b"), col("p").as("p2"))
    a.join(b, col("doc_id") === col("doc_b") &&
        col("p2") === col("p") + 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("p")).cast("long").as("first_pos"))
  }

  /** Proximity (slop) search — [[phraseSearch]]'s relaxation and the
    * other half of a positional index's query surface: docs where the
    * two terms appear within 5 token positions IN EITHER ORDER, with
    * the minimal absolute distance as the rank signal (1 = adjacent
    * = the phrase case). Same positional-postings substrate and
    * (doc)-co-partitioned join; the slop bound keeps the per-doc
    * join fan-out at (hits₁ × hits₂) only for docs containing both
    * terms — the index partition by term bounds everything else. */
  def proximitySearch(spark: SparkSession, dir: String): DataFrame = {
    val Seq(t1, t2) = Seq("the", "data")
    val pos = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(TextFunctions.tokens(col("text")))
          .as(Seq("p", "w")))
      .filter(col("w").isin(t1, t2))
    val a = pos.filter(col("w") === t1)
      .select(col("doc_id"), col("p"))
    val b = pos.filter(col("w") === t2)
      .select(col("doc_id").as("doc_b"), col("p").as("p2"))
    a.join(b, col("doc_id") === col("doc_b") &&
        abs(col("p2") - col("p")) <= 5)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pairs"),
        min(abs(col("p2") - col("p"))).cast("long").as("min_dist"))
  }

  /** 2-core of the embedding near-dup graph ([[Graph.kCore]], 6
    * peeling rounds — convergence at this budget is spec-asserted):
    * the "everyone duplicates everyone" kernel, a stronger eviction
    * signal than [[embedDedupCc]]'s sprawling components. Same pair
    * substrate as [[embedDbscan]]. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = embedPairs(spark, dir)
    Graph.kCore(pairs, col("id1"), col("id2"), k = 2, rounds = 6)
  }

  /** Near-dup graph audit — per-vertex degree, triangle count, and
    * local clustering coefficient over the cosine-verified LSH pair
    * graph (same pairs as `embed_neardup_lsh`). High lcc means the
    * component is a clique of true duplicates; low lcc on a
    * high-degree vertex flags transitive-closure over-merging before
    * the CC keeper ([[embedDedupCc]]) is trusted. Degree-oriented
    * wedge enumeration keeps the join fan-out O(m^1.5) at crawl
    * scale — see [[graft.ext.Graph.triangleStats]]. */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame =
    Graph.triangleStats(embedPairs(spark, dir), col("id1"), col("id2"))

  /** Duplicate-cluster size distribution — the dedup AUDIT readout:
    * how many near-dup components of each size the corpus carries
    * (2 = simple pairs, long tail = template families). Computed over
    * the exact same survivors→LSH→Jaccard-verified pair graph and CC
    * as [[docDedupCc]], so the histogram describes precisely what the
    * keeper will collapse; paired with `graph_triangles`' lcc it
    * answers "are these clusters cliques or chains" before any
    * deletion is trusted. Two tiny aggregates on top of CC. */
  def dedupClusterStats(spark: SparkSession, dir: String): DataFrame = {
    val (_, verified) = dedupCore(spark, dir)
    Dedup.connectedComponents(verified)
      .groupBy(col("component")).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_components"))
  }

  /** Two-hop reach over the same LSH pair graph as
    * [[graphTriangles]] — see [[graft.ext.Graph.twoHopReach]]. The
    * gate exercises the degree-capped pivot (maxDegree=64, mirrored
    * in the oracle): Σ deg(mid)² fan-out is bounded by cap·Σ deg, so
    * the plan survives a celebrity vertex at crawl scale. */
  def graphTwoHop(spark: SparkSession, dir: String): DataFrame =
    Graph.twoHopReach(embedPairs(spark, dir), col("id1"), col("id2"),
      maxDegree = 64)

  /** kNN label-consistency evaluation — the standard embedding-
    * quality probe: for a deterministic 1-in-25 query sample, the 5
    * nearest non-self neighbors vote on the query's label (majority,
    * ties → count desc then label asc); output is per-label accuracy.
    * A good embedding space scores high; a collapsed or shuffled one
    * scores at chance — this is the measurement behind "are these
    * embeddings worth indexing". Composes [[Similarity.bruteForceTopK]]
    * (the probed IVF path swaps in unchanged at scale). */
  /** [[knnLabelEval]] at INDEX scale: the same 5-nearest majority
    * vote, but neighbors come from the probed IVF path
    * ([[Similarity.ivfTopK]], numCells=16, nProbe=4) instead of the
    * broadcast cross product — probing bounds per-query work by the
    * probed cells' population, so the eval runs on the index a
    * deployment actually serves. The brute gate stays as the
    * baseline cross-check; recall deltas between the two accuracies
    * are the audited probe-loss. */
  def knnLabelEvalIvf(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter(pmod(col("vec_id"), lit(25)) === 0)
    val knn = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"),
        k = 6, numCells = 16, nProbe = 4)
      .filter(col("nbr_id") =!= col("query_id"))
    val lab = emb.select(col("vec_id"), col("label"))
    val votes = knn
      .join(lab.select(col("vec_id").as("nbr_id"),
        col("label").as("nbr_label")), "nbr_id")
      .join(broadcast(lab.select(col("vec_id").as("query_id"),
        col("label").as("query_label"))), "query_id")
      .groupBy(col("query_id"), col("query_label"), col("nbr_label"))
      .agg(count(lit(1)).as("nv"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("nv").desc, col("nbr_label").asc)
    votes.withColumn("rk", row_number().over(wVote))
      .filter(col("rk") === 1)
      .groupBy(col("query_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum((col("nbr_label") === col("query_label")).cast("long"))
          .as("n_correct"))
  }

  def knnLabelEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter(pmod(col("vec_id"), lit(25)) === 0)
    val knn = Similarity.bruteForceTopK(emb, col("vec_id"),
        col("embedding"), q, col("vec_id"), col("embedding"), k = 6)
      .filter(col("nbr_id") =!= col("query_id"))
    val lab = emb.select(col("vec_id"), col("label"))
    val votes = knn
      .join(lab.select(col("vec_id").as("nbr_id"),
        col("label").as("nbr_label")), "nbr_id")
      .join(broadcast(lab.select(col("vec_id").as("query_id"),
        col("label").as("query_label"))), "query_id")
      .groupBy(col("query_id"), col("query_label"), col("nbr_label"))
      .agg(count(lit(1)).as("nv"))
    val wVote = Window.partitionBy(col("query_id"))
      .orderBy(col("nv").desc, col("nbr_label").asc)
    val pred = votes.withColumn("rk", row_number().over(wVote))
      .filter(col("rk") === 1)
    pred.groupBy(col("query_label"))
      .agg(count(lit(1)).as("n_queries"),
        sum((col("nbr_label") === col("query_label")).cast("long"))
          .as("n_correct"))
  }

  /** ANN ranking-quality evaluation, INTEGER-exact DCG: the probed
    * IVF top-10 scored against the exact brute-force ranking with
    * graded relevance rel = 11 − brute_rank (0 if outside the true
    * top-10) and the harmonic discount 2520/i (2520 = lcm(1..10), so
    * every discount is an exact BIGINT — the standard log2 discount
    * is not cross-engine bit-stable, the harmonic one needs no
    * floats at all). nDCG = dcg/idcg is then ONE IEEE division of
    * exact integers. This is `ann_ivf_recall`'s graded companion:
    * recall says how many true neighbors the probe found, nDCG says
    * whether it found the IMPORTANT ones. */
  def annRankingEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val q = emb.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id"),
        col("embedding"), q, col("vec_id"), col("embedding"), k = 10)
      .select(col("query_id"), col("nbr_id"),
        (lit(11L) - col("rank")).as("rel"))
    val ivf = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
        q, col("vec_id"), col("embedding"), k = 10, numCells = 16,
        nProbe = 4)
      .select(col("query_id"), col("nbr_id"),
        expr("2520L div rank").as("disc"))
    val dcg = ivf.join(brute, Seq("query_id", "nbr_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("rel"), lit(0L)) * col("disc")).as("dcg_scaled"))
    // ideal DCG: the brute ranking scored against itself
    val idcg = brute
      .withColumn("disc", expr("2520L div (11L - rel)"))
      .groupBy(col("query_id"))
      .agg(sum(col("rel") * col("disc")).as("idcg_scaled"))
    dcg.join(idcg, "query_id")
      .select(col("query_id"), col("dcg_scaled"), col("idcg_scaled"),
        (col("dcg_scaled").cast("double") /
          col("idcg_scaled").cast("double")).as("ndcg"))
  }

  /** [[annIvfTopK]]'s probing composed with [[annQuantizedTopK]]'s
    * integer ranking — see [[Similarity.ivfQuantizedTopK]]. */
  def annIvfQuantized(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.ivfQuantizedTopK(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10, numCells = 16, nProbe = 4)
  }

  def annIvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10, numCells = 16, nProbe = 4)
  }

  /** IVF-PQ serving gate — product quantization under IVF probing,
    * the full build→persist→serve lifecycle
    * ([[Similarity.buildPqIndex]] → parquet →
    * [[Similarity.ivfPqTopKFromIndex]]): m=4 subspace codebooks
    * (ksub=8, two L2 Lloyd's rounds over the 1-in-4 id sample) and
    * the m-codes-per-vector table are trained and encoded ONCE,
    * written to disk, and the probe ranks the probed cells' members
    * by the integer ADC sum from the STORED codes — the query path
    * never reads a candidate's float vector. The oracle replays
    * training (unrolled EM rounds with subspace as a column),
    * encoding, and the ADC ranking; it matches precisely because the
    * serve side reuses frozen artifacts. */
  def annIvfPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val tmp = graft.Tables.scratchDir("graft_pq_index")
    val (cbs, codes) = Similarity.buildPqIndex(emb, col("vec_id"),
      col("embedding"), m = 16, ksub = 64, iters = 2, sampleMod = 1)
    Similarity.ivfPqTopKFromIndex(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10, numCells = 16, nProbe = 4,
      Tables.writeParquet(cbs, s"$tmp/codebooks"),
      Tables.writeParquet(codes, s"$tmp/codes"))
  }

  /** PQ quantization-loss audit: exhaustive ADC top-10 (flat PQ — no
    * IVF pruning, isolating the compression axis) vs the exact
    * brute-force top-10, per query — the number that licenses
    * shipping 16×-compressed codes, mirroring [[annQuantizedRecall]]
    * for the PQ axis. IVF-PQ recall composes multiplicatively from
    * this and `ann_ivf_recall`. Measured 0.68 mean recall@10 at
    * m=16/ksub=64 on this corpus — a FLOOR, not a ceiling: the
    * synthetic embeddings are near-uniform on the sphere (PQ's
    * adversarial case; no low-dim manifold for the codebooks to
    * exploit), where real embedding corpora sit far above. The
    * constants and `sampleMod` are the accuracy/bandwidth dials a
    * deployment reads THIS audit to set. */
  def annPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val pq = pqFlatTopK(spark, dir)
      .select(col("query_id"), col("nbr_id"))
      .withColumn("hit", lit(1L))
    annBruteForce(spark, dir).select(col("query_id"), col("nbr_id"))
      .join(pq, Seq("query_id", "nbr_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / lit(10.0)).as("recall"))
  }

  /** The IVF path production actually runs: cells from 3 Lloyd's
    * rounds of [[Similarity.kmeansCentroids]] over a deterministic
    * 1-in-4 id sample instead of raw seed vectors. Oracle-expressible
    * because training is exact-decimal sums + IEEE double ops only
    * (see kmeansCentroids scaladoc) — the DuckDB twin unrolls the
    * same 3 iterations as CTEs over the same sample (`tcomp`). */
  def annIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val cent = Similarity.kmeansCentroids(emb, col("vec_id"),
      col("embedding"), numCells = 16, iters = 3, sampleMod = 4)
    Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10, numCells = 16, nProbe = 4, centroids = Some(cent))
  }

  /** IVF index LIFECYCLE gate ([[Similarity.buildIvfIndex]] →
    * parquet → [[Similarity.ivfTopKFromIndex]]): the trained
    * centroids and full cell assignment are WRITTEN to disk and the
    * probe reads them back — no retrain, no re-assignment on the
    * query path, which is how a 100 TB deployment actually serves
    * (build once per retrain window, probe many). Same algebra as
    * [[annIvfKmeans]], so the same oracle gates it. */
  def annIvfPersisted(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val tmp = graft.Tables.scratchDir("graft_ivf_index")
    val (cent, assign) = Similarity.buildIvfIndex(emb, col("vec_id"),
      col("embedding"), numCells = 16, iters = 3, sampleMod = 4)
    Similarity.ivfTopKFromIndex(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10, nProbe = 4,
      Tables.writeParquet(cent, s"$tmp/centroids"),
      Tables.writeParquet(assign, s"$tmp/assignments"))
  }

  /** Persisted-IVF INCREMENTAL APPEND gate
    * ([[Similarity.appendIvfAssignments]]): the index is built and
    * persisted over the STANDING corpus only (vec_id ≡ 0..3 mod 5),
    * then the incoming batch (≡ 4 mod 5) is absorbed assignment-only
    * — stored centroids read from parquet, never retrained — and the
    * probe serves from the appended table. The oracle trains on the
    * standing corpus and assigns the union, which is bit-equal
    * precisely because append reuses the frozen centroids; a retrain
    * on the union would produce different centroids and fail the
    * hash. */
  def annIvfAppend(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val standing = emb.filter(col("vec_id") % 5 =!= 4)
    val incoming = emb.filter(col("vec_id") % 5 === 4)
    val tmp = graft.Tables.scratchDir("graft_ivf_append")
    val (cent, assign) = Similarity.buildIvfIndex(standing,
      col("vec_id"), col("embedding"), numCells = 16, iters = 3,
      sampleMod = 4)
    val centroids = Tables.writeParquet(cent, s"$tmp/centroids")
    val appended = Tables.writeParquet(
      Similarity.appendIvfAssignments(
        Tables.writeParquet(assign, s"$tmp/assignments"), incoming,
        col("vec_id"), col("embedding"), centroids),
      s"$tmp/assignments_v2")
    Similarity.ivfTopKFromIndex(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10, nProbe = 4, centroids, appended)
  }

  /** Index-maintenance DRIFT TRIGGER — the readout that decides when
    * [[annIvfAppend]]'s assignment-only path stops being enough and a
    * centroid retrain is due: a KS test between the standing corpus
    * (vec_id ≢ 4 mod 5) and the incoming batch (≡ 4) over the first
    * embedding component, integer-exact via the
    * [[graft.ext.Privacy.tClosenessAudit]] scaling trick on
    * power-of-two-quantized values (float→double cast and the 2^20
    * rescale are both exact, so the grid is identical cross-engine).
    * Emits counts, the scaled max CDF gap, KS, and the retrain flag
    * at the declared 0.1 threshold. The value grid is |distinct
    * quantized values| rows — bounded by quantization, not corpus
    * size. */
  def annDriftTrigger(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "embeddings")
      .select(when(col("vec_id") % 5 === 4, 1L).otherwise(0L).as("half"),
        floor(element_at(col("embedding"), 1).cast("double") *
          lit(1048576.0)).cast("long").as("v"))
    val counts = base.groupBy(col("v"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
    val tot = counts.agg(sum(col("ca")).as("n_a"),
      sum(col("cb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .withColumn("gap",
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
      .orderBy(col("gap").desc, col("v").asc)
      .limit(1)
      .select(col("n_a"), col("n_b"), col("v").as("v_at_max"),
        col("gap").as("d_scaled"),
        (col("gap").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("ks"))
      .withColumn("retrain", col("ks") > lit(0.1))
  }

  /** Band-index compaction gate ([[Dedup.compactBandIndex]]): the
    * standing index dirtied with replayed append duplicates (a fifth
    * of the docs' rows appended twice) and a tombstone set (doc_id ≡
    * 0 mod 10), then compacted; per-band row/doc/bucket counts + an
    * order-independent XOR row checksum. The oracle rebuilds the
    * CLEAN index from scratch — so the gate passes only if
    * compaction removed exactly the duplicates and tombstones. */
  def lshIndexCompact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val index = minhash3Frames(spark, dir)("bands")
    val dirty = index.unionByName(index.filter(col("id") % 5 === 0))
    val deleted = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id").as("id"))
    Dedup.compactBandIndex(dirty, deleted)
      .select(col("band").cast("long").as("band"),
        col("id"), col("bh"),
        conv(substring(md5(concat_ws("|", col("id"), col("band"),
          col("bh"))), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("id")).as("n_docs"),
        count_distinct(col("bh")).as("n_buckets"),
        expr("bit_xor(h)").as("checksum"))
  }

  /** Shared persisted-IVF DELETE tier: the index is built over the
    * FULL corpus and persisted (centroids + assignment table — the
    * [[annIvfPersisted]] lifecycle), the `vec_id % 10 = 6` band
    * tombstones into a side table, and the assignment store —
    * DIRTIED with a replayed append batch (the idempotency-violation
    * fixture [[lshIndexCompact]] uses) — compacts via
    * [[Similarity.compactIndexRows]]. Built once per (applicationId,
    * sfDir); the delete-serve and compaction gates read the
    * persisted frames. */
  private def ivfDeleteFrames(spark: SparkSession, dir: String)
      : Map[String, DataFrame] =
    SharedFrames(spark, dir, "ivf_delete") {
      val emb = Tables(spark, dir, "embeddings")
      val (cent, assign) = Similarity.buildIvfIndex(emb, col("vec_id"),
        col("embedding"), numCells = 16, iters = 3, sampleMod = 4)
      val tombs = emb.filter(col("vec_id") % 10 === 6)
        .select(col("vec_id").as("nbr_id"))
      val dirty = assign
        .unionByName(assign.filter(col("nbr_id") % 5 === 0))
      Seq("centroids" -> cent, "assignments" -> assign,
        "tombstones" -> tombs,
        "compacted" -> Similarity.compactIndexRows(dirty, tombs,
          col("nbr_id")))
    }

  /** Persisted-IVF DELETE-serve gate — the deleted-never-served
    * contract for the IVF index family (the [[annGraphDeleteServe]]
    * shape): the stored assignment table KEEPS the tombstoned band's
    * rows (production deletes by writing a tombstone table, not by
    * rewriting the corpus-sized store inline) and the probe masks
    * them with one |tombstones|-sided anti-join on the query path —
    * [[Similarity.ivfTopKFromIndex]] over the masked assignments.
    * Contract rows: `deleted_served` counts tombstoned ids in any
    * top-10 (MUST be 0 — a deleted vector keeps its rows in the
    * store until [[annIvfCompact]] rewrites it, yet never serves),
    * `probe_top10` grades the masked probe against the exact brute
    * truth restricted to the live corpus. Mask cost rides the
    * tombstone table, never the corpus; the oracle replays the
    * frozen-centroid chain with the live predicate. */
  def annIvfDeleteServe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val f = ivfDeleteFrames(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val masked = f("assignments")
      .join(f("tombstones"), Seq("nbr_id"), "left_anti")
    val served = Tables.materialize(
      Similarity.ivfTopKFromIndex(emb, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 10, nProbe = 4,
        f("centroids"), masked))
    val live = emb.filter(col("vec_id") % 10 =!= 6)
    val truth = Tables.materialize(
      Similarity.bruteForceTopK(live, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), 10)
        .select(col("query_id"), col("nbr_id")))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val delRow = served.filter(col("nbr_id") % 10 === 6)
      .agg(count(lit(1)).as("n_hits"))
      .select(lit("deleted_served").as("variant"), col("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("variant"), col("n_hits"),
        (col("nq") * 10).as("n_possible"),
        (col("n_hits").cast("double") /
          (col("nq") * 10).cast("double")).as("recall"))
    delRow.unionByName(
      recallRows(truth, nq, Seq("probe_top10" -> served)))
  }

  /** Persisted-IVF COMPACTION gate ([[Similarity.compactIndexRows]]
    * — the [[lshIndexCompact]] twin for the assignment store): the
    * stored table dirtied with a replayed append batch (a fifth of
    * the rows appended twice) plus the tombstoned band, then
    * compacted; per-cell row/vector counts + an order-independent
    * XOR row checksum. The oracle re-assigns the LIVE corpus from
    * scratch under the same frozen-centroid training — so the gate
    * passes only if compaction removed exactly the duplicates and
    * tombstones and touched nothing else (the per-row-function
    * property that licenses rewriting without retraining). */
  def annIvfCompact(spark: SparkSession, dir: String): DataFrame =
    ivfDeleteFrames(spark, dir)("compacted")
      .select(col("cell_id"), col("nbr_id"),
        conv(substring(md5(concat_ws("|", col("nbr_id"),
          col("cell_id"))), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("nbr_id")).as("n_vecs"),
        expr("bit_xor(h)").as("checksum"))

  /** Persisted-PQ DELETE-serve gate — the deleted-never-served
    * contract for the PQ codes store: the flat-ADC serve
    * ([[Similarity.pqAdcTopK]] from the shared persisted codes) masks
    * the tombstoned band (`vec_id % 10 = 6`) by anti-joining the
    * tombstone table into the candidate frame; the stored codes keep
    * the deleted rows until [[pqIndexCompact]]. Contract rows:
    * `deleted_served` (MUST be 0) and `adc_top10` vs the exact brute
    * truth over the live corpus (the PQ quantization-loss bound —
    * compare `ann_pq_recall`'s unmasked number). */
  def annPqDeleteServe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val f = pqFlatFrames(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
    val tombs = emb.filter(col("vec_id") % 10 === 6)
      .select(col("vec_id").as("nbr_id"))
    val cand = emb.select(col("vec_id").as("nbr_id"))
      .join(tombs, Seq("nbr_id"), "left_anti")
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"))))
    val served = Tables.materialize(Similarity.pqAdcTopK(cand,
      f("codes"),
      Similarity.pqAdcTable(queries, col("vec_id"), col("embedding"),
        f("codebooks")), k = 10))
    val live = emb.filter(col("vec_id") % 10 =!= 6)
    val truth = Tables.materialize(
      Similarity.bruteForceTopK(live, col("vec_id"), col("embedding"),
          queries, col("vec_id"), col("embedding"), 10)
        .select(col("query_id"), col("nbr_id")))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    val delRow = served.filter(col("nbr_id") % 10 === 6)
      .agg(count(lit(1)).as("n_hits"))
      .select(lit("deleted_served").as("variant"), col("n_hits"))
      .crossJoin(broadcast(nq))
      .select(col("variant"), col("n_hits"),
        (col("nq") * 10).as("n_possible"),
        (col("n_hits").cast("double") /
          (col("nq") * 10).cast("double")).as("recall"))
    delRow.unionByName(
      recallRows(truth, nq, Seq("adc_top10" -> served)))
  }

  /** Persisted-PQ codes COMPACTION gate: the stored (nbr_id, j, code)
    * table dirtied with a replayed append batch plus the tombstoned
    * band, compacted by [[Similarity.compactIndexRows]]; per-subspace
    * row/vector/code counts + XOR checksum, oracled against a clean
    * re-ENCODE of the live corpus under the frozen codebooks. */
  def pqIndexCompact(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val f = pqFlatFrames(spark, dir)
    val tombs = emb.filter(col("vec_id") % 10 === 6)
      .select(col("vec_id").as("nbr_id"))
    val dirty = f("codes")
      .unionByName(f("codes").filter(col("nbr_id") % 5 === 0))
    Similarity.compactIndexRows(dirty, tombs, col("nbr_id"))
      .select(col("j"), col("code"), col("nbr_id"),
        conv(substring(md5(concat_ws("|", col("nbr_id"), col("j"),
          col("code"))), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("j"))
      .agg(count(lit(1)).as("n_rows"),
        count_distinct(col("nbr_id")).as("n_vecs"),
        count_distinct(col("code")).as("n_codes"),
        expr("bit_xor(h)").as("checksum"))
  }

  /** Near-dup EVIDENCE manifest: for every LSH-verified pair, the
    * three RAREST shared grams (global document frequency asc, gram
    * asc) — the human-auditable "why does the pipeline claim these
    * two documents match" record a deletion review needs; rare shared
    * grams are the discriminative evidence, stopword grams prove
    * nothing. Cost: one dfreq join + a per-pair top-3 over the
    * already-bounded verified-pair gram intersections — never touches
    * non-candidate pairs. */
  def dedupEvidence(spark: SparkSession, dir: String): DataFrame = {
    val g = graft.Tables.materialize(docToksFrames(spark, dir)("grams3"))
    val dfreq = g.groupBy(col("gram")).agg(count(lit(1)).as("dfr"))
    val (_, verified) = dedupCore(spark, dir)
    verified
      .join(g.as("ga"), col("id1") === col("ga.id"))
      .join(g.as("gb"),
        col("id2") === col("gb.id") && col("ga.gram") === col("gb.gram"))
      .select(col("id1"), col("id2"), col("ga.gram").as("gram"))
      .join(dfreq, "gram")
      .groupBy(col("id1"), col("id2"))
      .agg(concat_ws(" | ", slice(transform(
          sort_array(collect_list(struct(col("dfr"), col("gram")))),
          s => s.getField("gram")), 1, 3)).as("evidence"),
        count(lit(1)).as("n_shared"))
  }

  /** Code-switch / language-mix audit: the marker-token language ID
    * run on each document HALF independently, documents counted by
    * their (first-half, second-half) language pair — off-diagonal
    * mass flags mixed-language documents (concatenation artifacts,
    * template wrappers around foreign payloads) that a whole-doc
    * language filter silently mislabels. Per-row expressions only —
    * token slice + two marker counts — no shuffle beyond the final
    * |langs|²-bounded aggregate. */
  def langCodeSwitch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val halves = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("t"))
      .withColumn("h", expr("(size(t) + 1) div 2").cast("int"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("t"), lit(1), col("h"))).as("ta"),
        concat_ws(" ", slice(col("t"), col("h") + 1, size(col("t"))))
          .as("tb"))
    halves
      .select(TextFunctions.langId(col("ta")).as("lang_a"),
        TextFunctions.langId(col("tb")).as("lang_b"))
      .groupBy(col("lang_a"), col("lang_b"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Spearman rank correlation between two per-document metrics
    * (char length vs subword count) — the monotone-association
    * complement of `corr_matrix`'s Pearson: outlier-robust, catches
    * any monotone relation. Ranks come from
    * [[graft.ext.Corpus.globalOrderRank]] (range partition + offset
    * prefix sums — no single-partition sort even at corpus scale),
    * ties broken deterministically by doc_id (documented deviation
    * from classical average ranks — identical on both engines, which
    * is what the gate needs); ρ = 1 − 6Σd²/(n(n²−1)) is integer
    * algebra until one closing divide. */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.Tables.materialize(
      Tables(spark, dir, "documents").select(col("doc_id"),
        length(col("text")).cast("long").as("x"),
        TextFunctions.regexTokenCount(col("text")).cast("long").as("y")))
    def rank(c: String, out: String) = Corpus
      .globalOrderRank(base.select(col("doc_id"), col(c)), 32,
        col(c), col("doc_id"))
      .select(col("doc_id"), col("_rank").as(out))
    rank("x", "rx").join(rank("y", "ry"), "doc_id")
      .select(col("doc_id"), (col("rx") - col("ry")).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(col("d") * col("d")).as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        (lit(1.0) - (lit(6L) * col("sum_d2")).cast("double") /
          (col("n") * (col("n") * col("n") - 1)).cast("double"))
          .as("rho"))
  }

  /** Two-sample Kolmogorov–Smirnov drift statistic over the
    * token-count distribution, doc_id-parity halves standing in for
    * two corpus releases — the ORDERED-domain drift test completing
    * [[AnalyticsQueries.chisqDrift]]'s categorical one: KS catches a
    * length-distribution shift (truncation bugs, a new source mix)
    * that per-type counts never see. Integer-exact by the
    * [[graft.ext.Privacy.tClosenessAudit]] scaling trick: the CDF gap
    * at value v scales to |cum_a·n_b − cum_b·n_a| (pure BIGINTs),
    * D = max over the merged value grid, KS = D/(n_a·n_b) in one
    * closing divide; argmax value reported with a smallest-value
    * tie-break. The window runs over |distinct token counts| rows —
    * bounded by document length, not corpus size. */
  def ksDrift(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables(spark, dir, "documents")
      .select((col("doc_id") % 2).as("half"),
        TextFunctions.tokenCount(col("text")).cast("long").as("v"))
    val counts = base.groupBy(col("v"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("ca"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("cb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum_a", sum(col("ca")).over(w))
      .withColumn("cum_b", sum(col("cb")).over(w))
    val tot = counts.agg(sum(col("ca")).as("n_a"),
      sum(col("cb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .withColumn("gap",
        abs(col("cum_a") * col("n_b") - col("cum_b") * col("n_a")))
      .orderBy(col("gap").desc, col("v").asc)
      .limit(1)
      .select(col("n_a"), col("n_b"), col("v").as("v_at_max"),
        col("gap").as("d_scaled"),
        (col("gap").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("ks"))
  }

  /** Cohen's kappa between two deterministic labelers — the
    * inter-annotator-agreement readout run over [[langCodeSwitch]]'s
    * confusion matrix (labeler A = language of the first half,
    * labeler B = second half): chance-corrected agreement
    * κ = (p_o − p_e)/(1 − p_e), with p_e from the row×column
    * marginal products. Low κ on a same-document split means the
    * label is unstable under content subsampling — the calibration
    * signal a labeling pipeline tracks per release. All counts are
    * integers off the gated matrix; p_o/p_e are computed ONCE and
    * reused so the κ tree is byte-identical cross-engine; κ is NULL
    * when p_e = 1 (degenerate single-label corpus). */
  def labelerKappa(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.materialize(langCodeSwitch(spark, dir))
    val one = m.agg(sum(col("n_docs")).as("n"),
      sum(when(col("lang_a") === col("lang_b"), col("n_docs"))
        .otherwise(0L)).as("n_agree"))
    val rows = m.groupBy(col("lang_a").as("l"))
      .agg(sum(col("n_docs")).as("ra"))
    val cols = m.groupBy(col("lang_b").as("l"))
      .agg(sum(col("n_docs")).as("cb"))
    val pes = rows.join(cols, "l")
      .agg(sum(col("ra") * col("cb")).as("pe_num"))
    def d(c: Column) = c.cast("double")
    one.crossJoin(pes)
      .select(col("n"), col("n_agree"),
        (d(col("n_agree")) / d(col("n"))).as("po"),
        (d(col("pe_num")) / (d(col("n")) * d(col("n")))).as("pe"))
      .select(col("n"), col("n_agree"), col("po"), col("pe"),
        when(col("pe") < 1.0,
          (col("po") - col("pe")) / (lit(1.0) - col("pe"))).as("kappa"))
  }

  /** Embedding anisotropy / collapse monitor
    * ([[Similarity.anisotropyAudit]]): per-label centroid alignment
    * with the global mean direction — uniformly high alignment is
    * the "all embeddings point the same way" collapse signature. */
  def embedAnisotropy(spark: SparkSession, dir: String): DataFrame =
    Similarity.anisotropyAudit(Tables(spark, dir, "embeddings"),
      col("vec_id"), col("embedding"), col("label"))

  /** Embedding covariance upper triangle
    * ([[Similarity.covarianceMatrix]]) — the whitening/PCA-prep
    * statistic over quantized components; `embed_dim_variance` is
    * this matrix's diagonal. */
  def embedCovariance(spark: SparkSession, dir: String): DataFrame =
    Similarity.covarianceMatrix(Tables(spark, dir, "embeddings"),
      col("vec_id"), col("embedding"))

  /** Dead/constant-dimension screen ([[Similarity.dimVarianceAudit]]):
    * per-dimension n/mean/variance/min/max from one mergeable
    * moment aggregate, with the variance < 1e-6 dead flag. */
  def embedDimVariance(spark: SparkSession, dir: String): DataFrame =
    Similarity.dimVarianceAudit(Tables(spark, dir, "embeddings"),
      col("embedding"))

  /** Matryoshka truncation-recall curve
    * ([[Similarity.matryoshkaRecall]]): top-10 retrieval with the
    * first 16/32/64 embedding components vs the full-dim exact
    * top-10 — the bandwidth/recall frontier of MRL-style serving,
    * with dim 64 as the recall=1 sanity row. */
  def annMatryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    Similarity.matryoshkaRecall(emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 10), col("vec_id"), col("embedding"),
      k = 10, dims = Seq(16, 32, 64))
  }

  /** Incremental cross-snapshot dedup — the nightly-ingest twin of
    * [[graft.ext.Dedup.exactDedup]]: today's batch (doc_id ≡ 0 mod 3
    * stands in for the new crawl) deduped within itself (first-wins
    * on canonical fingerprint) and then against the STANDING corpus's
    * fingerprint ledger, which is all the history ever touched — the
    * 100 TB corpus participates as a distinct fp column only, never
    * re-read at full text width. Plan: batch-side agg + one anti-join
    * co-partitioned on fp; production would front the anti-join with
    * [[graft.ext.Bloom]]'s distributed filter so most fresh documents
    * never shuffle at all. Canonical (sorted-distinct-token)
    * fingerprints catch reorder/duplication variants exactly like
    * `text_fingerprint`. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val ledger = docs.filter(col("doc_id") % 3 =!= 0)
      .select(TextFunctions.canonicalFingerprint(col("text")).as("fp"))
      .distinct()
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"),
        TextFunctions.canonicalFingerprint(col("text")).as("fp"))
    batch.groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .join(ledger, Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  /** Incremental NEAR-dup dedup probing a PERSISTED MinHash band
    * index — the other half of [[dedupIncremental]]'s nightly-ingest
    * story ([[graft.ext.Dedup.incrementalLshDedup]]). The standing
    * corpus (doc_id ≢ 0 mod 3) contributes two side tables written to
    * and read back from parquet inside the gate — its band index
    * ([[graft.ext.Dedup.minhashBandRows]], O(history × bands) rows)
    * and its fingerprint ledger; history text is consulted ONLY for
    * band-collision candidates (semi-join), so a 100 TB history costs
    * O(index) + O(candidates) per ingest, never a re-shingle. */
  def dedupIncrementalLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val history = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
    val tmp = graft.Tables.scratchDir("graft_lsh_index")
    val bandIndex = Tables.writeParquet(Dedup.minhashBandRows(
        Dedup.shingles(history, col("doc_id"), col("text"), 3)),
      s"$tmp/band_index")
    val fpLedger = Tables.writeParquet(history
        .select(TextFunctions.canonicalFingerprint(col("text")).as("fp"))
        .distinct(),
      s"$tmp/fp_ledger")
    val (kept, _) = Dedup.incrementalLshDedup(batch,
      col("doc_id"), col("text"), bandIndex,
      history, col("doc_id"), col("text"), fpLedger)
    kept
  }

  /** IVF index-balance audit ([[Similarity.ivfCellSizes]]): member
    * count per cell. A hot cell makes every probe of it scan that
    * cell's whole population, so this is the measurement behind ANN
    * probe-latency SLOs — run it after (re)training, rebalance when
    * max/mean drifts. */
  def annIvfCells(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfCellSizes(Tables(spark, dir, "embeddings"),
      col("vec_id"), col("embedding"), numCells = 16)

  /** Recall audit of the approximate path against the exact baseline:
    * per-query overlap between [[annIvfTopK]]'s probed top-10 and
    * [[annBruteForce]]'s exact top-10. This is the measurement a
    * production ANN deployment runs continuously on a query sample —
    * the sketch parameters (numCells, nProbe) are only defensible
    * with a measured recall behind them, and at 100 TB the audit
    * costs one brute-force pass over a SAMPLE of queries, not the
    * corpus. Both inputs are deterministic, so recall is exact and
    * hash-gated (the DuckDB twin joins the same two subqueries — no
    * constant-true tolerance needed). Left join from the exact side
    * keeps recall-zero queries visible. */
  def annIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val bf = annBruteForce(spark, dir).select(col("query_id"), col("nbr_id"))
    val ivf = annIvfTopK(spark, dir).select(col("query_id"), col("nbr_id"))
      .withColumn("hit", lit(1L))
    bf.join(ivf, Seq("query_id", "nbr_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / lit(10.0)).as("recall"))
  }

  /** Recall audit of the QUANTIZED serving path against the exact
    * full-precision baseline — the number that licenses shipping int8
    * vectors (mirror of [[annIvfRecall]] for the compression axis
    * instead of the probing axis): per query, |quantized top-10 ∩
    * exact top-10| / 10. */
  def annQuantizedRecall(spark: SparkSession, dir: String): DataFrame = {
    val bf = annBruteForce(spark, dir).select(col("query_id"), col("nbr_id"))
    val qz = annQuantizedTopK(spark, dir)
      .select(col("query_id"), col("nbr_id"))
      .withColumn("hit", lit(1L))
    bf.join(qz, Seq("query_id", "nbr_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_overlap"))
      .select(col("query_id"), col("n_overlap"),
        (col("n_overlap").cast("double") / lit(10.0)).as("recall"))
  }

  /** Packed 1-bit sign-quantized embeddings ([[Similarity.binarySignWords]]),
    * shared by the five `ann_bitq_*` gates through the persisted
    * [[SharedFrames]] tier: the threshold training (an eager 64-row
    * driver collect + one posexplode corpus pass) and the packing
    * encode run ONCE per (applicationId, sfDir); every gate —
    * including `ann_bitq_recall_audit`, which composes the top-k and
    * rerank paths — reads the same 8-byte-per-vector parquet back.
    * Exactly the resident-index shape a 100 TB deployment persists. */
  private def bitqWords(spark: SparkSession, dir: String): DataFrame =
    SharedFrames(spark, dir, "bitq_words") {
      val emb = Tables(spark, dir, "embeddings")
      val th = Similarity.binaryDimThresholds(emb, col("embedding"), 64)
      Seq("words" -> Similarity.binarySignWords(emb, col("vec_id"),
        col("embedding"), th))
    }("words")

  /** Hamming top-k over packed words (shared shortlist engine for the
    * bitq gates): per seed-band query, the `k` corpus vectors with the
    * fewest disagreeing sign bits, (hamming ASC, nbr_id ASC) ranked. */
  private def bitqHammingTopK(spark: SparkSession, dir: String, k: Int)
      : DataFrame = {
    val words = bitqWords(spark, dir)
    val queries = words.filter(col("bid") < 10)
      .select(col("bid").as("query_id"),
        col("w0").as("qw0"), col("w1").as("qw1"))
    val corpus = words.select(col("bid").as("nbr_id"), col("w0"), col("w1"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("nbr_id").asc)
    corpus.crossJoin(broadcast(queries))
      .withColumn("hamming", Similarity.hammingWords(
        col("w0"), col("w1"), col("qw0"), col("qw1")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("rank"), col("hamming"))
  }

  /** 1-bit ANN, stage 1: Hamming top-10 over sign-bit-packed vectors
    * ([[Similarity.binarySignWords]]) — the coarsest, cheapest serving
    * path on the quantization ladder (float → int8 → PQ → 1-bit). At
    * 100 TB the packed form is 8 bytes/vector, so the WHOLE index sits
    * in memory where the float corpus cannot; the scan cost per
    * (query, vector) is two XOR+popcounts instead of 64 FMAs. Recall
    * loss is the price, measured by [[annBitqRecallAudit]] and bought
    * back by [[annBitqRerank]]'s exact second stage. */
  def annBitqTopK(spark: SparkSession, dir: String): DataFrame =
    bitqHammingTopK(spark, dir, 10)

  /** 1-bit ANN, stage 2: the production two-stage shape — a Hamming
    * shortlist of 50 (cheap, bit-parallel, index-resident) re-scored
    * with EXACT full-precision cosine and cut to top-10. The corpus
    * is touched at float width only for the ~50 shortlisted rows per
    * query (a broadcast join on the shortlist ids — the fetch pattern
    * of a disk-resident vector store), never for the scan. Exact
    * rerank algebra is the audited decimal-dot / IEEE-divide chain,
    * so the gate hash-matches the DuckDB twin. */
  def annBitqRerank(spark: SparkSession, dir: String): DataFrame =
    bitqRerankFromShortlist(spark, dir,
      bitqHammingTopK(spark, dir, 50)
        .select(col("query_id"), col("nbr_id")))

  /** Exact-cosine rerank of a (query_id, nbr_id) shortlist, cut to
    * top-10 — the second stage shared by [[annBitqRerank]] and the
    * depth sweep. */
  private def bitqRerankFromShortlist(spark: SparkSession, dir: String,
      shortlist: DataFrame): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val c = Similarity.vectorsWithNorm(emb, col("vec_id"),
      col("embedding"), "nbr_id", "cv", "sn_c")
    val q = Similarity.vectorsWithNorm(emb.filter(col("vec_id") < 10),
      col("vec_id"), col("embedding"), "query_id", "qv", "sn_q")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id").asc)
    c.join(broadcast(shortlist), Seq("nbr_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine",
        graft.functions.VecKernels.vecDotDec(col("cv"), col("qv"))
          .cast("double") / (col("sn_c") * col("sn_q")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("nbr_id"), col("rank"), col("cosine"))
  }

  /** Shortlist-DEPTH sweep for the 1-bit two-stage path — the
    * recall/cost frontier that SIZES the rerank shortlist (the
    * bit-index twin of `ann_probe_sweep` / `ann_pq_probe_sweep`):
    * per depth D ∈ {10, 25, 50, 100}, Hamming top-D → exact rerank →
    * recall@10 vs brute force. Depth is the serving knob — each
    * shortlisted row costs one float fetch + one exact dot — so this
    * row set is what a deployment reads before fixing D. One Hamming
    * pass at max depth serves every row (the rank cut is free). */
  def annBitqShortlistSweep(spark: SparkSession, dir: String)
      : DataFrame = {
    val depths = Seq(10, 25, 50, 100)
    val ham = Tables.materialize(
      bitqHammingTopK(spark, dir, depths.max))
    val truth = Tables.materialize(
      annBruteForce(spark, dir).select(col("query_id"), col("nbr_id")))
    val nq = truth.select(col("query_id")).distinct()
      .agg(count(lit(1)).as("nq"))
    recallRows(truth, nq, depths.map { d =>
      s"short$d" -> bitqRerankFromShortlist(spark, dir,
        ham.filter(col("rank") <= d)
          .select(col("query_id"), col("nbr_id")))
    })
  }

  /** The decision-driving number for the 1-bit path: recall@10 vs the
    * exact baseline for BOTH stages — raw Hamming top-10 and the
    * rerank — in one two-row readout. This is the gate a deployment
    * reads before choosing shortlist depth: the rerank row must
    * recover (nearly) all of what the Hamming row loses, else the
    * shortlist is too shallow. Same aggregate-recall shape as the
    * matryoshka audit (sum of hits over all seed queries / 10·|Q|). */
  def annBitqRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    val bf = annBruteForce(spark, dir).select(col("query_id"), col("nbr_id"))
    def row(method: String, approx: DataFrame): DataFrame =
      bf.join(approx.select(col("query_id"), col("nbr_id")),
          Seq("query_id", "nbr_id"))
        .agg(count(lit(1)).as("sum_hits"))
        .crossJoin(bf.agg(countDistinct(col("query_id")).as("n_queries")))
        .select(lit(method).as("method"), col("n_queries"), col("sum_hits"),
          (col("sum_hits").cast("double") /
            (col("n_queries") * lit(10L)).cast("double")).as("recall"))
    row("hamming", annBitqTopK(spark, dir))
      .unionByName(row("rerank", annBitqRerank(spark, dir)))
  }

  /** 1-bit encode-APPEND under frozen thresholds + the staleness
    * readout — the bitq twin of `pq_encode_append`'s frozen-codebook
    * proof: the per-dim centering thresholds are TRAINED state, so an
    * ingest pipeline encodes new vectors under the frozen thresholds
    * (no corpus re-scan), and this gate records what that freeze
    * costs — per appended vector, the frozen packed words plus
    * `flipped_bits` = Hamming distance to the codes a full retrain
    * would assign. A drifting corpus shows up as a rising flip rate
    * long before recall moves; flips ≈ 0 licenses the frozen-state
    * ingest path. Bands are proportional (modulus) like
    * `ann_graph_append`'s. */
  def annBitqAppendDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val appended = emb.filter(col("vec_id") % 10 === 9)
    val thFrozen = Similarity.binaryDimThresholds(
      emb.filter(col("vec_id") % 10 =!= 9), col("embedding"), 64)
    val thFull = Similarity.binaryDimThresholds(emb, col("embedding"), 64)
    val fz = Similarity.binarySignWords(appended, col("vec_id"),
      col("embedding"), thFrozen)
    val rt = Similarity.binarySignWords(appended, col("vec_id"),
      col("embedding"), thFull)
    fz.select(col("bid").as("vec_id"), col("w0"), col("w1"))
      .join(rt.select(col("bid").as("vec_id"),
        col("w0").as("r0"), col("w1").as("r1")), Seq("vec_id"))
      .select(col("vec_id"), col("w0"), col("w1"),
        Similarity.hammingWords(col("w0"), col("w1"),
          col("r0"), col("r1")).as("flipped_bits"))
  }

  /** Repetition quality signals (Gopher/C4-family filters):
    * duplicate-token ratio + most-frequent-bigram fraction per doc. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    Corpus.repetitionStats(Tables(spark, dir, "documents"),
      col("doc_id"), col("text"))

  /** Benchmark decontamination over the documents table: docs with
    * `doc_id % 97 == 0` stand in for the eval suite; the rest is the
    * corpus. A corpus doc sharing >= 3 distinct word 3-grams with any
    * benchmark doc is dropped. Returns kept doc ids. */
  def docDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    Dedup.decontaminate(
      docs.filter(col("doc_id") % 97 =!= 0), col("doc_id"), col("text"),
      docs.filter(col("doc_id") % 97 === 0), col("text"),
      n = 3, minShared = 3)
      .select(col("doc_id"))
  }

  /** Int8 embedding quantization — the 4x storage/bandwidth cut a
    * 100 TB embedding corpus ships with: one codegen'd `vec_quant_i8`
    * call per row, no HOF lambdas, no row expansion. The gate hashes
    * the quantized vector as a comma string (the gate cannot hash raw
    * arrays); the dequant scale is max|x|/127, derivable, and the
    * roundtrip error bound is spec-covered (`VecKernelsSpec`). */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings").select(col("vec_id"),
      concat_ws(",",
        graft.functions.VecKernels.vecQuantI8(col("embedding"))
          .cast("array<string>")).as("qcsv"))

  /** Top-k retrieval over int8-QUANTIZED vectors — the serving path a
    * 100 TB embedding corpus actually runs (4× memory/bandwidth cut;
    * [[embedQuantize]] gates the compression itself, this gates
    * RANKING on the compressed form): scores are Σ q_c·q_q exact
    * integer dots ([[graft.functions.VecKernels.vecDotI8]], a
    * codegen'd kernel — no floats anywhere in the ranking, so the
    * whole top-k is deterministic by construction, not by argument).
    * Same broadcast-queries shape as [[annBruteForce]], which remains
    * the full-precision audit baseline for this path's recall. */
  def annQuantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VecKernels
    val q = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), VecKernels.vecQuantI8(col("embedding"))
        .as("qv"))
    val queries = q.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("qv").as("qq"))
    val corpus = q
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("vec_id").as("nbr_id"), col("qv").as("qc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("nbr_id").asc)
    corpus.crossJoin(broadcast(queries))
      .withColumn("score", VecKernels.vecDotI8(col("qc"), col("qq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("nbr_id"), col("rank"), col("score"))
  }

  /** The custom UDTF ([[graft.functions.NgramGenerator]]) through the
    * SQL LATERAL VIEW surface: every word trigram of every document
    * with its 0-based token position, generated inside the engine's
    * `Generate` operator. Positions make the output strictly richer
    * than the distinct-shingle frame the dedup family uses — this is
    * the positional-index builder ([[phraseSearch]]'s input) as a
    * one-liner. */
  def udtfNgrams(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .createOrReplaceTempView("docs_udtf")
    spark.sql(
      """SELECT doc_id, g.pos, g.gram
        |FROM docs_udtf
        |LATERAL VIEW graft_ngrams(text, 3) g AS pos, gram""".stripMargin)
  }

  /** Z-order cell audit ([[graft.functions.ZOrder]]): Morton-interleave
    * (user_id, floor(value·100)) and aggregate per 16-bit-truncated
    * z-cell — the per-cell min/max of BOTH dimensions is exactly the
    * footer-stats tightness a z-clustered file layout gives a
    * two-column filter at 100 TB (each cell bounds x and y to an
    * 8-bit-wide box; a one-column sort bounds only one of them).
    * `floor` is explicit on both engines: a bare double→bigint cast
    * truncates in Spark but rounds in DuckDB. One scan, one hash
    * aggregate; the interleave is a codegen'd constant-time kernel. */
  def zorderCells(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.ZOrder
    val z = ZOrder.zOrder2(col("user_id"),
      floor(col("value") * lit(100.0)).cast("long"))
    Tables(spark, dir, "events")
      .select(col("user_id"),
        floor(col("value") * lit(100.0)).cast("long").as("y"), z.as("z"))
      .groupBy(shiftright(col("z"), 16).as("cell"))
      .agg(count(lit(1)).as("n"),
        min(col("user_id")).as("min_x"), max(col("user_id")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"),
        min(col("z")).as("min_z"), max(col("z")).as("max_z"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "zorder_cells" -> zorderCells _,
    "text_stats" -> textStats _,
    "text_langid" -> textLangId _,
    "text_fingerprint" -> textFingerprint _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_incremental_lsh" -> dedupIncrementalLsh _,
    "text_scrub" -> textScrub _,
    "text_model_score" -> textModelScore _,
    "score_calibration" -> scoreCalibration _,
    "minhash_estimate_error" -> minhashEstimateError _,
    "text_model_score_linear" -> textModelScoreLinear _,
    "dedup_ngram_jaccard" -> dedupNgramJaccard _,
    "jaccard_threshold_sweep" -> jaccardThresholdSweep _,
    "dedup_containment" -> dedupContainment _,
    "dedup_lineage" -> dedupLineage _,
    "dedup_stage_costs" -> dedupStageCosts _,
    "dedup_minhash_sig" -> dedupMinhashSig _,
    "dedup_minhash_lsh" -> dedupMinhashLsh _,
    "lsh_pair_pr" -> lshPairPr _,
    "dedup_family_compare" -> dedupFamilyCompare _,
    "dedup_reorder_audit" -> dedupReorderAudit _,
    "dedup_simhash" -> dedupSimhash _,
    "dedup_simhash_pairs" -> dedupSimhashPairs _,
    "doc_dedup_pipeline" -> docDedupPipeline _,
    "doc_dedup_cc" -> docDedupCc _,
    "doc_dedup_best" -> docDedupBest _,
    "dedup_cluster_stats" -> dedupClusterStats _,
    "substring_dedup" -> substringDedup _,
    "substring_splice" -> substringSplice _,
    "contrastive_triplets" -> contrastiveTriplets _,
    "winnow_fingerprint" -> winnowFingerprint _,
    "winnow_pairs" -> winnowPairsQ _,
    "winnow_recall_audit" -> winnowRecallAudit _,
    "winnow_verify_exact" -> winnowVerifyExact _,
    "winnow_dedup_cc" -> winnowDedupCc _,
    "url_dedup_canonical" -> urlDedupCanonical _,
    "substring_dedup_filter" -> substringDedupFilter _,
    "corpus_quality_e2e" -> corpusQualityE2e _,
    "ann_brute_force" -> annBruteForce _,
    "ann_ivf_topk" -> annIvfTopK _,
    "ann_ivf_kmeans" -> annIvfKmeans _,
    "ann_ivf_persisted" -> annIvfPersisted _,
    "ann_ivf_pq" -> annIvfPq _,
    "html_extract" -> htmlExtract _,
    "html_corpus_e2e" -> htmlCorpusE2e _,
    "ann_pq_recall" -> annPqRecall _,
    "ann_pq_probe_sweep" -> annPqProbeSweep _,
    "ann_ivf_pq_residual" -> annIvfPqResidual _,
    "ann_ivf_pq_trained" -> annIvfPqTrained _,
    "ann_residual_recall_audit" -> annResidualRecallAudit _,
    "ann_residual_offseed_audit" -> annResidualOffseedAudit _,
    "ann_nndescent_topk" -> annNndescentTopk _,
    "ann_nndescent_recall_audit" -> annNndescentRecallAudit _,
    "ann_nndescent_param_sweep" -> annNndescentParamSweep _,
    "ann_graph_entry_sweep" -> annGraphEntrySweep _,
    "ann_graph_diversify" -> annGraphDiversify _,
    "ann_graph_append_diversity" -> annGraphAppendDiversity _,
    "ann_graph_delete" -> annGraphDelete _,
    "ann_graph_delete_serve" -> annGraphDeleteServe _,
    "ann_graph_staleness" -> annGraphStaleness _,
    "hybrid_rrf_fusion" -> hybridRrfFusion _,
    "hybrid_rrf_served" -> hybridRrfServed _,
    "hybrid_rrf_served_overlap" -> hybridRrfServedOverlap _,
    "serve_e2e" -> serveE2e _,
    "serve_e2e_stages" -> serveE2eStages _,
    "hybrid_rrf_graph" -> hybridRrfGraph _,
    "hybrid_rrf_graph_overlap" -> hybridRrfGraphOverlap _,
    "ann_graph_search" -> annGraphSearch _,
    "ann_graph_append" -> annGraphAppend _,
    "ann_graph_append_serve" -> annGraphAppendServe _,
    "ann_graph_search_recall" -> annGraphSearchRecall _,
    "ann_graph_hubness" -> annGraphHubness _,
    "embed_knn_cc" -> embedKnnCc _,
    "ann_opq_recall" -> annOpqRecall _,
    "ann_opq_ivf_pq" -> annOpqIvfPq _,
    "pq_encode_append" -> pqEncodeAppend _,
    "ann_ivf_append" -> annIvfAppend _,
    "ann_ivf_delete_serve" -> annIvfDeleteServe _,
    "ann_ivf_compact" -> annIvfCompact _,
    "ann_pq_delete_serve" -> annPqDeleteServe _,
    "pq_index_compact" -> pqIndexCompact _,
    "ann_drift_trigger" -> annDriftTrigger _,
    "ann_matryoshka_recall" -> annMatryoshkaRecall _,
    "embed_anisotropy" -> embedAnisotropy _,
    "embed_dim_variance" -> embedDimVariance _,
    "embed_covariance" -> embedCovariance _,
    "lang_code_switch" -> langCodeSwitch _,
    "labeler_kappa" -> labelerKappa _,
    "ks_drift" -> ksDrift _,
    "spearman_corr" -> spearmanCorr _,
    "dedup_evidence" -> dedupEvidence _,
    "lsh_index_compact" -> lshIndexCompact _,
    "ann_ivf_recall" -> annIvfRecall _,
    "ann_ivf_cells" -> annIvfCells _,
    "embed_neardup_lsh" -> embedNearDupLsh _,
    "embed_dedup_cc" -> embedDedupCc _,
    "embed_dbscan" -> embedDbscan _,
    "graph_kcore" -> graphKcore _,
    "phrase_search" -> phraseSearch _,
    "proximity_search" -> proximitySearch _,
    "graph_triangles" -> graphTriangles _,
    "graph_two_hop" -> graphTwoHop _,
    "knn_label_eval" -> knnLabelEval _,
    "knn_label_eval_ivf" -> knnLabelEvalIvf _,
    "ann_ranking_eval" -> annRankingEval _,
    "ann_probe_sweep" -> annProbeSweep _,
    "ann_hard_negatives" -> annHardNegatives _,
    "ann_filtered_topk" -> annFilteredTopK _,
    "ann_postfilter_deficit" -> annPostfilterDeficit _,
    "ann_hard_negatives_ivf" -> annHardNegativesIvf _,
    "embed_drift" -> embedDrift _,
    "embed_quantize" -> embedQuantize _,
    "ann_quantized_topk" -> annQuantizedTopK _,
    "ann_quantized_recall" -> annQuantizedRecall _,
    "ann_bitq_topk" -> annBitqTopK _,
    "ann_bitq_rerank" -> annBitqRerank _,
    "ann_bitq_recall_audit" -> annBitqRecallAudit _,
    "ann_bitq_shortlist_sweep" -> annBitqShortlistSweep _,
    "ann_bitq_append_drift" -> annBitqAppendDrift _,
    "ann_ivf_quantized" -> annIvfQuantized _,
    "udtf_ngrams" -> udtfNgrams _,
    "doc_decontaminate" -> docDecontaminate _,
    "text_repetition" -> textRepetition _,
    "bigram_novelty" -> bigramNovelty _,
    "boilerplate_strip" -> boilerplateStrip _,
    "rrf_fusion" -> rrfFusion _,
    "word_pagerank" -> wordPagerank _,
    "graph_bfs_dist" -> graphBfsDist _,
    "word_communities" -> wordCommunities _,
    "split_leakage_audit" -> splitLeakageAudit _,
    "embed_decontaminate" -> embedDecontaminate _)

  /** PageRank over the word co-occurrence (bigram) graph of the
    * corpus — "which tokens sit at the center of the corpus' phrase
    * structure", the graph-centrality companion to [[ExtQueries
    * .bigramNovelty]]'s frequency view. Edges are DISTINCT directed
    * bigrams (w1 → w2); scores are [[Graph.pageRank]]'s integer
    * fixed-round algebra (3 rounds, scale 10⁶, damping 85/100), so
    * the oracle unrolls the identical three rounds as CTEs and the
    * gate hash-compares exact BIGINTs. The vocabulary is small here;
    * at corpus scale the same operator runs unchanged on a crawl's
    * link graph (edge frame swap). */
  def wordPagerank(spark: SparkSession, dir: String): DataFrame =
    Graph.pageRank(wordEdges2(spark, dir), col("w1"), col("w2"),
        iters = 3, scale = 1000000L, damp = 85L)
      .select(col("id").as("word"), col("pr"))

  /** Single-source BFS hop distances over the UNDIRECTED word
    * co-occurrence graph ([[wordPagerank]]'s edge substrate) from the
    * lexicographically-minimum word, 4 hops — the frontier-parallel
    * traversal primitive (reachability, influence radius, link-graph
    * crawl depth) expressed as [[Graph.bfsDistances]]' fixed-round
    * frontier⋈adjacency loop, so the oracle unrolls the identical
    * min-label algebra as CTEs. */
  def graphBfsDist(spark: SparkSession, dir: String): DataFrame = {
    Graph.bfsDistances(wordEdges2(spark, dir), col("w1"), col("w2"),
        hops = 4)
      .select(col("id").as("word"), col("dist"))
  }

  /** Word-community detection over the bigram graph — fixed-round
    * synchronous [[Graph.labelPropagation]] (3 rounds, min-label
    * ties), the community companion to [[wordPagerank]]'s centrality
    * and [[graphBfsDist]]'s traversal on the same substrate. */
  def wordCommunities(spark: SparkSession, dir: String): DataFrame =
    Graph.labelPropagation(wordEdges2(spark, dir), col("w1"), col("w2"),
        rounds = 3)
      .select(col("id").as("word"), col("community"))

  /** Train/eval split LEAKAGE audit — the contamination check every
    * dataset release needs: near-duplicate document pairs (LSH
    * candidates, exact-Jaccard-verified ≥ 0.8) that STRADDLE the
    * deterministic 80/10/10 split boundary. A verified pair with one
    * side in train and the other in val/test means the eval example
    * is memorizable from training data — the audit surfaces the pair
    * with both split labels and the exact similarity so release
    * tooling can evict or re-split. Composition: the [[Dedup]] LSH
    * candidate pass (O(docs × bands), never all-pairs) + candidate-
    * bounded verify + a broadcast-joined split assignment; adds ZERO
    * new shuffle shapes over the dedup pipeline it rides. */
  def splitLeakageAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val g = graft.Tables.materialize(docToksFrames(spark, dir)("grams3"))
    val cand = minhash3Frames(spark, dir)("pairs")
    val verified = Dedup.verifiedPairsFromCandidates(g, cand, 0.8)
    val splits = Corpus.datasetSplit(docs, col("doc_id"),
        trainFrac = 0.8, valFrac = 0.1)
      .select(col("doc_id"), col("split"))
    verified
      .join(splits.select(col("doc_id").as("id1"),
        col("split").as("split1")), "id1")
      .join(splits.select(col("doc_id").as("id2"),
        col("split").as("split2")), "id2")
      .filter(col("split1") =!= col("split2"))
      .select(col("id1"), col("id2"), col("split1"), col("split2"),
        col("jaccard"))
  }

  /** Embedding-space benchmark decontamination — [[docDecontaminate]]'s
    * semantic twin (SemDeDup-style): corpus vectors whose cosine
    * against ANY benchmark vector reaches 0.35 are flagged, each with
    * its closest benchmark item (argmax cosine, ties to the smaller
    * benchmark id) as the eviction evidence. The benchmark frame
    * (vec_id ≡ 0 mod 29 here; a real eval suite in production) is
    * small by construction, so it BROADCASTS and the corpus streams
    * once with a per-row exact-decimal dot kernel — no shuffle until
    * the per-doc argmax, which keys on corpus id. At 100 TB the same
    * contract runs the probed-IVF candidates instead of the full
    * stream; this exact variant is the auditable baseline, like
    * [[annBruteForce]] for [[annIvfTopK]]. */
  def embedDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(spark, dir, "embeddings")
    val corpus = Similarity.vectorsWithNorm(
      emb.filter(pmod(col("vec_id"), lit(29)) =!= 0),
      col("vec_id"), col("embedding"), "vec_id", "cv", "sn_c")
    val bench = Similarity.vectorsWithNorm(
      emb.filter(pmod(col("vec_id"), lit(29)) === 0),
      col("vec_id"), col("embedding"), "bench_id", "qv", "sn_q")
    val scored = corpus.crossJoin(broadcast(bench))
      .withColumn("cosine",
        graft.functions.VecKernels.vecDotDec(col("cv"), col("qv"))
          .cast("double") / (col("sn_c") * col("sn_q")))
      .filter(col("cosine") >= 0.35)
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cosine").desc, col("bench_id").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("bench_id"), col("cosine"))
  }

  /** Reciprocal-rank fusion of two rankers (the standard hybrid-
    * retrieval merge: lexical + vector rankings → one list). The
    * SCALE path is fused candidate lists, not fused full rankings:
    * each ranker contributes its top-100 via TakeOrdered (distributed
    * top-k, no global sort of the full table); ranks are then
    * assigned inside the 100-row candidate frames (window cost
    * bounded by k, not by table size), full-outer joined, and scored
    * rrf = Σ 1/(60+rank) over the lists where the item appears —
    * absent-list terms contribute 0, the published convention. Each
    * term is ONE IEEE divide of exact integers and the two-term sum
    * has fixed association, so the gate hash-compares doubles
    * safely. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables(spark, dir, "part")
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
    def topRanked(order: Seq[Column], rankName: String): DataFrame = {
      val w = Window.orderBy(order: _*)
      parts.orderBy(order: _*).limit(100)
        .withColumn(rankName, row_number().over(w))
        .select(col("p_partkey").as(s"${rankName}_key"), col(rankName))
    }
    val byPrice = topRanked(
      Seq(col("p_retailprice").asc, col("p_partkey").asc), "r_price")
    val bySize = topRanked(
      Seq(col("p_size").asc, col("p_partkey").asc), "r_size")
    byPrice.join(bySize, col("r_price_key") === col("r_size_key"),
        "full_outer")
      .select(
        coalesce(col("r_price_key"), col("r_size_key")).as("p_partkey"),
        (coalesce(lit(1.0) / (lit(60) + col("r_price")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("r_size")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("p_partkey").asc)
      .limit(20)
  }

  // -------------------------------------------------------- oracle SQL
  // Hash-heavy oracles are generated programmatically so the SQL stays
  // exactly in lockstep with the Scala constants (marker lists, seeds,
  // band layout, hyperplane weights).

  private val stopwordsSql =
    TextFunctions.EnglishStopwords.map(s => s"'$s'").mkString(", ")

  private[queries] val toks = "string_split_regex(trim(text), '\\s+')"

  // The pattern constants interpolate verbatim: DuckDB single-quoted
  // literals don't process backslash escapes, so `\b`/`\d` reach RE2
  // exactly as Java regex saw them (both dialects: ASCII classes, no
  // backrefs — see TextFunctions PII docs).
  private val emailSql = TextFunctions.EmailPattern
  private val ipv4Sql = TextFunctions.Ipv4Pattern
  private val phoneSql = TextFunctions.PhonePattern

  private val textScrubSql =
    s"""SELECT doc_id,
       |  substr(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
       |    text,
       |    '$emailSql', '<EMAIL>', 'g'),
       |    '$ipv4Sql', '<IP>', 'g'),
       |    '$phoneSql', '<PHONE>', 'g'),
       |    '\\bdata\\b', '<MASK>', 'g'), 1, 120) AS scrubbed,
       |  CAST(len(regexp_extract_all(text, '\\bdata\\b')) AS BIGINT)
       |    AS n_masked,
       |  CAST(len(regexp_extract_all(text, '$emailSql'))
       |     + len(regexp_extract_all(
       |         regexp_replace(text, '$emailSql', '<EMAIL>', 'g'),
       |         '$ipv4Sql'))
       |     + len(regexp_extract_all(
       |         regexp_replace(regexp_replace(text, '$emailSql',
       |           '<EMAIL>', 'g'), '$ipv4Sql', '<IP>', 'g'),
       |         '$phoneSql')) AS BIGINT)
       |    AS n_pii
       |FROM documents""".stripMargin

  private val textStatsSql =
    s"""SELECT doc_id,
       |  length($toks) AS n_tokens,
       |  length(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS n_subwords,
       |  CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) > 0
       |    THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |         / CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
       |    ELSE 0.0 END AS punct_ratio,
       |  CASE WHEN length($toks) > 0
       |    THEN CAST(len(list_filter($toks, t -> lower(t) IN ($stopwordsSql))) AS DOUBLE)
       |         / CAST(length($toks) AS DOUBLE)
       |    ELSE 0.0 END AS stopword_ratio,
       |  CASE WHEN length($toks) > 0
       |    THEN CAST(list_aggregate(list_transform($toks, t -> length(t)), 'sum') AS DOUBLE)
       |         / CAST(length($toks) AS DOUBLE)
       |    ELSE 0.0 END AS avg_token_len,
       |  round(
       |    least(CAST(length($toks) AS DOUBLE) / 20.0, 1.0) * 0.5 +
       |    (1.0 - least((CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) > 0
       |      THEN CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
       |           / CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
       |      ELSE 0.0 END) * 2.0, 1.0)) * 0.3 +
       |    least((CASE WHEN length($toks) > 0
       |      THEN CAST(len(list_filter($toks, t -> lower(t) IN ($stopwordsSql))) AS DOUBLE)
       |           / CAST(length($toks) AS DOUBLE)
       |      ELSE 0.0 END) * 4.0, 1.0) * 0.2, 6) AS quality
       |FROM documents""".stripMargin

  private[queries] val langScoreExprs = TextFunctions.LangMarkers.map { case (lang, ms) =>
    val list = ms.map(m => s"'$m'").mkString(", ")
    lang -> s"len(list_filter($toks, t -> lower(t) IN ($list)))"
  }

  private val textLangIdSql = {
    val scoreCols = langScoreExprs
      .map { case (l, e) => s"  $e AS score_$l" }.mkString(",\n")
    val best = langScoreExprs.map { case (l, _) => s"score_$l" }
      .reduceRight((a, b) => s"greatest($a, $b)")
    val guess = langScoreExprs.reverse.foldLeft("'und'") { case (els, (l, _)) =>
      s"CASE WHEN score_$l = best AND score_$l > 0 THEN '$l' ELSE $els END"
    }
    s"""WITH s AS (
       |SELECT doc_id,
       |$scoreCols
       |FROM documents),
       |b AS (SELECT *, $best AS best FROM s)
       |SELECT doc_id, $guess AS lang_guess,
       |  ${langScoreExprs.map { case (l, _) => s"score_$l" }.mkString(", ")}
       |FROM b""".stripMargin
  }

  private val textFingerprintSql =
    s"""SELECT doc_id, md5(text) AS fp,
       |  md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS canon_fp
       |FROM documents""".stripMargin

  private val dedupIncrementalSql =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fp
       |  FROM documents),
       |led AS (SELECT DISTINCT fp FROM f WHERE doc_id % 3 <> 0),
       |batch AS (
       |  SELECT MIN(doc_id) AS doc_id, fp
       |  FROM f WHERE doc_id % 3 = 0 GROUP BY fp)
       |SELECT doc_id, fp FROM batch
       |WHERE fp NOT IN (SELECT fp FROM led)""".stripMargin

  /** DuckDB twin of the incremental LSH probe: the pool unions full
    * history with BATCH SURVIVORS of the exact pass (the operator
    * bands only those), candidates keep pairs whose LARGER-side rule
    * matches the operator's — history beats batch at any id order,
    * batch-internal smaller id wins — and the greedy keeper drops
    * verified batch losers. */
  private lazy val dedupIncrementalLshSql = {
    val cond = bandExprs.indices.map(b => s"x.b$b = y.b$b").mkString(" OR ")
    val bandCols = bandExprs.zipWithIndex
      .map { case (e, b) => s"  $e AS b$b" }.mkString(",\n")
    s"""WITH canon AS (
       |  SELECT doc_id AS id, text,
       |    md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS fp
       |  FROM documents),
       |led AS (SELECT DISTINCT fp FROM canon WHERE id % 3 <> 0),
       |bfirst AS (
       |  SELECT fp, min(id) AS id FROM canon WHERE id % 3 = 0 GROUP BY fp),
       |bsurv AS (
       |  SELECT c.id, c.text FROM canon c JOIN bfirst f ON c.id = f.id
       |  WHERE c.fp NOT IN (SELECT fp FROM led)),
       |pool AS (
       |  SELECT id, text FROM canon WHERE id % 3 <> 0
       |  UNION ALL SELECT id, text FROM bsurv),
       |grams AS (
       |  SELECT DISTINCT sub.id,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
       |  FROM (SELECT id, $toks AS t FROM pool) sub,
       |       LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1))) AS i)),
       |$hashedCte,
       |sig AS (
       |SELECT id,
       |$sigAggs
       |FROM hashed GROUP BY id),
       |bands AS (
       |SELECT id,
       |$bandCols
       |FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.id AS id1, y.id AS id2
       |  FROM bands x JOIN bands y
       |    ON y.id % 3 = 0 AND x.id <> y.id
       |    AND (x.id % 3 <> 0 OR x.id < y.id)
       |    AND ($cond)),
       |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
       |inter AS (
       |  SELECT c.id1, c.id2, count(*) AS inter FROM cand c
       |  JOIN grams ga ON ga.id = c.id1
       |  JOIN grams gb ON gb.id = c.id2 AND gb.gram = ga.gram
       |  GROUP BY c.id1, c.id2),
       |verified AS (
       |  SELECT id1, id2 FROM inter
       |  JOIN sizes s1 ON s1.id = id1
       |  JOIN sizes s2 ON s2.id = id2
       |  WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE)
       |    >= 0.8)
       |SELECT id FROM bsurv
       |WHERE id NOT IN (SELECT DISTINCT id2 FROM verified)""".stripMargin
  }

  /** Shared CTE: distinct word 3-grams per document (1-based list
    * indexing; i in 1..len-2). */
  private val gramsCte =
    s"""grams AS (
       |  SELECT DISTINCT doc_id AS id,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
       |  FROM (SELECT doc_id, $toks AS t FROM documents),
       |       LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1))) AS i))""".stripMargin

  // 8-token tiling (inclusive 1-based DuckDB list slice), repeated
  // tiles dropped, docs rebuilt with ORDER BY pos string_agg
  private val boilerplateStripSql =
    s"""WITH tk AS (SELECT doc_id, $toks AS t FROM documents),
       |tiles AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(
       |      t[(CAST(i AS INT) * 8 + 1):(CAST(i AS INT) * 8 + 8)], ' ')
       |      AS tile
       |  FROM tk, LATERAL (SELECT unnest(
       |    range(0, CAST((len(t) + 7) // 8 AS BIGINT))) AS i)),
       |dup AS (SELECT tile FROM tiles GROUP BY tile HAVING count(*) >= 2),
       |kept AS (
       |  SELECT * FROM tiles WHERE tile NOT IN (SELECT tile FROM dup)),
       |reb AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(tile, ' ' ORDER BY pos) AS clean_text
       |  FROM kept GROUP BY doc_id),
       |cnt AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tiles
       |  FROM tiles GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(cnt.n_tiles, 0) AS n_tiles,
       |  COALESCE(cnt.n_tiles, 0) - COALESCE(reb.n_kept, 0) AS n_dropped,
       |  COALESCE(reb.clean_text, '') AS clean_text
       |FROM documents d
       |LEFT JOIN cnt ON cnt.doc_id = d.doc_id
       |LEFT JOIN reb ON reb.doc_id = d.doc_id""".stripMargin

  // directed ratios from the same gram-intersection algebra
  private val dedupContainmentSql =
    s"""WITH $gramsCte,
       |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
       |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
       |  GROUP BY a.id, b.id)
       |SELECT id1, id2,
       |  CAST(inter AS DOUBLE) / CAST(s1.sz AS DOUBLE) AS c12,
       |  CAST(inter AS DOUBLE) / CAST(s2.sz AS DOUBLE) AS c21
       |FROM inter
       |JOIN sizes s1 ON s1.id = id1
       |JOIN sizes s2 ON s2.id = id2
       |WHERE CAST(inter AS DOUBLE) / CAST(s1.sz AS DOUBLE) >= 0.9
       |   OR CAST(inter AS DOUBLE) / CAST(s2.sz AS DOUBLE) >= 0.9""".stripMargin

  // histogram over the same verified-pair algebra; bin = floor(j*10)
  // capped at 9 so exact-1.0 pairs land in the top bin
  private val jaccardThresholdSweepSql =
    s"""WITH $gramsCte,
       |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
       |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |jac AS (
       |  SELECT CAST(inter AS DOUBLE)
       |    / CAST(s1.sz + s2.sz - inter AS DOUBLE) AS jaccard
       |  FROM inter
       |  JOIN sizes s1 ON s1.id = id1
       |  JOIN sizes s2 ON s2.id = id2
       |  WHERE CAST(inter AS DOUBLE)
       |    / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5)
       |SELECT CAST(least(floor(jaccard * CAST(10.0 AS DOUBLE)),
       |    CAST(9.0 AS DOUBLE)) AS BIGINT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_pairs
       |FROM jac GROUP BY 1""".stripMargin

  // word BIGRAMS (n=2 twin of gramsCte); vocabulary cut is a total
  // order (df desc, gram asc) so the top-K boundary is deterministic
  private val bigramNoveltySql =
    s"""WITH big AS (
       |  SELECT DISTINCT doc_id AS id, t[i] || ' ' || t[i+1] AS gram
       |  FROM (SELECT doc_id, $toks AS t FROM documents),
       |       LATERAL (SELECT unnest(range(1, greatest(length(t), 1))) AS i)),
       |v AS (
       |  SELECT gram FROM (
       |    SELECT gram, count(*) AS df FROM big GROUP BY gram)
       |  ORDER BY df DESC, gram LIMIT 1000),
       |per AS (
       |  SELECT b.id, CAST(count(*) AS BIGINT) AS nb,
       |    CAST(SUM(CASE WHEN v.gram IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS nk
       |  FROM big b LEFT JOIN v ON v.gram = b.gram
       |  GROUP BY b.id)
       |SELECT d.doc_id AS id,
       |  COALESCE(per.nb, 0) AS n_bigrams,
       |  COALESCE(per.nk, 0) AS n_known,
       |  CASE WHEN COALESCE(per.nb, 0) > 0
       |    THEN CAST(per.nb - per.nk AS DOUBLE) / CAST(per.nb AS DOUBLE)
       |  END AS novelty
       |FROM documents d LEFT JOIN per ON per.id = d.doc_id""".stripMargin

  // the three integer PageRank rounds unrolled; // on positive
  // BIGINTs floors exactly like Spark's div (result DOUBLE, values
  // far below 2^53, cast back exact)
  private val wordPagerankSql =
    s"""WITH pgr_e AS (
       |  SELECT DISTINCT t[i] AS src, t[i+1] AS dst
       |  FROM (SELECT $toks AS t FROM documents),
       |       LATERAL (SELECT unnest(range(1, greatest(length(t), 1)))
       |                AS i)),
       |pgr_n AS (SELECT src AS id FROM pgr_e
       |          UNION SELECT dst FROM pgr_e),
       |pgr_od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS odeg
       |           FROM pgr_e GROUP BY 1),
       |pgr_p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM pgr_n),
       |pgr_s1 AS (
       |  SELECT e.dst, CAST(SUM(CAST(p.pr // o.odeg AS BIGINT))
       |    AS BIGINT) AS m
       |  FROM pgr_e e JOIN pgr_p0 p ON e.src = p.id
       |  JOIN pgr_od o ON e.src = o.src GROUP BY 1),
       |pgr_p1 AS (
       |  SELECT n.id, CAST(150000 +
       |    CAST((85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS BIGINT) AS pr
       |  FROM pgr_n n LEFT JOIN pgr_s1 s ON n.id = s.dst),
       |pgr_s2 AS (
       |  SELECT e.dst, CAST(SUM(CAST(p.pr // o.odeg AS BIGINT))
       |    AS BIGINT) AS m
       |  FROM pgr_e e JOIN pgr_p1 p ON e.src = p.id
       |  JOIN pgr_od o ON e.src = o.src GROUP BY 1),
       |pgr_p2 AS (
       |  SELECT n.id, CAST(150000 +
       |    CAST((85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS BIGINT) AS pr
       |  FROM pgr_n n LEFT JOIN pgr_s2 s ON n.id = s.dst),
       |pgr_s3 AS (
       |  SELECT e.dst, CAST(SUM(CAST(p.pr // o.odeg AS BIGINT))
       |    AS BIGINT) AS m
       |  FROM pgr_e e JOIN pgr_p2 p ON e.src = p.id
       |  JOIN pgr_od o ON e.src = o.src GROUP BY 1),
       |pgr_p3 AS (
       |  SELECT n.id, CAST(150000 +
       |    CAST((85 * COALESCE(s.m, 0)) // 100 AS BIGINT) AS BIGINT) AS pr
       |  FROM pgr_n n LEFT JOIN pgr_s3 s ON n.id = s.dst)
       |SELECT id AS word, pr FROM pgr_p3""".stripMargin

  /** Unrolled 4-hop min-label BFS — identical algebra to
    * Graph.bfsDistances: round h expands only vertices whose current
    * min dist is h-1. */
  private lazy val graphBfsDistSql = {
    def round(h: Int): String =
      s"""bfs_d$h AS (
         |  SELECT id, min(dist) AS dist FROM (
         |    SELECT id, dist FROM bfs_d${h - 1}
         |    UNION ALL
         |    SELECT a.v, CAST($h AS BIGINT)
         |    FROM bfs_adj a JOIN bfs_d${h - 1} f
         |      ON f.id = a.u AND f.dist = ${h - 1}
         |  ) GROUP BY id)"""
    s"""WITH bfs_raw AS (
       |  SELECT DISTINCT t[i] AS src, t[i+1] AS dst
       |  FROM (SELECT $toks AS t FROM documents),
       |       LATERAL (SELECT unnest(range(1, greatest(length(t), 1)))
       |                AS i)),
       |bfs_c AS (
       |  SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d
       |  FROM bfs_raw WHERE least(src, dst) < greatest(src, dst)),
       |bfs_adj AS (
       |  SELECT s AS u, d AS v FROM bfs_c
       |  UNION ALL SELECT d, s FROM bfs_c),
       |bfs_d0 AS (
       |  SELECT min(u) AS id, CAST(0 AS BIGINT) AS dist FROM bfs_adj),
       |${(1 to 4).map(round).mkString(",\n")}
       |SELECT id AS word, dist FROM bfs_d4""".stripMargin
  }

  /** Unrolled 3-round synchronous LPA: per round, count neighbor
    * labels and take the (max count, min label) argmax via a min-ROW
    * fold — identical algebra to Graph.labelPropagation. */
  private lazy val wordCommunitiesSql = {
    def round(h: Int): String =
      s"""lp_r$h AS (
         |  SELECT a.u, l.lbl, count(*) AS cnt
         |  FROM lp_adj a JOIN lp_l${h - 1} l ON l.id = a.v
         |  GROUP BY 1, 2),
         |lp_l$h AS (
         |  SELECT u AS id, (MIN(ROW(-cnt, lbl)))[2] AS lbl
         |  FROM lp_r$h GROUP BY u)"""
    s"""WITH lp_raw AS (
       |  SELECT DISTINCT t[i] AS src, t[i+1] AS dst
       |  FROM (SELECT $toks AS t FROM documents),
       |       LATERAL (SELECT unnest(range(1, greatest(length(t), 1)))
       |                AS i)),
       |lp_c AS (
       |  SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d
       |  FROM lp_raw WHERE least(src, dst) < greatest(src, dst)),
       |lp_adj AS (
       |  SELECT s AS u, d AS v FROM lp_c
       |  UNION ALL SELECT d, s FROM lp_c),
       |lp_l0 AS (SELECT DISTINCT u AS id, u AS lbl FROM lp_adj),
       |${(1 to 3).map(round).mkString(",\n")}
       |SELECT id AS word, lbl AS community FROM lp_l3""".stripMargin
  }

  /** LSH candidates over ALL documents + exact-Jaccard verify (same
    * band/sig constants as dedup_minhash_lsh) + the dataset_split
    * hash — pairs straddling the split boundary. */
  private lazy val splitLeakageAuditSql = {
    val cond = bandExprs.indices.map(b => s"x.b$b = y.b$b")
      .mkString(" OR ")
    val bandCols = bandExprs.zipWithIndex
      .map { case (e, b) => s"  $e AS b$b" }.mkString(",\n")
    s"""WITH $gramsCte,
       |$hashedCte,
       |sig AS (
       |SELECT id,
       |$sigAggs
       |FROM hashed GROUP BY id),
       |bands AS (
       |SELECT id,
       |$bandCols
       |FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.id AS id1, y.id AS id2
       |  FROM bands x JOIN bands y ON x.id < y.id AND ($cond)),
       |lk_sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
       |lk_inter AS (
       |  SELECT c.id1, c.id2, count(*) AS inter
       |  FROM cand c
       |  JOIN grams ga ON ga.id = c.id1
       |  JOIN grams gb ON gb.id = c.id2 AND gb.gram = ga.gram
       |  GROUP BY c.id1, c.id2),
       |lk_ver AS (
       |  SELECT id1, id2,
       |    CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE)
       |      AS jaccard
       |  FROM lk_inter
       |  JOIN lk_sizes s1 ON s1.id = id1
       |  JOIN lk_sizes s2 ON s2.id = id2
       |  WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE)
       |    >= 0.8),
       |-- (0.8 + 0.1) on purpose: the engine adds the fractions in
       |-- doubles (= 0.9000000000000001, not 0.9); same sum here
       |lk_split AS (
       |  SELECT doc_id,
       |    CASE WHEN hv < 0.8 * 4294967296.0 THEN 'train'
       |         WHEN hv < (0.8 + 0.1) * 4294967296.0 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
       |      AS DOUBLE) AS hv
       |    FROM documents))
       |SELECT v.id1, v.id2, sa.split AS split1, sb.split AS split2,
       |  v.jaccard
       |FROM lk_ver v
       |JOIN lk_split sa ON sa.doc_id = v.id1
       |JOIN lk_split sb ON sb.doc_id = v.id2
       |WHERE sa.split <> sb.split""".stripMargin
  }

  /** Benchmark split (vec_id ≡ 0 mod 29) vs corpus, exact-decimal
    * dots, flag ≥ 0.35, argmax benchmark per flagged corpus vector. */
  private lazy val embedDecontaminateSql =
    s"""WITH $vecCtes,
       |dc_dots AS (
       |  SELECT c.vec_id AS cid, q.vec_id AS bid,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i
       |    AND c.vec_id % 29 <> 0 AND q.vec_id % 29 = 0
       |  GROUP BY 1, 2),
       |dc_cos AS (
       |  SELECT cid, bid, dot / (nc.sn * nb.sn) AS cosine
       |  FROM dc_dots
       |  JOIN norms nc ON nc.vec_id = cid
       |  JOIN norms nb ON nb.vec_id = bid),
       |dc_rk AS (
       |  SELECT cid, bid, cosine,
       |    row_number() OVER (PARTITION BY cid
       |                       ORDER BY cosine DESC, bid ASC) AS rk
       |  FROM dc_cos WHERE cosine >= 0.35)
       |SELECT cid AS vec_id, bid AS bench_id, cosine
       |FROM dc_rk WHERE rk = 1""".stripMargin

  private val dedupNgramJaccardSql =
    s"""WITH $gramsCte,
       |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
       |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
       |  GROUP BY a.id, b.id)
       |SELECT id1, id2,
       |  CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes s1 ON s1.id = id1
       |JOIN sizes s2 ON s2.id = id2
       |WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5""".stripMargin

  private[queries] val sigAggs = Dedup.minhashParams(16).zipWithIndex
    .map { case ((a, b), j) =>
      s"  min((h * $a + $b) % ${Dedup.MinhashP}) AS sig_$j"
    }.mkString(",\n")

  private val hashedCte =
    """hashed AS (
      |  SELECT id, ('0x' || substr(md5(gram), 1, 8))::BIGINT AS h
      |  FROM grams)""".stripMargin

  private val dedupMinhashSigSql =
    s"""WITH $gramsCte,
       |$hashedCte
       |SELECT id,
       |$sigAggs
       |FROM hashed GROUP BY id""".stripMargin

  private[queries] val bandExprs = (0 until 4).map { b =>
    val cols = (0 until 4).map(r => s"sig_${b * 4 + r}")
    s"md5(${cols.mkString(" || '|' || ")})"
  }

  /** Clean-index rebuild: per-doc band rows unnested from the sig
    * bands, tombstones dropped, per-band stats + XOR checksum. */
  private lazy val lshIndexCompactSql = {
    val bandCols = bandExprs.zipWithIndex
      .map { case (e, b) => s"  $e AS b$b" }.mkString(",\n")
    val unnested = bandExprs.indices.map(b =>
      s"SELECT id, $b AS band, b$b AS bh FROM bands").mkString(
      "\n  UNION ALL ")
    s"""WITH $gramsCte,
       |$hashedCte,
       |sig AS (
       |SELECT id,
       |$sigAggs
       |FROM hashed GROUP BY id),
       |bands AS (
       |SELECT id,
       |$bandCols
       |FROM sig),
       |rws AS (
       |  $unnested),
       |kept AS (
       |  SELECT DISTINCT id, band, bh FROM rws WHERE id % 10 <> 0),
       |hh AS (
       |  SELECT band,
       |    ('0x' || substr(md5(id || '|' || band || '|' || bh), 1, 15))
       |      ::BIGINT AS hv,
       |    id, bh
       |  FROM kept)
       |SELECT CAST(band AS BIGINT) AS band,
       |  CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT id) AS BIGINT) AS n_docs,
       |  CAST(count(DISTINCT bh) AS BIGINT) AS n_buckets,
       |  bit_xor(hv) AS checksum
       |FROM hh GROUP BY band""".stripMargin
  }

  private val dedupMinhashLshSql = {
    val cond = bandExprs.zipWithIndex
      .map { case (_, b) => s"x.b$b = y.b$b" }.mkString(" OR ")
    val bandCols = bandExprs.zipWithIndex
      .map { case (e, b) => s"  $e AS b$b" }.mkString(",\n")
    s"""WITH $gramsCte,
       |$hashedCte,
       |sig AS (
       |SELECT id,
       |$sigAggs
       |FROM hashed GROUP BY id),
       |bands AS (
       |SELECT id,
       |$bandCols
       |FROM sig)
       |SELECT x.id AS id1, y.id AS id2
       |FROM bands x JOIN bands y ON x.id < y.id AND ($cond)""".stripMargin
  }

  // exact truth set and band candidates from their gated CTE chains,
  // two counts + one join, CASE-guarded divides
  private lazy val lshPairPrSql = {
    val cond = bandExprs.zipWithIndex
      .map { case (_, b) => s"x.b$b = y.b$b" }.mkString(" OR ")
    val bandCols = bandExprs.zipWithIndex
      .map { case (e, b) => s"  $e AS b$b" }.mkString(",\n")
    s"""WITH $gramsCte,
       |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
       |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |pr_exact AS (
       |  SELECT id1, id2 FROM inter
       |  JOIN sizes s1 ON s1.id = id1
       |  JOIN sizes s2 ON s2.id = id2
       |  WHERE CAST(inter AS DOUBLE)
       |    / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5),
       |$hashedCte,
       |sig AS (
       |SELECT id,
       |$sigAggs
       |FROM hashed GROUP BY id),
       |bands AS (
       |SELECT id,
       |$bandCols
       |FROM sig),
       |pr_cand AS (
       |  SELECT x.id AS id1, y.id AS id2
       |  FROM bands x JOIN bands y ON x.id < y.id AND ($cond)),
       |pr_a AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM pr_exact) AS n_exact,
       |    (SELECT CAST(count(*) AS BIGINT) FROM pr_cand) AS n_cand,
       |    (SELECT CAST(count(*) AS BIGINT) FROM pr_exact e
       |     JOIN pr_cand c ON c.id1 = e.id1 AND c.id2 = e.id2)
       |      AS n_both)
       |SELECT n_exact, n_cand, n_both,
       |  CASE WHEN n_cand > 0
       |    THEN CAST(n_both AS DOUBLE) / CAST(n_cand AS DOUBLE)
       |    ELSE CAST(1.0 AS DOUBLE) END AS precision,
       |  CASE WHEN n_exact > 0
       |    THEN CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE)
       |    ELSE CAST(1.0 AS DOUBLE) END AS recall
       |FROM pr_a""".stripMargin
  }

  // three raw candidate generators against one MATERIALIZED exact
  // truth set; per-family left-join hit counts, guarded divides
  private lazy val dedupFamilyCompareSql = {
    val cond = bandExprs.zipWithIndex
      .map { case (_, b) => s"x.b$b = y.b$b" }.mkString(" OR ")
    val bandCols = bandExprs.zipWithIndex
      .map { case (e, b) => s"  $e AS b$b" }.mkString(",\n")
    s"""WITH $gramsCte,
       |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
       |inter AS (
       |  SELECT a.id AS id1, b.id AS id2, count(*) AS inter
       |  FROM grams a JOIN grams b ON a.gram = b.gram AND a.id < b.id
       |  GROUP BY a.id, b.id),
       |fc_exact AS MATERIALIZED (
       |  SELECT id1, id2 FROM inter
       |  JOIN sizes s1 ON s1.id = id1
       |  JOIN sizes s2 ON s2.id = id2
       |  WHERE CAST(inter AS DOUBLE)
       |    / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5),
       |$hashedCte,
       |sig AS (
       |SELECT id,
       |$sigAggs
       |FROM hashed GROUP BY id),
       |bands AS (
       |SELECT id,
       |$bandCols
       |FROM sig),
       |fc_mh AS (
       |  SELECT x.id AS id1, y.id AS id2
       |  FROM bands x JOIN bands y ON x.id < y.id AND ($cond)),
       |$simhashCtes,
       |fc_shb AS (
       |  SELECT id, b AS band,
       |    (simhash >> (CAST(b AS INT) * 16)) & 65535 AS bv
       |  FROM sk, LATERAL (SELECT unnest(range(0, 4)) AS b)),
       |fc_sh AS (
       |  SELECT DISTINCT x.id AS id1, y.id AS id2
       |  FROM fc_shb x JOIN fc_shb y
       |    ON x.band = y.band AND x.bv = y.bv AND x.id < y.id),
       |$winnowPairCtes,
       |fc_fam AS (
       |  SELECT 'minhash_lsh' AS family, id1, id2 FROM fc_mh
       |  UNION ALL SELECT 'simhash', id1, id2 FROM fc_sh
       |  UNION ALL SELECT 'winnow', id_a, id_b FROM wf_pairs),
       |fc_tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_exact FROM fc_exact),
       |fc_j AS (
       |  SELECT f.family,
       |    CASE WHEN e.id1 IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM fc_fam f LEFT JOIN fc_exact e
       |    ON e.id1 = f.id1 AND e.id2 = f.id2),
       |fc_a AS (
       |  SELECT family, CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(SUM(hit) AS BIGINT) AS n_both
       |  FROM fc_j GROUP BY family)
       |SELECT family, n_exact, n_cand, n_both,
       |  CASE WHEN n_cand > 0
       |    THEN CAST(n_both AS DOUBLE) / CAST(n_cand AS DOUBLE)
       |    ELSE CAST(1.0 AS DOUBLE) END AS precision,
       |  CASE WHEN n_exact > 0
       |    THEN CAST(n_both AS DOUBLE) / CAST(n_exact AS DOUBLE)
       |    ELSE CAST(1.0 AS DOUBLE) END AS recall
       |FROM fc_a, fc_tot""".stripMargin
  }

  private val minhashEstimateErrorSql = {
    val cond = bandExprs.indices
      .map(b => s"x.b$b = y.b$b").mkString(" OR ")
    val bandCols = bandExprs.zipWithIndex
      .map { case (e, b) => s"  $e AS b$b" }.mkString(",\n")
    val matchSum = (0 until 16)
      .map(j => s"CASE WHEN s1.sig_$j = s2.sig_$j THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $gramsCte,
       |$hashedCte,
       |sig AS (
       |SELECT id,
       |$sigAggs
       |FROM hashed GROUP BY id),
       |bands AS (
       |SELECT id,
       |$bandCols
       |FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.id AS id1, y.id AS id2
       |  FROM bands x JOIN bands y ON x.id < y.id AND ($cond)),
       |msizes AS (SELECT id, CAST(count(*) AS BIGINT) AS sz
       |           FROM grams GROUP BY id),
       |minter AS (
       |  SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) AS inter
       |  FROM cand c
       |  JOIN grams a ON a.id = c.id1
       |  JOIN grams b ON b.id = c.id2 AND a.gram = b.gram
       |  GROUP BY 1, 2),
       |mrows AS (
       |  SELECT c.id1, c.id2,
       |    CAST($matchSum AS BIGINT) AS match_cnt,
       |    COALESCE(i.inter, 0) AS inter,
       |    ms1.sz + ms2.sz - COALESCE(i.inter, 0) AS usz
       |  FROM cand c
       |  JOIN sig s1 ON s1.id = c.id1
       |  JOIN sig s2 ON s2.id = c.id2
       |  LEFT JOIN minter i ON i.id1 = c.id1 AND i.id2 = c.id2
       |  JOIN msizes ms1 ON ms1.id = c.id1
       |  JOIN msizes ms2 ON ms2.id = c.id2)
       |SELECT id1, id2, match_cnt, inter, usz,
       |  abs(CAST(match_cnt AS DOUBLE) / CAST(16 AS DOUBLE) -
       |      CAST(inter AS DOUBLE) / CAST(usz AS DOUBLE)) AS est_err
       |FROM mrows""".stripMargin
  }

  /** tok/hash/vote/sketch CTE chain shared by both simhash oracles.
    * 64-bit: two md5 hash words per token (hex 1-8 and 9-16); bit 63's
    * weight is added as Long.MinValue AFTER the non-negative 0..62 sum
    * so DuckDB's overflow checking never trips (Dedup.simhash doc). */
  private val simhashCtes = {
    def bitExpr(i: Int) =
      if (i < 32) s"(h1 >> $i) & 1" else s"(h2 >> ${i - 32}) & 1"
    val votes = (0 until 64)
      .map(i => s"  sum(CASE WHEN ${bitExpr(i)} = 1 THEN 1 ELSE -1 END) AS v_$i")
      .mkString(",\n")
    val low = (0 until 63)
      .map(i => s"CASE WHEN v_$i >= 0 THEN CAST(${1L << i} AS BIGINT) ELSE 0 END")
      .mkString(" + ")
    val sketch =
      s"CAST($low AS BIGINT) + " +
        "CASE WHEN v_63 >= 0 THEN (-9223372036854775807 - 1) ELSE 0 END"
    s"""tok AS (
       |  SELECT doc_id AS id, unnest($toks) AS tok FROM documents),
       |tokhashed AS (
       |  SELECT id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h1,
       |         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h2 FROM tok),
       |voted AS (
       |SELECT id,
       |$votes
       |FROM tokhashed GROUP BY id),
       |sk AS (SELECT id, CAST($sketch AS BIGINT) AS simhash FROM voted)""".stripMargin
  }

  private val dedupSimhashSql =
    s"WITH $simhashCtes\nSELECT id, simhash FROM sk"

  private val dedupSimhashPairsSql = {
    s"""WITH $simhashCtes,
       |bands2 AS (
       |  SELECT id, b AS band, (simhash >> (CAST(b AS INT) * 16)) & 65535 AS bv
       |  FROM sk, LATERAL (SELECT unnest(range(0, 4)) AS b)),
       |cand AS (
       |  SELECT DISTINCT x.id AS id1, y.id AS id2
       |  FROM bands2 x JOIN bands2 y
       |    ON x.band = y.band AND x.bv = y.bv AND x.id < y.id)
       |SELECT id1, id2,
       |  bit_count(xor(s1.simhash, s2.simhash)) AS hamming
       |FROM cand
       |JOIN sk s1 ON s1.id = id1
       |JOIN sk s2 ON s2.id = id2
       |WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 12""".stripMargin
  }

  /** Shared CTE spine of the composed dedup pipelines: canonical-fp
    * pass -> LSH candidates over survivors -> Jaccard verify. Shares
    * every constant with Dedup.dedupSurvivorsAndVerified. */
  private val docDedupCtes = {
    val survivorToks = "string_split_regex(trim(text), '\\s+')"
    s"""canon AS (
       |  SELECT doc_id AS id, text,
       |    md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS canon_fp
       |  FROM documents),
       |first_fp AS (SELECT canon_fp, min(id) AS id FROM canon GROUP BY canon_fp),
       |survivors AS (
       |  SELECT c.id, c.text FROM canon c JOIN first_fp f ON c.id = f.id),
       |grams AS (
       |  SELECT DISTINCT sub.id,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
       |  FROM (SELECT id, $survivorToks AS t FROM survivors) sub,
       |       LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1))) AS i)),
       |$hashedCte,
       |sig AS (
       |SELECT id,
       |$sigAggs
       |FROM hashed GROUP BY id),
       |bands AS (
       |SELECT id,
       |${bandExprs.zipWithIndex.map { case (e, b) => s"  $e AS b$b" }.mkString(",\n")}
       |FROM sig),
       |cand AS (
       |  SELECT x.id AS id1, y.id AS id2
       |  FROM bands x JOIN bands y ON x.id < y.id
       |    AND (${bandExprs.indices.map(b => s"x.b$b = y.b$b").mkString(" OR ")})),
       |sizes AS (SELECT id, count(*) AS sz FROM grams GROUP BY id),
       |inter AS (
       |  SELECT c.id1, c.id2, count(*) AS inter
       |  FROM cand c
       |  JOIN grams ga ON ga.id = c.id1
       |  JOIN grams gb ON gb.id = c.id2 AND gb.gram = ga.gram
       |  GROUP BY c.id1, c.id2),
       |verified AS (
       |  SELECT id1, id2 FROM inter
       |  JOIN sizes s1 ON s1.id = id1
       |  JOIN sizes s2 ON s2.id = id2
       |  WHERE CAST(inter AS DOUBLE) / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.8)""".stripMargin
  }

  // mirrors contrastiveTriplets: verified pairs as (anchor, positive),
  // min-reach components, mod-29 negative pool, same-component
  // exclusion, md5(anchor|neg) rank with 2 kept
  private lazy val contrastiveTripletsSql =
    s"""WITH RECURSIVE $docDedupCtes,
       |ct_edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM verified
       |  UNION SELECT id2, id1 FROM verified),
       |ct_reach(id, label) AS (
       |  SELECT src, src FROM ct_edges
       |  UNION
       |  SELECT e.src, r.label
       |  FROM ct_edges e JOIN ct_reach r ON r.id = e.dst),
       |ct_compo AS (
       |  SELECT id, min(label) AS component FROM ct_reach GROUP BY id),
       |ct_pool AS (
       |  SELECT doc_id AS neg_id FROM documents WHERE doc_id % 29 = 0),
       |ct_cand AS (
       |  SELECT v.id1 AS anchor, v.id2 AS positive, p.neg_id,
       |    md5(CAST(v.id1 AS VARCHAR) || '|'
       |      || CAST(p.neg_id AS VARCHAR)) AS h
       |  FROM verified v
       |  CROSS JOIN ct_pool p
       |  LEFT JOIN ct_compo ca ON ca.id = v.id1
       |  LEFT JOIN ct_compo cn ON cn.id = p.neg_id
       |  WHERE p.neg_id <> v.id1
       |    AND (cn.component IS NULL OR cn.component <> ca.component))
       |SELECT anchor, positive, neg_id, neg_rank FROM (
       |  SELECT anchor, positive, neg_id,
       |    CAST(row_number() OVER (PARTITION BY anchor, positive
       |      ORDER BY h, neg_id) AS BIGINT) AS neg_rank
       |  FROM ct_cand)
       |WHERE neg_rank <= 2""".stripMargin

  /** Greedy keeper: drop every id2 of a verified pair. */
  private val docDedupPipelineSql =
    s"""WITH $docDedupCtes
       |SELECT id FROM survivors
       |WHERE id NOT IN (SELECT DISTINCT id2 FROM verified)""".stripMargin

  /** Connected-components keeper: min reachable id per component via a
    * recursive transitive closure — the DuckDB twin of
    * Dedup.connectedComponents' min-label fixpoint. */
  private val docDedupCcSql =
    s"""WITH RECURSIVE $docDedupCtes,
       |edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM verified
       |  UNION
       |  SELECT id2 AS src, id1 AS dst FROM verified),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst),
       |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
       |SELECT id FROM survivors
       |WHERE id NOT IN (SELECT id FROM comp WHERE id <> component)""".stripMargin

  // component-size histogram over the identical CC chain
  private val dedupClusterStatsSql =
    s"""WITH RECURSIVE $docDedupCtes,
       |edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM verified
       |  UNION
       |  SELECT id2 AS src, id1 AS dst FROM verified),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst),
       |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
       |csz AS (
       |  SELECT component, CAST(count(*) AS BIGINT) AS size
       |  FROM comp GROUP BY component)
       |SELECT size, CAST(count(*) AS BIGINT) AS n_components
       |FROM csz GROUP BY size""".stripMargin

  // same gram algebra as Dedup.repeatedSpans: L=40 chars, corpus
  // frequency >= 2, islands broken on start-gap > L; shared by the
  // span gate and the coverage-filter gate
  private val substringSpanCtes =
    """pos AS (
      |  SELECT doc_id, text, unnest(range(1, length(text) - 38)) AS p
      |  FROM documents WHERE length(text) >= 40),
      |g AS (SELECT doc_id, p, md5(substr(text, p, 40)) AS h FROM pos),
      |f AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
      |dp AS (SELECT doc_id, p FROM g WHERE h IN (SELECT h FROM f)),
      |s AS (SELECT doc_id, p,
      |  CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 40
      |    THEN 0 ELSE 1 END AS brk FROM dp),
      |i AS (SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
      |  ROWS UNBOUNDED PRECEDING) AS island FROM s),
      |spans AS (
      |  SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
      |    CAST(max(p) + 39 AS BIGINT) AS span_end,
      |    CAST(count(*) AS BIGINT) AS n_gram_hits
      |  FROM i GROUP BY doc_id, island)""".stripMargin

  private val substringDedupSql =
    s"""WITH $substringSpanCtes
       |SELECT doc_id, span_start, span_end, n_gram_hits FROM spans"""
      .stripMargin

  // mirrors Dedup.spliceRepeatedSpans: complement gaps via lag + one
  // tail gap, ordered concat; no-span docs pass through, fully-covered
  // docs become ''
  private val substringSpliceSql =
    s"""WITH $substringSpanCtes,
       |sp_mid AS (
       |  SELECT doc_id,
       |    COALESCE(lag(span_end) OVER (
       |      PARTITION BY doc_id ORDER BY span_start), 0) + 1 AS gs,
       |    span_start - 1 AS ge
       |  FROM spans),
       |sp_tail AS (
       |  SELECT s.doc_id, max(s.span_end) + 1 AS gs,
       |    max(length(d.text)) AS ge
       |  FROM spans s JOIN documents d USING (doc_id)
       |  GROUP BY s.doc_id),
       |sp_reb AS (
       |  SELECT g.doc_id,
       |    string_agg(substr(d.text, CAST(g.gs AS INT),
       |      CAST(g.ge - g.gs + 1 AS INT)), '' ORDER BY g.gs)
       |      AS clean_text
       |  FROM (SELECT * FROM sp_mid UNION ALL SELECT * FROM sp_tail) g
       |  JOIN documents d USING (doc_id)
       |  WHERE g.ge >= g.gs GROUP BY g.doc_id),
       |sp_st AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(span_end - span_start + 1) AS BIGINT)
       |      AS removed_chars
       |  FROM spans GROUP BY doc_id)
       |SELECT d.doc_id,
       |  COALESCE(st.n_spans, 0) AS n_spans,
       |  COALESCE(st.removed_chars, 0) AS removed_chars,
       |  CASE WHEN st.n_spans IS NULL THEN d.text
       |       ELSE COALESCE(reb.clean_text, '') END AS clean_text
       |FROM documents d
       |LEFT JOIN sp_st st USING (doc_id)
       |LEFT JOIN sp_reb reb USING (doc_id)""".stripMargin

  // mirrors Dedup.winnowFingerprints: same combined-key arithmetic
  // (h·2²⁰ + (2²⁰ − p) makes the window min tie-break rightmost), same
  // full-window filter; window form of the per-doc ROWS frame.
  /** One gram size's truth + winnow + count row for the recall audit
    * (prefix wr$k): exact k-gram-Jaccard ≥ 0.5 truth pairs and the
    * k-parameterized winnow chain (w = 4, df cap [2,64], shared ≥ 2),
    * each the gated single-size chains with the gram arithmetic
    * generalized. */
  private def wrCtes(k: Int): String = {
    val p = s"wr$k"
    s"""${p}_g AS MATERIALIZED (
       |  SELECT DISTINCT doc_id AS id,
       |    array_to_string(t[i:i+${k - 1}], ' ') AS gram
       |  FROM (SELECT doc_id, $toks AS t FROM documents),
       |    LATERAL (SELECT unnest(range(1,
       |      greatest(length(t) - ${k - 2}, 1))) AS i)),
       |${p}_sz AS (SELECT id, count(*) AS sz FROM ${p}_g GROUP BY id),
       |${p}_tr AS MATERIALIZED (
       |  SELECT id1, id2 FROM (
       |    SELECT a.id AS id1, b.id AS id2, count(*) AS inter
       |    FROM ${p}_g a JOIN ${p}_g b
       |      ON a.gram = b.gram AND a.id < b.id
       |    GROUP BY a.id, b.id) i
       |  JOIN ${p}_sz s1 ON s1.id = id1
       |  JOIN ${p}_sz s2 ON s2.id = id2
       |  WHERE CAST(inter AS DOUBLE)
       |    / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5),
       |${p}_wg AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p,
       |    CAST(len(tk) - ${k - 1} AS BIGINT) AS m,
       |    ('0x' || substr(md5(
       |        array_to_string(tk[i:i+${k - 1}], ' ')), 1, 8)
       |      )::BIGINT AS h
       |  FROM (SELECT doc_id, tk,
       |      unnest(range(1, len(tk) - ${k - 2})) AS i
       |    FROM (SELECT doc_id, $toks AS tk FROM documents)
       |    WHERE len(tk) >= $k)),
       |${p}_ws AS (
       |  SELECT doc_id, p, m,
       |    min(h * 1048576 + (1048576 - p)) OVER (
       |      PARTITION BY doc_id ORDER BY p
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
       |  FROM ${p}_wg),
       |${p}_fp AS (
       |  SELECT DISTINCT doc_id, CAST(sel >> 20 AS BIGINT) AS fp_hash
       |  FROM ${p}_ws WHERE p <= m - 3),
       |${p}_keep AS (
       |  SELECT fp_hash FROM ${p}_fp GROUP BY fp_hash
       |  HAVING count(*) BETWEEN 2 AND 64),
       |${p}_f AS (
       |  SELECT d.doc_id, d.fp_hash FROM ${p}_fp d
       |  JOIN ${p}_keep kk ON d.fp_hash = kk.fp_hash),
       |${p}_wp AS MATERIALIZED (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2
       |  FROM ${p}_f a JOIN ${p}_f b
       |    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |${p}_row AS (
       |  SELECT CAST($k AS BIGINT) AS gram_k,
       |    (SELECT CAST(count(*) AS BIGINT) FROM ${p}_tr) AS n_truth,
       |    (SELECT CAST(count(*) AS BIGINT) FROM ${p}_wp) AS n_winnow,
       |    (SELECT CAST(count(*) AS BIGINT) FROM ${p}_tr t
       |       JOIN ${p}_wp w ON t.id1 = w.id1 AND t.id2 = w.id2)
       |      AS n_hit)""".stripMargin
  }

  // mirrors winnowVerifyExact: the shared winnow-pair chain plus the
  // diagonal-islands longest-common-run per candidate pair
  private lazy val winnowVerifyExactSql =
    s"""WITH $winnowPairCtes,
       |wv_ids AS (
       |  SELECT DISTINCT id FROM (
       |    SELECT id_a AS id FROM wf_pairs
       |    UNION ALL SELECT id_b FROM wf_pairs)),
       |wv_pos AS MATERIALIZED (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p, tk[i] AS tok
       |  FROM (SELECT doc_id, $toks AS tk FROM documents
       |        WHERE doc_id IN (SELECT id FROM wv_ids)),
       |    LATERAL (SELECT unnest(range(1, len(tk) + 1)) AS i)),
       |wv_m AS (
       |  SELECT pr.id_a, pr.id_b, a.p AS pa, a.p - b.p AS d
       |  FROM wf_pairs pr
       |  JOIN wv_pos a ON a.doc_id = pr.id_a
       |  JOIN wv_pos b ON b.doc_id = pr.id_b AND b.tok = a.tok),
       |wv_i AS (
       |  SELECT id_a, id_b, d, pa,
       |    pa - row_number() OVER (
       |      PARTITION BY id_a, id_b, d ORDER BY pa) AS g
       |  FROM wv_m),
       |wv_r AS (
       |  SELECT id_a, id_b, CAST(max(run) AS BIGINT) AS lcs_run FROM (
       |    SELECT id_a, id_b, d, g, count(*) AS run
       |    FROM wv_i GROUP BY 1, 2, 3, 4)
       |  GROUP BY 1, 2)
       |SELECT p.id_a, p.id_b, p.n_shared, r.lcs_run,
       |  r.lcs_run >= 6 AS verified
       |FROM wf_pairs p
       |JOIN wv_r r ON r.id_a = p.id_a AND r.id_b = p.id_b""".stripMargin

  private lazy val winnowRecallAuditSql = {
    def row(k: Int) =
      s"""SELECT gram_k, n_truth, n_winnow, n_hit,
         |  CASE WHEN n_truth > 0
         |    THEN CAST(n_hit AS DOUBLE) / CAST(n_truth AS DOUBLE)
         |    ELSE CAST(1.0 AS DOUBLE) END AS recall,
         |  CASE WHEN n_winnow > 0
         |    THEN CAST(n_hit AS DOUBLE) / CAST(n_winnow AS DOUBLE)
         |    ELSE CAST(1.0 AS DOUBLE) END AS prec
         |FROM wr${k}_row""".stripMargin
    s"""WITH ${wrCtes(3)},
       |${wrCtes(5)}
       |${row(3)}
       |UNION ALL
       |${row(5)}""".stripMargin
  }

  // Shared by winnow_fingerprint and winnow_pairs (wf_ prefix).
  private val winnowCtes =
    """wf_t AS (
      |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
      |  FROM documents),
      |wf_p AS (
      |  SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
      |  FROM wf_t WHERE len(tk) >= 3),
      |wf_g AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS p,
      |    CAST(len(tk) - 2 AS BIGINT) AS m,
      |    ('0x' || substr(md5(
      |        array_to_string(list_slice(tk, i, i + 2), ' ')), 1, 8)
      |      )::BIGINT AS h
      |  FROM wf_p),
      |wf_c AS (
      |  SELECT doc_id, p, m,
      |    h * 1048576 + (1048576 - p) AS cmb FROM wf_g),
      |wf_s AS (
      |  SELECT doc_id, p, m,
      |    min(cmb) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
      |  FROM wf_c),
      |wf_fp AS (
      |  SELECT DISTINCT doc_id,
      |    CAST(1048576 - (sel & 1048575) AS BIGINT) AS fp_pos,
      |    CAST(sel >> 20 AS BIGINT) AS fp_hash
      |  FROM wf_s WHERE p <= m - 3)""".stripMargin

  private val winnowFingerprintSql =
    s"""WITH $winnowCtes
       |SELECT doc_id, fp_pos, fp_hash FROM wf_fp""".stripMargin

  // mirrors Dedup.winnowPairs: distinct (doc, hash), df cap in [2,64],
  // co-grouped self-join, shared-count floor of 2; shared by
  // winnow_pairs and winnow_dedup_cc
  private[queries] val winnowPairCtes =
    s"""$winnowCtes,
       |wf_d AS (SELECT DISTINCT doc_id, fp_hash FROM wf_fp),
       |wf_keep AS (
       |  SELECT fp_hash FROM wf_d GROUP BY fp_hash
       |  HAVING count(*) BETWEEN 2 AND 64),
       |wf_f AS (
       |  SELECT d.doc_id, d.fp_hash FROM wf_d d
       |  JOIN wf_keep k ON d.fp_hash = k.fp_hash),
       |wf_pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM wf_f a JOIN wf_f b
       |    ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |  HAVING count(*) >= 2)""".stripMargin

  private val winnowPairsSql =
    s"""WITH $winnowPairCtes
       |SELECT id_a, id_b, n_shared FROM wf_pairs""".stripMargin

  // min-label CC over the winnow pair graph, min-id keeper — the
  // same recursive-reach shape as embed_dedup_cc
  private val winnowDedupCcSql =
    s"""WITH RECURSIVE $winnowPairCtes,
       |wf_edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM wf_pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM wf_pairs),
       |wf_reach(id, label) AS (
       |  SELECT src, src FROM wf_edges
       |  UNION
       |  SELECT e.src, r.label
       |  FROM wf_edges e JOIN wf_reach r ON r.id = e.dst),
       |wf_compo AS (
       |  SELECT id, min(label) AS component FROM wf_reach GROUP BY id)
       |SELECT doc_id AS id FROM documents
       |WHERE doc_id NOT IN
       |  (SELECT id FROM wf_compo WHERE id <> component)""".stripMargin

  // mirrors Dedup.repeatedSpanCoverage: stitched spans are disjoint so
  // their lengths sum exactly; 0/0 pinned to 0.0 on both engines
  private val substringDedupFilterSql =
    s"""WITH $substringSpanCtes,
       |cov AS (
       |  SELECT doc_id,
       |    CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_chars
       |  FROM spans GROUP BY doc_id),
       |j AS (
       |  SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
       |    COALESCE(c.dup_chars, 0) AS dup_chars
       |  FROM documents d LEFT JOIN cov c ON c.doc_id = d.doc_id),
       |r AS (
       |  SELECT doc_id, n_chars, dup_chars,
       |    CASE WHEN n_chars = 0 THEN 0.0
       |      ELSE dup_chars / CAST(n_chars AS DOUBLE) END AS dup_coverage
       |  FROM j)
       |SELECT doc_id, n_chars, dup_chars, dup_coverage,
       |  dup_coverage <= 0.5 AS keep
       |FROM r""".stripMargin

  // composed lineage: exact survivors + reach CC + span coverage in
  // one WITH (CTE names across the three prefixes are disjoint);
  // CASE precedence mirrors pipeline execution order
  /** Stage-cost twin: the SAME canon→LSH→verify→CC→coverage CTEs,
    * aggregated to per-stage counts/byte volumes instead of
    * per-document verdicts. */
  private val dedupStageCostsSql =
    s"""WITH RECURSIVE $docDedupCtes,
       |edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM verified
       |  UNION
       |  SELECT id2 AS src, id1 AS dst FROM verified),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst),
       |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
       |$substringSpanCtes,
       |dsc_cov AS (
       |  SELECT doc_id,
       |    CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_chars
       |  FROM spans GROUP BY doc_id),
       |dsc_keep AS (
       |  SELECT d.doc_id AS id,
       |    (CASE WHEN length(d.text) = 0 THEN 0.0
       |      ELSE COALESCE(c.dup_chars, 0)
       |        / CAST(length(d.text) AS DOUBLE) END) <= 0.5 AS keep
       |  FROM documents d LEFT JOIN dsc_cov c ON c.doc_id = d.doc_id),
       |dsc_len AS (
       |  SELECT doc_id AS id, CAST(length(text) AS BIGINT) AS len
       |  FROM documents),
       |dsc_docs AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(SUM(len) AS BIGINT) AS bytes_all FROM dsc_len),
       |dsc_surv AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_surv FROM survivors),
       |dsc_cand AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(COALESCE(SUM(a.len + b.len), 0) AS BIGINT) AS bytes_cand
       |  FROM cand
       |  JOIN dsc_len a ON a.id = cand.id1
       |  JOIN dsc_len b ON b.id = cand.id2),
       |dsc_ver AS (SELECT CAST(count(*) AS BIGINT) AS n_ver FROM verified),
       |dsc_after AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_after,
       |    CAST(SUM(l.len) AS BIGINT) AS bytes_after
       |  FROM survivors s JOIN dsc_len l ON l.id = s.id
       |  WHERE s.id NOT IN (SELECT id FROM comp WHERE id <> component)),
       |dsc_kept AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_kept
       |  FROM survivors s JOIN dsc_keep k ON k.id = s.id
       |  WHERE k.keep
       |    AND s.id NOT IN (SELECT id FROM comp WHERE id <> component))
       |SELECT '1_exact' AS stage, n_docs AS n_in, n_surv AS n_out,
       |  CAST(0 AS BIGINT) AS n_pairs, bytes_all AS bytes_touched
       |FROM dsc_docs, dsc_surv
       |UNION ALL SELECT '2_near_candidates', n_surv, n_surv, n_cand,
       |  bytes_cand FROM dsc_surv, dsc_cand
       |UNION ALL SELECT '3_near_verify', n_surv, n_after, n_ver,
       |  CAST(0 AS BIGINT) FROM dsc_surv, dsc_after, dsc_ver
       |UNION ALL SELECT '4_coverage', n_after, n_kept,
       |  CAST(0 AS BIGINT), bytes_after FROM dsc_after, dsc_kept"""
      .stripMargin

  private val dedupLineageSql =
    s"""WITH RECURSIVE $docDedupCtes,
       |edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM verified
       |  UNION
       |  SELECT id2 AS src, id1 AS dst FROM verified),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst),
       |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
       |$substringSpanCtes,
       |cov AS (
       |  SELECT doc_id,
       |    CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_chars
       |  FROM spans GROUP BY doc_id),
       |covk AS (
       |  SELECT d.doc_id,
       |    (CASE WHEN length(d.text) = 0 THEN 0.0
       |      ELSE COALESCE(c.dup_chars, 0)
       |        / CAST(length(d.text) AS DOUBLE) END) <= 0.5 AS keep
       |  FROM documents d LEFT JOIN cov c ON c.doc_id = d.doc_id)
       |SELECT d.doc_id,
       |  CASE WHEN d.doc_id NOT IN (SELECT id FROM survivors)
       |         THEN 'exact_dup'
       |       WHEN d.doc_id IN (SELECT id FROM comp WHERE id <> component)
       |         THEN 'near_dup'
       |       WHEN NOT k.keep THEN 'high_coverage'
       |       ELSE 'kept' END AS verdict
       |FROM documents d JOIN covk k ON k.doc_id = d.doc_id""".stripMargin

  // docDedupCcSql's pair graph + reach CC, with the keeper swapped to
  // best-score-per-component (ties -> min id; exact dups tie by
  // construction, so the id tie-break is exercised on every component)
  private val docDedupBestSql =
    s"""WITH RECURSIVE $docDedupCtes,
       |edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM verified
       |  UNION
       |  SELECT id2 AS src, id1 AS dst FROM verified),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst),
       |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
       |qtok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
       |qh AS (SELECT doc_id,
       |  ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b FROM qtok),
       |qs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((b * 2654435761) % 2003 - 1001) AS BIGINT) AS raw
       |  FROM qh GROUP BY doc_id),
       |qscored AS (SELECT doc_id AS id, raw / (1001.0 * n) AS score FROM qs),
       |member AS (
       |  SELECT c.id, c.component, q.score
       |  FROM comp c JOIN qscored q ON q.id = c.id),
       |best AS (
       |  SELECT id FROM (
       |    SELECT id, row_number() OVER (PARTITION BY component
       |      ORDER BY score DESC, id ASC) AS rn FROM member)
       |  WHERE rn = 1),
       |dropped AS (
       |  SELECT id FROM comp WHERE id NOT IN (SELECT id FROM best))
       |SELECT id FROM survivors
       |WHERE id NOT IN (SELECT id FROM dropped)""".stripMargin

  // the three gated stages' CTEs composed: linear score filter ∩
  // coverage filter, then canonical-fp min-id dedup among survivors
  private val corpusQualityE2eSql =
    s"""WITH $substringSpanCtes,
       |cov AS (
       |  SELECT doc_id,
       |    CAST(sum(span_end - span_start + 1) AS BIGINT) AS dup_chars
       |  FROM spans GROUP BY doc_id),
       |covr AS (
       |  SELECT d.doc_id,
       |    CASE WHEN length(d.text) = 0 THEN 0.0
       |      ELSE COALESCE(c.dup_chars, 0) / CAST(length(d.text) AS DOUBLE)
       |    END AS dup_coverage
       |  FROM documents d LEFT JOIN cov c ON c.doc_id = d.doc_id),
       |tok AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
       |hh AS (SELECT doc_id,
       |  ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b FROM tok),
       |sc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((b * 2654435761) % 2003 - 1001) AS BIGINT) AS raw
       |  FROM hh GROUP BY doc_id),
       |scored AS (SELECT doc_id, raw / (1001.0 * n) AS score
       |  FROM sc WHERE raw / (1001.0 * n) >= 0.0),
       |canon AS (SELECT doc_id,
       |  md5(array_to_string(list_sort(list_distinct($toks)), ' ')) AS cfp
       |  FROM documents),
       |surv AS (
       |  SELECT sv.doc_id, sv.score, v.dup_coverage, cn.cfp
       |  FROM scored sv
       |  JOIN covr v ON v.doc_id = sv.doc_id AND v.dup_coverage <= 0.5
       |  JOIN canon cn ON cn.doc_id = sv.doc_id),
       |keepid AS (SELECT cfp, min(doc_id) AS doc_id FROM surv GROUP BY cfp)
       |SELECT sv.doc_id, sv.score, sv.dup_coverage
       |FROM surv sv JOIN keepid k
       |  ON k.cfp = sv.cfp AND k.doc_id = sv.doc_id""".stripMargin

  // HashedLinearScorer's algebra verbatim: md5-top-32 bucket, toy
  // integer weights, one double division of exact operands
  private val textModelScoreLinearSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest($toks) AS tok FROM documents),
       |h AS (SELECT doc_id,
       |  ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b FROM tok),
       |s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((b * 2654435761) % 2003 - 1001) AS BIGINT) AS raw
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id, raw / (1001.0 * n) AS score,
       |  CASE WHEN raw / (1001.0 * n) >= 0.0
       |    THEN 'keep' ELSE 'drop' END AS label
       |FROM s""".stripMargin

  // integer decile binning over the linear score's exact (raw, n)
  // pair; stub truth via an integer md5 threshold (2^31)
  private val scoreCalibrationSql =
    s"""WITH sc_tok AS (
       |  SELECT doc_id, unnest($toks) AS tok FROM documents),
       |sc_h AS (SELECT doc_id,
       |  ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
       |  FROM sc_tok),
       |sc_s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum((b * 2654435761) % 2003 - 1001) AS BIGINT) AS raw
       |  FROM sc_h GROUP BY doc_id),
       |sc_l AS (SELECT doc_id,
       |  CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT
       |    >= 2147483648 THEN 1 ELSE 0 END AS truth_keep
       |  FROM documents),
       |sc_b AS (
       |  SELECT least(9, CAST((10 * (raw + 1001 * n)) // (2002 * n)
       |           AS BIGINT)) AS bin,
       |    truth_keep
       |  FROM sc_s JOIN sc_l ON sc_s.doc_id = sc_l.doc_id)
       |SELECT bin, COUNT(*) AS n_docs,
       |  CAST(SUM(truth_keep) AS BIGINT) AS n_keep,
       |  CAST(CAST(SUM(truth_keep) AS BIGINT) AS DOUBLE) /
       |    CAST(COUNT(*) AS DOUBLE) AS keep_rate
       |FROM sc_b GROUP BY 1""".stripMargin

  // StubScorer's arithmetic verbatim: md5-top-32-bits / 2^32 is a
  // dyadic division, bit-exact in both engines' doubles
  private val textModelScoreSql =
    """SELECT doc_id,
      |  ('0x' || substr(md5(text), 1, 8))::BIGINT / 4294967296.0 AS score,
      |  CASE WHEN ('0x' || substr(md5(text), 1, 8))::BIGINT
      |      / 4294967296.0 >= 0.5
      |    THEN 'keep' ELSE 'drop' END AS label
      |FROM documents""".stripMargin

  // same canonicalization algebra as UrlFunctions.canonicalizeUrl;
  // DuckDB regexp_replace needs the 'g' flag (Spark replaces all
  // matches by default) and the same patterns are RE2-safe
  private val urlDedupCanonicalSql =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE (doc_id // 100) % 5
      |      WHEN 0 THEN 'https://Example.COM:443/site/page-'
      |        || (doc_id % 100) || '/'
      |      WHEN 1 THEN 'https://example.com/site/page-'
      |        || (doc_id % 100) || '?utm_source=feed&utm_campaign=x'
      |      WHEN 2 THEN 'https://example.com/site/page-'
      |        || (doc_id % 100) || '#section-2'
      |      WHEN 3 THEN 'https://example.com/site/page-'
      |        || (doc_id % 100) || '?id=7&gclid=abc123'
      |      ELSE 'HTTP://EXAMPLE.com:80/site/page-' || (doc_id % 100)
      |    END AS url
      |  FROM documents),
      |nf AS (SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS nfu FROM u),
      |pr AS (SELECT doc_id, nfu,
      |  regexp_extract(nfu, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', 0)
      |    AS prefix FROM nf),
      |pp AS (SELECT doc_id, lower(prefix) AS lp,
      |  substr(nfu, length(prefix) + 1) AS rest FROM pr),
      |qq AS (SELECT doc_id,
      |  CASE WHEN lp LIKE 'http://%' AND lp LIKE '%:80'
      |         THEN substr(lp, 1, length(lp) - 3)
      |       WHEN lp LIKE 'https://%' AND lp LIKE '%:443'
      |         THEN substr(lp, 1, length(lp) - 4)
      |       ELSE lp END AS lp2,
      |  regexp_extract(rest, '^[^?]*', 0) AS path,
      |  substr(regexp_replace('&' || regexp_extract(rest, '^[^?]*\?(.*)$', 1),
      |    '&(utm_[A-Za-z0-9_]+|gclid|fbclid|ref)=[^&]*', '', 'g'), 2) AS q
      |  FROM pp),
      |cc AS (SELECT doc_id,
      |  lp2
      |  || (CASE WHEN path LIKE '%/' THEN substr(path, 1, length(path) - 1)
      |        ELSE path END)
      |  || (CASE WHEN q = '' THEN '' ELSE '?' || q END) AS canon
      |  FROM qq)
      |SELECT canon, CAST(min(doc_id) AS BIGINT) AS kept_doc_id,
      |  CAST(count(*) AS BIGINT) AS n_variants
      |FROM cc GROUP BY canon""".stripMargin

  /** Per-component view + exact-decimal norm CTEs shared by the vector
    * oracles. Components widened to DOUBLE before any multiply, matching
    * Similarity.dotExact. */
  private[queries] val vecCtes =
    """comp AS (
      |  SELECT vec_id, i, CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
      |  FROM embeddings, LATERAL (SELECT unnest(range(0, 64)) AS i)),
      |norms AS (
      |  SELECT vec_id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS sn
      |  FROM comp GROUP BY vec_id)""".stripMargin

  /** Per-dim truncated-component rank + overlap-vs-full counts; the
    * recall divide mirrors the Spark long*k-then-one-divide shape. */
  private lazy val annMatryoshkaRecallSql = {
    val dims = Seq(16, 32, 64)
    val per = dims.map { d =>
      s"""md${d}_norm AS (
         |  SELECT vec_id,
         |    sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS sn
         |  FROM comp WHERE i < $d GROUP BY vec_id),
         |md${d}_dots AS (
         |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
         |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
         |  FROM comp c JOIN comp q ON c.i = q.i AND q.vec_id < 10
         |  WHERE c.i < $d
         |  GROUP BY c.vec_id, q.vec_id),
         |md${d}_rank AS (
         |  SELECT query_id, nbr_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
         |  FROM md${d}_dots
         |  JOIN md${d}_norm nc ON nc.vec_id = nbr_id
         |  JOIN md${d}_norm nq ON nq.vec_id = query_id),
         |md${d}_top AS (
         |  SELECT query_id, nbr_id FROM md${d}_rank WHERE rank <= 10)"""
        .stripMargin
    }.mkString(",\n")
    val rows = dims.map { d =>
      s"""SELECT CAST($d AS BIGINT) AS dim,
         |  CAST((SELECT count(DISTINCT query_id) FROM md64_top)
         |    AS BIGINT) AS n_queries,
         |  CAST((SELECT count(*) FROM md${d}_top t
         |        JOIN md64_top f USING (query_id, nbr_id))
         |    AS BIGINT) AS sum_hits,
         |  CAST((SELECT count(*) FROM md${d}_top t
         |        JOIN md64_top f USING (query_id, nbr_id)) AS DOUBLE) /
         |  CAST((SELECT count(DISTINCT query_id) FROM md64_top) * 10
         |    AS DOUBLE) AS recall""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $vecCtes,
       |$per
       |$rows""".stripMargin
  }

  /** Query-band predicates for the PQ/ANN oracle chains: the default
    * seed band (vec_id < 10) and the off-seed audit band [100, 110)
    * — rendered over whatever column qualifier the call site uses. */
  private def seedBand(c: String): String = s"$c < 10"
  private def offseedBand(c: String): String = s"$c >= 100 AND $c < 110"

  private def bruteForceTopSql(band: String => String,
      corpusBand: String => String = _ => "TRUE"): String =
    s"""WITH $vecCtes,
       |dots AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i AND ${band("q.vec_id")}
       |    AND ${corpusBand("c.vec_id")}
       |  GROUP BY c.vec_id, q.vec_id),
       |scored AS (
       |  SELECT query_id, nbr_id, dot / (nc.sn * nq.sn) AS cosine
       |  FROM dots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |ranked AS (
       |  SELECT query_id, nbr_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, nbr_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, nbr_id, rank, cosine FROM ranked WHERE rank <= 10""".stripMargin

  private lazy val annBruteForceSql = bruteForceTopSql(seedBand)

  /** [[hybridRrf]] twin FACTORY: the bm25Ctes algebra re-derived over
    * the data-dependent query terms (top-3 by tf per query doc,
    * pivoted to fixed three-term sums), the vector leg as a
    * parenthesized sub-WITH (brute truth or the seed-cell persisted
    * IVF probe — the same parameterization as the Spark side), and
    * the RRF outer-join fusion. */
  private def hybridRrfSqlFor(vecLegSql: String): String =
    s"""WITH hy_tk AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |hy_tf AS (
       |  SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
       |  FROM hy_tk WHERE term <> '' GROUP BY 1, 2),
       |hy_qd AS (
       |  SELECT doc_id AS query_id,
       |    max(CASE WHEN tr = 1 THEN term END) AS t1,
       |    max(CASE WHEN tr = 2 THEN term END) AS t2,
       |    max(CASE WHEN tr = 3 THEN term END) AS t3
       |  FROM (SELECT doc_id, term,
       |          row_number() OVER (PARTITION BY doc_id
       |                             ORDER BY tf DESC, term ASC) AS tr
       |        FROM hy_tf WHERE doc_id < 10) q
       |  WHERE tr <= 3 GROUP BY doc_id),
       |hy_qt AS (
       |  SELECT DISTINCT term FROM (
       |    SELECT t1 AS term FROM hy_qd
       |    UNION ALL SELECT t2 FROM hy_qd
       |    UNION ALL SELECT t3 FROM hy_qd)
       |  WHERE term IS NOT NULL),
       |hy_df AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM hy_tf GROUP BY term),
       |hy_dl AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
       |      AS BIGINT) AS dl
       |  FROM documents),
       |hy_nn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    CAST((SELECT SUM(dl) FROM hy_dl) AS BIGINT) AS sumdl
       |  FROM documents),
       |hy_s AS MATERIALIZED (
       |  SELECT f.term, f.doc_id,
       |    ((CAST(n AS DOUBLE) - CAST(df AS DOUBLE)
       |        + CAST(0.5 AS DOUBLE)) /
       |      (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       |    * (CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
       |    / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
       |        (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
       |          (CAST(dl AS DOUBLE) /
       |            (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))) AS s
       |  FROM hy_tf f
       |  JOIN hy_qt USING (term)
       |  JOIN hy_df USING (term)
       |  JOIN hy_dl USING (doc_id), hy_nn),
       |hy_cand AS (
       |  SELECT DISTINCT q.query_id, s.doc_id
       |  FROM (SELECT query_id, unnest([t1, t2, t3]) AS term
       |        FROM hy_qd) q
       |  JOIN hy_s s ON s.term = q.term),
       |hy_lex AS MATERIALIZED (
       |  SELECT query_id, doc_id, lex_rank FROM (
       |    SELECT c.query_id, c.doc_id,
       |      row_number() OVER (PARTITION BY c.query_id ORDER BY
       |        (COALESCE(s1.s, CAST(0.0 AS DOUBLE))
       |          + COALESCE(s2.s, CAST(0.0 AS DOUBLE))
       |          + COALESCE(s3.s, CAST(0.0 AS DOUBLE))) DESC,
       |        c.doc_id ASC) AS lex_rank
       |    FROM hy_cand c JOIN hy_qd q ON q.query_id = c.query_id
       |    LEFT JOIN hy_s s1 ON s1.term = q.t1 AND s1.doc_id = c.doc_id
       |    LEFT JOIN hy_s s2 ON s2.term = q.t2 AND s2.doc_id = c.doc_id
       |    LEFT JOIN hy_s s3 ON s3.term = q.t3 AND s3.doc_id = c.doc_id
       |  ) r WHERE lex_rank <= 10),
       |hy_vec AS MATERIALIZED (
       |  SELECT query_id, nbr_id AS doc_id, rank AS vec_rank
       |  FROM ($vecLegSql) bf),
       |hy_f AS (
       |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
       |    COALESCE(l.doc_id, v.doc_id) AS doc_id,
       |    l.lex_rank, v.vec_rank,
       |    (CASE WHEN l.lex_rank IS NOT NULL THEN
       |        CAST(1.0 AS DOUBLE) /
       |          (CAST(60.0 AS DOUBLE) + CAST(l.lex_rank AS DOUBLE))
       |      ELSE CAST(0.0 AS DOUBLE) END
       |     + CASE WHEN v.vec_rank IS NOT NULL THEN
       |        CAST(1.0 AS DOUBLE) /
       |          (CAST(60.0 AS DOUBLE) + CAST(v.vec_rank AS DOUBLE))
       |      ELSE CAST(0.0 AS DOUBLE) END) AS rrf_score
       |  FROM hy_lex l FULL OUTER JOIN hy_vec v
       |    ON v.query_id = l.query_id AND v.doc_id = l.doc_id)
       |SELECT query_id, doc_id,
       |  CAST(COALESCE(lex_rank, 0) AS BIGINT) AS lex_rank,
       |  CAST(COALESCE(vec_rank, 0) AS BIGINT) AS vec_rank,
       |  rrf_score, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY rrf_score DESC, doc_id ASC) AS rank
       |      FROM hy_f) z
       |WHERE rank <= 10""".stripMargin

  private lazy val hybridRrfFusionSql =
    hybridRrfSqlFor(bruteForceTopSql(seedBand))

  /** Served-leg twin: the seed-cell persisted-IVF probe is the shared
    * annIvfTopK chain verbatim — the index artifacts the Spark side
    * writes to parquet are definitionally equal to re-deriving them
    * (`ann_ivf_persisted` pins that), so the oracle replays the
    * derivation. */
  private lazy val hybridRrfServedSql =
    hybridRrfSqlFor(annIvfTopKSqlShared)

  /** Graph-leg twin: the serving-store chain + the beam walk over
    * dg_sel for the seed query band — the `ann_graph_search` oracle
    * at the fusion band. */
  private lazy val hybridGraphLegSql =
    s"""WITH $vecCtes,
       |$servingStoreCtes,
       |${beamCtes(3, queryBand = seedBand, graphRel = "dg_sel")}
       |SELECT query_id, cand AS nbr_id, rk AS rank
       |FROM gs_b3 WHERE rk <= 10""".stripMargin

  private lazy val hybridRrfGraphSql =
    hybridRrfSqlFor(hybridGraphLegSql)

  /** [[serveE2eFrames]] twin — the three stages' chains composed:
    * the graph-legged hybrid fusion as a subquery, the
    * HashedLinearScorer md5 token-hash algebra over
    * 'q<query_id> <doc text>', the top-8 cut, and the shared
    * per-group MMR rounds keyed by query_id. */
  private lazy val serveE2eCtes =
    s"""se_h AS MATERIALIZED (
       |  SELECT query_id, doc_id FROM ($hybridRrfGraphSql) h),
       |se_tk AS (
       |  SELECT s.query_id, s.doc_id,
       |    unnest(string_split_regex(
       |      trim('q' || s.query_id || ' ' || d.text), '\\s+')) AS tok
       |  FROM se_h s JOIN documents d USING (doc_id)),
       |se_hh AS (
       |  SELECT query_id, doc_id,
       |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
       |  FROM se_tk),
       |se_sc AS (
       |  SELECT query_id, doc_id,
       |    CAST(sum((b * 2654435761) % 2003 - 1001) AS BIGINT)
       |      / (1001.0 * CAST(count(*) AS BIGINT)) AS score
       |  FROM se_hh GROUP BY 1, 2),
       |se_cand AS MATERIALIZED (
       |  SELECT query_id, doc_id, score FROM (
       |    SELECT query_id, doc_id, score, row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
       |    FROM se_sc) WHERE rn <= 8),
       |se_tok AS MATERIALIZED (
       |  SELECT DISTINCT query_id, doc_id, tok FROM (
       |    SELECT c.query_id, c.doc_id,
       |      unnest(string_split_regex(trim(d.text), '\\s+')) AS tok
       |    FROM se_cand c JOIN documents d USING (doc_id))),
       |se_sz AS (
       |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n
       |  FROM se_tok GROUP BY 1, 2),
       |se_sim AS MATERIALIZED (
       |  SELECT a.query_id, a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(count(*) AS DOUBLE)
       |      / CAST(sa.n + sb.n - count(*) AS DOUBLE) AS sim
       |  FROM se_tok a
       |  JOIN se_tok b ON a.query_id = b.query_id AND a.tok = b.tok
       |    AND a.doc_id <> b.doc_id
       |  JOIN se_sz sa ON sa.query_id = a.query_id
       |    AND sa.doc_id = a.doc_id
       |  JOIN se_sz sb ON sb.query_id = b.query_id
       |    AND sb.doc_id = b.doc_id
       |  GROUP BY a.query_id, a.doc_id, b.doc_id, sa.n, sb.n),
       |${CorpusQueries.grpMmrSql("se", "query_id", 5)._1}"""
      .stripMargin

  private lazy val serveE2eSql =
    s"""WITH $serveE2eCtes
       |${CorpusQueries.grpMmrSql("se", "query_id", 5)._2}"""
      .stripMargin

  private lazy val serveE2eStagesSql =
    s"""WITH $serveE2eCtes
       |SELECT 'hybrid' AS stage,
       |  (SELECT CAST(count(DISTINCT query_id) AS BIGINT) FROM se_h)
       |    AS n_in,
       |  (SELECT CAST(count(*) AS BIGINT) FROM se_h) AS n_out
       |UNION ALL
       |SELECT 'rerank' AS stage,
       |  (SELECT CAST(count(*) AS BIGINT) FROM se_h) AS n_in,
       |  (SELECT CAST(count(*) AS BIGINT) FROM se_cand) AS n_out
       |UNION ALL
       |SELECT 'mmr' AS stage,
       |  (SELECT CAST(count(*) AS BIGINT) FROM se_cand) AS n_in,
       |  (SELECT CAST(count(*) AS BIGINT) FROM
       |    (${CorpusQueries.grpMmrSql("se", "query_id", 5)._2}) f)
       |    AS n_out""".stripMargin

  private lazy val hybridRrfGraphOverlapSql =
    s"""WITH hgb AS MATERIALIZED (
       |  SELECT query_id, doc_id FROM ($hybridRrfFusionSql) b),
       |hgs AS MATERIALIZED (
       |  SELECT query_id, doc_id FROM ($hybridRrfGraphSql) s),
       |hgn AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM hgb)
       |SELECT CAST(nq AS BIGINT) AS n_queries,
       |  CAST(nq * 10 AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*) FROM hgb
       |        JOIN hgs ON hgs.query_id = hgb.query_id
       |          AND hgs.doc_id = hgb.doc_id) AS BIGINT) AS n_overlap,
       |  CAST((SELECT count(*) FROM hgb
       |        JOIN hgs ON hgs.query_id = hgb.query_id
       |          AND hgs.doc_id = hgb.doc_id) AS DOUBLE) /
       |    CAST(nq * 10 AS DOUBLE) AS overlap
       |FROM hgn""".stripMargin

  /** Overlap twin: both fused rankings as materialized sub-WITHs,
    * counted per (query, doc) and read out as one row. */
  private lazy val hybridRrfServedOverlapSql =
    s"""WITH hvb AS MATERIALIZED (
       |  SELECT query_id, doc_id FROM ($hybridRrfFusionSql) b),
       |hvs AS MATERIALIZED (
       |  SELECT query_id, doc_id FROM ($hybridRrfServedSql) s),
       |hvn AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM hvb)
       |SELECT CAST(nq AS BIGINT) AS n_queries,
       |  CAST(nq * 10 AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*) FROM hvb
       |        JOIN hvs ON hvs.query_id = hvb.query_id
       |          AND hvs.doc_id = hvb.doc_id) AS BIGINT) AS n_overlap,
       |  CAST((SELECT count(*) FROM hvb
       |        JOIN hvs ON hvs.query_id = hvb.query_id
       |          AND hvs.doc_id = hvb.doc_id) AS DOUBLE) /
       |    CAST(nq * 10 AS DOUBLE) AS overlap
       |FROM hvn""".stripMargin

  // hardNegatives' algebra with the filter flipped to SAME label and
  // the query itself excluded — Similarity.filteredTopK verbatim
  private val annFilteredTopKSql =
    s"""WITH $vecCtes,
       |flab AS (SELECT vec_id, label FROM embeddings),
       |fdots AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i AND q.vec_id < 10
       |  GROUP BY c.vec_id, q.vec_id),
       |fscored AS (
       |  SELECT query_id, ql.label AS query_label, nbr_id,
       |    dot / (nc.sn * nq.sn) AS cosine
       |  FROM fdots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id
       |  JOIN flab nl ON nl.vec_id = nbr_id
       |  JOIN flab ql ON ql.vec_id = query_id
       |  WHERE nl.label = ql.label AND nbr_id <> query_id),
       |franked AS (
       |  SELECT query_id, query_label, nbr_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, nbr_id ASC) AS rank
       |  FROM fscored)
       |SELECT query_id, query_label, nbr_id, rank, cosine
       |FROM franked WHERE rank <= 5""".stripMargin

  // bruteForce's dot/norm algebra + label join + cross-label filter
  // before the per-query rank — Similarity.hardNegatives verbatim
  private val annHardNegativesSql =
    s"""WITH $vecCtes,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |dots AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i AND q.vec_id < 10
       |  GROUP BY c.vec_id, q.vec_id),
       |scored AS (
       |  SELECT query_id, ql.label AS query_label, nbr_id,
       |    nl.label AS nbr_label, dot / (nc.sn * nq.sn) AS cosine
       |  FROM dots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id
       |  JOIN lab nl ON nl.vec_id = nbr_id
       |  JOIN lab ql ON ql.vec_id = query_id
       |  WHERE nl.label <> ql.label),
       |ranked AS (
       |  SELECT query_id, query_label, nbr_id, nbr_label, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, nbr_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, query_label, nbr_id, nbr_label, rank, cosine
       |FROM ranked WHERE rank <= 10""".stripMargin

  /** IVF twin: queries are a subset of the corpus (vec_id < 10), so the
    * per-(vector, cell) cosine CTE serves both corpus assignment and
    * query probing. Constants in lockstep with annIvfTopK
    * (numCells=16, nProbe=4, k=10). */
  /** Shared CTE prefix: seed-cell IVF assignment of every corpus
    * vector to its nearest cell (ends at the `cells` relation) —
    * composed by both the top-k oracle and the cell-balance audit. */
  private[queries] val ivfAssignCtes =
    s"""$vecCtes,
       |cent AS (SELECT vec_id AS cell_id FROM embeddings
       |         ORDER BY vec_id LIMIT 16),
       |centcomp AS (
       |  SELECT ct.cell_id, comp.i, comp.x AS cx
       |  FROM cent ct JOIN comp ON comp.vec_id = ct.cell_id),
       |centnorm AS (
       |  SELECT cell_id,
       |    sqrt(CAST(sum(CAST(cx * cx AS DECIMAL(28,12))) AS DOUBLE)) AS sn_cell
       |  FROM centcomp GROUP BY cell_id),
       |celldot AS (
       |  SELECT comp.vec_id, cc.cell_id,
       |    CAST(sum(CAST(comp.x * cc.cx AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp JOIN centcomp cc ON cc.i = comp.i
       |  GROUP BY comp.vec_id, cc.cell_id),
       |cellcos AS (
       |  SELECT cd.vec_id, cd.cell_id,
       |    cd.dot / (n.sn * cn.sn_cell) AS ccos
       |  FROM celldot cd
       |  JOIN norms n ON n.vec_id = cd.vec_id
       |  JOIN centnorm cn ON cn.cell_id = cd.cell_id),
       |cells AS (
       |  SELECT vec_id AS nbr_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos) WHERE r = 1)""".stripMargin

  private[queries] lazy val annIvfTopKSqlShared: String = annIvfTopKSql

  private val annIvfTopKSql =
    s"""WITH $ivfAssignCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos WHERE vec_id < 10) WHERE r <= 4),
       |cand AS (
       |  SELECT p.query_id, c.nbr_id
       |  FROM probes p JOIN cells c ON c.cell_id = p.cell_id),
       |dots AS (
       |  SELECT cand.query_id, cand.nbr_id,
       |    CAST(sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM cand
       |  JOIN comp a ON a.vec_id = cand.nbr_id
       |  JOIN comp b ON b.vec_id = cand.query_id AND b.i = a.i
       |  GROUP BY cand.query_id, cand.nbr_id),
       |ranked AS (
       |  SELECT query_id, nbr_id,
       |    dot / (nc.sn * nq.sn) AS cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |  FROM dots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id)
       |SELECT query_id, nbr_id, rank, cosine FROM ranked WHERE rank <= 10""".stripMargin

  private lazy val annIvfKmeansSql = ivfKmeansProbeSql("TRUE")

  // append gate: train on the standing corpus only; assigning the
  // UNION with those frozen centroids is what assignment-only append
  // equals by construction
  private lazy val annIvfAppendSql = ivfKmeansProbeSql("vec_id % 5 <> 4")

  private def ivfDelBand(c: String): String = s"$c % 10 = 6"
  private def ivfLiveBand(c: String): String = s"$c % 10 <> 6"

  /** [[annIvfDeleteServe]] twin: the full-corpus frozen-centroid
    * chain, the probe's candidate join masked to live assignment
    * rows (the tombstone anti-join's algebra), contract rows against
    * the live-corpus brute truth. */
  private lazy val annIvfDeleteServeSql =
    s"""WITH $vecCtes,
       |${kmeansCellCtes("TRUE")},
       |vprob AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM tc WHERE vec_id < 10) WHERE r <= 4),
       |vcand AS (
       |  SELECT p.query_id, c.nbr_id
       |  FROM vprob p JOIN cells c ON c.cell_id = p.cell_id
       |  WHERE ${ivfLiveBand("c.nbr_id")}),
       |vdots AS (
       |  SELECT vcand.query_id, vcand.nbr_id,
       |    CAST(sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM vcand
       |  JOIN comp a ON a.vec_id = vcand.nbr_id
       |  JOIN comp b ON b.vec_id = vcand.query_id AND b.i = a.i
       |  GROUP BY vcand.query_id, vcand.nbr_id),
       |vrank AS MATERIALIZED (
       |  SELECT query_id, nbr_id FROM (
       |    SELECT query_id, nbr_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |    FROM vdots
       |    JOIN norms nc ON nc.vec_id = nbr_id
       |    JOIN norms nq ON nq.vec_id = query_id) WHERE rank <= 10),
       |vtruth AS MATERIALIZED (
       |  SELECT query_id, nbr_id
       |  FROM (${bruteForceTopSql(seedBand, ivfLiveBand)}) bft),
       |vnq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM vtruth)
       |SELECT 'deleted_served' AS variant,
       |  CAST((SELECT count(*) FROM vrank
       |        WHERE ${ivfDelBand("nbr_id")}) AS BIGINT) AS n_hits,
       |  CAST(vnq.nq * 10 AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*) FROM vrank
       |        WHERE ${ivfDelBand("nbr_id")}) AS DOUBLE) /
       |    CAST(vnq.nq * 10 AS DOUBLE) AS recall
       |FROM vnq
       |UNION ALL
       |SELECT 'probe_top10' AS variant,
       |  CAST((SELECT count(*) FROM vrank v
       |        JOIN vtruth t ON t.query_id = v.query_id
       |          AND t.nbr_id = v.nbr_id) AS BIGINT) AS n_hits,
       |  CAST(vnq.nq * 10 AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*) FROM vrank v
       |        JOIN vtruth t ON t.query_id = v.query_id
       |          AND t.nbr_id = v.nbr_id) AS DOUBLE) /
       |    CAST(vnq.nq * 10 AS DOUBLE) AS recall
       |FROM vnq""".stripMargin

  /** [[annIvfCompact]] twin: a CLEAN re-assignment of the live
    * corpus under the same frozen-centroid training — compaction
    * passes only if it removed exactly the replayed duplicates and
    * the tombstoned band. */
  private lazy val annIvfCompactSql =
    s"""WITH $vecCtes,
       |${kmeansCellCtes("TRUE")},
       |vck AS (
       |  SELECT cell_id, nbr_id,
       |    ('0x' || substr(md5(nbr_id || '|' || cell_id), 1, 15))
       |      ::BIGINT AS h
       |  FROM cells WHERE ${ivfLiveBand("nbr_id")})
       |SELECT cell_id, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT nbr_id) AS BIGINT) AS n_vecs,
       |  bit_xor(h) AS checksum
       |FROM vck GROUP BY cell_id""".stripMargin

  /** [[annPqDeleteServe]] twin: frozen-codebook encode of the full
    * corpus, ADC ranking restricted to live candidates, contract
    * rows against the live-corpus brute truth. */
  private lazy val annPqDeleteServeSql =
    s"""WITH $vecCtes,
       |${pqCtes(2)},
       |wsc AS (
       |  SELECT adc.query_id, co.nbr_id,
       |    CAST(SUM(adc.a) AS BIGINT) AS score
       |  FROM pqcode co
       |  JOIN pqadc adc ON adc.j = co.j AND adc.code = co.code
       |  WHERE ${ivfLiveBand("co.nbr_id")}
       |  GROUP BY 1, 2),
       |wrank AS MATERIALIZED (
       |  SELECT query_id, nbr_id FROM (
       |    SELECT query_id, nbr_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY score DESC, nbr_id ASC) AS rank
       |    FROM wsc) WHERE rank <= 10),
       |wtruth AS MATERIALIZED (
       |  SELECT query_id, nbr_id
       |  FROM (${bruteForceTopSql(seedBand, ivfLiveBand)}) bft),
       |wnq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM wtruth)
       |SELECT 'deleted_served' AS variant,
       |  CAST((SELECT count(*) FROM wrank
       |        WHERE ${ivfDelBand("nbr_id")}) AS BIGINT) AS n_hits,
       |  CAST(wnq.nq * 10 AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*) FROM wrank
       |        WHERE ${ivfDelBand("nbr_id")}) AS DOUBLE) /
       |    CAST(wnq.nq * 10 AS DOUBLE) AS recall
       |FROM wnq
       |UNION ALL
       |SELECT 'adc_top10' AS variant,
       |  CAST((SELECT count(*) FROM wrank v
       |        JOIN wtruth t ON t.query_id = v.query_id
       |          AND t.nbr_id = v.nbr_id) AS BIGINT) AS n_hits,
       |  CAST(wnq.nq * 10 AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*) FROM wrank v
       |        JOIN wtruth t ON t.query_id = v.query_id
       |          AND t.nbr_id = v.nbr_id) AS DOUBLE) /
       |    CAST(wnq.nq * 10 AS DOUBLE) AS recall
       |FROM wnq""".stripMargin

  /** [[pqIndexCompact]] twin: a clean re-encode of the live corpus
    * under the frozen codebooks, aggregated per subspace. */
  private lazy val pqIndexCompactSql =
    s"""WITH $vecCtes,
       |${pqCtes(2)},
       |wck AS (
       |  SELECT j, code, nbr_id,
       |    ('0x' || substr(md5(nbr_id || '|' || j || '|' || code),
       |      1, 15))::BIGINT AS h
       |  FROM pqcode WHERE ${ivfLiveBand("nbr_id")})
       |SELECT j, CAST(count(*) AS BIGINT) AS n_rows,
       |  CAST(count(DISTINCT nbr_id) AS BIGINT) AS n_vecs,
       |  CAST(count(DISTINCT code) AS BIGINT) AS n_codes,
       |  bit_xor(h) AS checksum
       |FROM wck GROUP BY j""".stripMargin

  /** [[ksDriftSql]]'s chain over the standing/incoming embedding
    * split on the 2^20-quantized first component. */
  private val annDriftTriggerSql =
    """WITH ad_b AS (
      |  SELECT CASE WHEN vec_id % 5 = 4 THEN 1 ELSE 0 END AS half,
      |    CAST(floor(CAST(embedding[1] AS DOUBLE)
      |      * CAST(1048576.0 AS DOUBLE)) AS BIGINT) AS v
      |  FROM embeddings),
      |ad_c AS (
      |  SELECT v,
      |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ca,
      |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS cb
      |  FROM ad_b GROUP BY v),
      |ad_cum AS (
      |  SELECT v,
      |    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
      |    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
      |  FROM ad_c),
      |ad_t AS (
      |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
      |    CAST(SUM(cb) AS BIGINT) AS n_b
      |  FROM ad_c)
      |SELECT n_a, n_b, CAST(v AS BIGINT) AS v_at_max,
      |  CAST(abs(cum_a * n_b - cum_b * n_a) AS BIGINT) AS d_scaled,
      |  CAST(abs(cum_a * n_b - cum_b * n_a) AS DOUBLE)
      |    / CAST(n_a * n_b AS DOUBLE) AS ks,
      |  CAST(abs(cum_a * n_b - cum_b * n_a) AS DOUBLE)
      |    / CAST(n_a * n_b AS DOUBLE) > CAST(0.1 AS DOUBLE) AS retrain
      |FROM ad_cum, ad_t
      |ORDER BY abs(cum_a * n_b - cum_b * n_a) DESC, v
      |LIMIT 1""".stripMargin

  private val annIvfQuantizedSql =
    s"""WITH $ivfAssignCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos WHERE vec_id < 10) WHERE r <= 4),
       |cand AS (
       |  SELECT p.query_id, c.nbr_id
       |  FROM probes p JOIN cells c ON c.cell_id = p.cell_id),
       |iqm AS (SELECT vec_id, max(abs(x)) AS m FROM comp GROUP BY vec_id),
       |iqv AS (
       |  SELECT c.vec_id, c.i,
       |    CASE WHEN iqm.m = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(round(c.x * 127 / iqm.m) AS BIGINT) END AS q
       |  FROM comp c JOIN iqm ON iqm.vec_id = c.vec_id),
       |idots AS (
       |  SELECT cand.query_id, cand.nbr_id,
       |    CAST(SUM(a.q * b.q) AS BIGINT) AS score
       |  FROM cand
       |  JOIN iqv a ON a.vec_id = cand.nbr_id
       |  JOIN iqv b ON b.vec_id = cand.query_id AND b.i = a.i
       |  GROUP BY cand.query_id, cand.nbr_id),
       |irk AS (
       |  SELECT query_id, nbr_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, nbr_id ASC) AS rank
       |  FROM idots)
       |SELECT query_id, nbr_id, rank, score FROM irk WHERE rank <= 10""".stripMargin

  private val annIvfCellsSql =
    s"""WITH $ivfAssignCtes
       |SELECT cell_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       |  MIN(nbr_id) AS min_id, MAX(nbr_id) AS max_id
       |FROM cells GROUP BY cell_id""".stripMargin

  /** Exact recall join of the two ANN oracles — DuckDB allows WITH
    * inside parenthesized subqueries, so the stacks compose. */
  private val annIvfRecallSql =
    s"""SELECT bf.query_id,
       |  CAST(SUM(CASE WHEN ivf.nbr_id IS NULL THEN 0 ELSE 1 END)
       |    AS BIGINT) AS n_overlap,
       |  CAST(SUM(CASE WHEN ivf.nbr_id IS NULL THEN 0 ELSE 1 END)
       |    AS DOUBLE) / 10.0 AS recall
       |FROM ($annBruteForceSql) bf
       |LEFT JOIN ($annIvfTopKSql) ivf
       |  ON bf.query_id = ivf.query_id AND bf.nbr_id = ivf.nbr_id
       |GROUP BY bf.query_id""".stripMargin

  /** Trained-IVF twin: unrolls kmeansCentroids' 3 Lloyd's iterations
    * as generated CTE chains (assignment = argmax cosine with
    * smallest-cell-id ties; re-center = exact-decimal component SUM
    * cast to double — the scale-invariance trick that makes the
    * trained path oracle-expressible at all), then the same
    * probe/rank tail as [[annIvfTopKSql]] against the trained cells.
    * Constants in lockstep with annIvfKmeans (numCells=16, iters=3,
    * nProbe=4, k=10). */
  /** IVF kmeans-train + full-corpus assign + probe chain,
    * parameterized by the TRAINING-corpus predicate: `TRUE` replays
    * [[annIvfKmeans]]/[[annIvfPersisted]]; the standing-corpus
    * predicate replays [[annIvfAppend]] (train on standing, assign
    * the union with the frozen centroids — exactly what
    * assignment-only append computes). */
  /** Kmeans-train + full-corpus assign chain, up to `cells` (nbr_id,
    * cell_id) with `cent3` (trained components), `td` (corpus×cell
    * dots), `tc` (corpus×cell cosines) exposed — composed by the
    * trained-IVF probe tail below AND the trained-residual-PQ oracle
    * (which adapts td/tc/cent3 to the residual tail's relation
    * names). `comp`/`norms` name the component and vector-norm
    * relations (raw `comp`/`norms` for the trained gates, the rotated
    * `oqy`/its norms for the composed OPQ stack); callers supply the
    * preceding vecCtes. Seed ids always come from `embeddings` —
    * rotation/derivation never changes WHICH vectors seed, only their
    * components. */
  private def kmeansCellCtes(trainPred: String, comp: String = "comp",
      norms: String = "norms"): String = {
    val iters = (0 until 3).map { t =>
      s"""cn$t AS (
         |  SELECT cell_id,
         |    sqrt(CAST(sum(CAST(cx * cx AS DECIMAL(28,12))) AS DOUBLE)) AS sn_cell
         |  FROM cent$t GROUP BY cell_id),
         |cd$t AS (
         |  SELECT comp.vec_id, c.cell_id,
         |    CAST(sum(CAST(comp.x * c.cx AS DECIMAL(28,12))) AS DOUBLE) AS dot
         |  FROM tcomp comp JOIN cent$t c ON c.i = comp.i
         |  GROUP BY comp.vec_id, c.cell_id),
         |mb$t AS (
         |  SELECT vec_id, cell_id FROM (
         |    SELECT cd.vec_id, cd.cell_id,
         |      row_number() OVER (PARTITION BY cd.vec_id
         |        ORDER BY cd.dot / (n.sn * cn.sn_cell) DESC, cd.cell_id ASC) AS r
         |    FROM cd$t cd
         |    JOIN $norms n ON n.vec_id = cd.vec_id
         |    JOIN cn$t cn ON cn.cell_id = cd.cell_id) WHERE r = 1),
         |mn$t AS (
         |  SELECT mb.cell_id, comp.i,
         |    CAST(sum(CAST(comp.x AS DECIMAL(28,12))) AS DOUBLE) AS mx
         |  FROM mb$t mb JOIN $comp comp ON comp.vec_id = mb.vec_id
         |  GROUP BY mb.cell_id, comp.i),
         |cent${t + 1} AS (
         |  SELECT c.cell_id, c.i, coalesce(m.mx, c.cx) AS cx
         |  FROM cent$t c
         |  LEFT JOIN mn$t m ON m.cell_id = c.cell_id AND m.i = c.i)""".stripMargin
    }.mkString(",\n")
    s"""tcomp AS (SELECT * FROM $comp
       |          WHERE vec_id % 4 = 0 AND ($trainPred)),
       |cent0 AS (
       |  SELECT ct.cell_id, comp.i, comp.x AS cx
       |  FROM (SELECT vec_id AS cell_id FROM embeddings
       |        WHERE vec_id % 4 = 0 AND ($trainPred)
       |        ORDER BY vec_id LIMIT 16) ct
       |  JOIN $comp comp ON comp.vec_id = ct.cell_id),
       |$iters,
       |tn AS (
       |  SELECT cell_id,
       |    sqrt(CAST(sum(CAST(cx * cx AS DECIMAL(28,12))) AS DOUBLE)) AS sn_cell
       |  FROM cent3 GROUP BY cell_id),
       |td AS MATERIALIZED (
       |  SELECT comp.vec_id, c.cell_id,
       |    CAST(sum(CAST(comp.x * c.cx AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM $comp comp JOIN cent3 c ON c.i = comp.i
       |  GROUP BY comp.vec_id, c.cell_id),
       |tc AS (
       |  SELECT td.vec_id, td.cell_id, td.dot / (n.sn * tn.sn_cell) AS ccos
       |  FROM td JOIN $norms n ON n.vec_id = td.vec_id
       |  JOIN tn ON tn.cell_id = td.cell_id),
       |cells AS MATERIALIZED (
       |  SELECT vec_id AS nbr_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM tc) WHERE r = 1)""".stripMargin
  }

  private def ivfKmeansProbeSql(trainPred: String): String = {
    s"""WITH $vecCtes,
       |${kmeansCellCtes(trainPred)},
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM tc WHERE vec_id < 10) WHERE r <= 4),
       |cand AS (
       |  SELECT p.query_id, c.nbr_id
       |  FROM probes p JOIN cells c ON c.cell_id = p.cell_id),
       |dots AS (
       |  SELECT cand.query_id, cand.nbr_id,
       |    CAST(sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM cand
       |  JOIN comp a ON a.vec_id = cand.nbr_id
       |  JOIN comp b ON b.vec_id = cand.query_id AND b.i = a.i
       |  GROUP BY cand.query_id, cand.nbr_id),
       |ranked AS (
       |  SELECT query_id, nbr_id,
       |    dot / (nc.sn * nq.sn) AS cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |  FROM dots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id)
       |SELECT query_id, nbr_id, rank, cosine FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** The engine's entity-decode chain around a SQL expression:
    * apostrophe entities, the four named entities, any remaining
    * numeric entity to a space, `&amp;` LAST (so `&amp;lt;` decodes
    * to the literal `&lt;` it encodes). */
  private def heDecode(x: String): String =
    "replace(regexp_replace(replace(replace(replace(replace(" +
      s"regexp_replace($x, '&#x27;|&#39;', '''', 'g'), " +
      "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&nbsp;', ' '), " +
      "'&#(?:[0-9]{1,7}|[xX][0-9a-fA-F]{1,6});', ' ', 'g'), '&amp;', '&')"

  /** htmlExtract twin: same planted wrapper (nav div, script/style
    * bodies, comment, entity paragraph), same script/style/comment
    * pre-strip, same block split, same strip/decode/normalize/
    * anchor-capture regexes (RE2 subset), same integer keep rule,
    * ordered re-join. Chain ends at `he_f`
    * (doc_id, pos, clean, linked, keep) — shared with the E2E. */
  private[queries] lazy val htmlExtractCtes =
    // continuation lines must not START with || — this chain is
    // interpolated into s"""...""".stripMargin consumers, and a
    // second stripMargin would eat a leading whitespace+| prefix
    s"""he_h AS (
      |  SELECT doc_id, '<html><body><p>' || substr(text, 1, 120) ||
      |    '</p><div class="nav"><a href="/l1">click here</a> ' ||
      |    '<a href="/l2">more links</a> nav menu</div>' ||
      |    '<script type="text/javascript">var n = 1; ' ||
      |    'if (n < 2) { track("menu"); }</script>' ||
      |    '<style>.nav a { color: #fff; }</style>' ||
      |    '<!-- boilerplate wrapper --><p>' ||
      |    substr(text, 121, 100000) ||
      |    '</p><p>Tom &amp; Jerry &lt;3 &quot;ads&quot; ' ||
      |    '&#39;n&#8217; more</p><br><p>  </p></body></html>' AS html
      |  FROM documents),
      |he_x AS (
      |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
      |      '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |    '(?s)<!--.*?-->', ' ', 'g') AS html
      |  FROM he_h),
      |he_s AS (
      |  SELECT doc_id,
      |    string_split_regex(html,
      |      '</?(?:p|div|li|h[1-6]|br|body|html)[^>]*>') AS b
      |  FROM he_x),
      |he_b AS (
      |  SELECT doc_id, i AS pos, b[i] AS blk
      |  FROM he_s, LATERAL (SELECT unnest(range(1, len(b) + 1)) AS i)),
      |he_c AS (
      |  SELECT doc_id, pos,
      |    trim(regexp_replace(${heDecode(
            "regexp_replace(blk, '<[^>]*>', '', 'g')")},
      |      '\\s+', ' ', 'g')) AS clean,
      |    length(${heDecode(
            """coalesce(array_to_string(
      |      regexp_extract_all(blk, '<a[^>]*>([^<]*)</a>', 1), ''), '')""")})
      |      AS linked
      |  FROM he_b),
      |he_f AS (
      |  SELECT doc_id, pos, clean, linked,
      |    length(clean) >= 2 AND linked * 2 < length(clean) AS keep
      |  FROM he_c WHERE length(clean) > 0)""".stripMargin

  private lazy val htmlExtractSql =
    s"""WITH $htmlExtractCtes
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(linked) AS BIGINT) AS n_link_chars,
       |  substr(coalesce(string_agg(CASE WHEN keep THEN clean END, ' '
       |    ORDER BY pos), ''), 1, 200) AS head
       |FROM he_f GROUP BY doc_id""".stripMargin

  /** Bigram stupid-LM per-doc chain over `src` (doc_id, text) —
    * Lm.scoreDocs' algebra verbatim, ending at `${pref}per`
    * (doc_id, n_bigrams, q_sum). Shared by [[htmlCorpusE2eSql]]
    * (pref `hq_`) and CorpusQueries' tokenizer-lifecycle E2E
    * (pref `ct_`) so the quality stage cannot drift between them. */
  private[queries] def lmPerDocCtes(src: String, pref: String): String =
    s"""${pref}t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM $src),
       |${pref}b AS (
       |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       |  FROM ${pref}t,
       |    LATERAL (SELECT unnest(range(1, greatest(length(t), 1))) AS i)),
       |${pref}c12 AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM ${pref}b GROUP BY 1, 2),
       |${pref}c1 AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM ${pref}c12
       |  GROUP BY 1),
       |${pref}v AS (
       |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
       |  FROM (SELECT unnest(t) AS tok FROM ${pref}t) WHERE tok <> ''),
       |${pref}q AS (
       |  SELECT b.doc_id,
       |    CAST(((c12 + 1) * 1048576) // (c1 + v) AS BIGINT) AS q
       |  FROM ${pref}b b JOIN ${pref}c12 USING (w1, w2)
       |  JOIN ${pref}c1 USING (w1),
       |    ${pref}v),
       |${pref}per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(q) AS BIGINT) AS q_sum
       |  FROM ${pref}q GROUP BY 1)""".stripMargin

  /** E2E twin: extraction chain → full extracted text per doc → the
    * lm bigram chain over THAT text → per-language roll-up. */
  private lazy val htmlCorpusE2eSql =
    s"""WITH $htmlExtractCtes,
       |hq_x AS (
       |  SELECT doc_id, coalesce(string_agg(
       |    CASE WHEN keep THEN clean END, ' ' ORDER BY pos), '') AS text
       |  FROM he_f GROUP BY doc_id),
       |${lmPerDocCtes("hq_x", "hq_")}
       |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(coalesce(p.n_bigrams, 0)) AS BIGINT) AS n_bigrams,
       |  CAST(SUM(coalesce(p.q_sum, 0)) AS BIGINT) AS q_sum,
       |  CAST(SUM(coalesce(p.q_sum, 0)) AS DOUBLE) /
       |    CAST(SUM(coalesce(p.n_bigrams, 0)) * 1048576 AS BIGINT)
       |    AS mean_p
       |FROM documents d
       |JOIN hq_x x ON x.doc_id = d.doc_id
       |LEFT JOIN hq_per p ON p.doc_id = d.doc_id
       |GROUP BY 1""".stripMargin

  /** PQ train→encode→ADC CTE chain shared by the two PQ oracles.
    * Subspace rides as a COLUMN (j = i // 16), so all m codebooks
    * train in ONE unrolled EM chain instead of m separate ones;
    * assignment argmin uses d² = ‖c‖² − 2⟨x,c⟩ with exact-decimal
    * dots, means are exact-decimal component sums / member counts in
    * double — the [[graft.ext.Similarity.pqTrainCodebooks]] algebra
    * verbatim. Ends at `pqcode` (nbr_id, j, code) and `pqadc`
    * (query_id, j, code, a): queries are a corpus subset, so the
    * encode pass's per-(vec, j, code) dots serve the ADC table too. */
  /** `src` is the component relation the codebooks train on and the
    * corpus encodes from (`comp` for raw-vector PQ, a residual
    * relation for IVF-PQ-with-residuals); `adcSrc` is the component
    * relation the per-query ADC dots use — RAW query components in
    * both variants (for residual scoring, ⟨q, c + r̂⟩ = ⟨q,c⟩ +
    * ⟨q, r̂⟩, so the table is raw-query-slice × residual-codebook). */
  /** `trainPred`/`sampleMod` pick the TRAINING relation (`tscomp` —
    * the Scala trainer's id-mod sample over the same predicate; seeds
    * come from the first `ksub` ids of that relation, matching
    * [[Similarity.collectTrainingSample]]'s sorted-sample take), while
    * the ENCODE pass always runs over the full `scomp` — the seam the
    * encode-append gate exercises (train standing, encode all).
    * `subDim`/`ksub` ride the gate constants instead of hardcoded
    * slicing (all PQ gates pin dim=64, m=16 → subDim 4, ksub 64). */
  private def pqCtes(iters: Int, src: String = "comp",
      adcSrc: String = "comp", trainPred: String = "TRUE",
      subDim: Int = 4, ksub: Int = 64, sampleMod: Int = 1,
      band: String => String = seedBand): String = {
    val rounds = (0 until iters).map { t =>
      s"""pqn$t AS (
         |  SELECT j, code,
         |    CAST(sum(CAST(cx * cx AS DECIMAL(28,12))) AS DOUBLE) AS cn2
         |  FROM pqc$t GROUP BY 1, 2),
         |pqd$t AS (
         |  SELECT s.vec_id, s.j, c.code,
         |    CAST(sum(CAST(s.x * c.cx AS DECIMAL(28,12))) AS DOUBLE) AS dxc
         |  FROM tscomp s JOIN pqc$t c ON c.j = s.j AND c.ii = s.ii
         |  GROUP BY 1, 2, 3),
         |pqa$t AS (
         |  SELECT vec_id, j, code FROM (
         |    SELECT d.vec_id, d.j, d.code,
         |      row_number() OVER (PARTITION BY d.vec_id, d.j
         |        ORDER BY n.cn2 - CAST(2 AS DOUBLE) * d.dxc ASC,
         |          d.code ASC) AS r
         |    FROM pqd$t d JOIN pqn$t n ON n.j = d.j AND n.code = d.code)
         |  WHERE r = 1),
         |pqm$t AS (
         |  SELECT a.j, a.code, s.ii,
         |    CAST(sum(CAST(s.x AS DECIMAL(28,12))) AS DOUBLE) / count(*)
         |      AS mx
         |  FROM pqa$t a JOIN tscomp s ON s.vec_id = a.vec_id AND s.j = a.j
         |  GROUP BY 1, 2, 3),
         |pqc${t + 1} AS (
         |  SELECT c.j, c.code, c.ii, coalesce(m.mx, c.cx) AS cx
         |  FROM pqc$t c LEFT JOIN pqm$t m
         |    ON m.j = c.j AND m.code = c.code AND m.ii = c.ii)"""
        .stripMargin
    }.mkString(",\n")
    s"""scomp AS MATERIALIZED (
       |  SELECT vec_id, CAST(i // $subDim AS BIGINT) AS j,
       |    i % $subDim AS ii, x
       |  FROM $src),
       |tscomp AS MATERIALIZED (
       |  SELECT * FROM scomp
       |  WHERE vec_id % $sampleMod = 0 AND ($trainPred)),
       |pqcm AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
       |  FROM (SELECT vec_id FROM embeddings
       |        WHERE vec_id % $sampleMod = 0 AND ($trainPred)
       |        ORDER BY vec_id LIMIT $ksub)),
       |pqc0 AS (
       |  SELECT s.j, cm.code, s.ii, s.x AS cx
       |  FROM pqcm cm JOIN tscomp s USING (vec_id)),
       |$rounds,
       |pqfn AS (
       |  SELECT j, code,
       |    CAST(sum(CAST(cx * cx AS DECIMAL(28,12))) AS DOUBLE) AS cn2
       |  FROM pqc$iters GROUP BY 1, 2),
       |pqed AS (
       |  SELECT a.vec_id, a.j, c.code,
       |    CAST(sum(CAST(a.x * c.cx AS DECIMAL(28,12))) AS DOUBLE) AS dxc
       |  FROM scomp a JOIN pqc$iters c ON c.j = a.j AND c.ii = a.ii
       |  GROUP BY 1, 2, 3),
       |pqcode AS (
       |  SELECT vec_id AS nbr_id, j, code FROM (
       |    SELECT d.vec_id, d.j, d.code,
       |      row_number() OVER (PARTITION BY d.vec_id, d.j
       |        ORDER BY n.cn2 - CAST(2 AS DOUBLE) * d.dxc ASC,
       |          d.code ASC) AS r
       |    FROM pqed d JOIN pqfn n ON n.j = d.j AND n.code = d.code)
       |  WHERE r = 1),
       |pqadc AS (
       |  SELECT q.vec_id AS query_id, q.j, c.code,
       |    CAST(round(CAST(sum(CAST(q.x * c.cx AS DECIMAL(28,12)))
       |        AS DOUBLE) * CAST(1048576.0 AS DOUBLE)) AS BIGINT) AS a
       |  FROM (SELECT vec_id, CAST(i // $subDim AS BIGINT) AS j,
       |          i % $subDim AS ii, x
       |        FROM $adcSrc WHERE ${band("vec_id")}) q
       |  JOIN pqc$iters c ON c.j = q.j AND c.ii = q.ii
       |  GROUP BY 1, 2, 3)""".stripMargin
  }

  /** IVF-PQ twin: seed-cell IVF probing (the [[ivfAssignCtes]] chain)
    * prunes candidates; the PQ chain scores them by integer ADC. */
  private lazy val annIvfPqSql =
    s"""WITH $ivfAssignCtes,
       |${pqCtes(2)},
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos WHERE vec_id < 10) WHERE r <= 4),
       |pqcand AS (
       |  SELECT p.query_id, c.nbr_id
       |  FROM probes p JOIN cells c ON c.cell_id = p.cell_id),
       |pqsc AS (
       |  SELECT cand.query_id, cand.nbr_id,
       |    CAST(SUM(adc.a) AS BIGINT) AS score
       |  FROM pqcand cand
       |  JOIN pqcode co ON co.nbr_id = cand.nbr_id
       |  JOIN pqadc adc ON adc.query_id = cand.query_id
       |    AND adc.j = co.j AND adc.code = co.code
       |  GROUP BY 1, 2),
       |pqrk AS (
       |  SELECT query_id, nbr_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, nbr_id ASC) AS rank
       |  FROM pqsc)
       |SELECT query_id, nbr_id, rank, score FROM pqrk WHERE rank <= 10"""
      .stripMargin

  /** Flat-PQ recall twin: exhaustive ADC ranking (no IVF pruning)
    * joined against the exact brute-force top-10. */
  private lazy val annPqRecallSql =
    s"""SELECT bf.query_id,
       |  CAST(SUM(CASE WHEN pq.nbr_id IS NULL THEN 0 ELSE 1 END)
       |    AS BIGINT) AS n_overlap,
       |  CAST(SUM(CASE WHEN pq.nbr_id IS NULL THEN 0 ELSE 1 END)
       |    AS DOUBLE) / CAST(10.0 AS DOUBLE) AS recall
       |FROM ($annBruteForceSql) bf
       |LEFT JOIN (
       |  WITH $vecCtes,
       |  ${pqCtes(2)},
       |  pqsc AS (
       |    SELECT adc.query_id, co.nbr_id,
       |      CAST(SUM(adc.a) AS BIGINT) AS score
       |    FROM pqcode co
       |    JOIN pqadc adc ON adc.j = co.j AND adc.code = co.code
       |    GROUP BY 1, 2),
       |  pqrk AS (
       |    SELECT query_id, nbr_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY score DESC, nbr_id ASC) AS rank
       |    FROM pqsc)
       |  SELECT query_id, nbr_id FROM pqrk WHERE rank <= 10) pq
       |  ON pq.query_id = bf.query_id AND pq.nbr_id = bf.nbr_id
       |GROUP BY 1""".stripMargin

  /** Residual-PQ serving tail over WHICHEVER coarse-cell chain
    * precedes it — expects `comp` plus the cell relations `cells`
    * (nbr_id, cell_id), `cellcos` (vec_id, cell_id, ccos), `centcomp`
    * (cell_id, i, cx) and `centnorm` (cell_id, sn_cell): UNIT
    * centroid components (the engine's one-IEEE-divide
    * normalization), residual components against them, the PQ chain
    * over those with the ADC table from RAW query components, score =
    * coarse ⟨q,ĉ⟩ term + ADC sum, both in 2⁻²⁰ integer units. The
    * seed variant composes it under [[ivfAssignCtes]]; the trained
    * variant under [[kmeansCellCtes]] plus renaming adapters; the
    * composed OPQ stack passes the ROTATED component relation as
    * `comp`. */
  private def residualPqTail(comp: String = "comp",
      band: String => String = seedBand): String =
    s"""ncent AS MATERIALIZED (
       |  SELECT cc.cell_id, cc.i, cc.cx / cn.sn_cell AS cx
       |  FROM centcomp cc JOIN centnorm cn ON cn.cell_id = cc.cell_id),
       |rcomp AS MATERIALIZED (
       |  SELECT comp.vec_id, comp.i, comp.x - nc.cx AS x
       |  FROM $comp comp
       |  JOIN cells ON cells.nbr_id = comp.vec_id
       |  JOIN ncent nc ON nc.cell_id = cells.cell_id
       |    AND nc.i = comp.i),
       |${pqCtes(2, src = "rcomp", adcSrc = comp, band = band)},
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos WHERE ${band("vec_id")}) WHERE r <= 4),
       |rqc AS (
       |  SELECT comp.vec_id AS query_id, nc.cell_id,
       |    CAST(round(CAST(sum(CAST(comp.x * nc.cx AS DECIMAL(28,12)))
       |        AS DOUBLE) * CAST(1048576.0 AS DOUBLE)) AS BIGINT) AS qc
       |  FROM $comp comp JOIN ncent nc ON nc.i = comp.i
       |  WHERE ${band("comp.vec_id")}
       |  GROUP BY 1, 2),
       |rcand AS (
       |  SELECT p.query_id, c.nbr_id, c.cell_id
       |  FROM probes p JOIN cells c ON c.cell_id = p.cell_id),
       |rsum AS (
       |  SELECT cand.query_id, cand.nbr_id, cand.cell_id,
       |    CAST(SUM(adc.a) AS BIGINT) AS adc_sum
       |  FROM rcand cand
       |  JOIN pqcode co ON co.nbr_id = cand.nbr_id
       |  JOIN pqadc adc ON adc.query_id = cand.query_id
       |    AND adc.j = co.j AND adc.code = co.code
       |  GROUP BY 1, 2, 3),
       |rsc AS (
       |  SELECT r.query_id, r.nbr_id, r.adc_sum + q.qc AS score
       |  FROM rsum r JOIN rqc q ON q.query_id = r.query_id
       |    AND q.cell_id = r.cell_id),
       |rrk AS (
       |  SELECT query_id, nbr_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, nbr_id ASC) AS rank
       |  FROM rsc)
       |SELECT query_id, nbr_id, rank, score FROM rrk WHERE rank <= 10"""
      .stripMargin

  /** Residual IVF-PQ twin (seed cells): residual components from the
    * shared cell-assignment CTEs, then the residual serving tail. */
  private def ivfPqResidualSql(band: String => String): String =
    s"""WITH $ivfAssignCtes,
       |${residualPqTail(band = band)}""".stripMargin

  private lazy val annIvfPqResidualSql = ivfPqResidualSql(seedBand)

  /** TRAINED-cell residual IVF-PQ twin: the unrolled-kmeans cell
    * chain, three renaming adapters exposing the trained relations
    * under the residual tail's expected names, then the same tail. */
  private def ivfPqTrainedSql(band: String => String): String =
    s"""WITH $vecCtes,
       |${kmeansCellCtes("TRUE")},
       |centcomp AS (SELECT cell_id, i, cx FROM cent3),
       |centnorm AS (SELECT cell_id, sn_cell FROM tn),
       |cellcos AS (SELECT vec_id, cell_id, ccos FROM tc),
       |${residualPqTail(band = band)}""".stripMargin

  private lazy val annIvfPqTrainedSql = ivfPqTrainedSql(seedBand)

  /** COMPOSED OPQ + trained-IVF + residual-PQ twin — the full FAISS
    * production stack in one chain: rotation CTEs → rotated vector
    * norms → the kmeans cell chain over the ROTATED components → the
    * residual serving tail over the same rotated space (rotation is
    * orthogonal, so rotated-space scores approximate the original
    * inner products). */
  private def opqIvfPqSql(band: String => String): String =
    s"""WITH $vecCtes,
       |$opqRotateCtes,
       |oqnorms AS (
       |  SELECT vec_id,
       |    sqrt(CAST(sum(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE)) AS sn
       |  FROM oqy GROUP BY vec_id),
       |${kmeansCellCtes("TRUE", comp = "oqy", norms = "oqnorms")},
       |centcomp AS (SELECT cell_id, i, cx FROM cent3),
       |centnorm AS (SELECT cell_id, sn_cell FROM tn),
       |cellcos AS (SELECT vec_id, cell_id, ccos FROM tc),
       |${residualPqTail("oqy", band = band)}""".stripMargin

  private lazy val annOpqIvfPqSql = opqIvfPqSql(seedBand)

  /** Recall-audit twin: one materialized brute-force truth set, three
    * candidate stacks (each a parenthesized WITH of an existing
    * oracle), counted against it. */
  /** Exhaustive flat-ADC top-10 over `src` components (a full oracle
    * query, parenthesizable): the no-IVF PQ ranking both recall
    * audits compare variants against. */
  private def flatPqTopSql(src: String = "comp",
      extraCtes: String = "",
      band: String => String = seedBand): String = {
    val extra = if (extraCtes.isEmpty) "" else extraCtes + ",\n"
    s"""WITH $vecCtes,
       |$extra${pqCtes(2, src = src, adcSrc = src, band = band)},
       |fl_sc AS (
       |  SELECT adc.query_id, co.nbr_id,
       |    CAST(SUM(adc.a) AS BIGINT) AS score
       |  FROM pqcode co
       |  JOIN pqadc adc ON adc.j = co.j AND adc.code = co.code
       |  GROUP BY 1, 2),
       |fl_rk AS (
       |  SELECT query_id, nbr_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, nbr_id ASC) AS rank
       |  FROM fl_sc)
       |SELECT query_id, nbr_id FROM fl_rk WHERE rank <= 10""".stripMargin
  }

  /** Four-stack recall-audit twin over a query band: one
    * materialized brute-force truth set, four candidate stacks (each
    * a parenthesized WITH of an existing oracle at the same band),
    * counted against it. `p` prefixes the CTEs so the seed (`art_`)
    * and off-seed (`aro_`) instantiations can't collide if ever
    * composed. */
  private def residualAuditSql(p: String,
      band: String => String): String = {
    def hits(tag: String, topSql: String): String =
      s"""$p$tag AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n_hits
         |  FROM ($topSql) v JOIN ${p}t USING (query_id, nbr_id))"""
        .stripMargin
    def row(name: String, tag: String): String =
      s"""SELECT '$name' AS variant, n_hits,
         |  CAST(nq * 10 AS BIGINT) AS n_possible,
         |  CAST(n_hits AS DOUBLE) / CAST(nq * 10 AS DOUBLE) AS recall
         |FROM $p$tag, ${p}nq""".stripMargin
    s"""WITH ${p}t AS MATERIALIZED (
       |  SELECT query_id, nbr_id FROM (${bruteForceTopSql(band)})),
       |${p}nq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM ${p}t),
       |${hits("f", flatPqTopSql(band = band))},
       |${hits("s",
          s"SELECT query_id, nbr_id FROM (${ivfPqResidualSql(band)})")},
       |${hits("r",
          s"SELECT query_id, nbr_id FROM (${ivfPqTrainedSql(band)})")},
       |${hits("o", s"SELECT query_id, nbr_id FROM (${opqIvfPqSql(band)})")}
       |${row("flat_adc", "f")}
       |UNION ALL
       |${row("seed_residual", "s")}
       |UNION ALL
       |${row("trained_residual", "r")}
       |UNION ALL
       |${row("opq_trained_residual", "o")}""".stripMargin
  }

  private lazy val annResidualRecallAuditSql =
    residualAuditSql("art_", seedBand)

  private lazy val annResidualOffseedAuditSql =
    residualAuditSql("aro_", offseedBand)

  /** [[graft.ext.Similarity.nnDescent]] twin, unrolled: id-order ring
    * init (row_number rank, ±k/2 offsets modulo n), then per round a
    * local-join candidate CTE (undirected neighborhood squared ∪
    * current list), the exact-decimal dot / norm-divide scoring
    * chain, and the (cos DESC, id ASC) top-k merge. Every per-round
    * list is MATERIALIZED — the next round references it three times
    * (forward, reversed, carry-over) and un-materialized CTEs
    * re-expand per reference. Ends at `nn_l$rounds`
    * (a, b, cos, rk). */
  private def nnDescentCtes(rounds: Int, k: Int = 8,
      band: String => String = _ => "TRUE",
      p: String = "nn"): String = {
    val offs = ((-(k / 2)) to (k / 2)).filter(_ != 0).mkString(", ")
    def scoreAndList(r: Int): String =
      s"""${p}_d$r AS (
         |  SELECT p.a, p.b,
         |    CAST(sum(CAST(ca.x * cb.x AS DECIMAL(28,12))) AS DOUBLE)
         |      AS dot
         |  FROM (SELECT DISTINCT a, b FROM ${p}_c$r) p
         |  JOIN comp ca ON ca.vec_id = p.a
         |  JOIN comp cb ON cb.vec_id = p.b AND cb.i = ca.i
         |  GROUP BY p.a, p.b),
         |${p}_s$r AS (
         |  SELECT d.a, d.b, d.dot / (na.sn * nb.sn) AS cos
         |  FROM ${p}_d$r d
         |  JOIN norms na ON na.vec_id = d.a
         |  JOIN norms nb ON nb.vec_id = d.b),
         |${p}_l$r AS MATERIALIZED (
         |  SELECT a, b, cos, rk FROM (
         |    SELECT a, b, cos,
         |      row_number() OVER (PARTITION BY a
         |                         ORDER BY cos DESC, b ASC) AS rk
         |    FROM ${p}_s$r) WHERE rk <= $k)""".stripMargin
    val init =
      s"""${p}_n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
         |  WHERE ${band("vec_id")}),
         |${p}_rk AS (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY vec_id) - 1 AS r
         |  FROM embeddings WHERE ${band("vec_id")}),
         |${p}_c0 AS (
         |  SELECT a.vec_id AS a, b.vec_id AS b
         |  FROM ${p}_rk a
         |  CROSS JOIN ${p}_n
         |  CROSS JOIN (SELECT unnest([$offs]) AS off) o
         |  JOIN ${p}_rk b
         |    ON b.r = ((a.r + o.off) % ${p}_n.n + ${p}_n.n) % ${p}_n.n
         |  WHERE b.vec_id <> a.vec_id),
         |${scoreAndList(0)}""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""${p}_u$r AS (
         |  SELECT a, b FROM ${p}_l${r - 1}
         |  UNION
         |  SELECT b AS a, a AS b FROM ${p}_l${r - 1}),
         |${p}_c$r AS (
         |  SELECT x.a AS a, y.b AS b
         |  FROM ${p}_u$r x JOIN ${p}_u$r y ON y.a = x.b
         |  WHERE y.b <> x.a
         |  UNION
         |  SELECT a, b FROM ${p}_l${r - 1}),
         |${scoreAndList(r)}""".stripMargin
    }
    (init +: roundCtes).mkString(",\n")
  }

  /** [[graft.ext.Similarity.occlusionSelect]] twin — the occlusion
    * neighbor-selection rule shared by the store pruning
    * (diversifyGraph) and the append path: rank `$poolRel` (a, b,
    * cos) per a by (cos DESC, b ASC), drop every candidate occluded
    * by a higher-ranked pool member (one exact-decimal dot + the
    * strict > compare on identical operand trees per pair), re-rank
    * survivors in original order, cut to `$k`. Ends at `${p}_sel`
    * (a, b, cos, rk ≤ k). Pair volume is pool-bounded (a × |pool|²),
    * never corpus². */
  private def occlusionCtes(p: String, poolRel: String, k: Int)
      : String =
    s"""${p}_rk AS MATERIALIZED (
       |  SELECT a, b, cos,
       |    row_number() OVER (PARTITION BY a
       |                       ORDER BY cos DESC, b ASC) AS rk
       |  FROM $poolRel),
       |${p}_pr AS (
       |  SELECT x.a, x.b, x.cos AS cos_ab, y.b AS occ
       |  FROM ${p}_rk x JOIN ${p}_rk y
       |    ON y.a = x.a AND y.rk < x.rk),
       |${p}_dt AS (
       |  SELECT q.a, q.b, q.occ, q.cos_ab,
       |    CAST(sum(CAST(cb.x * co.x AS DECIMAL(28,12))) AS DOUBLE)
       |      AS dot
       |  FROM ${p}_pr q
       |  JOIN comp cb ON cb.vec_id = q.b
       |  JOIN comp co ON co.vec_id = q.occ AND co.i = cb.i
       |  GROUP BY q.a, q.b, q.occ, q.cos_ab),
       |${p}_oc AS (
       |  SELECT DISTINCT d.a, d.b FROM ${p}_dt d
       |  JOIN norms nb ON nb.vec_id = d.b
       |  JOIN norms no ON no.vec_id = d.occ
       |  WHERE d.dot / (nb.sn * no.sn) > d.cos_ab),
       |${p}_sel AS MATERIALIZED (
       |  SELECT a, b, cos, rk FROM (
       |    SELECT g.a, g.b, g.cos,
       |      row_number() OVER (PARTITION BY g.a
       |                         ORDER BY g.rk ASC) AS rk
       |    FROM ${p}_rk g
       |    WHERE NOT EXISTS (SELECT 1 FROM ${p}_oc o
       |                      WHERE o.a = g.a AND o.b = g.b)) srv
       |  WHERE rk <= $k)""".stripMargin

  /** The persisted SERVING-store chain ([[servingGraph]]'s twin):
    * the full-corpus k = 16 / 4-round NN-Descent trajectory
    * diversity-pruned to degree 8 — ends at `dg_sel`, the relation
    * every serving oracle's beam chain walks. */
  private lazy val servingStoreCtes =
    s"""${nnDescentCtes(4, k = 16, p = "n16")},
       |${occlusionCtes("dg", "n16_l4", 8)}""".stripMargin

  /** [[graft.ext.Similarity.graphBeamSearch]] twin, unrolled over the
    * nn_l3 edge relation: fixed entry set (8 smallest ids), then per
    * hop the frontier-through-edges expansion ∪ carry-over, the
    * exact-decimal scoring chain, and the (cos DESC, id ASC)
    * top-beam merge. Ends at `gs_b$hops` (query_id, cand, cos, rk ≤
    * beam). */
  private def beamCtes(hops: Int, beam: Int = 16,
      entries: Int = 8, queryBand: String => String = offseedBand,
      entryBand: String => String = _ => "TRUE",
      entrySql: Option[String] = None,
      p: String = "gs", graphRel: String = "nn_l3"): String = {
    def scoreAndBeam(r: Int): String =
      s"""${p}_d$r AS (
         |  SELECT q.query_id, q.cand,
         |    CAST(sum(CAST(cc.x * qc.x AS DECIMAL(28,12))) AS DOUBLE)
         |      AS dot
         |  FROM (SELECT DISTINCT query_id, cand FROM ${p}_c$r) q
         |  JOIN comp cc ON cc.vec_id = q.cand
         |  JOIN comp qc ON qc.vec_id = q.query_id AND qc.i = cc.i
         |  GROUP BY q.query_id, q.cand),
         |${p}_s$r AS (
         |  SELECT d.query_id, d.cand, d.dot / (nc.sn * nq.sn) AS cos
         |  FROM ${p}_d$r d
         |  JOIN norms nc ON nc.vec_id = d.cand
         |  JOIN norms nq ON nq.vec_id = d.query_id),
         |${p}_b$r AS MATERIALIZED (
         |  SELECT query_id, cand, cos, rk FROM (
         |    SELECT query_id, cand, cos,
         |      row_number() OVER (PARTITION BY query_id
         |                         ORDER BY cos DESC, cand ASC) AS rk
         |    FROM ${p}_s$r) WHERE rk <= $beam)""".stripMargin
    val init =
      s"""${p}_e AS (
         |  ${entrySql.getOrElse(
             s"""SELECT cand FROM (
         |    SELECT vec_id AS cand,
         |      row_number() OVER (ORDER BY vec_id) - 1 AS r,
         |      count(*) OVER () AS n
         |    FROM embeddings WHERE ${entryBand("vec_id")}) strat
         |  WHERE r % CAST(floor((n + ${entries - 1}) / $entries)
         |    AS BIGINT) = 0""")}),
         |${p}_c0 AS (
         |  SELECT q.vec_id AS query_id, e.cand
         |  FROM embeddings q CROSS JOIN ${p}_e e
         |  WHERE ${queryBand("q.vec_id")}),
         |${scoreAndBeam(0)}""".stripMargin
    val hopCtes = (1 to hops).map { r =>
      s"""${p}_c$r AS (
         |  SELECT b.query_id, g.b AS cand
         |  FROM ${p}_b${r - 1} b JOIN $graphRel g ON g.a = b.cand
         |  UNION
         |  SELECT query_id, cand FROM ${p}_b${r - 1}),
         |${scoreAndBeam(r)}""".stripMargin
    }
    (init +: hopCtes).mkString(",\n")
  }

  /** [[Similarity.graphAppend]] twin: the banded NN-Descent chain
    * builds the 90%-band base graph (same nn_l3 relation name — the
    * band parameter restricts the ring/rounds to base nodes), the
    * beam chain walks it for the 10% append band with entries drawn
    * from the base band, and the merge re-ranks (existing ∪ reverse
    * proposals) per touched node. Reverse edges reuse the walk's
    * exact cosine (symmetry), mirroring the Spark side. */
  private val gaBaseBand = (c: String) => s"$c % 10 <> 9"
  private val gaNewBand = (c: String) => s"$c % 10 = 9"

  /** ONE search-then-connect append STAGE ([[Similarity.graphAppend]]
    * twin), parameterized so the batch gate and the streaming
    * lifecycle's waves share a single chain definition: a beam walk
    * (prefix `bp`) over the standing `graphRel` for the `queryBand`
    * vectors, occlusion-SELECTION of each appended node's list from
    * the full beam pool (HNSW's insert-side neighbor-selection
    * heuristic — the diversified store stays diversified under
    * ingest), the reverse-proposal re-SELECTION of touched lists,
    * the orphan repair (forced reverse-adoption into the rank-1
    * selected placement target with the max(k − |adoptees|, 0)
    * pre-cut and a final rank ≤ k cut — capacity k holds even when
    * more than k orphans share one target), and the merged
    * post-append graph `${p}_merged` (appended ∪ repaired ∪
    * untouched). The stratified stride entry set over `entryBand` is
    * graphAppend's disconnected-graph insurance: one entry per
    * floor((n+7)/8) block of the standing id order (floor() of an
    * exact double division on both engines). */
  private def appendStageCtes(p: String, bp: String, graphRel: String,
      queryBand: String => String,
      entryBand: String => String): String = {
    s"""${beamCtes(3, queryBand = queryBand, entryBand = entryBand,
          p = bp, graphRel = graphRel)},
       |${p}_apool AS (
       |  SELECT query_id AS a, cand AS b, cos FROM ${bp}_b3),
       |${occlusionCtes(s"${p}as", s"${p}_apool", 8)},
       |${p}_place AS MATERIALIZED (
       |  SELECT a AS query_id, b AS cand, cos, rk FROM ${p}as_sel),
       |${p}_rev AS (
       |  SELECT cand AS node_id, query_id AS nbr_id, cos
       |  FROM ${p}_place),
       |${p}_upool AS (
       |  SELECT l.a, l.b, l.cos
       |  FROM $graphRel l
       |  WHERE l.a IN (SELECT node_id FROM ${p}_rev)
       |  UNION ALL
       |  SELECT node_id AS a, nbr_id AS b, cos FROM ${p}_rev),
       |${occlusionCtes(s"${p}us", s"${p}_upool", 8)},
       |${p}_upd AS MATERIALIZED (
       |  SELECT a AS node_id, b AS nbr_id, cos, rk FROM ${p}us_sel),
       |${p}_orph AS (
       |  SELECT DISTINCT query_id FROM ${p}_place
       |  WHERE query_id NOT IN (SELECT nbr_id FROM ${p}_upd)),
       |${p}_adopt AS (
       |  SELECT pl.cand AS node_id, pl.query_id AS nbr_id, pl.cos
       |  FROM ${p}_place pl
       |  WHERE pl.rk = 1
       |    AND pl.query_id IN (SELECT query_id FROM ${p}_orph)),
       |${p}_acnt AS (
       |  SELECT node_id, CAST(count(*) AS BIGINT) AS na
       |  FROM ${p}_adopt GROUP BY node_id),
       |${p}_rkd AS (
       |  SELECT node_id, nbr_id, cos,
       |    row_number() OVER (PARTITION BY node_id
       |                       ORDER BY cos DESC, nbr_id ASC) AS rk
       |  FROM (
       |    SELECT u.node_id, u.nbr_id, u.cos
       |    FROM ${p}_upd u JOIN ${p}_acnt a ON a.node_id = u.node_id
       |    WHERE u.rk <= GREATEST(8 - a.na, 0)
       |    UNION ALL
       |    SELECT node_id, nbr_id, cos FROM ${p}_adopt) rr),
       |${p}_rep AS (
       |  SELECT node_id, nbr_id, cos, rk FROM ${p}_rkd
       |  WHERE rk <= 8),
       |${p}_drop AS (
       |  SELECT node_id, nbr_id, cos, rk FROM ${p}_rkd
       |  WHERE rk > 8),
       |${p}_fin AS MATERIALIZED (
       |  SELECT node_id, nbr_id, cos, rk FROM ${p}_rep
       |  UNION ALL
       |  SELECT u.node_id, u.nbr_id, u.cos, u.rk
       |  FROM ${p}_upd u
       |  WHERE u.node_id NOT IN (SELECT node_id FROM ${p}_acnt)),
       |${p}_merged AS MATERIALIZED (
       |  SELECT query_id AS a, cand AS b, cos, rk FROM ${p}_place
       |  UNION ALL
       |  SELECT node_id AS a, nbr_id AS b, cos, rk FROM ${p}_fin
       |  UNION ALL
       |  SELECT g.a, g.b, g.cos, g.rk FROM $graphRel g
       |  WHERE g.a NOT IN (SELECT node_id FROM ${p}_rev))"""
      .stripMargin
  }

  /** Banded DIVERSIFIED base store (k = 16 4-round build over the
    * 90% band, occlusion-pruned to degree 8 — the [[servingGraph]]
    * lifecycle on the standing corpus; ends at `gb_sel`) — the
    * standing store shared by the batch append chain and the
    * streaming lifecycle. */
  private lazy val bandedStoreCtes =
    s"""${nnDescentCtes(4, k = 16, band = gaBaseBand, p = "bn")},
       |${occlusionCtes("gb", "bn_l4", 8)}""".stripMargin

  /** Banded diversified base graph (gb_sel) + one append stage
    * (ga/gs prefixes) — the chain shared by the append gate, the
    * post-append serving audit, and the post-append diversity
    * audit. */
  private lazy val graphAppendCtes =
    s"""$bandedStoreCtes,
       |${appendStageCtes("ga", "gs", "gb_sel", gaNewBand, gaBaseBand)}"""
      .stripMargin

  private lazy val annGraphAppendSql =
    s"""WITH $vecCtes,
       |$graphAppendCtes
       |SELECT query_id AS node_id, cand AS nbr_id, rk AS rank,
       |  cos AS cosine, 'appended' AS src FROM ga_place
       |UNION ALL
       |SELECT node_id, nbr_id, rk AS rank, cos AS cosine,
       |  'updated' AS src FROM ga_fin
       |UNION ALL
       |SELECT node_id, nbr_id, rk AS rank, cos AS cosine,
       |  'dropped' AS src FROM ga_drop""".stripMargin

  /** Post-append serving twin: merged graph = appended lists ∪
    * updated lists ∪ untouched base lists; a second beam chain (sv
    * prefix) walks it for the appended band; rows grade
    * self-reachability (rank-1 self hit) and recall@10 vs the
    * full-corpus brute truth. */
  private lazy val annGraphAppendServeSql =
    s"""WITH $vecCtes,
       |$graphAppendCtes,
       |${beamCtes(3, queryBand = gaNewBand, p = "sv",
          graphRel = "ga_merged")},
       |svt AS MATERIALIZED (
       |  SELECT query_id, nbr_id
       |  FROM (${bruteForceTopSql(gaNewBand)}) bft),
       |svq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM svt)
       |SELECT 'self_found' AS variant,
       |  CAST((SELECT count(*) FROM sv_b3
       |        WHERE rk = 1 AND cand = query_id) AS BIGINT) AS n_hits,
       |  CAST(svq.nq AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*) FROM sv_b3
       |        WHERE rk = 1 AND cand = query_id) AS DOUBLE) /
       |    CAST(svq.nq AS DOUBLE) AS recall
       |FROM svq
       |UNION ALL
       |SELECT 'walk_top10' AS variant,
       |  CAST((SELECT count(*)
       |        FROM (SELECT query_id, cand FROM sv_b3
       |              WHERE rk <= 10) v
       |        JOIN svt t ON t.query_id = v.query_id
       |          AND t.nbr_id = v.cand) AS BIGINT) AS n_hits,
       |  CAST(svq.nq * 10 AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*)
       |        FROM (SELECT query_id, cand FROM sv_b3
       |              WHERE rk <= 10) v
       |        JOIN svt t ON t.query_id = v.query_id
       |          AND t.nbr_id = v.cand) AS DOUBLE) /
       |    CAST(svq.nq * 10 AS DOUBLE) AS recall
       |FROM svq""".stripMargin

  /** Post-append diversity-audit twin: the delta lists (ga_place ∪
    * ga_fin) re-checked against the occlusion rule — per higher-
    * ranked same-list pair, one exact-decimal dot + the strict >
    * compare; readout is edges/occluded per src. */
  private lazy val annGraphAppendDiversitySql =
    s"""WITH $vecCtes,
       |$graphAppendCtes,
       |gd_l AS MATERIALIZED (
       |  SELECT 'appended' AS src, query_id AS a, cand AS b, cos, rk
       |  FROM ga_place
       |  UNION ALL
       |  SELECT 'updated' AS src, node_id AS a, nbr_id AS b, cos, rk
       |  FROM ga_fin
       |  UNION ALL
       |  SELECT 'dropped' AS src, node_id AS a, nbr_id AS b, cos, rk
       |  FROM ga_drop),
       |gd_p AS (
       |  SELECT x.src, x.a, x.b, x.cos AS cos_ab, y.b AS occ
       |  FROM gd_l x JOIN gd_l y ON y.a = x.a AND y.rk < x.rk),
       |gd_d AS (
       |  SELECT q.src, q.a, q.b, q.occ, q.cos_ab,
       |    CAST(sum(CAST(cb.x * co.x AS DECIMAL(28,12))) AS DOUBLE)
       |      AS dot
       |  FROM gd_p q
       |  JOIN comp cb ON cb.vec_id = q.b
       |  JOIN comp co ON co.vec_id = q.occ AND co.i = cb.i
       |  GROUP BY q.src, q.a, q.b, q.occ, q.cos_ab),
       |gd_o AS (
       |  SELECT DISTINCT d.src, d.a, d.b FROM gd_d d
       |  JOIN norms nb ON nb.vec_id = d.b
       |  JOIN norms no ON no.vec_id = d.occ
       |  WHERE d.dot / (nb.sn * no.sn) > d.cos_ab),
       |gd_e AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS n_edges
       |  FROM gd_l GROUP BY src),
       |gd_c AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS n_occluded
       |  FROM gd_o GROUP BY src)
       |SELECT e.src, e.n_edges,
       |  CAST(COALESCE(c.n_occluded, 0) AS BIGINT) AS n_occluded
       |FROM gd_e e LEFT JOIN gd_c c ON c.src = e.src""".stripMargin

  /** ONE tombstone-DELETE stage ([[Similarity.graphDelete]] twin),
    * parameterized like [[appendStageCtes]] so the batch gate and
    * the streaming upsert lifecycle share a single chain: drop
    * deleted (`delBand`) nodes' lists from `graphRel`, find holes
    * (surviving lists with a tombstoned member), bridge each hole
    * through the deleted member's own list (exact-decimal cosines
    * for the new pairs), occlusion-select the pooled survivors ∪
    * bridges, force-adopt deletion orphans rank-last (src='adopted',
    * capacity-capped, candidates restricted to touched lists
    * 2-hop-adjacent to each orphan's former adopters — the
    * [[Similarity.deleteAdoptionCandidates]] twin, batch-bounded
    * where the naive touched × orphans form is deletion-batch-
    * quadratic; adoptions evicted past capacity surface as
    * src='dropped' observability rows), and end at the repaired
    * delta `${p}_fin`
    * (node_id, nbr_id, cos, rk, src) plus the merged post-delete
    * store `${p}_m` (repaired ∪ untouched, dropped excluded). */
  private def deleteStageCtes(p: String, graphRel: String,
      delBand: String => String): String =
    s"""${p}_keep AS MATERIALIZED (
       |  SELECT a, b, cos, rk FROM $graphRel
       |  WHERE NOT (${delBand("a")})),
       |${p}_hole AS (
       |  SELECT a, b FROM ${p}_keep WHERE ${delBand("b")}),
       |${p}_tch AS (SELECT DISTINCT a FROM ${p}_hole),
       |${p}_srv AS (
       |  SELECT k.a, k.b, k.cos FROM ${p}_keep k
       |  WHERE NOT (${delBand("k.b")})
       |    AND k.a IN (SELECT a FROM ${p}_tch)),
       |${p}_brn AS (
       |  SELECT a, b FROM (
       |    SELECT DISTINCT h.a, g.b
       |    FROM ${p}_hole h JOIN $graphRel g ON g.a = h.b
       |    WHERE NOT (${delBand("g.b")}) AND g.b <> h.a) br
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}_srv s
       |                    WHERE s.a = br.a AND s.b = br.b)),
       |${p}_brd AS (
       |  SELECT q.a, q.b,
       |    CAST(sum(CAST(ca.x * cb.x AS DECIMAL(28,12))) AS DOUBLE)
       |      AS dot
       |  FROM ${p}_brn q
       |  JOIN comp ca ON ca.vec_id = q.a
       |  JOIN comp cb ON cb.vec_id = q.b AND cb.i = ca.i
       |  GROUP BY q.a, q.b),
       |${p}_pool AS (
       |  SELECT a, b, cos FROM ${p}_srv
       |  UNION ALL
       |  SELECT d.a, d.b, d.dot / (na.sn * nb.sn) AS cos
       |  FROM ${p}_brd d
       |  JOIN norms na ON na.vec_id = d.a
       |  JOIN norms nb ON nb.vec_id = d.b),
       |${occlusionCtes(s"${p}s", s"${p}_pool", 8)},
       |${p}_post AS (
       |  SELECT b FROM ${p}_keep
       |  WHERE a NOT IN (SELECT a FROM ${p}_tch)
       |  UNION
       |  SELECT b FROM ${p}s_sel),
       |${p}_pre AS (
       |  SELECT b FROM $graphRel WHERE ${delBand("a")}
       |  UNION
       |  SELECT b FROM ${p}_keep WHERE a IN (SELECT a FROM ${p}_tch)),
       |${p}_orp AS (
       |  SELECT DISTINCT b AS o FROM ${p}_pre
       |  WHERE NOT (${delBand("b")})
       |    AND b NOT IN (SELECT b FROM ${p}_post)),
       |${p}_fad AS (
       |  SELECT g.a AS fa, o.o
       |  FROM $graphRel g JOIN ${p}_orp o ON g.b = o.o),
       |${p}_cnd AS (
       |  SELECT DISTINCT c.t2 AS a, c.o FROM (
       |    SELECT fa AS t2, o FROM ${p}_fad
       |    UNION
       |    SELECT g.b AS t2, f.o
       |    FROM ${p}_fad f JOIN $graphRel g ON g.a = f.fa
       |    UNION
       |    SELECT g.a AS t2, f.o
       |    FROM ${p}_fad f JOIN $graphRel g ON g.b = f.fa) c
       |  WHERE c.t2 IN (SELECT a FROM ${p}_tch)),
       |${p}_adc AS (
       |  SELECT c.a, c.o,
       |    CAST(sum(CAST(ca.x * cb.x AS DECIMAL(28,12))) AS DOUBLE)
       |      AS dot
       |  FROM ${p}_cnd c
       |  JOIN comp ca ON ca.vec_id = c.a
       |  JOIN comp cb ON cb.vec_id = c.o AND cb.i = ca.i
       |  GROUP BY c.a, c.o),
       |${p}_ado AS (
       |  SELECT a AS node_id, o AS nbr_id, cos FROM (
       |    SELECT d.a, d.o, d.dot / (na.sn * nb.sn) AS cos,
       |      row_number() OVER (PARTITION BY d.o
       |        ORDER BY d.dot / (na.sn * nb.sn) DESC, d.a ASC) AS r
       |    FROM ${p}_adc d
       |    JOIN norms na ON na.vec_id = d.a
       |    JOIN norms nb ON nb.vec_id = d.o) z
       |  WHERE r = 1),
       |${p}_acn AS (
       |  SELECT node_id, CAST(count(*) AS BIGINT) AS na
       |  FROM ${p}_ado GROUP BY node_id),
       |${p}_fin AS MATERIALIZED (
       |  SELECT node_id, nbr_id, cos, rk,
       |    CASE WHEN rk > 8 THEN 'dropped'
       |         WHEN ad = 1 THEN 'adopted' ELSE 'repair' END AS src
       |  FROM (
       |    SELECT node_id, nbr_id, cos, ad,
       |      row_number() OVER (PARTITION BY node_id
       |        ORDER BY ad ASC, cos DESC, nbr_id ASC) AS rk
       |    FROM (
       |      SELECT s.a AS node_id, s.b AS nbr_id, s.cos, 0 AS ad
       |      FROM ${p}s_sel s JOIN ${p}_acn c ON c.node_id = s.a
       |      WHERE s.rk <= GREATEST(8 - c.na, 0)
       |      UNION ALL
       |      SELECT node_id, nbr_id, cos, 1 AS ad FROM ${p}_ado) u) z2
       |  UNION ALL
       |  SELECT s.a, s.b, s.cos, s.rk, 'repair' AS src
       |  FROM ${p}s_sel s
       |  WHERE s.a NOT IN (SELECT node_id FROM ${p}_acn)),
       |${p}_m AS MATERIALIZED (
       |  SELECT node_id AS a, nbr_id AS b, cos, rk FROM ${p}_fin
       |  WHERE src <> 'dropped'
       |  UNION ALL
       |  SELECT a, b, cos, rk FROM ${p}_keep k
       |  WHERE k.a NOT IN (SELECT a FROM ${p}_tch))""".stripMargin

  private val gxLiveBand = (c: String) => s"$c % 10 <> 4"

  /** The batch delete gate's chain: one delete stage over the
    * serving store at the gate band. */
  private lazy val graphDeleteCtes =
    s"""$servingStoreCtes,
       |${deleteStageCtes("gx", "dg_sel", c => s"$c % 10 = 4")}"""
      .stripMargin

  private lazy val annGraphDeleteSql =
    s"""WITH $vecCtes,
       |$graphDeleteCtes
       |SELECT node_id, nbr_id, rk AS rank, cos AS cosine, src
       |FROM gx_fin""".stripMargin

  /** Post-delete serving twin: merged store = repaired ∪ untouched
    * surviving lists; beam walk with LIVE-band entries; contract
    * rows deleted_served (must be 0) + walk_top10 vs the
    * live-corpus brute truth. */
  private lazy val annGraphDeleteServeSql =
    s"""WITH $vecCtes,
       |$graphDeleteCtes,
       |${beamCtes(3, queryBand = offseedBand, entryBand = gxLiveBand,
          graphRel = "gx_m")},
       |gxt AS MATERIALIZED (
       |  SELECT query_id, nbr_id
       |  FROM (${bruteForceTopSql(offseedBand, gxLiveBand)}) bft),
       |gxq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM gxt)
       |SELECT 'deleted_served' AS variant,
       |  CAST((SELECT count(*) FROM gs_b3
       |        WHERE rk <= 10 AND cand % 10 = 4) AS BIGINT) AS n_hits,
       |  CAST(gxq.nq * 10 AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*) FROM gs_b3
       |        WHERE rk <= 10 AND cand % 10 = 4) AS DOUBLE) /
       |    CAST(gxq.nq * 10 AS DOUBLE) AS recall
       |FROM gxq
       |UNION ALL
       |SELECT 'walk_top10' AS variant,
       |  CAST((SELECT count(*)
       |        FROM (SELECT query_id, cand FROM gs_b3
       |              WHERE rk <= 10) v
       |        JOIN gxt t ON t.query_id = v.query_id
       |          AND t.nbr_id = v.cand) AS BIGINT) AS n_hits,
       |  CAST(gxq.nq * 10 AS BIGINT) AS n_possible,
       |  CAST((SELECT count(*)
       |        FROM (SELECT query_id, cand FROM gs_b3
       |              WHERE rk <= 10) v
       |        JOIN gxt t ON t.query_id = v.query_id
       |          AND t.nbr_id = v.cand) AS DOUBLE) /
       |    CAST(gxq.nq * 10 AS DOUBLE) AS recall
       |FROM gxq""".stripMargin

  private lazy val annGraphSearchSql =
    s"""WITH $vecCtes,
       |$servingStoreCtes,
       |${beamCtes(3, graphRel = "dg_sel")}
       |SELECT query_id, cand AS nbr_id, rk AS rank, cos AS cosine
       |FROM gs_b3 WHERE rk <= 10""".stripMargin

  /** [[graft.queries.PipelineQueries.streamGraphAppend]] twin: the
    * two micro-batch waves unrolled as two sequential append stages
    * (h1 over the banded diversified store gb_sel, h2 over h1's
    * merged graph, with h2's stratified entries drawn from the GROWN
    * corpus — standing ∪ wave 1, exactly what the foreachBatch's
    * corpus store holds when wave 2 arrives). Output is the final
    * persisted graph store. */
  private[queries] lazy val streamGraphAppendSql = {
    val w1Band = (c: String) => s"$c % 20 = 9"
    val w2Band = (c: String) => s"$c % 20 = 19"
    val grownBand =
      (c: String) => s"($c % 10 <> 9 OR $c % 20 = 9)"
    s"""WITH $vecCtes,
       |$bandedStoreCtes,
       |${appendStageCtes("h1", "w1", "gb_sel", w1Band, gaBaseBand)},
       |${appendStageCtes("h2", "w2", "h1_merged", w2Band, grownBand)}
       |SELECT a AS node_id, b AS nbr_id, rk AS rank, cos AS cosine
       |FROM h2_merged""".stripMargin
  }

  /** [[graft.queries.PipelineQueries.streamGraphUpsert]] twin: an
    * APPEND micro-batch (the `%20 = 9` half of the append band) then
    * a DELETE micro-batch (the `%10 = 3` band of the standing
    * corpus) unrolled as one append stage over the banded
    * diversified store followed by one delete stage over its merged
    * output — the full CDC-shaped maintenance loop a deployed store
    * runs. Output is the final persisted graph store. */
  private[queries] lazy val streamGraphUpsertSql = {
    val w1Band = (c: String) => s"$c % 20 = 9"
    val delBand = (c: String) => s"$c % 10 = 3"
    s"""WITH $vecCtes,
       |$bandedStoreCtes,
       |${appendStageCtes("u1", "v1", "gb_sel", w1Band, gaBaseBand)},
       |${deleteStageCtes("x1", "u1_merged", delBand)}
       |SELECT a AS node_id, b AS nbr_id, rk AS rank, cos AS cosine
       |FROM x1_m""".stripMargin
  }

  /** [[annGraphStaleness]] twin: the CDC maintenance composition
    * (one append stage, one delete stage — the streamGraphUpsert
    * chain) with per-edge provenance classes, a FRESH k16→8 rebuild
    * of the final corpus, both walked for the off-seed band against
    * the live brute truth, and the integer-predicate rebuild flag. */
  private lazy val annGraphStalenessSql = {
    val w1Band = (c: String) => s"$c % 20 = 9"
    val delBand = (c: String) => s"$c % 10 = 3"
    val cfBand = (c: String) =>
      s"($c % 10 <> 9 OR $c % 20 = 9) AND $c % 10 <> 3"
    s"""WITH $vecCtes,
       |$bandedStoreCtes,
       |${appendStageCtes("u1", "v1", "gb_sel", w1Band, gaBaseBand)},
       |${deleteStageCtes("x1", "u1_merged", delBand)},
       |st_cls AS MATERIALIZED (
       |  SELECT node_id AS a, nbr_id AS b, cls FROM (
       |    SELECT node_id, nbr_id, src AS cls FROM x1_fin
       |    WHERE src <> 'dropped'
       |    UNION ALL
       |    SELECT k.a AS node_id, k.b AS nbr_id,
       |      CASE WHEN k.a IN (SELECT query_id FROM u1_place)
       |             THEN 'appended'
       |           WHEN k.a IN (SELECT node_id FROM u1_fin)
       |             THEN 'append_updated'
       |           ELSE 'base' END AS cls
       |    FROM x1_keep k
       |    WHERE k.a NOT IN (SELECT a FROM x1_tch)) u),
       |${nnDescentCtes(4, k = 16, band = cfBand, p = "fb")},
       |${occlusionCtes("fz", "fb_l4", 8)},
       |${beamCtes(3, queryBand = offseedBand, entryBand = cfBand,
          p = "sm", graphRel = "st_cls")},
       |${beamCtes(3, queryBand = offseedBand, entryBand = cfBand,
          p = "sf", graphRel = "fz_sel")},
       |st_tot AS (
       |  SELECT CAST(count(*) AS BIGINT) AS total FROM st_cls),
       |st_cnt AS (
       |  SELECT cls, CAST(count(*) AS BIGINT) AS n
       |  FROM st_cls GROUP BY cls),
       |st_tr AS MATERIALIZED (
       |  SELECT query_id, nbr_id
       |  FROM (${bruteForceTopSql(offseedBand, cfBand)}) bft),
       |st_nq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM st_tr),
       |st_mh AS (
       |  SELECT CAST(count(*) AS BIGINT) AS h
       |  FROM (SELECT query_id, cand FROM sm_b3 WHERE rk <= 10) v
       |  JOIN st_tr t ON t.query_id = v.query_id
       |    AND t.nbr_id = v.cand),
       |st_fh AS (
       |  SELECT CAST(count(*) AS BIGINT) AS h
       |  FROM (SELECT query_id, cand FROM sf_b3 WHERE rk <= 10) v
       |  JOIN st_tr t ON t.query_id = v.query_id
       |    AND t.nbr_id = v.cand),
       |st_ad AS (
       |  SELECT CAST(count(*) AS BIGINT) AS na
       |  FROM st_cls WHERE cls = 'adopted')
       |SELECT 'edges_' || c.cls AS variant, c.n AS num,
       |  t.total AS den,
       |  CAST(c.n AS DOUBLE) / CAST(t.total AS DOUBLE) AS ratio
       |FROM st_cnt c, st_tot t
       |UNION ALL
       |SELECT 'walk_maintained' AS variant, m.h AS num,
       |  CAST(q.nq * 10 AS BIGINT) AS den,
       |  CAST(m.h AS DOUBLE) / CAST(q.nq * 10 AS DOUBLE) AS ratio
       |FROM st_mh m, st_nq q
       |UNION ALL
       |SELECT 'walk_fresh' AS variant, f.h AS num,
       |  CAST(q.nq * 10 AS BIGINT) AS den,
       |  CAST(f.h AS DOUBLE) / CAST(q.nq * 10 AS DOUBLE) AS ratio
       |FROM st_fh f, st_nq q
       |UNION ALL
       |SELECT 'rebuild' AS variant,
       |  CAST(CASE WHEN a.na * 50 > t.total
       |              OR (f.h - m.h) * 10 > q.nq * 10
       |         THEN 1 ELSE 0 END AS BIGINT) AS num,
       |  CAST(1 AS BIGINT) AS den,
       |  CAST(CASE WHEN a.na * 50 > t.total
       |              OR (f.h - m.h) * 10 > q.nq * 10
       |         THEN 1 ELSE 0 END AS DOUBLE) AS ratio
       |FROM st_ad a, st_tot t, st_mh m, st_fh f, st_nq q"""
      .stripMargin
  }

  /** Beam-search recall-by-hop twin: the per-hop beam states' top-10
    * counted against the off-seed brute-force truth. */
  private lazy val annGraphSearchRecallSql = {
    def row(name: String, h: Int): String =
      s"""SELECT '$name' AS variant,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM (SELECT query_id, cand FROM gs_b$h WHERE rk <= 10) v
         |   JOIN gsr_t t ON t.query_id = v.query_id
         |     AND t.nbr_id = v.cand) AS n_hits,
         |  CAST(nq * 10 AS BIGINT) AS n_possible,
         |  CAST((SELECT count(*)
         |        FROM (SELECT query_id, cand FROM gs_b$h
         |              WHERE rk <= 10) v
         |        JOIN gsr_t t ON t.query_id = v.query_id
         |          AND t.nbr_id = v.cand)
         |    AS DOUBLE) / CAST(nq * 10 AS DOUBLE) AS recall
         |FROM gsr_nq""".stripMargin
    s"""WITH $vecCtes,
       |$servingStoreCtes,
       |${beamCtes(3, graphRel = "dg_sel")},
       |gsr_t AS MATERIALIZED (
       |  SELECT query_id, nbr_id
       |  FROM (${bruteForceTopSql(offseedBand)})),
       |gsr_nq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM gsr_t)
       |${row("hop1", 1)}
       |UNION ALL
       |${row("hop2", 2)}
       |UNION ALL
       |${row("hop3", 3)}""".stripMargin
  }

  /** Entry-sweep twin: four beam chains over the same nn_l3 graph at
    * entries ∈ {4, 8, 16, 32} (the stratified default entry CTE takes
    * the stride from the `entries` parameter), each top-10 counted
    * against the off-seed brute truth. */
  private lazy val annGraphEntrySweepSql = {
    def row(name: String, p: String): String =
      s"""SELECT '$name' AS variant,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM (SELECT query_id, cand FROM ${p}_b3 WHERE rk <= 10) v
         |   JOIN ges_t t ON t.query_id = v.query_id
         |     AND t.nbr_id = v.cand) AS n_hits,
         |  CAST(nq * 10 AS BIGINT) AS n_possible,
         |  CAST((SELECT count(*)
         |        FROM (SELECT query_id, cand FROM ${p}_b3
         |              WHERE rk <= 10) v
         |        JOIN ges_t t ON t.query_id = v.query_id
         |          AND t.nbr_id = v.cand)
         |    AS DOUBLE) / CAST(nq * 10 AS DOUBLE) AS recall
         |FROM ges_nq""".stripMargin
    s"""WITH $vecCtes,
       |$servingStoreCtes,
       |${beamCtes(3, entries = 4, p = "ge4", graphRel = "dg_sel")},
       |${beamCtes(3, entries = 8, p = "ge8", graphRel = "dg_sel")},
       |${beamCtes(3, entries = 16, p = "ge16", graphRel = "dg_sel")},
       |${beamCtes(3, entries = 32, p = "ge32", graphRel = "dg_sel")},
       |ges_t AS MATERIALIZED (
       |  SELECT query_id, nbr_id
       |  FROM (${bruteForceTopSql(offseedBand)})),
       |ges_nq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM ges_t)
       |${row("e4", "ge4")}
       |UNION ALL
       |${row("e8", "ge8")}
       |UNION ALL
       |${row("e16", "ge16")}
       |UNION ALL
       |${row("e32", "ge32")}""".stripMargin
  }

  /** Diversity-audit twin: the k8 chain, the shared serving-store
    * chain (the k16 build + the occlusion selection ending at
    * dg_sel — ONE definition with the serving oracles, so the audit
    * and the deployed store cannot drift), the rank-8 truncation
    * arm, and three beam chains graded on the off-seed truth. */
  private lazy val annGraphDiversifySql = {
    def row(name: String, p: String): String =
      s"""SELECT '$name' AS variant,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM (SELECT query_id, cand FROM ${p}_b3 WHERE rk <= 10) v
         |   JOIN dva_t t ON t.query_id = v.query_id
         |     AND t.nbr_id = v.cand) AS n_hits,
         |  CAST(nq * 10 AS BIGINT) AS n_possible,
         |  CAST((SELECT count(*)
         |        FROM (SELECT query_id, cand FROM ${p}_b3
         |              WHERE rk <= 10) v
         |        JOIN dva_t t ON t.query_id = v.query_id
         |          AND t.nbr_id = v.cand)
         |    AS DOUBLE) / CAST(nq * 10 AS DOUBLE) AS recall
         |FROM dva_nq""".stripMargin
    s"""WITH $vecCtes,
       |${nnDescentCtes(3)},
       |$servingStoreCtes,
       |dv_t AS MATERIALIZED (
       |  SELECT a, b FROM n16_l4 WHERE rk <= 8),
       |${beamCtes(3, p = "dk8")},
       |${beamCtes(3, p = "dtr", graphRel = "dv_t")},
       |${beamCtes(3, p = "ddv", graphRel = "dg_sel")},
       |dva_t AS MATERIALIZED (
       |  SELECT query_id, nbr_id
       |  FROM (${bruteForceTopSql(offseedBand)})),
       |dva_nq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM dva_t)
       |${row("k8_r3", "dk8")}
       |UNION ALL
       |${row("k16_trunc8", "dtr")}
       |UNION ALL
       |${row("k16_diverse8", "ddv")}""".stripMargin
  }

  /** Hubness twin: in-degree histogram over nn_l3 with a left join
    * so 0-in-degree nodes appear. */
  private lazy val annGraphHubnessSql =
    s"""WITH $vecCtes,
       |${nnDescentCtes(3)},
       |hb_d AS (
       |  SELECT b AS nbr_id, CAST(count(*) AS BIGINT) AS in_deg
       |  FROM nn_l3 GROUP BY b),
       |hb_a AS (
       |  SELECT e.vec_id, coalesce(d.in_deg, 0) AS in_degree
       |  FROM embeddings e LEFT JOIN hb_d d ON d.nbr_id = e.vec_id)
       |SELECT in_degree, CAST(count(*) AS BIGINT) AS n_nodes
       |FROM hb_a GROUP BY 1""".stripMargin

  /** Mutual-kNN SemDeDup twin: cosine-floored mutual edges from
    * nn_l3, recursive min-label reach, survivors by left-anti — the
    * winnowDedupCc shape over the graph substrate. */
  private lazy val embedKnnCcSql =
    s"""WITH RECURSIVE $vecCtes,
       |${nnDescentCtes(3)},
       |kc_s AS (
       |  SELECT a, b FROM nn_l3 WHERE cos >= CAST(0.3 AS DOUBLE)),
       |kc_m AS (
       |  SELECT x.a AS id1, x.b AS id2
       |  FROM kc_s x JOIN kc_s y ON y.a = x.b AND y.b = x.a
       |  WHERE x.a < x.b),
       |kc_edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM kc_m
       |  UNION
       |  SELECT id2 AS src, id1 AS dst FROM kc_m),
       |kc_reach(id, label) AS (
       |  SELECT src, src FROM kc_edges
       |  UNION
       |  SELECT e.src, r.label
       |  FROM kc_edges e JOIN kc_reach r ON r.id = e.dst),
       |kc_compo AS (
       |  SELECT id, min(label) AS component FROM kc_reach GROUP BY id)
       |SELECT vec_id AS id FROM embeddings
       |WHERE vec_id NOT IN
       |  (SELECT id FROM kc_compo WHERE id <> component)""".stripMargin

  private lazy val annNndescentTopkSql =
    s"""WITH $vecCtes,
       |${nnDescentCtes(3)}
       |SELECT a AS node_id, b AS nbr_id, rk AS rank, cos AS cosine
       |FROM nn_l3""".stripMargin

  /** NN-Descent recall-audit twin: the unrolled chain's round-0/1/3
    * lists counted against a self-excluded brute-force top-8 truth
    * over the vec_id < 100 node band. */
  private lazy val annNndescentRecallAuditSql = {
    def row(name: String, list: String): String =
      s"""SELECT '$name' AS variant,
         |  (SELECT CAST(count(*) AS BIGINT) FROM $list v
         |   JOIN nna_t t ON t.query_id = v.a AND t.nbr_id = v.b)
         |    AS n_hits,
         |  CAST(nq * 8 AS BIGINT) AS n_possible,
         |  CAST((SELECT count(*) FROM $list v
         |        JOIN nna_t t ON t.query_id = v.a AND t.nbr_id = v.b)
         |    AS DOUBLE) / CAST(nq * 8 AS DOUBLE) AS recall
         |FROM nna_nq""".stripMargin
    s"""WITH $vecCtes,
       |${nnDescentCtes(3)},
       |nna_d AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i AND q.vec_id < 100
       |  WHERE c.vec_id <> q.vec_id
       |  GROUP BY c.vec_id, q.vec_id),
       |nna_sc AS (
       |  SELECT query_id, nbr_id, dot / (nc.sn * nq.sn) AS cosine
       |  FROM nna_d
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |nna_t AS MATERIALIZED (
       |  SELECT query_id, nbr_id FROM (
       |    SELECT query_id, nbr_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cosine DESC, nbr_id ASC) AS rk
       |    FROM nna_sc) WHERE rk <= 8),
       |nna_nq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM nna_t)
       |${row("ring_init", "nn_l0")}
       |UNION ALL
       |${row("nndescent_r1", "nn_l1")}
       |UNION ALL
       |${row("nndescent_r3", "nn_l3")}""".stripMargin
  }

  /** Parameter-sweep twin: TWO unrolled NN-Descent chains (k = 8 and
    * k = 16, prefixes n8/n16, 4 rounds each — round r is a prefix of
    * the chain, so one chain serves all three round points per k),
    * each list's top-8 prefix counted against the same self-excluded
    * brute-force top-8 truth the recall audit uses. */
  private lazy val annNndescentParamSweepSql = {
    def row(name: String, list: String): String =
      s"""SELECT '$name' AS variant,
         |  (SELECT CAST(count(*) AS BIGINT)
         |   FROM (SELECT a, b FROM $list WHERE rk <= 8) v
         |   JOIN nps_t t ON t.query_id = v.a AND t.nbr_id = v.b)
         |    AS n_hits,
         |  CAST(nq * 8 AS BIGINT) AS n_possible,
         |  CAST((SELECT count(*)
         |        FROM (SELECT a, b FROM $list WHERE rk <= 8) v
         |        JOIN nps_t t ON t.query_id = v.a AND t.nbr_id = v.b)
         |    AS DOUBLE) / CAST(nq * 8 AS DOUBLE) AS recall
         |FROM nps_nq""".stripMargin
    s"""WITH $vecCtes,
       |${nnDescentCtes(4, k = 8, p = "n8")},
       |${nnDescentCtes(4, k = 16, p = "n16")},
       |nps_d AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i AND q.vec_id < 100
       |  WHERE c.vec_id <> q.vec_id
       |  GROUP BY c.vec_id, q.vec_id),
       |nps_sc AS (
       |  SELECT query_id, nbr_id, dot / (nc.sn * nq.sn) AS cosine
       |  FROM nps_d
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |nps_t AS MATERIALIZED (
       |  SELECT query_id, nbr_id FROM (
       |    SELECT query_id, nbr_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY cosine DESC, nbr_id ASC) AS rk
       |    FROM nps_sc) WHERE rk <= 8),
       |nps_nq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM nps_t)
       |${row("k8_r2", "n8_l2")}
       |UNION ALL
       |${row("k8_r3", "n8_l3")}
       |UNION ALL
       |${row("k8_r4", "n8_l4")}
       |UNION ALL
       |${row("k16_r2", "n16_l2")}
       |UNION ALL
       |${row("k16_r3", "n16_l3")}
       |UNION ALL
       |${row("k16_r4", "n16_l4")}""".stripMargin
  }

  /** Encode-append twin: train on the STANDING predicate, encode the
    * full corpus in one pass — equal to the engine's
    * persist-then-append union because encode is per-row against
    * frozen codebooks. */
  private lazy val pqEncodeAppendSql =
    s"""WITH $vecCtes,
       |${pqCtes(2, trainPred = "vec_id % 5 <> 4")}
       |SELECT nbr_id, j, CAST(code AS BIGINT) AS code FROM pqcode"""
      .stripMargin

  /** [[graft.ext.Similarity.opqRotate]] twin ending at `oqy`
    * (vec_id, i, x — rotated components over `comp`): the
    * embed_covariance readout tree for the cells, Dec(28,12)
    * row sums for w = C·1, Householder p = w/‖w‖ − 1/√d, and
    * y = x − (2⟨p,x⟩/⟨p,p⟩)·p with the degenerate-p t=0 guard. */
  private lazy val opqRotateCtes =
    """oqr_q AS (
      |  SELECT vec_id, i,
      |    CAST(floor(x * 1048576.0) AS BIGINT) AS q
      |  FROM comp),
      |oqr_c AS (
      |  SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
      |    CAST(SUM(a.q * b.q) AS BIGINT) AS s_ij,
      |    CAST(SUM(a.q) AS BIGINT) AS s_i,
      |    CAST(SUM(b.q) AS BIGINT) AS s_j
      |  FROM oqr_q a JOIN oqr_q b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY 1, 2),
      |oqr_cov AS (
      |  SELECT i, j,
      |    (CAST(s_ij AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(s_i AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(s_j AS DOUBLE) / CAST(n AS DOUBLE)))
      |      / (1048576.0 * 1048576.0) AS cov
      |  FROM oqr_c),
      |oqr_w AS (
      |  SELECT i, CAST(SUM(CAST(cov AS DECIMAL(28,12))) AS DOUBLE) AS w
      |  FROM (SELECT i, cov FROM oqr_cov
      |        UNION ALL SELECT j AS i, cov FROM oqr_cov WHERE i <> j)
      |  GROUP BY i),
      |oqr_sn AS (
      |  SELECT sqrt(CAST(SUM(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE))
      |    AS sn
      |  FROM oqr_w),
      |oqr_p AS (
      |  SELECT i, w / sn - CAST(1 AS DOUBLE) / sqrt(CAST(64 AS DOUBLE))
      |    AS p
      |  FROM oqr_w, oqr_sn),
      |oqr_pp AS (
      |  SELECT CAST(SUM(CAST(p * p AS DECIMAL(28,12))) AS DOUBLE) AS pp
      |  FROM oqr_p),
      |oqr_pd AS (
      |  SELECT c.vec_id,
      |    CAST(SUM(CAST(p.p * c.x AS DECIMAL(28,12))) AS DOUBLE) AS pd
      |  FROM comp c JOIN oqr_p p ON p.i = c.i
      |  GROUP BY 1),
      |oqr_t AS (
      |  SELECT vec_id, CASE WHEN pp < 1e-12 OR isnan(pp) OR sn < 1e-12
      |      THEN CAST(0 AS DOUBLE)
      |    ELSE CAST(2 AS DOUBLE) * pd / pp END AS t
      |  FROM oqr_pd, oqr_pp, oqr_sn),
      |oqy AS MATERIALIZED (
      |  SELECT c.vec_id, c.i,
      |    CASE WHEN t.t = CAST(0 AS DOUBLE) THEN c.x
      |      ELSE c.x - t.t * p.p END AS x
      |  FROM comp c
      |  JOIN oqr_p p ON p.i = c.i
      |  JOIN oqr_t t ON t.vec_id = c.vec_id)""".stripMargin

  /** OPQ recall twin: raw flat-ADC and rotated flat-ADC candidate
    * stacks against one materialized brute-force truth set (the
    * rotation is orthogonal, so the exact top-10 in rotated space IS
    * the original-space truth). */
  private lazy val annOpqRecallSql = {
    def hits(tag: String, topSql: String): String =
      s"""oqa_$tag AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n_hits
         |  FROM ($topSql) v JOIN oqa_t USING (query_id, nbr_id))"""
        .stripMargin
    def row(name: String, tag: String): String =
      s"""SELECT '$name' AS variant, n_hits,
         |  CAST(nq * 10 AS BIGINT) AS n_possible,
         |  CAST(n_hits AS DOUBLE) / CAST(nq * 10 AS DOUBLE) AS recall
         |FROM oqa_$tag, oqa_nq""".stripMargin
    s"""WITH oqa_t AS MATERIALIZED (
       |  SELECT query_id, nbr_id FROM ($annBruteForceSql)),
       |oqa_nq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM oqa_t),
       |${hits("r", flatPqTopSql())},
       |${hits("o", flatPqTopSql(src = "oqy", extraCtes = opqRotateCtes))}
       |${row("pq_raw", "r")}
       |UNION ALL
       |${row("pq_opq", "o")}""".stripMargin
  }

  /** IVF-PQ sweep twin: seed-cell probing ranks to max(probes); each
    * budget filters its prefix; candidates rank by the integer ADC
    * sum; exact truth reuses the outer `comp`/`norms`. */
  private lazy val annPqProbeSweepSql =
    s"""WITH $ivfAssignCtes,
       |${pqCtes(2)},
       |pw_pr AS (
       |  SELECT vec_id AS query_id, cell_id, r AS pr FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos WHERE vec_id < 10) WHERE r <= 8),
       |pw_ps AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
       |pw_sc AS (
       |  SELECT ps.n_probe, p.query_id, c.nbr_id,
       |    CAST(SUM(adc.a) AS BIGINT) AS score
       |  FROM pw_pr p
       |  JOIN cells c ON c.cell_id = p.cell_id
       |  CROSS JOIN pw_ps ps
       |  JOIN pqcode co ON co.nbr_id = c.nbr_id
       |  JOIN pqadc adc ON adc.query_id = p.query_id
       |    AND adc.j = co.j AND adc.code = co.code
       |  WHERE p.pr <= ps.n_probe
       |  GROUP BY 1, 2, 3),
       |pw_top AS (
       |  SELECT n_probe, query_id, nbr_id FROM (
       |    SELECT n_probe, query_id, nbr_id,
       |      row_number() OVER (PARTITION BY query_id, n_probe
       |                         ORDER BY score DESC, nbr_id ASC) AS r
       |    FROM pw_sc) WHERE r <= 10),
       |pw_d AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i AND q.vec_id < 10
       |  GROUP BY 1, 2),
       |pw_t AS (
       |  SELECT query_id, nbr_id FROM (
       |    SELECT query_id, nbr_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS r
       |    FROM pw_d
       |    JOIN norms nc ON nc.vec_id = nbr_id
       |    JOIN norms nq ON nq.vec_id = query_id) WHERE r <= 10),
       |pw_h AS (
       |  SELECT t.n_probe, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM pw_top t JOIN pw_t USING (query_id, nbr_id)
       |  GROUP BY 1),
       |pw_nq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM pw_t)
       |SELECT CAST(n_probe AS INT) AS n_probe, n_hits,
       |  CAST(nq * 10 AS BIGINT) AS n_possible,
       |  CAST(n_hits AS DOUBLE) / CAST(nq * 10 AS DOUBLE) AS recall
       |FROM pw_h, pw_nq""".stripMargin

  /** Repetition twin: bigrams via range(1, len) (i in 1..len-1);
    * integer counts divided once as doubles at the end. */
  private val textRepetitionSql =
    s"""WITH t AS (SELECT doc_id, $toks AS t FROM documents),
       |base AS (SELECT doc_id, length(t) AS n,
       |         length(list_distinct(t)) AS nd FROM t),
       |g AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
       |      FROM t, LATERAL (SELECT unnest(range(1, greatest(length(t), 1))) AS i)),
       |gs AS (SELECT doc_id, max(c) AS maxc, sum(c) AS totc FROM (
       |       SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
       |       GROUP BY 1)
       |SELECT b.doc_id,
       |  CASE WHEN n > 0
       |    THEN CAST(1 AS DOUBLE) - CAST(nd AS DOUBLE) / CAST(n AS DOUBLE)
       |    ELSE 0.0 END AS dup_token_ratio,
       |  CASE WHEN totc > 0
       |    THEN CAST(maxc AS DOUBLE) / CAST(totc AS DOUBLE)
       |    ELSE 0.0 END AS top_bigram_ratio
       |FROM base b LEFT JOIN gs ON gs.doc_id = b.doc_id""".stripMargin

  /** Decontamination twin: same 3-gram shape as [[gramsCte]], split
    * corpus/benchmark on the doc_id % 97 sentinel, >= 3 distinct
    * shared grams flags a doc. */
  private val docDecontaminateSql =
    s"""WITH cg AS (
       |  SELECT DISTINCT doc_id AS id,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
       |  FROM (SELECT doc_id, $toks AS t FROM documents WHERE doc_id % 97 <> 0),
       |       LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1))) AS i)),
       |bg AS (
       |  SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
       |  FROM (SELECT $toks AS t FROM documents WHERE doc_id % 97 = 0),
       |       LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1))) AS i)),
       |flagged AS (
       |  SELECT id FROM cg JOIN bg ON bg.gram = cg.gram
       |  GROUP BY id HAVING count(*) >= 3)
       |SELECT doc_id FROM documents
       |WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT id FROM flagged)""".stripMargin

  /** Quantization twin: same max|x| scale over the widened-to-double
    * component view, same round-half-away-from-zero (DuckDB `round`
    * == Spark/kernel BigDecimal HALF_UP on ties). */
  private lazy val annQuantizedRecallSql =
    s"""SELECT bf.query_id,
       |  CAST(SUM(CASE WHEN qz.nbr_id IS NULL THEN 0 ELSE 1 END)
       |    AS BIGINT) AS n_overlap,
       |  CAST(SUM(CASE WHEN qz.nbr_id IS NULL THEN 0 ELSE 1 END)
       |    AS DOUBLE) / 10.0 AS recall
       |FROM ($annBruteForceSql) bf
       |LEFT JOIN ($annQuantizedTopKSql) qz
       |  ON bf.query_id = qz.query_id AND bf.nbr_id = qz.nbr_id
       |GROUP BY bf.query_id""".stripMargin

  private lazy val annQuantizedTopKSql =
    s"""WITH $vecCtes,
       |qm AS (SELECT vec_id, max(abs(x)) AS m FROM comp GROUP BY vec_id),
       |qv AS (
       |  SELECT c.vec_id, c.i,
       |    CASE WHEN qm.m = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(round(c.x * 127 / qm.m) AS BIGINT) END AS q
       |  FROM comp c JOIN qm ON qm.vec_id = c.vec_id),
       |qd AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(SUM(c.q * q.q) AS BIGINT) AS score
       |  FROM qv c JOIN qv q ON q.i = c.i AND q.vec_id < 10
       |  GROUP BY 1, 2),
       |qr AS (
       |  SELECT query_id, nbr_id, score,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY score DESC, nbr_id ASC) AS rank
       |  FROM qd)
       |SELECT query_id, nbr_id, rank, score FROM qr WHERE rank <= 10""".stripMargin

  /** Shared 1-bit quantization CTE chain (appended after `$vecCtes`):
    * per-dim exact-decimal thresholds, sign-bit packing into two
    * 32-bit half-words, Hamming scoring + ranking over the seed query
    * band — [[graft.ext.Similarity.binarySignWords]] /
    * `hammingWords` algebra verbatim (bit rule `x·n > Σ`, never a
    * mean division). */
  /** Threshold + packed-word chain at a PREFIX with independent
    * threshold-training and encode bands (over `comp`'s vec_id) —
    * instantiable twice in one statement for the frozen-vs-retrained
    * append audit. */
  private def bitqWordCtes(p: String, thrBand: String = "TRUE",
      encBand: String = "TRUE"): String =
    s"""${p}d AS (
      |  SELECT i, CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) AS s,
      |         COUNT(*) AS n
      |  FROM comp WHERE $thrBand GROUP BY i),
      |${p}w AS (
      |  SELECT c.vec_id,
      |    CAST(SUM(CASE WHEN c.i < 32 AND c.x * d.n > d.s
      |      THEN (CAST(1 AS BIGINT) << CAST(c.i AS INT)) ELSE 0 END)
      |      AS BIGINT) AS w0,
      |    CAST(SUM(CASE WHEN c.i >= 32 AND c.x * d.n > d.s
      |      THEN (CAST(1 AS BIGINT) << CAST(c.i - 32 AS INT)) ELSE 0 END)
      |      AS BIGINT) AS w1
      |  FROM comp c JOIN ${p}d d ON d.i = c.i
      |  WHERE $encBand
      |  GROUP BY c.vec_id)""".stripMargin

  private lazy val bitqCtes =
    s"""${bitqWordCtes("bq")},
      |bqh AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
      |    CAST(bit_count(xor(c.w0, q.w0)) + bit_count(xor(c.w1, q.w1))
      |      AS BIGINT) AS hamming
      |  FROM bqw c CROSS JOIN bqw q
      |  WHERE q.vec_id < 10),
      |bqr AS (
      |  SELECT query_id, nbr_id, hamming,
      |    row_number() OVER (PARTITION BY query_id
      |                       ORDER BY hamming ASC, nbr_id ASC) AS rank
      |  FROM bqh)""".stripMargin

  private lazy val annBitqAppendDriftSql =
    s"""WITH $vecCtes,
       |${bitqWordCtes("fz", thrBand = "vec_id % 10 <> 9",
          encBand = "vec_id % 10 = 9")},
       |${bitqWordCtes("rt", encBand = "vec_id % 10 = 9")}
       |SELECT f.vec_id, f.w0, f.w1,
       |  CAST(bit_count(xor(f.w0, r.w0)) + bit_count(xor(f.w1, r.w1))
       |    AS BIGINT) AS flipped_bits
       |FROM fzw f JOIN rtw r ON r.vec_id = f.vec_id""".stripMargin

  private lazy val annBitqTopKSql =
    s"""WITH $vecCtes,
       |$bitqCtes
       |SELECT query_id, nbr_id, rank, hamming FROM bqr WHERE rank <= 10"""
      .stripMargin

  private lazy val annBitqRerankSql =
    s"""WITH $vecCtes,
       |$bitqCtes,
       |bqs AS (SELECT query_id, nbr_id FROM bqr WHERE rank <= 50),
       |rrd AS (
       |  SELECT s.query_id, s.nbr_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM bqs s
       |  JOIN comp c ON c.vec_id = s.nbr_id
       |  JOIN comp q ON q.vec_id = s.query_id AND q.i = c.i
       |  GROUP BY s.query_id, s.nbr_id),
       |rrs AS (
       |  SELECT query_id, nbr_id, dot / (nc.sn * nq.sn) AS cosine
       |  FROM rrd
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |rrr AS (
       |  SELECT query_id, nbr_id, cosine,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cosine DESC, nbr_id ASC) AS rank
       |  FROM rrs)
       |SELECT query_id, nbr_id, rank, cosine FROM rrr WHERE rank <= 10"""
      .stripMargin

  /** Depth-sweep twin: one Hamming ranking (bqr), four rank cuts,
    * each rerank chain sw{d}_* MATERIALIZED, recall rows against one
    * materialized brute-force truth. */
  private lazy val annBitqShortlistSweepSql = {
    val depths = Seq(10, 25, 50, 100)
    def chain(d: Int): String =
      s"""sw${d}_s AS (
         |  SELECT query_id, nbr_id FROM bqr WHERE rank <= $d),
         |sw${d}_d AS (
         |  SELECT s.query_id, s.nbr_id,
         |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE)
         |      AS dot
         |  FROM sw${d}_s s
         |  JOIN comp c ON c.vec_id = s.nbr_id
         |  JOIN comp q ON q.vec_id = s.query_id AND q.i = c.i
         |  GROUP BY s.query_id, s.nbr_id),
         |sw${d}_r AS MATERIALIZED (
         |  SELECT query_id, nbr_id FROM (
         |    SELECT d.query_id, d.nbr_id,
         |      row_number() OVER (PARTITION BY d.query_id
         |        ORDER BY d.dot / (nc.sn * nq.sn) DESC,
         |                 d.nbr_id ASC) AS rk
         |    FROM sw${d}_d d
         |    JOIN norms nc ON nc.vec_id = d.nbr_id
         |    JOIN norms nq ON nq.vec_id = d.query_id) t
         |  WHERE rk <= 10)""".stripMargin
    def row(d: Int): String =
      s"""SELECT 'short$d' AS variant,
         |  CAST((SELECT count(*) FROM sw${d}_r v JOIN swt t
         |        ON t.query_id = v.query_id AND t.nbr_id = v.nbr_id)
         |    AS BIGINT) AS n_hits,
         |  CAST(swq.nq * 10 AS BIGINT) AS n_possible,
         |  CAST((SELECT count(*) FROM sw${d}_r v JOIN swt t
         |        ON t.query_id = v.query_id AND t.nbr_id = v.nbr_id)
         |    AS DOUBLE) / CAST(swq.nq * 10 AS DOUBLE) AS recall
         |FROM swq""".stripMargin
    s"""WITH $vecCtes,
       |$bitqCtes,
       |${depths.map(chain).mkString(",\n")},
       |swt AS MATERIALIZED (
       |  SELECT query_id, nbr_id FROM ($annBruteForceSql) bft),
       |swq AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq
       |  FROM swt)
       |${depths.map(row).mkString("\nUNION ALL\n")}""".stripMargin
  }

  private lazy val annBitqRecallAuditSql =
    s"""WITH bf AS ($annBruteForceSql),
       |ham AS ($annBitqTopKSql),
       |rr AS ($annBitqRerankSql),
       |nq AS (SELECT count(DISTINCT query_id) AS n_queries FROM bf)
       |SELECT 'hamming' AS method, nq.n_queries,
       |  CAST((SELECT count(*) FROM bf b JOIN ham a
       |        ON a.query_id = b.query_id AND a.nbr_id = b.nbr_id)
       |    AS BIGINT) AS sum_hits,
       |  CAST((SELECT count(*) FROM bf b JOIN ham a
       |        ON a.query_id = b.query_id AND a.nbr_id = b.nbr_id)
       |    AS DOUBLE) / CAST(nq.n_queries * 10 AS DOUBLE) AS recall
       |FROM nq
       |UNION ALL
       |SELECT 'rerank' AS method, nq.n_queries,
       |  CAST((SELECT count(*) FROM bf b JOIN rr a
       |        ON a.query_id = b.query_id AND a.nbr_id = b.nbr_id)
       |    AS BIGINT) AS sum_hits,
       |  CAST((SELECT count(*) FROM bf b JOIN rr a
       |        ON a.query_id = b.query_id AND a.nbr_id = b.nbr_id)
       |    AS DOUBLE) / CAST(nq.n_queries * 10 AS DOUBLE) AS recall
       |FROM nq""".stripMargin

  private val embedQuantizeSql =
    s"""WITH $vecCtes,
       |m AS (SELECT vec_id, max(abs(x)) AS m FROM comp GROUP BY vec_id)
       |SELECT e.vec_id,
       |  array_to_string(list_transform(e.embedding, v ->
       |    CAST(round(CAST(v AS DOUBLE) * 127 / m.m) AS BIGINT)), ',') AS qcsv
       |FROM embeddings e JOIN m ON m.vec_id = e.vec_id""".stripMargin

  /** Shared LSH-pair CTE chain ending in `cos` (verified embedding
    * near-dup pairs at cosine >= 0.2). 2 tables x 8 planes x 64 dims —
    * constants in lockstep with embedNearDupLsh's call (numTables=2,
    * numPlanes=8, cap=1000). Feeds both the pair gate and the
    * semantic-dedup CC gate. */
  private val embedPairCtes = {
    val weightRows = (for (j <- 0 until 16; i <- 0 until 64)
      yield s"($j,$i,${Similarity.planeWeight(j, i)})").mkString(",")
    s"""$vecCtes,
       |w(j, i, wt) AS (VALUES $weightRows),
       |signs AS (
       |  SELECT c.vec_id, w.j,
       |    sum(CAST(c.x * w.wt AS DECIMAL(28,12))) >= 0 AS pos
       |  FROM comp c JOIN w ON w.i = c.i
       |  GROUP BY c.vec_id, w.j),
       |buckets AS (
       |  SELECT vec_id, j // 8 AS tbl,
       |    sum(CASE WHEN pos THEN 1 << (j % 8) ELSE 0 END) AS bucket
       |  FROM signs GROUP BY vec_id, j // 8),
       |sized AS (
       |  SELECT tbl, bucket FROM buckets
       |  GROUP BY tbl, bucket HAVING count(*) <= 1000),
       |pairs AS (
       |  SELECT DISTINCT x.vec_id AS id1, y.vec_id AS id2
       |  FROM buckets x
       |  JOIN sized s ON s.tbl = x.tbl AND s.bucket = x.bucket
       |  JOIN buckets y
       |    ON x.tbl = y.tbl AND x.bucket = y.bucket AND x.vec_id < y.vec_id),
       |dots AS (
       |  SELECT p.id1, p.id2,
       |    CAST(sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM pairs p
       |  JOIN comp a ON a.vec_id = p.id1
       |  JOIN comp b ON b.vec_id = p.id2 AND b.i = a.i
       |  GROUP BY p.id1, p.id2),
       |cos AS (
       |  SELECT id1, id2, dot / (n1.sn * n2.sn) AS cosine
       |  FROM dots
       |  JOIN norms n1 ON n1.vec_id = id1
       |  JOIN norms n2 ON n2.vec_id = id2
       |  WHERE dot / (n1.sn * n2.sn) >= 0.2)""".stripMargin
  }

  // triangle algebra over the same cosine pair graph: canonical a<b<c
  // enumeration (e1(a,b) ⋈ e2(b,c) ⋈ closing e3(a,c)) counts each
  // triangle once; lcc literals CAST AS DOUBLE (DuckDB numeric
  // literals are DECIMAL — SKILL.md)
  private val graphTrianglesSql =
    s"""WITH $embedPairCtes,
       |edges AS (
       |  SELECT DISTINCT least(id1, id2) AS src, greatest(id1, id2) AS dst
       |  FROM cos WHERE id1 <> id2),
       |deg AS (
       |  SELECT id, count(*) AS degree FROM (
       |    SELECT src AS id FROM edges
       |    UNION ALL SELECT dst AS id FROM edges) u
       |  GROUP BY id),
       |tri AS (
       |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e2.src = e1.dst
       |  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
       |pv AS (
       |  SELECT id, count(*) AS tri_cnt FROM (
       |    SELECT a AS id FROM tri
       |    UNION ALL SELECT b AS id FROM tri
       |    UNION ALL SELECT c AS id FROM tri) t
       |  GROUP BY id)
       |SELECT d.id, d.degree,
       |  COALESCE(pv.tri_cnt, 0) AS tri_cnt,
       |  CASE WHEN d.degree > 1
       |    THEN CAST(2.0 AS DOUBLE) * CAST(COALESCE(pv.tri_cnt, 0) AS DOUBLE)
       |      / CAST(d.degree * (d.degree - 1) AS DOUBLE)
       |    ELSE CAST(0.0 AS DOUBLE) END AS lcc
       |FROM deg d LEFT JOIN pv ON pv.id = d.id""".stripMargin

  // the IVF top-k candidate chain with the cross-label filter spliced
  // in before ranking — probes/cells verbatim from annIvfTopKSql
  private val annHardNegativesIvfSql =
    s"""WITH $ivfAssignCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos WHERE vec_id < 10) WHERE r <= 4),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |cand AS (
       |  SELECT p.query_id, c.nbr_id
       |  FROM probes p JOIN cells c ON c.cell_id = p.cell_id),
       |cfilt AS (
       |  SELECT cand.query_id, ql.label AS query_label,
       |    cand.nbr_id, nl.label AS nbr_label
       |  FROM cand
       |  JOIN lab nl ON nl.vec_id = cand.nbr_id
       |  JOIN lab ql ON ql.vec_id = cand.query_id
       |  WHERE nl.label <> ql.label),
       |dots AS (
       |  SELECT f.query_id, f.query_label, f.nbr_id, f.nbr_label,
       |    CAST(sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM cfilt f
       |  JOIN comp a ON a.vec_id = f.nbr_id
       |  JOIN comp b ON b.vec_id = f.query_id AND b.i = a.i
       |  GROUP BY f.query_id, f.query_label, f.nbr_id, f.nbr_label),
       |ranked AS (
       |  SELECT query_id, query_label, nbr_id, nbr_label,
       |    dot / (nc.sn * nq.sn) AS cosine,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |  FROM dots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id)
       |SELECT query_id, query_label, nbr_id, nbr_label, rank, cosine
       |FROM ranked WHERE rank <= 10""".stripMargin

  // exact per-(label, half, i) decimal component sums -> doubles ->
  // per-term products re-folded exactly; CASE guards zero norms
  private lazy val dedupEvidenceSql =
    s"""WITH $docDedupCtes,
       |ev_all AS (
       |  SELECT DISTINCT sub.doc_id AS id,
       |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
       |  FROM (SELECT doc_id, $toks AS t FROM documents) sub,
       |       LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1))) AS i)),
       |ev_df AS (SELECT gram, count(*) AS dfr FROM ev_all GROUP BY gram),
       |ev_pg AS (
       |  SELECT v.id1, v.id2, ga.gram FROM verified v
       |  JOIN grams ga ON ga.id = v.id1
       |  JOIN grams gb ON gb.id = v.id2 AND gb.gram = ga.gram),
       |ev_r AS (
       |  SELECT id1, id2, gram, dfr,
       |    row_number() OVER (PARTITION BY id1, id2
       |      ORDER BY dfr, gram) AS rk,
       |    count(*) OVER (PARTITION BY id1, id2) AS n_shared
       |  FROM ev_pg JOIN ev_df USING (gram))
       |SELECT id1, id2,
       |  string_agg(gram, ' | ' ORDER BY dfr, gram)
       |    FILTER (WHERE rk <= 3) AS evidence,
       |  CAST(max(n_shared) AS BIGINT) AS n_shared
       |FROM ev_r GROUP BY id1, id2""".stripMargin

  /** Per-half marker scores inlined from the same LangMarkers list
    * the Spark expression compiles from. */
  private lazy val langCodeSwitchCtes = {
    def scoreExprs(tl: String, pfx: String) =
      graft.functions.TextFunctions.LangMarkers.map { case (lang, ms) =>
        val list = ms.map(m => s"'$m'").mkString(", ")
        lang -> s"len(list_filter($tl, t -> lower(t) IN ($list)))"
      }.map { case (l, e) => s"  $e AS ${pfx}_$l" }
    def guess(pfx: String) = {
      val langs = graft.functions.TextFunctions.LangMarkers.map(_._1)
      val best = langs.map(l => s"${pfx}_$l")
        .reduceRight((a, b) => s"greatest($a, $b)")
      langs.reverse.foldLeft("'und'") { case (els, l) =>
        s"CASE WHEN ${pfx}_$l = $best AND ${pfx}_$l > 0 " +
          s"THEN '$l' ELSE $els END"
      }
    }
    val aCols = scoreExprs("t1", "a").mkString(",\n")
    val bCols = scoreExprs("t2", "b").mkString(",\n")
    s"""cs_t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents),
       |cs_h AS (
       |  SELECT doc_id,
       |    t[1:CAST((len(t) + 1) // 2 AS INT)] AS t1,
       |    t[CAST((len(t) + 1) // 2 AS INT) + 1:CAST(len(t) AS INT)] AS t2
       |  FROM cs_t),
       |cs_s AS (
       |SELECT doc_id,
       |$aCols,
       |$bCols
       |FROM cs_h),
       |cs_m AS (
       |  SELECT ${guess("a")} AS lang_a, ${guess("b")} AS lang_b,
       |    CAST(count(*) AS BIGINT) AS n_docs
       |  FROM cs_s GROUP BY 1, 2)""".stripMargin
  }

  private lazy val langCodeSwitchSql =
    s"""WITH $langCodeSwitchCtes
       |SELECT lang_a, lang_b, n_docs FROM cs_m""".stripMargin

  // mirrors labelerKappa: po/pe computed ONCE in a CTE layer and
  // reused (same double values feed the kappa tree on both engines);
  // inner marginal join is exact (a lang absent on one side
  // contributes zero to pe)
  private lazy val labelerKappaSql =
    s"""WITH $langCodeSwitchCtes,
       |ka_one AS (
       |  SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN lang_a = lang_b THEN n_docs ELSE 0 END)
       |      AS BIGINT) AS n_agree
       |  FROM cs_m),
       |ka_r AS (
       |  SELECT lang_a AS l, CAST(SUM(n_docs) AS BIGINT) AS ra
       |  FROM cs_m GROUP BY 1),
       |ka_c AS (
       |  SELECT lang_b AS l, CAST(SUM(n_docs) AS BIGINT) AS cb
       |  FROM cs_m GROUP BY 1),
       |ka_p AS (
       |  SELECT CAST(SUM(ra * cb) AS BIGINT) AS pe_num
       |  FROM ka_r JOIN ka_c USING (l)),
       |ka_d AS (
       |  SELECT n, n_agree,
       |    CAST(n_agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
       |    CAST(pe_num AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe
       |  FROM ka_one, ka_p)
       |SELECT n, n_agree, po, pe,
       |  CASE WHEN pe < CAST(1.0 AS DOUBLE)
       |    THEN (po - pe) / (CAST(1.0 AS DOUBLE) - pe) END AS kappa
       |FROM ka_d""".stripMargin

  // mirrors spearmanCorr: same (value, doc_id) rank order, integer
  // sum of squared rank differences, one closing divide
  private val spearmanCorrSql =
    """WITH sp_b AS (
      |  SELECT doc_id, CAST(length(text) AS BIGINT) AS x,
      |    CAST(length(regexp_extract_all(text,
      |      '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS y
      |  FROM documents),
      |sp_r AS (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY x, doc_id) - 1 AS rx,
      |    row_number() OVER (ORDER BY y, doc_id) - 1 AS ry
      |  FROM sp_b),
      |sp_a AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
      |  FROM sp_r)
      |SELECT n, sum_d2,
      |  CAST(1.0 AS DOUBLE) - CAST(6 * sum_d2 AS DOUBLE)
      |    / CAST(n * (n * n - 1) AS DOUBLE) AS rho
      |FROM sp_a""".stripMargin

  // mirrors ksDrift: same scaled CDF gap (cum_a*n_b - cum_b*n_a),
  // same (gap desc, v asc) argmax, one closing divide
  private val ksDriftSql =
    s"""WITH ks_b AS (
       |  SELECT doc_id % 2 AS half, CAST(length($toks) AS BIGINT) AS v
       |  FROM documents),
       |ks_c AS (
       |  SELECT v,
       |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ca,
       |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS cb
       |  FROM ks_b GROUP BY v),
       |ks_cum AS (
       |  SELECT v,
       |    SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
       |    SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
       |  FROM ks_c),
       |ks_t AS (
       |  SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
       |    CAST(SUM(cb) AS BIGINT) AS n_b
       |  FROM ks_c)
       |SELECT n_a, n_b, CAST(v AS BIGINT) AS v_at_max,
       |  CAST(abs(cum_a * n_b - cum_b * n_a) AS BIGINT) AS d_scaled,
       |  CAST(abs(cum_a * n_b - cum_b * n_a) AS DOUBLE)
       |    / CAST(n_a * n_b AS DOUBLE) AS ks
       |FROM ks_cum, ks_t
       |ORDER BY abs(cum_a * n_b - cum_b * n_a) DESC, v
       |LIMIT 1""".stripMargin

  private val embedAnisotropySql =
    """WITH an_comp AS (
      |  SELECT e.label AS lbl, i,
      |    CAST(e.embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
      |  FROM embeddings e, LATERAL (SELECT unnest(range(0, 64)) AS i)),
      |an_ls AS (
      |  SELECT lbl, i, SUM(CAST(x AS DECIMAL(28,12))) AS s
      |  FROM an_comp GROUP BY 1, 2),
      |an_lsd AS (
      |  SELECT lbl, i,
      |    CAST(s AS DOUBLE) / CAST(1024.0 AS DOUBLE) AS sd
      |  FROM an_ls),
      |an_g AS (
      |  SELECT i, CAST(SUM(s) AS DOUBLE) / CAST(1024.0 AS DOUBLE) AS gd
      |  FROM an_ls GROUP BY i),
      |an_agg AS (
      |  SELECT lbl,
      |    SUM(CAST(sd * gd AS DECIMAL(28,12))) AS dot,
      |    SUM(CAST(sd * sd AS DECIMAL(28,12))) AS nl,
      |    SUM(CAST(gd * gd AS DECIMAL(28,12))) AS ng
      |  FROM an_lsd JOIN an_g USING (i) GROUP BY 1)
      |SELECT lbl AS label,
      |  CASE WHEN nl > 0 AND ng > 0 THEN
      |    CAST(dot AS DOUBLE)
      |      / (sqrt(CAST(nl AS DOUBLE)) * sqrt(CAST(ng AS DOUBLE)))
      |  END AS align_cosine
      |FROM an_agg""".stripMargin

  // mirrors Similarity.dimVarianceAudit: floor(x·2^20) is an exact
  // power-of-two rescale of the float32 (same integer on both
  // engines), BIGINT sums are order-independent and < 2^53, readout
  // is one fixed IEEE divide/multiply tree repeated for is_dead
  private val embedDimVarianceSql =
    """WITH dv_comp AS (
      |  SELECT i, CAST(e.embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
      |  FROM embeddings e, LATERAL (SELECT unnest(range(0, 64)) AS i)),
      |dv_q AS (
      |  SELECT i, x, CAST(floor(x * 1048576.0) AS BIGINT) AS q
      |  FROM dv_comp),
      |dv_agg AS (
      |  SELECT i, COUNT(*) AS n, SUM(q) AS s1, SUM(q * q) AS s2,
      |    MIN(x) AS x_min, MAX(x) AS x_max
      |  FROM dv_q GROUP BY i)
      |SELECT CAST(i AS BIGINT) AS i, n,
      |  CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1048576.0 AS mean,
      |  (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
      |    / (1048576.0 * 1048576.0) AS variance,
      |  x_min, x_max,
      |  ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
      |    - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
      |    / (1048576.0 * 1048576.0)) < 0.000001 AS is_dead
      |FROM dv_agg""".stripMargin

  // mirrors Similarity.covarianceMatrix: same floor(x*2^20) quanta,
  // exact BIGINT pair sums, same fixed readout tree
  private val embedCovarianceSql =
    """WITH cv_c AS (
      |  SELECT e.vec_id AS vid, i,
      |    CAST(floor(CAST(e.embedding[CAST(i AS INT) + 1] AS DOUBLE)
      |      * 1048576.0) AS BIGINT) AS q
      |  FROM embeddings e, LATERAL (SELECT unnest(range(0, 64)) AS i)),
      |cv_p AS (
      |  SELECT a.i AS i, b.i AS j, COUNT(*) AS n,
      |    CAST(SUM(a.q * b.q) AS BIGINT) AS s_ij,
      |    CAST(SUM(a.q) AS BIGINT) AS s_i,
      |    CAST(SUM(b.q) AS BIGINT) AS s_j
      |  FROM cv_c a JOIN cv_c b ON a.vid = b.vid AND a.i <= b.i
      |  GROUP BY 1, 2)
      |SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j, n,
      |  (CAST(s_ij AS DOUBLE) / CAST(n AS DOUBLE)
      |    - (CAST(s_i AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(s_j AS DOUBLE) / CAST(n AS DOUBLE)))
      |    / (1048576.0 * 1048576.0) AS cov
      |FROM cv_p""".stripMargin

  private val embedDriftSql =
    """WITH comp2 AS (
      |  SELECT e.label AS lbl, e.vec_id % 2 AS half, i,
      |    CAST(e.embedding[CAST(i AS INT) + 1] AS DOUBLE) AS x
      |  FROM embeddings e, LATERAL (SELECT unnest(range(0, 64)) AS i)),
      |sums AS (
      |  SELECT lbl, half, i,
      |    CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
      |      / CAST(1024.0 AS DOUBLE) AS sd
      |  FROM comp2 GROUP BY 1, 2, 3),
      |j AS (
      |  SELECT a.lbl, a.i, a.sd AS sa, b.sd AS sb
      |  FROM sums a JOIN sums b
      |    ON a.lbl = b.lbl AND a.i = b.i AND a.half = 0 AND b.half = 1),
      |agg AS (
      |  SELECT lbl,
      |    SUM(CAST(sa * sb AS DECIMAL(28,12))) AS dot,
      |    SUM(CAST(sa * sa AS DECIMAL(28,12))) AS na,
      |    SUM(CAST(sb * sb AS DECIMAL(28,12))) AS nb
      |  FROM j GROUP BY 1)
      |SELECT lbl AS label,
      |  CASE WHEN na > 0 AND nb > 0 THEN
      |    CAST(dot AS DOUBLE)
      |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
      |  END AS centroid_cosine
      |FROM agg""".stripMargin

  // brute + IVF rankings side by side; discounts 2520//i exact
  // BIGINTs (2520 = lcm 1..10), nDCG = one IEEE divide at the end
  private val annRankingEvalSql =
    s"""WITH $ivfAssignCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos WHERE vec_id < 10) WHERE r <= 4),
       |cand AS (
       |  SELECT p.query_id, c.nbr_id
       |  FROM probes p JOIN cells c ON c.cell_id = p.cell_id),
       |idots AS (
       |  SELECT cand.query_id, cand.nbr_id,
       |    CAST(sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM cand
       |  JOIN comp a ON a.vec_id = cand.nbr_id
       |  JOIN comp b ON b.vec_id = cand.query_id AND b.i = a.i
       |  GROUP BY cand.query_id, cand.nbr_id),
       |iranked AS (
       |  SELECT query_id, nbr_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |  FROM idots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |ivfr AS (
       |  SELECT query_id, nbr_id, CAST(2520 // rank AS BIGINT) AS disc
       |  FROM iranked WHERE rank <= 10),
       |bdots AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i AND q.vec_id < 10
       |  GROUP BY c.vec_id, q.vec_id),
       |branked AS (
       |  SELECT query_id, nbr_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |  FROM bdots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |brute AS (
       |  SELECT query_id, nbr_id, CAST(11 - rank AS BIGINT) AS rel
       |  FROM branked WHERE rank <= 10),
       |dcg AS (
       |  SELECT i.query_id,
       |    CAST(SUM(COALESCE(b.rel, 0) * i.disc) AS BIGINT) AS dcg_scaled
       |  FROM ivfr i LEFT JOIN brute b
       |    ON b.query_id = i.query_id AND b.nbr_id = i.nbr_id
       |  GROUP BY 1),
       |idcg AS (
       |  SELECT query_id,
       |    CAST(SUM(rel * CAST(2520 // (11 - rel) AS BIGINT)) AS BIGINT)
       |      AS idcg_scaled
       |  FROM brute GROUP BY 1)
       |SELECT d.query_id, d.dcg_scaled, g.idcg_scaled,
       |  CAST(d.dcg_scaled AS DOUBLE) / CAST(g.idcg_scaled AS DOUBLE)
       |    AS ndcg
       |FROM dcg d JOIN idcg g ON g.query_id = d.query_id""".stripMargin

  // probe ranks computed once to max(n_probe); each budget filters a
  // prefix; truth = the brute ranking; recall = one divide at the end
  private val annProbeSweepSql =
    s"""WITH $ivfAssignCtes,
       |pr AS (
       |  SELECT vec_id AS query_id, cell_id, r AS pr FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos WHERE vec_id < 10) WHERE r <= 8),
       |probeset(n_probe) AS (VALUES (1), (2), (4), (8)),
       |cand AS (
       |  SELECT p.query_id, c.nbr_id, p.pr
       |  FROM pr p JOIN cells c ON c.cell_id = p.cell_id),
       |cd AS (
       |  SELECT ps.n_probe, cand.query_id, cand.nbr_id
       |  FROM cand, probeset ps WHERE cand.pr <= ps.n_probe),
       |sdots AS (
       |  SELECT cd.n_probe, cd.query_id, cd.nbr_id,
       |    CAST(sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM cd
       |  JOIN comp a ON a.vec_id = cd.nbr_id
       |  JOIN comp b ON b.vec_id = cd.query_id AND b.i = a.i
       |  GROUP BY cd.n_probe, cd.query_id, cd.nbr_id),
       |sranked AS (
       |  SELECT n_probe, query_id, nbr_id,
       |    row_number() OVER (PARTITION BY n_probe, query_id
       |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |  FROM sdots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |stopk AS (
       |  SELECT n_probe, query_id, nbr_id FROM sranked WHERE rank <= 10),
       |bdots AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i AND q.vec_id < 10
       |  GROUP BY c.vec_id, q.vec_id),
       |branked AS (
       |  SELECT query_id, nbr_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |  FROM bdots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |truth AS (
       |  SELECT query_id, nbr_id FROM branked WHERE rank <= 10),
       |hits AS (
       |  SELECT t.n_probe, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM stopk t JOIN truth u
       |    ON u.query_id = t.query_id AND u.nbr_id = t.nbr_id
       |  GROUP BY 1),
       |nqr AS (
       |  SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS nq FROM truth)
       |SELECT h.n_probe, h.n_hits,
       |  nqr.nq * 10 AS n_possible,
       |  CAST(h.n_hits AS DOUBLE) / CAST(nqr.nq * 10 AS DOUBLE) AS recall
       |FROM hits h, nqr""".stripMargin

  // adjacency in both directions, one self-join, distinct reach set
  private val graphTwoHopSql =
    s"""WITH $embedPairCtes,
       |edges AS (
       |  SELECT DISTINCT least(id1, id2) AS src, greatest(id1, id2) AS dst
       |  FROM cos WHERE id1 <> id2),
       |adj AS (
       |  SELECT src AS u, dst AS v FROM edges
       |  UNION ALL SELECT dst AS u, src AS v FROM edges),
       |deg AS (SELECT u AS id, count(*) AS degree FROM adj GROUP BY u),
       |two AS (
       |  SELECT a.u, b.v FROM adj a JOIN adj b ON b.u = a.v
       |  JOIN deg d ON d.id = a.v AND d.degree <= 64),
       |reach AS (
       |  SELECT DISTINCT u, v FROM (
       |    SELECT u, v FROM adj UNION ALL SELECT u, v FROM two) r
       |  WHERE u <> v)
       |SELECT u AS id, CAST(count(*) AS BIGINT) AS two_hop_reach
       |FROM reach GROUP BY u""".stripMargin

  // probed-IVF top-6 (seed cells, nProbe=4) incl self, self dropped
  // AFTER ranking, then the same vote algebra as knnLabelEvalSql
  private val knnLabelEvalIvfSql =
    s"""WITH $ivfAssignCtes,
       |probes AS (
       |  SELECT vec_id AS query_id, cell_id FROM (
       |    SELECT vec_id, cell_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY ccos DESC, cell_id ASC) AS r
       |    FROM cellcos WHERE vec_id % 25 = 0) WHERE r <= 4),
       |cand AS (
       |  SELECT DISTINCT p.query_id, c.nbr_id
       |  FROM probes p JOIN cells c ON c.cell_id = p.cell_id),
       |dots AS (
       |  SELECT cand.query_id, cand.nbr_id,
       |    CAST(sum(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM cand
       |  JOIN comp a ON a.vec_id = cand.nbr_id
       |  JOIN comp b ON b.vec_id = cand.query_id AND b.i = a.i
       |  GROUP BY cand.query_id, cand.nbr_id),
       |ranked AS (
       |  SELECT query_id, nbr_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |  FROM dots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |knn AS (
       |  SELECT query_id, nbr_id FROM ranked
       |  WHERE rank <= 6 AND nbr_id <> query_id),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |votes AS (
       |  SELECT k.query_id, ql.label AS query_label,
       |    nl.label AS nbr_label, CAST(count(*) AS BIGINT) AS nv
       |  FROM knn k
       |  JOIN lab nl ON nl.vec_id = k.nbr_id
       |  JOIN lab ql ON ql.vec_id = k.query_id
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT query_id, query_label, nbr_label FROM (
       |    SELECT query_id, query_label, nbr_label,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY nv DESC, nbr_label ASC) AS rk
       |    FROM votes) v WHERE rk = 1)
       |SELECT query_label, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(SUM(CASE WHEN nbr_label = query_label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct
       |FROM pred GROUP BY 1""".stripMargin

  // brute top-6 incl self (ranking matches bruteForceTopK), self
  // dropped AFTER ranking, majority vote (count desc, label asc)
  private val knnLabelEvalSql =
    s"""WITH $vecCtes,
       |dots AS (
       |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
       |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
       |  FROM comp c JOIN comp q ON c.i = q.i AND q.vec_id % 25 = 0
       |  GROUP BY c.vec_id, q.vec_id),
       |ranked AS (
       |  SELECT query_id, nbr_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY dot / (nc.sn * nq.sn) DESC, nbr_id ASC) AS rank
       |  FROM dots
       |  JOIN norms nc ON nc.vec_id = nbr_id
       |  JOIN norms nq ON nq.vec_id = query_id),
       |knn AS (
       |  SELECT query_id, nbr_id FROM ranked
       |  WHERE rank <= 6 AND nbr_id <> query_id),
       |lab AS (SELECT vec_id, label FROM embeddings),
       |votes AS (
       |  SELECT k.query_id, ql.label AS query_label,
       |    nl.label AS nbr_label, CAST(count(*) AS BIGINT) AS nv
       |  FROM knn k
       |  JOIN lab nl ON nl.vec_id = k.nbr_id
       |  JOIN lab ql ON ql.vec_id = k.query_id
       |  GROUP BY 1, 2, 3),
       |pred AS (
       |  SELECT query_id, query_label, nbr_label FROM (
       |    SELECT query_id, query_label, nbr_label,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY nv DESC, nbr_label ASC) AS rk
       |    FROM votes) v WHERE rk = 1)
       |SELECT query_label, CAST(count(*) AS BIGINT) AS n_queries,
       |  CAST(SUM(CASE WHEN nbr_label = query_label THEN 1 ELSE 0 END)
       |    AS BIGINT) AS n_correct
       |FROM pred GROUP BY 1""".stripMargin

  private val embedNearDupLshSql =
    s"""WITH $embedPairCtes
       |SELECT id1, id2, cosine FROM cos""".stripMargin

  // same reach-based CC + min-id keeper shape as docDedupCcSql, over
  // the embedding pair graph; `compo` avoids vecCtes' `comp` name
  private val embedDedupCcSql =
    s"""WITH RECURSIVE $embedPairCtes,
       |edges AS (
       |  SELECT id1 AS src, id2 AS dst FROM cos
       |  UNION
       |  SELECT id2 AS src, id1 AS dst FROM cos),
       |reach(id, label) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.label FROM edges e JOIN reach r ON r.id = e.dst),
       |compo AS (SELECT id, min(label) AS component FROM reach GROUP BY id)
       |SELECT vec_id AS id FROM embeddings
       |WHERE vec_id NOT IN (SELECT id FROM compo WHERE id <> component)""".stripMargin

  // 6 unrolled peeling rounds over the cosine pair graph; final
  // degree filter mirrors Graph.kCore's closing filter
  private val graphKcoreSql =
    s"""WITH RECURSIVE $embedPairCtes,
       |kc_e0 AS MATERIALIZED (
       |  SELECT DISTINCT least(id1, id2) AS src, greatest(id1, id2) AS dst
       |  FROM cos WHERE id1 <> id2),
       |kc_d1 AS MATERIALIZED (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT src AS id FROM kc_e0
       |    UNION ALL SELECT dst FROM kc_e0) u
       |  GROUP BY id),
       |kc_k1 AS MATERIALIZED (SELECT id FROM kc_d1 WHERE deg >= 2),
       |kc_e1 AS MATERIALIZED (
       |  SELECT src, dst FROM kc_e0
       |  WHERE src IN (SELECT id FROM kc_k1)
       |    AND dst IN (SELECT id FROM kc_k1)),
       |kc_d2 AS MATERIALIZED (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT src AS id FROM kc_e1
       |    UNION ALL SELECT dst FROM kc_e1) u
       |  GROUP BY id),
       |kc_k2 AS MATERIALIZED (SELECT id FROM kc_d2 WHERE deg >= 2),
       |kc_e2 AS MATERIALIZED (
       |  SELECT src, dst FROM kc_e1
       |  WHERE src IN (SELECT id FROM kc_k2)
       |    AND dst IN (SELECT id FROM kc_k2)),
       |kc_d3 AS MATERIALIZED (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT src AS id FROM kc_e2
       |    UNION ALL SELECT dst FROM kc_e2) u
       |  GROUP BY id),
       |kc_k3 AS MATERIALIZED (SELECT id FROM kc_d3 WHERE deg >= 2),
       |kc_e3 AS MATERIALIZED (
       |  SELECT src, dst FROM kc_e2
       |  WHERE src IN (SELECT id FROM kc_k3)
       |    AND dst IN (SELECT id FROM kc_k3)),
       |kc_d4 AS MATERIALIZED (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT src AS id FROM kc_e3
       |    UNION ALL SELECT dst FROM kc_e3) u
       |  GROUP BY id),
       |kc_k4 AS MATERIALIZED (SELECT id FROM kc_d4 WHERE deg >= 2),
       |kc_e4 AS MATERIALIZED (
       |  SELECT src, dst FROM kc_e3
       |  WHERE src IN (SELECT id FROM kc_k4)
       |    AND dst IN (SELECT id FROM kc_k4)),
       |kc_d5 AS MATERIALIZED (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT src AS id FROM kc_e4
       |    UNION ALL SELECT dst FROM kc_e4) u
       |  GROUP BY id),
       |kc_k5 AS MATERIALIZED (SELECT id FROM kc_d5 WHERE deg >= 2),
       |kc_e5 AS MATERIALIZED (
       |  SELECT src, dst FROM kc_e4
       |  WHERE src IN (SELECT id FROM kc_k5)
       |    AND dst IN (SELECT id FROM kc_k5)),
       |kc_d6 AS MATERIALIZED (
       |  SELECT id, count(*) AS deg FROM (
       |    SELECT src AS id FROM kc_e5
       |    UNION ALL SELECT dst FROM kc_e5) u
       |  GROUP BY id),
       |kc_k6 AS MATERIALIZED (SELECT id FROM kc_d6 WHERE deg >= 2),
       |kc_e6 AS MATERIALIZED (
       |  SELECT src, dst FROM kc_e5
       |  WHERE src IN (SELECT id FROM kc_k6)
       |    AND dst IN (SELECT id FROM kc_k6))
       |SELECT id, CAST(count(*) AS BIGINT) AS core_deg FROM (
       |  SELECT src AS id FROM kc_e6
       |  UNION ALL SELECT dst FROM kc_e6) f
       |GROUP BY id HAVING count(*) >= 2""".stripMargin

  // DBSCAN: cores (>= 2 eps-neighbors) -> CC over core-core edges
  // (min-id labels, isolated cores keep their own id) -> borders
  // adopt min adjacent core cluster -> rest is noise
  private val embedDbscanSql =
    s"""WITH RECURSIVE $embedPairCtes,
       |db_e AS (
       |  SELECT DISTINCT least(id1, id2) AS s, greatest(id1, id2) AS d
       |  FROM cos WHERE id1 <> id2),
       |db_adj AS (
       |  SELECT s AS u, d AS v FROM db_e UNION ALL SELECT d, s FROM db_e),
       |db_core AS (
       |  SELECT u AS id FROM db_adj GROUP BY u HAVING count(*) >= 2),
       |db_ce AS (
       |  SELECT s, d FROM db_e
       |  WHERE s IN (SELECT id FROM db_core)
       |    AND d IN (SELECT id FROM db_core)),
       |db_edges AS (
       |  SELECT s AS src, d AS dst FROM db_ce
       |  UNION SELECT d, s FROM db_ce),
       |db_reach(id, label) AS (
       |  SELECT src, src FROM db_edges
       |  UNION
       |  SELECT e.src, r.label
       |  FROM db_edges e JOIN db_reach r ON r.id = e.dst),
       |db_comp AS (
       |  SELECT id, min(label) AS component FROM db_reach GROUP BY id),
       |db_clu AS (
       |  SELECT c.id, COALESCE(m.component, c.id) AS cluster
       |  FROM db_core c LEFT JOIN db_comp m ON m.id = c.id),
       |db_border AS (
       |  SELECT a.u AS id, min(cl.cluster) AS cluster
       |  FROM db_adj a JOIN db_clu cl ON cl.id = a.v
       |  WHERE a.u NOT IN (SELECT id FROM db_core)
       |  GROUP BY a.u)
       |SELECT em.vec_id,
       |  CASE WHEN c2.id IS NOT NULL THEN 'core'
       |       WHEN b.id IS NOT NULL THEN 'border'
       |       ELSE 'noise' END AS role,
       |  COALESCE(c2.cluster, b.cluster) AS cluster
       |FROM embeddings em
       |LEFT JOIN db_clu c2 ON c2.id = em.vec_id
       |LEFT JOIN db_border b ON b.id = em.vec_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    // stepwise magic-number bit spread (x<<16|x masked, …) — the same
    // five rounds the codegen'd kernel runs, unrolled as CTE columns
    "zorder_cells" ->
      """WITH p AS (
        |  SELECT user_id AS x0,
        |    CAST(floor(value * 100.0) AS BIGINT) AS yy,
        |    (CAST(floor(value * 100.0) AS BIGINT) & 4294967295) AS y0,
        |    (user_id & 4294967295) AS xx0
        |  FROM events),
        |a AS (SELECT x0, yy,
        |  ((xx0 | (xx0 << 16)) & 281470681808895) AS x1,
        |  ((y0 | (y0 << 16)) & 281470681808895) AS y1 FROM p),
        |b AS (SELECT x0, yy,
        |  ((x1 | (x1 << 8)) & 71777214294589695) AS x2,
        |  ((y1 | (y1 << 8)) & 71777214294589695) AS y2 FROM a),
        |c AS (SELECT x0, yy,
        |  ((x2 | (x2 << 4)) & 1085102592571150095) AS x3,
        |  ((y2 | (y2 << 4)) & 1085102592571150095) AS y3 FROM b),
        |d AS (SELECT x0, yy,
        |  ((x3 | (x3 << 2)) & 3689348814741910323) AS x4,
        |  ((y3 | (y3 << 2)) & 3689348814741910323) AS y4 FROM c),
        |e AS (SELECT x0, yy,
        |  ((x4 | (x4 << 1)) & 6148914691236517205) AS x5,
        |  ((y4 | (y4 << 1)) & 6148914691236517205) AS y5 FROM d),
        |z AS (SELECT x0, yy, (x5 | (y5 << 1)) AS zv FROM e)
        |SELECT (zv >> 16) AS cell, count(*) AS n,
        |  min(x0) AS min_x, max(x0) AS max_x,
        |  min(yy) AS min_y, max(yy) AS max_y,
        |  min(zv) AS min_z, max(zv) AS max_z
        |FROM z GROUP BY 1""".stripMargin,
    "text_stats" -> textStatsSql,
    "text_langid" -> textLangIdSql,
    "text_fingerprint" -> textFingerprintSql,
    "dedup_incremental" -> dedupIncrementalSql,
    "dedup_incremental_lsh" -> dedupIncrementalLshSql,
    "text_scrub" -> textScrubSql,
    "text_model_score" -> textModelScoreSql,
    "score_calibration" -> scoreCalibrationSql,
    "minhash_estimate_error" -> minhashEstimateErrorSql,
    "text_model_score_linear" -> textModelScoreLinearSql,
    "dedup_ngram_jaccard" -> dedupNgramJaccardSql,
    "jaccard_threshold_sweep" -> jaccardThresholdSweepSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_lineage" -> dedupLineageSql,
    "dedup_stage_costs" -> dedupStageCostsSql,
    "bigram_novelty" -> bigramNoveltySql,
    "boilerplate_strip" -> boilerplateStripSql,
    "word_pagerank" -> wordPagerankSql,
    "graph_bfs_dist" -> graphBfsDistSql,
    "word_communities" -> wordCommunitiesSql,
    "split_leakage_audit" -> splitLeakageAuditSql,
    "embed_decontaminate" -> embedDecontaminateSql,
    "rrf_fusion" ->
      """WITH rrf_pr AS (
        |  SELECT p_partkey,
        |    row_number() OVER (ORDER BY p_retailprice, p_partkey) AS r
        |  FROM part ORDER BY p_retailprice, p_partkey LIMIT 100),
        |rrf_sz AS (
        |  SELECT p_partkey,
        |    row_number() OVER (ORDER BY p_size, p_partkey) AS r
        |  FROM part ORDER BY p_size, p_partkey LIMIT 100)
        |SELECT COALESCE(pr.p_partkey, sz.p_partkey) AS p_partkey,
        |  COALESCE(CAST(1 AS DOUBLE) / (60 + pr.r), CAST(0 AS DOUBLE)) +
        |  COALESCE(CAST(1 AS DOUBLE) / (60 + sz.r), CAST(0 AS DOUBLE))
        |    AS rrf
        |FROM rrf_pr pr FULL OUTER JOIN rrf_sz sz
        |  ON pr.p_partkey = sz.p_partkey
        |ORDER BY rrf DESC, p_partkey ASC
        |LIMIT 20""".stripMargin,
    "dedup_minhash_sig" -> dedupMinhashSigSql,
    "dedup_minhash_lsh" -> dedupMinhashLshSql,
    "lsh_pair_pr" -> lshPairPrSql,
    "dedup_family_compare" -> dedupFamilyCompareSql,
    "dedup_reorder_audit" ->
      s"""WITH ra AS (
         |  SELECT md5(text) AS bfp,
         |    md5(array_to_string(list_sort(list_distinct($toks)), ' '))
         |      AS cfp
         |  FROM documents)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(*) - count(DISTINCT bfp) AS BIGINT) AS byte_dups,
         |  CAST(count(*) - count(DISTINCT cfp) AS BIGINT)
         |    AS canon_dups,
         |  CAST(count(DISTINCT bfp) - count(DISTINCT cfp) AS BIGINT)
         |    AS reorder_only
         |FROM ra""".stripMargin,
    "dedup_simhash" -> dedupSimhashSql,
    "dedup_simhash_pairs" -> dedupSimhashPairsSql,
    "doc_dedup_pipeline" -> docDedupPipelineSql,
    "doc_dedup_cc" -> docDedupCcSql,
    "doc_dedup_best" -> docDedupBestSql,
    "dedup_cluster_stats" -> dedupClusterStatsSql,
    "substring_dedup" -> substringDedupSql,
    "substring_splice" -> substringSpliceSql,
    "contrastive_triplets" -> contrastiveTripletsSql,
    "winnow_fingerprint" -> winnowFingerprintSql,
    "winnow_pairs" -> winnowPairsSql,
    "winnow_recall_audit" -> winnowRecallAuditSql,
    "winnow_verify_exact" -> winnowVerifyExactSql,
    "winnow_dedup_cc" -> winnowDedupCcSql,
    "url_dedup_canonical" -> urlDedupCanonicalSql,
    "substring_dedup_filter" -> substringDedupFilterSql,
    "corpus_quality_e2e" -> corpusQualityE2eSql,
    "ann_brute_force" -> annBruteForceSql,
    "ann_filtered_topk" -> annFilteredTopKSql,
    "ann_postfilter_deficit" ->
      s"""WITH pf_lab AS (SELECT vec_id, label FROM embeddings),
         |pf AS (
         |  SELECT bf.query_id, bf.nbr_id,
         |    nl.label AS nbr_label, ql.label AS query_label
         |  FROM ($annBruteForceSql) bf
         |  JOIN pf_lab nl ON nl.vec_id = bf.nbr_id
         |  JOIN pf_lab ql ON ql.vec_id = bf.query_id)
         |SELECT query_id,
         |  CAST(SUM(CASE WHEN nbr_label = query_label
         |    AND nbr_id <> query_id THEN 1 ELSE 0 END) AS BIGINT)
         |    AS post_filter_hits,
         |  CAST(greatest(5 - SUM(CASE WHEN nbr_label = query_label
         |    AND nbr_id <> query_id THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS deficit
         |FROM pf GROUP BY query_id""".stripMargin,
    "ann_ivf_topk" -> annIvfTopKSql,
    "ann_ivf_kmeans" -> annIvfKmeansSql,
    "ann_ivf_persisted" -> annIvfKmeansSql,
    "ann_ivf_pq" -> annIvfPqSql,
    "html_extract" -> htmlExtractSql,
    "html_corpus_e2e" -> htmlCorpusE2eSql,
    "ann_pq_recall" -> annPqRecallSql,
    "ann_pq_probe_sweep" -> annPqProbeSweepSql,
    "ann_ivf_pq_residual" -> annIvfPqResidualSql,
    "ann_ivf_pq_trained" -> annIvfPqTrainedSql,
    "ann_residual_recall_audit" -> annResidualRecallAuditSql,
    "ann_residual_offseed_audit" -> annResidualOffseedAuditSql,
    "ann_nndescent_topk" -> annNndescentTopkSql,
    "ann_nndescent_recall_audit" -> annNndescentRecallAuditSql,
    "ann_nndescent_param_sweep" -> annNndescentParamSweepSql,
    "ann_graph_entry_sweep" -> annGraphEntrySweepSql,
    "ann_graph_diversify" -> annGraphDiversifySql,
    "ann_graph_append_diversity" -> annGraphAppendDiversitySql,
    "ann_graph_delete" -> annGraphDeleteSql,
    "ann_graph_delete_serve" -> annGraphDeleteServeSql,
    "ann_graph_staleness" -> annGraphStalenessSql,
    "hybrid_rrf_fusion" -> hybridRrfFusionSql,
    "hybrid_rrf_served" -> hybridRrfServedSql,
    "hybrid_rrf_served_overlap" -> hybridRrfServedOverlapSql,
    "serve_e2e" -> serveE2eSql,
    "serve_e2e_stages" -> serveE2eStagesSql,
    "hybrid_rrf_graph" -> hybridRrfGraphSql,
    "hybrid_rrf_graph_overlap" -> hybridRrfGraphOverlapSql,
    "ann_graph_search" -> annGraphSearchSql,
    "ann_graph_append" -> annGraphAppendSql,
    "ann_graph_append_serve" -> annGraphAppendServeSql,
    "ann_graph_search_recall" -> annGraphSearchRecallSql,
    "ann_graph_hubness" -> annGraphHubnessSql,
    "embed_knn_cc" -> embedKnnCcSql,
    "ann_opq_recall" -> annOpqRecallSql,
    "ann_opq_ivf_pq" -> annOpqIvfPqSql,
    "pq_encode_append" -> pqEncodeAppendSql,
    "ann_ivf_append" -> annIvfAppendSql,
    "ann_ivf_delete_serve" -> annIvfDeleteServeSql,
    "ann_ivf_compact" -> annIvfCompactSql,
    "ann_pq_delete_serve" -> annPqDeleteServeSql,
    "pq_index_compact" -> pqIndexCompactSql,
    "ann_drift_trigger" -> annDriftTriggerSql,
    "ann_matryoshka_recall" -> annMatryoshkaRecallSql,
    "embed_anisotropy" -> embedAnisotropySql,
    "embed_dim_variance" -> embedDimVarianceSql,
    "embed_covariance" -> embedCovarianceSql,
    "lang_code_switch" -> langCodeSwitchSql,
    "labeler_kappa" -> labelerKappaSql,
    "ks_drift" -> ksDriftSql,
    "spearman_corr" -> spearmanCorrSql,
    "dedup_evidence" -> dedupEvidenceSql,
    "lsh_index_compact" -> lshIndexCompactSql,
    "ann_ivf_recall" -> annIvfRecallSql,
    "ann_ivf_cells" -> annIvfCellsSql,
    "embed_quantize" -> embedQuantizeSql,
    "ann_quantized_topk" -> annQuantizedTopKSql,
    "ann_quantized_recall" -> annQuantizedRecallSql,
    "ann_bitq_topk" -> annBitqTopKSql,
    "ann_bitq_rerank" -> annBitqRerankSql,
    "ann_bitq_recall_audit" -> annBitqRecallAuditSql,
    "ann_bitq_shortlist_sweep" -> annBitqShortlistSweepSql,
    "ann_bitq_append_drift" -> annBitqAppendDriftSql,
    "ann_ivf_quantized" -> annIvfQuantizedSql,
    "udtf_ngrams" ->
      s"""SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
         |  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
         |FROM (SELECT doc_id, $toks AS t FROM documents),
         |     LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1)))
         |              AS i)""".stripMargin,
    "doc_decontaminate" -> docDecontaminateSql,
    "text_repetition" -> textRepetitionSql,
    "embed_neardup_lsh" -> embedNearDupLshSql,
    "embed_dedup_cc" -> embedDedupCcSql,
    "embed_dbscan" -> embedDbscanSql,
    "graph_kcore" -> graphKcoreSql,
    "phrase_search" ->
      s"""WITH ph_tk AS (
        |  SELECT doc_id, $toks AS t
        |  FROM documents),
        |ph_pos AS (
        |  SELECT doc_id, unnest(range(1, greatest(length(t) + 1, 1)))
        |    AS i, t
        |  FROM ph_tk),
        |ph_a AS (SELECT doc_id, i FROM ph_pos WHERE t[i] = 'the'),
        |ph_b AS (SELECT doc_id, i FROM ph_pos WHERE t[i] = 'data')
        |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |  CAST(min(a.i) - 1 AS BIGINT) AS first_pos
        |FROM ph_a a JOIN ph_b b
        |  ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |GROUP BY a.doc_id""".stripMargin,
    // same positional substrate as phrase_search, slop-5 either-order
    // join; positions are 0-based in Spark's posexplode and 1-based
    // here, but DISTANCES are offset-free
    "proximity_search" ->
      s"""WITH px_tk AS (
        |  SELECT doc_id, $toks AS t
        |  FROM documents),
        |px_pos AS (
        |  SELECT doc_id, unnest(range(1, greatest(length(t) + 1, 1)))
        |    AS i, t
        |  FROM px_tk),
        |px_a AS (SELECT doc_id, i FROM px_pos WHERE t[i] = 'the'),
        |px_b AS (SELECT doc_id, i FROM px_pos WHERE t[i] = 'data')
        |SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(min(abs(b.i - a.i)) AS BIGINT) AS min_dist
        |FROM px_a a JOIN px_b b
        |  ON b.doc_id = a.doc_id AND abs(b.i - a.i) <= 5
        |GROUP BY a.doc_id""".stripMargin,
    "graph_triangles" -> graphTrianglesSql,
    "graph_two_hop" -> graphTwoHopSql,
    "knn_label_eval" -> knnLabelEvalSql,
    "knn_label_eval_ivf" -> knnLabelEvalIvfSql,
    "ann_ranking_eval" -> annRankingEvalSql,
    "ann_probe_sweep" -> annProbeSweepSql,
    "ann_hard_negatives" -> annHardNegativesSql,
    "ann_hard_negatives_ivf" -> annHardNegativesIvfSql,
    "embed_drift" -> embedDriftSql)
}
