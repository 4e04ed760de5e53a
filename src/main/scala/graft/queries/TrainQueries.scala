package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.Lm
import graft.functions.TextFunctions

/** Training-run preparation gates: the corpus-statistics passes that
  * sit between a deduplicated corpus and a training job — n-gram LM
  * quality scoring ([[graft.ext.Lm]]), per-source distribution
  * divergence, token-budget apportionment, and dedup-aware epoch
  * weighting. Reference has nothing comparable (its pipeline ends at
  * the event sink); all of this is extended-engine surface for the
  * 100 TB corpus-prep story.
  *
  * Cross-engine determinism notes specific to this file:
  *  - every statistic that conceptually wants a `log` (LM scoring,
  *    KL divergence) is re-expressed in integer algebra instead —
  *    2⁻²⁰-quantized smoothed probabilities ([[Lm]]) and
  *    total-variation distance (pure BIGINT cross products) — because
  *    `ln` is not bit-stable across libm/JVM (SKILL.md);
  *  - the only double ops are single divides on identical operand
  *    trees (exact-rounded, hash-stable);
  *  - the TV distance over the FULL vocabulary needs no source×vocab
  *    grid: Σ over tokens absent from a source is N_s·(N − Σ_{t∈s}n_t),
  *    so the join stays proportional to the observed (source, token)
  *    pairs;
  *  - every cross-multiplied count statistic (TV numerators, the LM
  *    drift predicate, Spearman's n·(n²−1)) runs in DECIMAL(38,0) on
  *    the Spark side and HUGEINT on the DuckDB side — BIGINT products
  *    of corpus-scale counts wrap silently in non-ANSI Spark while
  *    DuckDB throws, which would diverge the hash gate exactly at the
  *    scales the statistics exist for. Wide intermediates surface as
  *    DOUBLE (both engines round-to-nearest the same exact integer),
  *    never as raw DECIMAL (the oracle harness lowers DuckDB decimals
  *    to float64, which would hash-mismatch Spark's Decimal).
  */
object TrainQueries {

  /** Shared per-document bigram-LM score tier ([[Lm.scoreDocs]] over
    * the raw documents table) — five gates used to re-run the full
    * bigram explosion + add-one-smoothed scoring each (`lm_bigram_
    * score`, `lm_quality_filter`, `curriculum_by_quality`,
    * `corpus_train_order_e2e`, `dataset_card`); since r19 the FIRST
    * caller builds it once and the rest read the persisted 500-row
    * frame (§6 recompute elimination, same discipline as the dedup
    * doc_toks tier). Byte-identical consumers: the tier IS the
    * operator's verbatim output. */
  private[queries] def lmScorePer(spark: SparkSession, dir: String)
      : DataFrame =
    SharedFrames(spark, dir, "lm_score") {
      Seq("per" -> Lm.scoreDocs(Tables(spark, dir, "documents"),
        col("doc_id"), col("text")))
    }("per")

  /** Per-document bigram-LM quality score over the whole corpus
    * ([[Lm.scoreDocs]]): n sequential bigrams, Σ of 2⁻²⁰-quantized
    * add-one-smoothed transition probabilities, and their mean — the
    * cheap-LM document scorer of a quality-filtering pass. */
  def lmBigramScore(spark: SparkSession, dir: String): DataFrame =
    lmScorePer(spark, dir)
      .select(col("id").as("doc_id"), col("n_bigrams"), col("q_sum"),
        col("mean_p"))

  /** DSIR importance resampling ([[Lm.dsirWeights]] +
    * [[Lm.dsirKeep]]): domain-matching data selection — the target
    * domain is the English sub-corpus, features are hashed bigrams
    * (512 buckets), per-document weight = Σ q_target / Σ q_raw over
    * quantized bucket probabilities, keep via the deterministic
    * hash-threshold rule. Per-language readout (docs, kept, the
    * weight sums, kept share): the target language up-samples toward
    * keep-all while off-domain languages down-sample in proportion
    * to feature overlap — the number a curation run reads before
    * committing a mixture. Feature-less docs (< 2 tokens) are
    * weight-0 by construction and never keep.
    *
    * MEASURED on this fixture: kept shares run 0.95-1.0 across all
    * languages — an honest near-null, because the synthetic corpus
    * draws every "language" from ONE shared token distribution (the
    * lang column is a label, not a vocabulary), so the hashed-bigram
    * models barely differ. `DsirSpec`'s planted two-domain fixture
    * shows the real separation (target-like ≥ 0.9 kept vs off-domain
    * ≤ 0.6, and unflagged target-LIKE docs up-sample — selection is
    * content-based, which is the point of DSIR). */
  def dsirImportanceSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val w = Lm.dsirWeights(docs, col("doc_id"), col("text"),
        col("lang") === "en", numBuckets = 512)
      .withColumnRenamed("id", "doc_id")
    docs.select(col("doc_id"), col("lang"))
      .join(w, Seq("doc_id"), "left_outer")
      .withColumn("keep",
        coalesce(Lm.dsirKeep(col("doc_id"), col("num"), col("den")),
          lit(false)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(coalesce(col("num"), lit(0L))).as("sum_num"),
        sum(coalesce(col("den"), lit(0L))).as("sum_den"))
      .select(col("lang"), col("n_docs"), col("n_kept"),
        col("sum_num"), col("sum_den"),
        (col("n_kept").cast("double") / col("n_docs").cast("double"))
          .as("kept_share"))
  }

  /** Held-out LM scoring per language: train the bigram model on even
    * doc_ids, score odd doc_ids (unseen bigrams smooth to
    * (0+1)/(0+V)), aggregate per language — the
    * decontamination-safe form of corpus quality measurement (the
    * scored half never contributes counts to the model that scores
    * it). */
  def lmHoldoutPerlang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val big = graft.Tables.materialize(
      Lm.seqBigrams(docs, col("doc_id"), col("text"),
        carry = Seq("lang")))
    val c12 = Lm.bigramCounts(big.filter(col("id") % 2 === 0))
    val scored = Lm.scoreBigrams(big.filter(col("id") % 2 === 1),
      c12, Lm.contextCounts(c12),
      Lm.vocabSize(docs.filter(col("doc_id") % 2 === 0), col("text")))
    scored.groupBy(col("lang"))
      .agg(count_distinct(col("id")).as("n_docs"),
        count(lit(1)).as("n_bigrams"), sum(col("q")).as("q_sum"))
      .withColumn("mean_p", col("q_sum").cast("double") /
        (col("n_bigrams") * lit(1048576L)).cast("double"))
  }

  /** LM quality gate: per language, how many documents pass the
    * mean-transition-probability threshold 35/1024 (≈ the corpus
    * median at sf0.01, so the gate exercises both branches). The
    * keep predicate is pure integer algebra:
    * q_sum ≥ n_bigrams · 35·2²⁰/1024 = n_bigrams · 35840. */
  def lmQualityFilter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val per = lmScorePer(spark, dir)
    val kept = col("n_bigrams") > 0 &&
      col("q_sum") >= col("n_bigrams") * lit(35840L)
    docs.select(col("doc_id").as("id"), col("lang"))
      .join(per, Seq("id"))
      .groupBy(col("lang"))
      .agg(sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, 0L).otherwise(1L)).as("n_dropped"))
  }

  /** Per-source total-variation divergence of the token distribution
    * vs the whole corpus — the "is this source drifting from the
    * mixture" monitor. TV = Σ_t |p_s(t) − p(t)| / 2 computed as exact
    * integer cross products over the common denominator 2·N_s·N in
    * DECIMAL(38,0) (n_st·N and n_t·N_s wrap BIGINT around 10¹⁰ total
    * tokens — far below a 100 TB corpus's ~10¹³); the absent-token
    * tail folds to N_s·(N − Σ_{t∈s} n_t), so no source×vocab grid
    * materializes. The wide numerator/denominator surface as DOUBLE
    * (same nearest-even rounding on both engines). */
  def tokenTvDivergence(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables(spark, dir, "documents")
      .select(col("source"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    // (source, token) counts feed three consumers (n_s, n_t, the
    // join) — materialize so the gram aggregate runs once
    val nSt = graft.Tables.materialize(
      tok.groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("n_st")))
    val nS = nSt.groupBy(col("source")).agg(sum(col("n_st")).as("n_s"))
    val nT = nSt.groupBy(col("tok")).agg(sum(col("n_st")).as("n_t"))
    val nTot = nT.agg(sum(col("n_t")).as("n"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    nSt.join(nT, "tok").join(nS, "source")
      .crossJoin(broadcast(nTot))
      .groupBy(col("source"), col("n_s"), col("n"))
      .agg(sum(abs(dec(col("n_st")) * col("n") -
          dec(col("n_t")) * col("n_s"))).as("part1"),
        sum(col("n_t")).as("cov"))
      .select(col("source"), col("n_s").as("n_tokens"),
        (col("part1") + dec(col("n_s")) * (col("n") - col("cov")))
          .cast("double").as("tv_num"),
        (dec(lit(2L)) * col("n_s") * col("n")).cast("double")
          .as("tv_den"),
        ((col("part1") + dec(col("n_s")) * (col("n") - col("cov")))
          .cast("double") /
          (dec(lit(2L)) * col("n_s") * col("n")).cast("double")).as("tv"))
  }

  /** Largest-remainder (Hamilton) apportionment of a 100 000-token
    * sampling budget across languages, proportional to token counts —
    * the integer-exact completion of [[CorpusQueries.mixtureTemperature]]'s
    * floor-only allocation (Σ alloc == budget exactly). The
    * remainder-rank window runs over one row per language (bounded by
    * the stratum count, the house rule for unpartitioned windows). */
  def tokenBudgetAlloc(spark: SparkSession, dir: String): DataFrame =
    hamiltonAlloc(spark, dir, budget = 100000L)

  /** [[tokenBudgetAlloc]]'s algebra with the budget as a parameter —
    * shared with [[mixtureResampleToAlloc]], which needs a budget
    * below the corpus size so acceptance rates actually bind. */
  private def hamiltonAlloc(spark: SparkSession, dir: String,
      budget: Long): DataFrame = {
    val cnt = Tables(spark, dir, "documents")
      .select(col("lang"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("lang")).agg(sum(col("nt")).as("n_tok"))
    val b = cnt.crossJoin(broadcast(cnt.agg(sum(col("n_tok")).as("n"))))
      .withColumn("base", expr(s"($budget * n_tok) div n"))
      .withColumn("rem", expr(s"($budget * n_tok) % n"))
    val k = b.agg((lit(budget) - sum(col("base"))).as("k"))
    b.withColumn("rr", row_number()
        .over(Window.orderBy(col("rem").desc, col("lang").asc))
        .cast("long"))
      .crossJoin(broadcast(k))
      .select(col("lang"), col("n_tok"),
        (col("base") +
          when(col("rr") <= col("k"), 1L).otherwise(0L)).as("alloc"))
  }

  /** Dedup-aware epoch weighting: documents cluster by a 2-token
    * prefix fingerprint (the cheap stand-in for the near-dup
    * component id a production run takes from `doc_dedup_cc`), and
    * smaller clusters earn more repeats (unique→4, 2-3 siblings→2,
    * 4+→1) — the "repeat rare data, don't over-train duplicates"
    * token-accounting plan, rolled up per language. */
  def epochRepeatPlan(spark: SparkSession, dir: String): DataFrame = {
    val t = TextFunctions.tokens(col("text"))
    val keyed = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(t).cast("long").as("n_tok"),
        md5(concat_ws(" ", slice(t, 1, 2))).as("h"))
    val sz = keyed.groupBy(col("h")).agg(count(lit(1)).as("sz"))
    keyed.join(sz, "h")
      .withColumn("f", when(col("sz") === 1, 4L)
        .when(col("sz") <= 3, 2L).otherwise(1L))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        sum(col("n_tok") * col("f")).as("effective_tokens"))
  }

  /** Bitext margin mining (forward ratio-margin variant): for each
    * "source-side" query vector (even ids < 40), the best "target
    * side" (odd ids) match by cosine, scored by the margin criterion
    * margin = cos₁ / mean(cos₁..cos₄) — accepted iff margin ≥ 9/8
    * (a dyadic literal, exact in double on both engines; ≈ the
    * observed median, so both branches are exercised). The mean is a
    * FIXED association tree (c1+c2)+(c3+c4) — no float-summation-
    * order ambiguity. Production form of parallel-corpus mining:
    * the top-4 come from the ANN index instead of the brute pass;
    * the margin algebra is unchanged. */
  def bitextMarginMining(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir, "embeddings")
    val top = graft.ext.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") % 2 === 1), col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 40),
      col("vec_id"), col("embedding"), k = 4)
    top.groupBy(col("query_id")).agg(
        max(when(col("rank") === 1, col("nbr_id"))).as("nbr_id"),
        max(when(col("rank") === 1, col("cosine"))).as("c1"),
        max(when(col("rank") === 2, col("cosine"))).as("c2"),
        max(when(col("rank") === 3, col("cosine"))).as("c3"),
        max(when(col("rank") === 4, col("cosine"))).as("c4"))
      .withColumn("margin", (lit(4.0) * col("c1")) /
        ((col("c1") + col("c2")) + (col("c3") + col("c4"))))
      .select(col("query_id"), col("nbr_id"), col("c1").as("cosine"),
        col("margin"), (col("margin") >= lit(1.125)).as("accepted"))
  }

  /** Cluster-balanced diversity sample over the embedding corpus
    * ([[graft.ext.Similarity.clusterBalancedSample]]): ≤24 vectors
    * per seed cell in content-hash order. */
  def clusterBalancedSample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Similarity.clusterBalancedSample(
      Tables(spark, dir, "embeddings"), col("vec_id"), col("embedding"),
      numCells = 16, cap = 24)

  /** Quality-signal ensemble: three independent integer votes per
    * document — LM fluency (the [[lmQualityFilter]] predicate),
    * length (≥ 30 tokens), and bigram diversity (distinct/total
    * bigrams ≥ 15/16, the repetition guard) — rolled up as a
    * (lang, votes) histogram. The production keep rule is votes ≥ 2;
    * surfacing the full histogram keeps the gate informative about
    * how the signals overlap rather than just the final count.
    * Every vote is pure integer algebra, so the composition
    * hash-gates. */
  /** Per-document ensemble votes (0..3) — the shared substrate of
    * [[qualityEnsembleGate]] and [[qualityLabelPropagation]]. ONE
    * materialized bigram explosion feeds model training, LM scoring,
    * and the diversity count; per-doc stats come out of a single
    * aggregation pass over the scored stream. Output
    * (id, lang, votes). */
  private def ensembleVotes(spark: SparkSession, dir: String): DataFrame =
    SharedFrames(spark, dir, "ensemble_votes") {
      Seq("votes" -> ensembleVotesBuild(spark, dir))
    }("votes")

  /** The actual ensemble computation behind [[ensembleVotes]] — run
    * once per JVM by the tier above; both `quality_ensemble_gate`
    * and `quality_label_propagation` read the persisted votes. */
  private def ensembleVotesBuild(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val big = graft.Tables.materialize(
      Lm.seqBigrams(docs, col("doc_id"), col("text")))
    val c12 = Lm.bigramCounts(big)
    val per = Lm.scoreBigrams(big, c12, Lm.contextCounts(c12),
        Lm.vocabSize(docs, col("text")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("q_sum"),
        count_distinct(concat_ws(" ", col("w1"), col("w2"))).as("nd"))
    val base = docs.select(col("doc_id").as("id"), col("lang"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
    base.join(per, Seq("id"), "left_outer")
      .select(col("id"), col("lang"),
        (when(col("n_bigrams") > 0 &&
          col("q_sum") >= col("n_bigrams") * lit(35840L), 1L)
          .otherwise(0L) +
        when(col("n_tok") >= 30, 1L).otherwise(0L) +
        when(coalesce(col("nd"), lit(0L)) * 16 >=
          col("n_bigrams") * 15 && coalesce(col("n_bigrams"), lit(0L)) > 0,
          1L).otherwise(0L)).as("votes"))
  }

  def qualityEnsembleGate(spark: SparkSession, dir: String): DataFrame =
    ensembleVotes(spark, dir)
      .groupBy(col("lang"), col("votes"))
      .agg(count(lit(1)).as("n_docs"))

  /** Semi-supervised quality labeling: the ensemble's confident docs
    * seed ±1 labels (votes==3 → +1, votes≤1 → −1, else 0) and two
    * fixed integer propagation rounds push them through the winnowing
    * near-dup pair graph (`winnow_pairs`' exact parameters):
    * score_{t+1}(v) = 2·seed(v) + Σ_{u∼v} sign(score_t(u)). All
    * integer, so the oracle unrolls the two rounds exactly. The
    * pipeline trick this encodes: quality judgments transfer across
    * near-duplicates, so a cheap classifier on a confident subset
    * labels the duplicated tail for free. */
  def qualityLabelPropagation(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val seeds = graft.Tables.materialize(
      ensembleVotes(spark, dir).select(col("id"), col("lang"),
        when(col("votes") === 3, 1L).when(col("votes") <= 1, -1L)
          .otherwise(0L).as("seed")))
    val pairs = ExtQueries.winnowFrames(spark, dir)("wp3")
    val edges = graft.Tables.materialize(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionByName(
          pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    def sgn(c: Column) =
      when(c > 0, 1L).when(c < 0, -1L).otherwise(0L)
    var score = seeds.select(col("id"), col("seed").as("score"))
    for (_ <- 1 to 2) {
      val in = edges.join(score, edges("src") === score("id"))
        .groupBy(col("dst")).agg(sum(sgn(col("score"))).as("m"))
      score = graft.Tables.materialize(
        seeds.join(in, seeds("id") === in("dst"), "left_outer")
          .select(seeds("id"),
            (lit(2L) * col("seed") + coalesce(col("m"), lit(0L)))
              .as("score")))
    }
    seeds.join(score, "id")
      .select(col("id"), col("lang"), col("seed"), col("score"),
        sgn(col("score")).as("label"))
  }

  /** Cross-release corpus diff ([[graft.ext.Dedup.releaseDiff]]):
    * incoming quarter (doc_id % 4 == 3) classified against the
    * standing three quarters as exact / near (3-gram Jaccard ≥ 0.5) /
    * new, rolled up per (lang, class). The exact tier is empty on this
    * corpus (no byte dups at sf0.01) — its firing is pinned by
    * LmSpec's synthetic-frame test instead. */
  def releaseNeardupDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    graft.ext.Dedup.releaseDiff(docs, col("doc_id"), col("text"),
        col("doc_id") % 4 === 3)
      .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .groupBy(col("lang"), col("class"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Quality-bucketed curriculum: LM fluency (integer floor of the
    * mean quantized transition probability, [[Lm.scoreDocs]]) cut at
    * its quartiles, buckets walked MOST-fluent-first with a
    * deterministic hash shuffle inside each — [[CorpusQueries
    * .curriculumOrder]]'s machinery (range-partition rank, no global
    * window) keyed on a learned quality signal instead of length.
    * Same scale note as curriculum_order: the exact percentile_disc
    * cuts (a global collect-per-group aggregate) swap to
    * `approx_percentile` beyond one executor — bucket boundaries are
    * a tuning choice, not a correctness surface. */
  def curriculumByQuality(spark: SparkSession, dir: String): DataFrame = {
    val per = lmScorePer(spark, dir)
      .select(col("id"),
        when(col("n_bigrams") > 0, expr("q_sum div n_bigrams"))
          .otherwise(0L).as("flu"),
        md5(concat(lit("cq|"), col("id").cast("string"))).as("_h"))
    val cuts = per.agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY flu)").as("_c1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY flu)").as("_c2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY flu)").as("_c3"))
    val bucketed = per.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        (lit(1) + (col("flu") > col("_c1")).cast("int")
          + (col("flu") > col("_c2")).cast("int")
          + (col("flu") > col("_c3")).cast("int")).cast("long"))
      .drop("_c1", "_c2", "_c3")
      .withColumn("_ord", -col("bucket"))
    graft.ext.Corpus.globalOrderRank(bucketed, 32,
        col("_ord"), col("_h"), col("id"))
      .select(col("id"), col("flu"), col("bucket"),
        col("_rank").as("curriculum_pos"))
  }

  /** Vocabulary growth curve (Heaps'-law audit): documents split into
    * 4 hash strata; for each cumulative prefix k, the distinct-token
    * vocabulary and the NEW tokens stratum k contributes. Computed
    * with one min-stratum aggregate per token (no per-prefix rescan —
    * the trick that makes the curve one pass at any corpus size); the
    * cumulative roll-up window runs over exactly 4 rows. */
  def vocabGrowthCurve(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        (TextFunctions.hash32(col("doc_id").cast("string")) % 4).as("k"))
    val tok = docs.select(col("k"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
    val newT = tok.groupBy(col("tok")).agg(min(col("k")).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("new_tokens"))
    val nDocs = docs.groupBy(col("k")).agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nDocs.join(newT, Seq("k"), "left_outer")
      .withColumn("new_tokens", coalesce(col("new_tokens"), lit(0L)))
      .withColumn("n_docs_cum", sum(col("n_docs")).over(w))
      .withColumn("vocab_cum", sum(col("new_tokens")).over(w))
      .select(col("k"), col("n_docs_cum"), col("vocab_cum"),
        col("new_tokens"))
  }

  /** Held-out n-gram coverage (generalization-gap proxy): what
    * fraction of the test split's 3-gram OCCURRENCES (and distinct
    * types) appear in the train split's gram vocabulary, per
    * language. The structural complement of `split_leakage_audit`:
    * leakage measures what should NOT cross the split, coverage
    * measures what a model trained on one half has even seen of the
    * other. */
  def ngramCoverageAudit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val t = TextFunctions.tokens(col("text"))
    val grams = docs.select(col("doc_id"), col("lang"),
        explode(when(size(t) >= 3,
          transform(sequence(lit(1), size(t) - 2),
            i => concat_ws(" ", slice(t, i, lit(3)))))
          .otherwise(array())).as("gram"))
    val trainSet = grams.filter(col("doc_id") % 2 === 0)
      .select(col("gram")).distinct().withColumn("hit", lit(1L))
    grams.filter(col("doc_id") % 2 === 1)
      .join(trainSet, Seq("gram"), "left_outer")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_covered"),
        count_distinct(col("gram")).as("n_types"),
        count_distinct(when(col("hit") === 1, col("gram")))
          .as("n_types_covered"))
      .withColumn("coverage",
        col("n_covered").cast("double") / col("n_grams").cast("double"))
  }

  /** Language-ID confusion matrix: the n-gram-marker heuristic
    * ([[TextFunctions.langId]], gated standalone as `text_langid`)
    * evaluated against the table's lang labels — the quality eval a
    * pipeline runs before trusting a classifier to route documents. */
  def langConfusionAudit(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select(col("lang"),
        TextFunctions.langId(col("text")).as("lang_guess"))
      .groupBy(col("lang"), col("lang_guess"))
      .agg(count(lit(1)).as("n_docs"))

  /** Incremental LM-model update — the model-maintenance lifecycle
    * gate ([[Lm.mergeCounts]]), the LM twin of `ann_ivf_append` /
    * `lsh_index_compact`: the standing corpus's count frames (bigrams
    * + vocabulary) are PERSISTED to parquet; an incoming batch
    * (doc_id ≡ 0 mod 3) is absorbed by merging its delta counts into
    * the stored rows — the standing corpus is never re-tokenized.
    * The merged model then scores the incoming docs per language. The
    * oracle retrains from scratch on the union, which is bit-equal
    * precisely because counting is associative; any model state
    * beyond pure counts (e.g. stored probabilities) would fail the
    * hash here — counts are the mergeable representation. */
  def lmIncrementalUpdate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val standing = docs.filter(col("doc_id") % 3 =!= 0)
    val incoming = docs.filter(col("doc_id") % 3 === 0)
    val tmp = graft.Tables.scratchDir("graft_lm_model")
    val bigrams = Tables.writeParquet(
      Lm.bigramCounts(Lm.seqBigrams(standing, col("doc_id"), col("text"))),
      s"$tmp/bigrams")
    val tokens = Tables.writeParquet(Lm.tokenCounts(standing, col("text")),
      s"$tmp/vocab")
    val incBig = graft.Tables.materialize(
      Lm.seqBigrams(incoming, col("doc_id"), col("text"),
        carry = Seq("lang")))
    val c12 = Lm.mergeCounts(bigrams,
      Lm.bigramCounts(incBig), Seq("w1", "w2"), "c12")
    val vocab = Lm.mergeCounts(tokens,
      Lm.tokenCounts(incoming, col("text")), Seq("tok"), "n")
    val v = vocab.agg(count(lit(1)).as("v"))
    Lm.scoreBigrams(incBig, c12, Lm.contextCounts(c12), v)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("q_sum"))
      .withColumn("mean_p", col("q_sum").cast("double") /
        (col("n_bigrams") * lit(1048576L)).cast("double"))
  }

  /** Dedup survivor-bias audit: does the keep-first pair-dedup policy
    * (drop the larger id of every winnowing near-dup pair) skew the
    * language mixture? Per language: doc/token counts before and
    * after, and each side's corpus share — the measurement a pipeline
    * records before trusting post-dedup mixture weights, since
    * duplication is never uniform across sources. */
  def dedupSurvivorBias(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val removed = ExtQueries.winnowFrames(spark, dir)("wp3")
      .select(col("id_b").as("id")).distinct()
      .withColumn("rm", lit(1L))
    val base = docs.select(col("doc_id").as("id"), col("lang"),
      size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"))
    val per = base.join(removed, Seq("id"), "left_outer")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs_before"),
        sum(col("n_tok")).as("tokens_before"),
        sum(when(col("rm").isNull, 1L).otherwise(0L)).as("docs_after"),
        sum(when(col("rm").isNull, col("n_tok")).otherwise(0L))
          .as("tokens_after"))
    val tots = per.agg(sum(col("tokens_before")).as("tb"),
      sum(col("tokens_after")).as("ta"))
    per.crossJoin(broadcast(tots))
      .select(col("lang"), col("docs_before"), col("tokens_before"),
        col("docs_after"), col("tokens_after"),
        (col("tokens_before").cast("double") / col("tb").cast("double"))
          .as("share_before"),
        (col("tokens_after").cast("double") / col("ta").cast("double"))
          .as("share_after"))
  }

  /** Collocation extraction by LIFT — the log-free PMI:
    * lift(w1,w2) = p(w1w2)/(p(w1)·p(w2)) = c12·N / (c1·c2), a ratio of
    * exact BIGINT products (PMI's log only monotonically rescales the
    * ranking, so dropping it loses nothing and buys hash-gateability).
    * Frequency floor 5 kills the rare-pair lift explosion; top-20 on
    * (lift desc, w1, w2). The phrase-mining pass that feeds tokenizer
    * vocab candidates and stop-phrase lists. */
  def collocationLift(spark: SparkSession, dir: String): DataFrame = {
    val big = Lm.seqBigrams(Tables(spark, dir, "documents"),
      col("doc_id"), col("text"))
    val c12 = graft.Tables.materialize(Lm.bigramCounts(big))
    val n = c12.agg(sum(col("c12")).as("n"))
    val cl = c12.groupBy(col("w1")).agg(sum(col("c12")).as("cl"))
    val cr = c12.groupBy(col("w2")).agg(sum(col("c12")).as("cr"))
    c12.filter(col("c12") >= 5)
      .join(cl, "w1").join(cr, "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"),
        ((col("c12") * col("n")).cast("double") /
          (col("cl") * col("cr")).cast("double")).as("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(20)
  }

  /** Hashing-trick featurization of the events table — the tabular
    * export that feeds a downstream classical model: event types hash
    * into 16 signed buckets (sign from an independent hash bit, the
    * collision-debiasing trick), per-user bucket sums become the
    * sparse feature vector (surfaced sorted+joined — the gate cannot
    * hash raw arrays), labeled by purchase presence. Pure per-row
    * projection + one aggregation; vocabulary-free, so schema is
    * stable at any scale. */
  def featureHashExport(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_type"))
    val feat = ev
      .withColumn("b", TextFunctions.hash32(col("event_type")) % 16)
      .withColumn("s",
        when(TextFunctions.hash32b(col("event_type")) % 2 === 0, 1L)
          .otherwise(-1L))
      .groupBy(col("user_id"), col("b")).agg(sum(col("s")).as("v"))
      .filter(col("v") =!= 0)
      .groupBy(col("user_id"))
      .agg(concat_ws(",", sort_array(collect_list(
        concat_ws(":", col("b"), col("v"))))).as("features"))
    val label = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("label"))
    feat.join(label, "user_id")
  }

  /** Rank-biased overlap between the lexical (BM25) and model-reranked
    * orderings of the same candidate list
    * ([[CorpusQueries.retrievalRerank]]) — the ranking-churn metric an
    * index or model rollout is judged by. RBO with p = 1/2 truncated
    * at depth 10: term_d = |A_{:d} ∩ B_{:d}| / (d·2^d) — a DYADIC
    * weight, so each term is one exact-rounded divide and the
    * cumulative sum runs in fixed depth order on both engines. The
    * d·2^d denominators ride a 10-row literal frame (both lists rank
    * the same 10 candidates, so overlap_d = #{max(ra,rb) ≤ d}). */
  def rankingRbo(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val r = CorpusQueries.retrievalRerank(spark, dir)
      .select(col("doc_id"), col("bm25_score"), col("rerank"))
    val ranked = r.withColumn("ra", row_number().over(
        Window.orderBy(col("bm25_score").desc, col("doc_id").asc))
        .cast("long"))
      .select(greatest(col("ra"), col("rerank")).as("m"))
    val dens = (1 to 10).map(d => (d.toLong, d.toLong * (1L << d)))
      .toDF("d", "den")
    dens.crossJoin(ranked)
      .groupBy(col("d"), col("den"))
      .agg(sum(when(col("m") <= col("d"), 1L).otherwise(0L))
        .as("overlap"))
      .withColumn("term",
        col("overlap").cast("double") / col("den").cast("double"))
      .withColumn("rbo_cum", sum(col("term")).over(
        Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("d"), col("overlap"), col("term"), col("rbo_cum"))
  }

  /** Trigram LM with STUPID BACKOFF (Brants et al.'s web-scale
    * recipe — the backoff weight is a constant, no discounting
    * renormalization, which is exactly what keeps it expressible in
    * integer algebra): train on even doc_ids, score odd doc_ids;
    * per trigram occurrence the score is the first tier that fires,
    * quantized to 2⁻²⁰ units with λ = 2/5 per backoff level:
    *
    *   tier 3: ⌊2²⁰·c₃/c₂⌋          (trigram seen in train)
    *   tier 2: ⌊2·2²⁰·b₂/(5·b₁)⌋    (bigram (w2,w3) seen)
    *   tier 1: ⌊4·2²⁰·u(w3)/(25·N)⌋ (unigram seen)
    *   tier 0: 0                     (w3 unseen entirely)
    *
    * Surfaced per (lang, tier) so the gate also records HOW OFTEN the
    * model backs off — the coverage statistic that decides whether a
    * bigger n-gram order is worth the storage. */
  def lmTrigramBackoff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val all = graft.Tables.materialize(
      Lm.seqTrigrams(docs, col("doc_id"), col("text"),
        carry = Seq("lang")))
    val tr = all.filter(col("id") % 2 === 0)
    val c3 = graft.Tables.materialize(
      tr.groupBy(col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("c3")))
    val c2 = c3.groupBy(col("w1"), col("w2")).agg(sum(col("c3")).as("c2"))
    val b2 = tr.groupBy(col("w2").as("u"), col("w3").as("v"))
      .agg(count(lit(1)).as("b2"))
    // b1 derives from b2 — rename its key so the twin joins below
    // don't trip the ambiguous-self-join check
    val b1 = b2.groupBy(col("u")).agg(sum(col("b2")).as("b1"))
      .withColumnRenamed("u", "u1")
    val u = Lm.tokenCounts(docs.filter(col("doc_id") % 2 === 0),
      col("text")).withColumnRenamed("n", "cu")
    val n = u.agg(sum(col("cu")).as("n"))
    // The backoff score is a function of the TRIGRAM, not of the
    // occurrence: collapse the scored side to distinct
    // (lang, w1, w2, w3) with an occurrence count BEFORE the five
    // count-table joins, then weight the closing roll-up by `occ` —
    // the joins and their shuffles carry distinct trigrams instead of
    // every occurrence (map-side aggregation ahead of the exchange),
    // and n_grams/q_sum come out identical.
    all.filter(col("id") % 2 === 1)
      .groupBy(col("lang"), col("w1"), col("w2"), col("w3"))
      .agg(count(lit(1)).as("occ"))
      .join(c3, Seq("w1", "w2", "w3"), "left_outer")
      .join(c2, Seq("w1", "w2"), "left_outer")
      .join(b2, col("w2") === b2("u") && col("w3") === b2("v"),
        "left_outer")
      .join(b1, col("w2") === b1("u1"), "left_outer")
      .join(u, col("w3") === u("tok"), "left_outer")
      .crossJoin(broadcast(n))
      .withColumn("tier",
        when(col("c3").isNotNull, 3L)
          .when(col("b2").isNotNull, 2L)
          .when(col("cu").isNotNull, 1L).otherwise(0L))
      .withColumn("q",
        when(col("c3").isNotNull, expr("(c3 * 1048576L) div c2"))
          .when(col("b2").isNotNull,
            expr("(2L * b2 * 1048576L) div (5L * b1)"))
          .when(col("cu").isNotNull,
            expr("(4L * cu * 1048576L) div (25L * n)"))
          .otherwise(0L))
      .groupBy(col("lang"), col("tier"))
      .agg(sum(col("occ")).as("n_grams"),
        sum(col("q") * col("occ")).as("q_sum"))
  }

  /** LM drift trigger — the corpus-fluency twin of `ann_drift_trigger`
    * (embedding drift) and `bpe_drift_audit` (tokenizer drift),
    * completing the retrain-monitor family: the STANDING model
    * (doc_id % 4 < 3) scores both halves; if the incoming batch's mean
    * transition probability drops more than 5% below the standing
    * corpus's own score, the model is stale. The flag is the
    * cross-multiplied integer predicate
    * q_inc·n_std·100 < q_std·n_inc·95 — no float compare decides the
    * retrain. The q sums and every cross product run in DECIMAL(38,0)
    * (q ≈ n_bigrams·2²⁰ wraps a BIGINT sum near 10¹³ bigrams, and the
    * predicate products far earlier); the q sums surface as DOUBLE. */
  def lmDriftTrigger(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val big = graft.Tables.materialize(
      Lm.seqBigrams(docs, col("doc_id"), col("text")))
    val c12 = Lm.bigramCounts(big.filter(col("id") % 4 < 3))
    val scored = Lm.scoreBigrams(big, c12, Lm.contextCounts(c12),
        Lm.vocabSize(docs.filter(col("doc_id") % 4 < 3), col("text")))
      .withColumn("inc", col("id") % 4 === 3)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val agg = scored.groupBy(col("inc"))
      .agg(count(lit(1)).as("n"), sum(dec(col("q"))).as("qs"))
    val std = agg.filter(!col("inc"))
      .select(col("n").as("n_std"), col("qs").as("q_std"))
    val inc = agg.filter(col("inc"))
      .select(col("n").as("n_inc"), col("qs").as("q_inc"))
    std.crossJoin(inc).select(
      col("n_std"), col("q_std").cast("double").as("q_std"),
      col("n_inc"), col("q_inc").cast("double").as("q_inc"),
      (col("q_std").cast("double") /
        (dec(col("n_std")) * lit(1048576L)).cast("double"))
        .as("mean_p_std"),
      (col("q_inc").cast("double") /
        (dec(col("n_inc")) * lit(1048576L)).cast("double"))
        .as("mean_p_inc"),
      (col("q_inc") * col("n_std") * 100 <
        col("q_std") * col("n_inc") * 95).as("retrain"))
  }

  /** Training-order E2E — the composition gate for this module, the
    * corpus-prep counterpart of `corpus_quality_e2e` /
    * `retrieval_pipeline_e2e`: LM quality filter (integer predicate)
    * → winnowing keep-first dedup → quality-bucketed curriculum over
    * the SURVIVORS (cuts computed post-filter, where they belong) →
    * per-(lang, bucket) export stats with the curriculum position
    * range. One plan; every stage is an already-gated shape, so the
    * oracle composes the existing CTE chains. */
  def corpusTrainOrderE2e(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val per = lmScorePer(spark, dir)
    val removed = ExtQueries.winnowFrames(spark, dir)("wp3")
      .select(col("id_b").as("id")).distinct()
      .withColumn("rm", lit(1L))
    val t = TextFunctions.tokens(col("text"))
    val survivors = docs.select(col("doc_id").as("id"), col("lang"),
        size(t).cast("long").as("n_tok"))
      .join(per, Seq("id"))
      .join(removed, Seq("id"), "left_outer")
      .filter(col("rm").isNull && col("n_bigrams") > 0 &&
        col("q_sum") >= col("n_bigrams") * lit(35840L))
      .withColumn("flu", expr("q_sum div n_bigrams"))
      .withColumn("_h", md5(concat(lit("cq|"), col("id").cast("string"))))
    val cuts = survivors.agg(
      expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY flu)").as("_c1"),
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY flu)").as("_c2"),
      expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY flu)").as("_c3"))
    val bucketed = survivors.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        (lit(1) + (col("flu") > col("_c1")).cast("int")
          + (col("flu") > col("_c2")).cast("int")
          + (col("flu") > col("_c3")).cast("int")).cast("long"))
      .drop("_c1", "_c2", "_c3")
      .withColumn("_ord", -col("bucket"))
    graft.ext.Corpus.globalOrderRank(bucketed, 32,
        col("_ord"), col("_h"), col("id"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        min(col("_rank")).as("min_pos"), max(col("_rank")).as("max_pos"))
  }

  /** SFT conversation prep: each user's event stream becomes a
    * training "conversation" — turns rendered `<role>event_type` in
    * (ts, event_id) order (purchase/signup play the assistant role),
    * with the LOSS-MASK accounting every instruction-tuning exporter
    * needs: total rendered length vs assistant-only (unmasked)
    * length, plus an md5 fingerprint of the rendered dialog (the
    * dedup key for conversations). The ordered concat rides the
    * array_sort(collect_list(struct(...))) idiom — a per-group sort
    * bounded by the user's turn count, no global window. */
  def sftTurnMask(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type"),
        when(col("event_type").isin("purchase", "signup"), lit("a"))
          .otherwise(lit("u")).as("role"))
      .withColumn("turn",
        concat(lit("<"), col("role"), lit(">"), col("event_type")))
      .withColumn("mlen",
        when(col("role") === "a", length(col("turn")).cast("long"))
          .otherwise(0L))
    ev.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_turns"),
        sum(when(col("mlen") > 0, 1L).otherwise(0L)).as("n_assistant"),
        sum(length(col("turn")).cast("long")).as("total_len"),
        sum(col("mlen")).as("masked_len"),
        md5(concat_ws("", transform(
          array_sort(collect_list(struct(col("us"), col("event_id"),
            col("turn")))),
          s => s.getField("turn")))).as("fp"))
  }

  /** Dataset card — the one-row release artifact summarizing what a
    * consumer needs to know before training on the corpus: size
    * (docs/tokens/languages), LM-quality pass rate, near-dup document
    * rate (winnowing pairs), and langid/label agreement. Every
    * statistic reuses an already-gated chain; the divides are single
    * exact-rounded ops on identical operand trees. Fused the DQ-report
    * way (LakeQueries.dqChecks): the per-doc flag frame aggregates
    * ONCE — per-branch aggregation would rescan the corpus per
    * statistic. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val per = lmScorePer(spark, dir)
    val dup = ExtQueries.winnowFrames(spark, dir)("wp3")
    val dupIds = dup.select(col("id_a").as("id"))
      .unionByName(dup.select(col("id_b").as("id"))).distinct()
      .withColumn("dup", lit(1L))
    val flags = docs.select(col("doc_id").as("id"), col("lang"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("n_tok"),
        (TextFunctions.langId(col("text")) === col("lang"))
          .cast("long").as("lid_ok"))
      .join(per, Seq("id"))
      .join(dupIds, Seq("id"), "left_outer")
    flags.agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tok")).as("n_tokens"),
      count_distinct(col("lang")).as("n_langs"),
      sum(when(col("n_bigrams") > 0 &&
        col("q_sum") >= col("n_bigrams") * lit(35840L), 1L)
        .otherwise(0L)).as("n_quality"),
      sum(coalesce(col("dup"), lit(0L))).as("n_near_dup"),
      sum(col("lid_ok")).as("n_lid_agree"))
      .select(col("n_docs"), col("n_tokens"), col("n_langs"),
        (col("n_quality").cast("double") / col("n_docs").cast("double"))
          .as("quality_rate"),
        (col("n_near_dup").cast("double") / col("n_docs").cast("double"))
          .as("near_dup_rate"),
        (col("n_lid_agree").cast("double") / col("n_docs").cast("double"))
          .as("langid_agreement"))
  }

  /** Per-epoch reproducible shuffles: epoch e's training order is the
    * hash rank of md5("ep" ‖ e ‖ "|" ‖ id) — orders differ across
    * epochs (no epoch sees the previous epoch's neighbor pairs, the
    * gradient-correlation hygiene multi-epoch training wants) yet each
    * is reproducible on any engine. Surfaced as one row per epoch with
    * an ORDER-SENSITIVE integer checksum Σ pos·(id+1), so the gate
    * pins the exact permutation, and the head doc as a spot check.
    * The rank machinery is [[graft.ext.Corpus.globalOrderRank]], once
    * per epoch (a fixed, small count). */
  def epochShuffleOrders(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    val perEpoch = (0 to 2).map { e =>
      graft.ext.Corpus.globalOrderRank(
        docs.withColumn("_h", md5(concat(lit(s"ep$e|"),
          col("doc_id").cast("string")))),
        32, col("_h"), col("doc_id"))
        .select(lit(e.toLong).as("epoch"), col("doc_id"),
          col("_rank").as("pos"))
    }
    perEpoch.reduce(_ unionByName _)
      .groupBy(col("epoch"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pos") * (col("doc_id") + 1)).as("order_checksum"),
        max(when(col("pos") === 0, col("doc_id"))).as("first_doc"))
  }

  /** Curriculum export manifest: the quality-curriculum order
    * ([[curriculumByQuality]]) sharded 64 docs per file, with the
    * per-shard contiguity evidence (min/max position, count) and an
    * order-sensitive checksum — the validation handshake the training
    * reader runs against a delivered curriculum export (the
    * quality-ordered twin of `export_manifest`). */
  def curriculumExportManifest(spark: SparkSession, dir: String)
      : DataFrame =
    curriculumByQuality(spark, dir)
      .withColumn("shard", expr("curriculum_pos div 64"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("curriculum_pos")).as("min_pos"),
        max(col("curriculum_pos")).as("max_pos"),
        sum(col("id") * (col("curriculum_pos") + 1)).as("order_checksum"))

  /** Quality-signal redundancy: Spearman rank correlation between the
    * LM fluency score and the hashed-linear-scorer score (its
    * relational twin — the stream_model_score algebra) over all
    * documents — the measurement run before adding a signal to the
    * ensemble: a new signal that rank-correlates ~1 with an existing
    * one buys nothing. Integer-exact rank algebra (spearman_corr's
    * machinery); the scorer's double is only an ORDERING key, and
    * identical expression trees order identically on both engines.
    * Σd² and the n·(n²−1) denominator run in DECIMAL(38,0) (they wrap
    * BIGINT past ~2M documents); Σd² surfaces as DOUBLE. */
  def qualitySignalCorr(spark: SparkSession, dir: String): DataFrame = {
    // Both signal legs ride the shared tiers instead of re-running
    // their full corpus passes: the fluency leg reads the lm_score
    // tier (scoreDocs over documents, verbatim), the scorer leg
    // explodes the doc_toks tier's token arrays (Dedup.tokenize is
    // the same TextFunctions.tokens split, and tokens() never yields
    // an empty array — trim+split of "" is [""] — so the exploded
    // rows are identical).
    val flu = lmScorePer(spark, dir)
      .select(col("id").as("doc_id"),
        when(col("n_bigrams") > 0, expr("q_sum div n_bigrams"))
          .otherwise(0L).as("x"))
    val sc = ExtQueries.docToksFrames(spark, dir)("toks")
      .select(col("id").as("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("b", TextFunctions.hash32(col("tok")) % 1024)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nt"),
        sum((col("b") * lit(2654435761L)) % 2003L - 1001L).as("raw"))
      .select(col("doc_id"), (col("raw").cast("double") /
        (lit(1001.0) * col("nt").cast("double"))).as("y"))
    val base = graft.Tables.materialize(flu.join(sc, "doc_id"))
    def rank(c: String, out: String) = graft.ext.Corpus
      .globalOrderRank(base.select(col("doc_id"), col(c)), 32,
        col(c), col("doc_id"))
      .select(col("doc_id"), col("_rank").as(out))
    def dec(c: Column) = c.cast("decimal(38,0)")
    rank("x", "rx").join(rank("y", "ry"), "doc_id")
      .select((col("rx") - col("ry")).as("d"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("d")) * col("d")).as("sum_d2"))
      .select(col("n"), col("sum_d2").cast("double").as("sum_d2"),
        (lit(1.0) - (dec(lit(6L)) * col("sum_d2")).cast("double") /
          (dec(col("n")) * (dec(col("n")) * col("n") - 1)).cast("double"))
          .as("rho"))
  }

  /** Per-language token concentration: the share of token occurrences
    * held by each language's top-8 tokens — the head-heaviness
    * diversity audit (a language whose head dominates is boilerplate-
    * heavy; complements the corpus-global `vocab_topk` and the Gini
    * gate). The per-language rank window is bounded by the language's
    * VOCABULARY (not its token count), the same bound vocab_topk
    * documents. */
  def tokenTailAudit(spark: SparkSession, dir: String): DataFrame = {
    val cnt = Tables(spark, dir, "documents")
      .select(col("lang"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val ranked = cnt.withColumn("r", row_number().over(
      Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("tok").asc)))
    ranked.groupBy(col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(when(col("r") <= 8, col("c")).otherwise(0L)).as("head8"))
      .select(col("lang"), col("n_tokens"), col("n_distinct"),
        col("head8"),
        (col("head8").cast("double") / col("n_tokens").cast("double"))
          .as("head8_share"))
  }

  /** Resample the corpus to a COMPUTED target mixture — the closing
    * half of the allocation story: [[tokenBudgetAlloc]]'s Hamilton
    * shares (budget 8192 tokens, small enough that rates bind) become
    * per-language acceptance rates in 2⁻²⁰ units, and documents accept
    * on a content-hash draw below the rate — deterministic,
    * engine-independent, and proportional in expectation. Output per
    * language: target allocation vs what the draw actually sampled
    * (docs + tokens) — the report a mixture-rebalancing job emits.
    * Unlike `sample_mixture` (operator-supplied fixed rates) the
    * rates here are DERIVED from the measured corpus. */
  def mixtureResampleToAlloc(spark: SparkSession, dir: String)
      : DataFrame = {
    val rate = hamiltonAlloc(spark, dir, budget = 8192L)
      .withColumn("rate",
        least(lit(1048576L), expr("(1048576L * alloc) div n_tok")))
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(TextFunctions.tokens(col("text"))).cast("long").as("nt"),
        (TextFunctions.hash32(concat(lit("mr|"),
          col("doc_id").cast("string"))) % 1048576L).as("h"))
    docs.join(broadcast(rate), "lang")
      .groupBy(col("lang"), col("n_tok"), col("alloc"))
      .agg(sum(when(col("h") < col("rate"), 1L).otherwise(0L))
          .as("n_docs_sampled"),
        sum(when(col("h") < col("rate"), col("nt")).otherwise(0L))
          .as("n_tokens_sampled"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mixture_resample_to_alloc" -> mixtureResampleToAlloc _,
    "token_tail_audit" -> tokenTailAudit _,
    "quality_signal_corr" -> qualitySignalCorr _,
    "epoch_shuffle_orders" -> epochShuffleOrders _,
    "curriculum_export_manifest" -> curriculumExportManifest _,
    "dataset_card" -> datasetCard _,
    "sft_turn_mask" -> sftTurnMask _,
    "corpus_train_order_e2e" -> corpusTrainOrderE2e _,
    "lm_drift_trigger" -> lmDriftTrigger _,
    "lm_trigram_backoff" -> lmTrigramBackoff _,
    "ranking_rbo" -> rankingRbo _,
    "collocation_lift" -> collocationLift _,
    "feature_hash_export" -> featureHashExport _,
    "quality_label_propagation" -> qualityLabelPropagation _,
    "dedup_survivor_bias" -> dedupSurvivorBias _,
    "lm_incremental_update" -> lmIncrementalUpdate _,
    "curriculum_by_quality" -> curriculumByQuality _,
    "vocab_growth_curve" -> vocabGrowthCurve _,
    "ngram_coverage_audit" -> ngramCoverageAudit _,
    "lang_confusion_audit" -> langConfusionAudit _,
    "release_neardup_diff" -> releaseNeardupDiff _,
    "quality_ensemble_gate" -> qualityEnsembleGate _,
    "bitext_margin_mining" -> bitextMarginMining _,
    "cluster_balanced_sample" -> clusterBalancedSample _,
    "lm_bigram_score" -> lmBigramScore _,
    "dsir_importance_sample" -> dsirImportanceSample _,
    "lm_holdout_perlang" -> lmHoldoutPerlang _,
    "lm_quality_filter" -> lmQualityFilter _,
    "token_tv_divergence" -> tokenTvDivergence _,
    "token_budget_alloc" -> tokenBudgetAlloc _,
    "epoch_repeat_plan" -> epochRepeatPlan _)

  // Whole-corpus bigram-LM CTE chain (shared by lm_bigram_score and
  // lm_quality_filter). `//` on positive BIGINTs floors exactly like
  // Spark's `div`; the result is CAST back to BIGINT (DuckDB floor-div
  // returns DOUBLE-typed values otherwise).
  private val lmCtes =
    s"""lm_t AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents),
       |lm_b AS (
       |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
       |  FROM lm_t,
       |    LATERAL (SELECT unnest(range(1, greatest(length(t), 1))) AS i)),
       |lm_c12 AS (
       |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
       |  FROM lm_b GROUP BY 1, 2),
       |lm_c1 AS (
       |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM lm_c12
       |  GROUP BY 1),
       |lm_v AS (
       |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
       |  FROM (SELECT unnest(t) AS tok FROM lm_t) WHERE tok <> ''),
       |lm_q AS (
       |  SELECT b.doc_id,
       |    CAST(((c12 + 1) * 1048576) // (c1 + v) AS BIGINT) AS q
       |  FROM lm_b b JOIN lm_c12 USING (w1, w2) JOIN lm_c1 USING (w1),
       |    lm_v),
       |lm_per AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
       |    CAST(SUM(q) AS BIGINT) AS q_sum
       |  FROM lm_q GROUP BY 1)""".stripMargin

  /** [[Lm.dsirWeights]]/[[Lm.dsirKeep]] twin: hashed-bigram bucket
    * features, add-one quantized target/raw bucket models, per-doc
    * quantized-sum ratio, and the DECIMAL(18,0)-product keep rule.
    * `//` wraps in CAST AS BIGINT (BIGINT floor-div returns DOUBLE);
    * results stay below 2⁵³ so the double floor is exact. */
  private val dsirSql =
    s"""WITH ds_t AS (
       |  SELECT doc_id, lang,
       |    string_split_regex(trim(text), '\\s+') AS t
       |  FROM documents),
       |ds_b AS (
       |  SELECT doc_id, lang,
       |    CAST(('0x' || substr(md5(t[i] || '|' || t[i+1]), 1, 8))
       |      AS BIGINT) % 512 AS f
       |  FROM ds_t,
       |    LATERAL (SELECT unnest(range(1, greatest(length(t), 1))) AS i)),
       |ds_c AS (
       |  SELECT f, CAST(count(*) AS BIGINT) AS cr,
       |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS ct
       |  FROM ds_b GROUP BY f),
       |ds_n AS (
       |  SELECT CAST(SUM(cr) AS BIGINT) AS nr,
       |    CAST(SUM(ct) AS BIGINT) AS nt
       |  FROM ds_c),
       |ds_q AS (
       |  SELECT f,
       |    CAST(((ct + 1) * 1048576) // (nt + 512) AS BIGINT) AS qt,
       |    CAST(((cr + 1) * 1048576) // (nr + 512) AS BIGINT) AS qr
       |  FROM ds_c, ds_n),
       |ds_w AS (
       |  SELECT doc_id, CAST(SUM(qt) AS BIGINT) AS num,
       |    CAST(SUM(qr) AS BIGINT) AS den
       |  FROM ds_b JOIN ds_q USING (f) GROUP BY doc_id),
       |ds_k AS (
       |  SELECT d.doc_id, d.lang,
       |    coalesce(w.num, 0) AS num, coalesce(w.den, 0) AS den,
       |    CASE WHEN w.doc_id IS NULL THEN FALSE
       |      ELSE CAST(CAST(('0x' ||
       |          substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
       |          AS DECIMAL(18,0)) * CAST(w.den AS DECIMAL(18,0))
       |        < CAST(w.num AS DECIMAL(18,0))
       |          * CAST(4294967296 AS DECIMAL(18,0)) END AS keep
       |  FROM documents d LEFT JOIN ds_w w ON w.doc_id = d.doc_id)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(num) AS BIGINT) AS sum_num,
       |  CAST(SUM(den) AS BIGINT) AS sum_den,
       |  CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS kept_share
       |FROM ds_k GROUP BY lang""".stripMargin

  // langId's score/argmax algebra rebuilt from the shared expr list so
  // the confusion matrix can never drift from the text_langid gate
  private val lcParts = {
    val scoreCols = ExtQueries.langScoreExprs
      .map { case (l, e) => s"  $e AS score_$l" }.mkString(",\n")
    val best = ExtQueries.langScoreExprs.map { case (l, _) => s"score_$l" }
      .reduceRight((a, b) => s"greatest($a, $b)")
    val guess = ExtQueries.langScoreExprs.reverse
      .foldLeft("'und'") { case (els, (l, _)) =>
        s"CASE WHEN score_$l = best AND score_$l > 0 THEN '$l' ELSE $els END"
      }
    (scoreCols, best, guess)
  }

  // per-doc ensemble votes CTE chain (lm chain + diversity + length),
  // shared by quality_ensemble_gate and quality_label_propagation
  private val votesCtes =
    s"""$lmCtes,
       |qv_d AS (
       |  SELECT doc_id,
       |    CAST(count(DISTINCT w1 || ' ' || w2) AS BIGINT) AS nd
       |  FROM lm_b GROUP BY 1),
       |qv_n AS (
       |  SELECT doc_id, CAST(length(t) AS BIGINT) AS n_tok
       |  FROM lm_t),
       |qv_v AS (
       |  SELECT d.doc_id AS id, d.lang,
       |    CAST((CASE WHEN p.n IS NOT NULL AND p.q_sum >= p.n * 35840
       |        THEN 1 ELSE 0 END)
       |      + (CASE WHEN n.n_tok >= 30 THEN 1 ELSE 0 END)
       |      + (CASE WHEN p.n IS NOT NULL
       |          AND COALESCE(dd.nd, 0) * 16 >= p.n * 15
       |        THEN 1 ELSE 0 END) AS BIGINT) AS votes
       |  FROM documents d
       |  JOIN qv_n n USING (doc_id)
       |  LEFT JOIN lm_per p USING (doc_id)
       |  LEFT JOIN qv_d dd USING (doc_id))""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "mixture_resample_to_alloc" ->
      """WITH mr_t AS (
        |  SELECT lang,
        |    CAST(SUM(length(string_split_regex(trim(text), '\s+')))
        |      AS BIGINT) AS n_tok
        |  FROM documents GROUP BY 1),
        |mr_n AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n FROM mr_t),
        |mr_b AS (
        |  SELECT lang, n_tok,
        |    CAST((8192 * n_tok) // n AS BIGINT) AS base,
        |    CAST((8192 * n_tok) % n AS BIGINT) AS rem
        |  FROM mr_t, mr_n),
        |mr_k AS (SELECT CAST(8192 - SUM(base) AS BIGINT) AS k
        |         FROM mr_b),
        |mr_a AS (
        |  SELECT lang, n_tok,
        |    CAST(base + CASE WHEN
        |      row_number() OVER (ORDER BY rem DESC, lang ASC) <= k
        |      THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |  FROM mr_b, mr_k),
        |mr_r AS (
        |  SELECT lang, n_tok, alloc,
        |    least(1048576, CAST((1048576 * alloc) // n_tok AS BIGINT))
        |      AS rate
        |  FROM mr_a),
        |mr_d AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(length(string_split_regex(trim(d.text), '\s+'))
        |      AS BIGINT) AS nt,
        |    ('0x' || substr(md5('mr|' || CAST(d.doc_id AS VARCHAR)),
        |      1, 8))::BIGINT % 1048576 AS h
        |  FROM documents d)
        |SELECT r.lang, r.n_tok, r.alloc,
        |  CAST(SUM(CASE WHEN d.h < r.rate THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_docs_sampled,
        |  CAST(SUM(CASE WHEN d.h < r.rate THEN d.nt ELSE 0 END)
        |    AS BIGINT) AS n_tokens_sampled
        |FROM mr_d d JOIN mr_r r USING (lang)
        |GROUP BY 1, 2, 3""".stripMargin,
    "token_tail_audit" ->
      s"""WITH tt_c AS (
         |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT lang, unnest(${ExtQueries.toks}) AS tok
         |        FROM documents)
         |  WHERE tok <> '' GROUP BY 1, 2),
         |tt_r AS (
         |  SELECT lang, c,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY c DESC, tok ASC) AS r
         |  FROM tt_c)
         |SELECT lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  CAST(count(*) AS BIGINT) AS n_distinct,
         |  CAST(SUM(CASE WHEN r <= 8 THEN c ELSE 0 END) AS BIGINT)
         |    AS head8,
         |  CAST(SUM(CASE WHEN r <= 8 THEN c ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(c) AS BIGINT) AS head8_share
         |FROM tt_r GROUP BY 1""".stripMargin,
    "quality_signal_corr" ->
      s"""WITH $lmCtes,
         |qc_f AS (
         |  SELECT d.doc_id,
         |    CAST(COALESCE(p.q_sum // p.n, 0) AS BIGINT) AS x
         |  FROM documents d LEFT JOIN lm_per p USING (doc_id)),
         |qc_h AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
         |  FROM (SELECT doc_id, unnest(${ExtQueries.toks}) AS tok
         |        FROM documents)),
         |qc_s AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS nt,
         |    CAST(SUM((b * 2654435761) % 2003 - 1001) AS BIGINT) AS raw
         |  FROM qc_h GROUP BY 1),
         |qc_y AS (
         |  SELECT doc_id, CAST(raw AS DOUBLE)
         |    / (CAST(1001 AS DOUBLE) * CAST(nt AS DOUBLE)) AS y
         |  FROM qc_s),
         |qc_r AS (
         |  SELECT f.doc_id,
         |    row_number() OVER (ORDER BY x, f.doc_id) - 1 AS rx,
         |    row_number() OVER (ORDER BY y, f.doc_id) - 1 AS ry
         |  FROM qc_f f JOIN qc_y USING (doc_id)),
         |qc_a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    SUM(CAST(rx - ry AS HUGEINT) * (rx - ry)) AS sum_d2
         |  FROM qc_r)
         |SELECT n, CAST(sum_d2 AS DOUBLE) AS sum_d2,
         |  CAST(1.0 AS DOUBLE) - CAST(6 * sum_d2 AS DOUBLE)
         |    / CAST(CAST(n AS HUGEINT)
         |           * (CAST(n AS HUGEINT) * n - 1) AS DOUBLE) AS rho
         |FROM qc_a""".stripMargin,
    "epoch_shuffle_orders" ->
      """WITH es_e AS (SELECT unnest([0, 1, 2]) AS epoch),
        |es_r AS (
        |  SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
        |    row_number() OVER (PARTITION BY epoch
        |      ORDER BY md5('ep' || CAST(epoch AS VARCHAR) || '|'
        |        || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |  FROM documents, es_e)
        |SELECT epoch, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(pos * (doc_id + 1)) AS BIGINT) AS order_checksum,
        |  CAST(MAX(CASE WHEN pos = 0 THEN doc_id END) AS BIGINT)
        |    AS first_doc
        |FROM es_r GROUP BY 1""".stripMargin,
    "curriculum_export_manifest" ->
      s"""WITH $lmCtes,
         |cm_s AS (
         |  SELECT d.doc_id AS id,
         |    CAST(COALESCE(p.q_sum // p.n, 0) AS BIGINT) AS flu,
         |    md5('cq|' || CAST(d.doc_id AS VARCHAR)) AS h
         |  FROM documents d LEFT JOIN lm_per p USING (doc_id)),
         |cm_c AS (
         |  SELECT
         |    percentile_disc(0.25) WITHIN GROUP (ORDER BY flu) AS c1,
         |    percentile_disc(0.5)  WITHIN GROUP (ORDER BY flu) AS c2,
         |    percentile_disc(0.75) WITHIN GROUP (ORDER BY flu) AS c3
         |  FROM cm_s),
         |cm_b AS (
         |  SELECT id, flu, h,
         |    CAST(1 + CAST(flu > c1 AS INT) + CAST(flu > c2 AS INT)
         |           + CAST(flu > c3 AS INT) AS BIGINT) AS bucket
         |  FROM cm_s CROSS JOIN cm_c),
         |cm_r AS (
         |  SELECT id,
         |    row_number() OVER (ORDER BY bucket DESC, h, id) - 1 AS pos
         |  FROM cm_b)
         |SELECT CAST(pos // 64 AS BIGINT) AS shard,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(MIN(pos) AS BIGINT) AS min_pos,
         |  CAST(MAX(pos) AS BIGINT) AS max_pos,
         |  CAST(SUM(id * (pos + 1)) AS BIGINT) AS order_checksum
         |FROM cm_r GROUP BY 1""".stripMargin,
    "dataset_card" ->
      s"""WITH $lmCtes,
         |${ExtQueries.winnowPairCtes},
         |dc_dup AS (
         |  SELECT DISTINCT id FROM (
         |    SELECT id_a AS id FROM wf_pairs
         |    UNION ALL SELECT id_b FROM wf_pairs)),
         |dc_s AS (
         |  SELECT doc_id,
         |${ExtQueries.langScoreExprs
             .map { case (l, e) => s"    $e AS score_$l" }
             .mkString(",\n")}
         |  FROM documents),
         |dc_b AS (SELECT *, ${lcParts._2} AS best FROM dc_s),
         |dc_g AS (SELECT doc_id, ${lcParts._3} AS guess FROM dc_b),
         |dc_f AS (
         |  SELECT d.doc_id,
         |    CAST(length(${ExtQueries.toks}) AS BIGINT) AS n_tok,
         |    d.lang,
         |    CASE WHEN g.guess = d.lang THEN 1 ELSE 0 END AS lid_ok,
         |    CASE WHEN p.n IS NOT NULL AND p.q_sum >= p.n * 35840
         |      THEN 1 ELSE 0 END AS q_ok,
         |    CASE WHEN u.id IS NOT NULL THEN 1 ELSE 0 END AS dup
         |  FROM documents d
         |  JOIN dc_g g ON g.doc_id = d.doc_id
         |  LEFT JOIN lm_per p ON p.doc_id = d.doc_id
         |  LEFT JOIN dc_dup u ON u.id = d.doc_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(SUM(q_ok) AS DOUBLE) / CAST(count(*) AS BIGINT)
         |    AS quality_rate,
         |  CAST(SUM(dup) AS DOUBLE) / CAST(count(*) AS BIGINT)
         |    AS near_dup_rate,
         |  CAST(SUM(lid_ok) AS DOUBLE) / CAST(count(*) AS BIGINT)
         |    AS langid_agreement
         |FROM dc_f""".stripMargin,
    "sft_turn_mask" ->
      """WITH sf_r AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    '<' || (CASE WHEN event_type IN ('purchase', 'signup')
        |      THEN 'a' ELSE 'u' END) || '>' || event_type AS turn,
        |    CASE WHEN event_type IN ('purchase', 'signup')
        |      THEN length('<a>' || event_type) ELSE 0 END AS mlen
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_turns,
        |  CAST(SUM(CASE WHEN mlen > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_assistant,
        |  CAST(SUM(length(turn)) AS BIGINT) AS total_len,
        |  CAST(SUM(mlen) AS BIGINT) AS masked_len,
        |  md5(string_agg(turn, '' ORDER BY us, event_id)) AS fp
        |FROM sf_r GROUP BY 1""".stripMargin,
    "corpus_train_order_e2e" ->
      s"""WITH $lmCtes,
         |${ExtQueries.winnowPairCtes},
         |eo_rm AS (SELECT DISTINCT id_b AS id FROM wf_pairs),
         |eo_s AS (
         |  SELECT d.doc_id AS id, d.lang,
         |    CAST(length(${ExtQueries.toks}) AS BIGINT) AS n_tok,
         |    CAST(p.q_sum // p.n AS BIGINT) AS flu,
         |    md5('cq|' || CAST(d.doc_id AS VARCHAR)) AS h
         |  FROM documents d
         |  JOIN lm_per p ON p.doc_id = d.doc_id
         |  LEFT JOIN eo_rm r ON r.id = d.doc_id
         |  WHERE r.id IS NULL AND p.q_sum >= p.n * 35840),
         |eo_c AS (
         |  SELECT
         |    percentile_disc(0.25) WITHIN GROUP (ORDER BY flu) AS c1,
         |    percentile_disc(0.5)  WITHIN GROUP (ORDER BY flu) AS c2,
         |    percentile_disc(0.75) WITHIN GROUP (ORDER BY flu) AS c3
         |  FROM eo_s),
         |eo_b AS (
         |  SELECT id, lang, n_tok, h,
         |    CAST(1 + CAST(flu > c1 AS INT) + CAST(flu > c2 AS INT)
         |           + CAST(flu > c3 AS INT) AS BIGINT) AS bucket
         |  FROM eo_s CROSS JOIN eo_c),
         |eo_r AS (
         |  SELECT lang, bucket, n_tok,
         |    row_number() OVER (ORDER BY bucket DESC, h, id) - 1 AS pos
         |  FROM eo_b)
         |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(MIN(pos) AS BIGINT) AS min_pos,
         |  CAST(MAX(pos) AS BIGINT) AS max_pos
         |FROM eo_r GROUP BY 1, 2""".stripMargin,
    "lm_drift_trigger" ->
      """WITH ld_t AS (
        |  SELECT doc_id, doc_id % 4 AS grp,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |ld_b AS (
        |  SELECT doc_id, grp, t[i] AS w1, t[i+1] AS w2
        |  FROM ld_t,
        |    LATERAL (SELECT unnest(range(1, greatest(length(t), 1))) AS i)),
        |ld_c12 AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM ld_b WHERE grp < 3 GROUP BY 1, 2),
        |ld_c1 AS (
        |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM ld_c12
        |  GROUP BY 1),
        |ld_v AS (
        |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |  FROM (SELECT unnest(t) AS tok FROM ld_t WHERE grp < 3)
        |  WHERE tok <> ''),
        |ld_q AS (
        |  SELECT (b.grp = 3) AS inc,
        |    CAST(((COALESCE(c.c12, 0) + 1) * 1048576)
        |      // (COALESCE(u.c1, 0) + v) AS BIGINT) AS q
        |  FROM ld_b b
        |  LEFT JOIN ld_c12 c ON b.w1 = c.w1 AND b.w2 = c.w2
        |  LEFT JOIN ld_c1 u ON b.w1 = u.w1, ld_v),
        |ld_a AS (
        |  SELECT inc, CAST(count(*) AS BIGINT) AS n,
        |    SUM(CAST(q AS HUGEINT)) AS qs
        |  FROM ld_q GROUP BY 1)
        |SELECT s.n AS n_std, CAST(s.qs AS DOUBLE) AS q_std,
        |  i.n AS n_inc, CAST(i.qs AS DOUBLE) AS q_inc,
        |  CAST(s.qs AS DOUBLE)
        |    / CAST(CAST(s.n AS HUGEINT) * 1048576 AS DOUBLE)
        |    AS mean_p_std,
        |  CAST(i.qs AS DOUBLE)
        |    / CAST(CAST(i.n AS HUGEINT) * 1048576 AS DOUBLE)
        |    AS mean_p_inc,
        |  i.qs * CAST(s.n AS HUGEINT) * 100
        |    < s.qs * CAST(i.n AS HUGEINT) * 95 AS retrain
        |FROM (SELECT * FROM ld_a WHERE NOT inc) s,
        |  (SELECT * FROM ld_a WHERE inc) i""".stripMargin,
    "lm_trigram_backoff" ->
      """WITH tb_t AS (
        |  SELECT doc_id, lang, doc_id % 2 AS grp,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |tb_3 AS (
        |  SELECT doc_id, lang, grp, t[i] AS w1, t[i+1] AS w2,
        |    t[i+2] AS w3
        |  FROM tb_t,
        |    LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1)))
        |             AS i)),
        |tb_tr AS (SELECT * FROM tb_3 WHERE grp = 0),
        |tb_c3 AS (SELECT w1, w2, w3, CAST(count(*) AS BIGINT) AS c3
        |          FROM tb_tr GROUP BY 1, 2, 3),
        |tb_c2 AS (SELECT w1, w2, CAST(SUM(c3) AS BIGINT) AS c2
        |          FROM tb_c3 GROUP BY 1, 2),
        |tb_b2 AS (SELECT w2 AS u, w3 AS v,
        |            CAST(count(*) AS BIGINT) AS b2
        |          FROM tb_tr GROUP BY 1, 2),
        |tb_b1 AS (SELECT u, CAST(SUM(b2) AS BIGINT) AS b1 FROM tb_b2
        |          GROUP BY 1),
        |tb_u AS (
        |  SELECT tok AS w, CAST(count(*) AS BIGINT) AS cu
        |  FROM (SELECT unnest(t) AS tok FROM tb_t WHERE grp = 0)
        |  WHERE tok <> '' GROUP BY 1),
        |tb_n AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM tb_u),
        |tb_q AS (
        |  SELECT g.lang,
        |    CASE WHEN c.c3 IS NOT NULL THEN 3
        |         WHEN bb.b2 IS NOT NULL THEN 2
        |         WHEN uu.cu IS NOT NULL THEN 1 ELSE 0 END AS tier,
        |    CASE WHEN c.c3 IS NOT NULL
        |      THEN CAST((c.c3 * 1048576) // t2.c2 AS BIGINT)
        |      WHEN bb.b2 IS NOT NULL
        |      THEN CAST((2 * bb.b2 * 1048576) // (5 * b1.b1) AS BIGINT)
        |      WHEN uu.cu IS NOT NULL
        |      THEN CAST((4 * uu.cu * 1048576) // (25 * n.n) AS BIGINT)
        |      ELSE 0 END AS q
        |  FROM tb_3 g
        |  LEFT JOIN tb_c3 c
        |    ON c.w1 = g.w1 AND c.w2 = g.w2 AND c.w3 = g.w3
        |  LEFT JOIN tb_c2 t2 ON t2.w1 = g.w1 AND t2.w2 = g.w2
        |  LEFT JOIN tb_b2 bb ON bb.u = g.w2 AND bb.v = g.w3
        |  LEFT JOIN tb_b1 b1 ON b1.u = g.w2
        |  LEFT JOIN tb_u uu ON uu.w = g.w3
        |  CROSS JOIN tb_n n
        |  WHERE g.grp = 1)
        |SELECT lang, CAST(tier AS BIGINT) AS tier,
        |  CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(SUM(q) AS BIGINT) AS q_sum
        |FROM tb_q GROUP BY 1, 2""".stripMargin,
    // the rerank subquery is pulled from CorpusQueries.oracleSql at
    // build time, so the two gates can never drift
    "ranking_rbo" ->
      s"""WITH rb_r AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY bm25_score DESC, doc_id)
         |      AS BIGINT) AS ra,
         |    rerank AS rb
         |  FROM (${CorpusQueries.oracleSql("retrieval_rerank")})),
         |rb_m AS (SELECT greatest(ra, rb) AS m FROM rb_r),
         |rb_d AS (
         |  SELECT CAST(d AS BIGINT) AS d, CAST(den AS BIGINT) AS den
         |  FROM (VALUES (1, 2), (2, 8), (3, 24), (4, 64), (5, 160),
         |    (6, 384), (7, 896), (8, 2048), (9, 4608), (10, 10240))
         |    AS v(d, den)),
         |rb_o AS (
         |  SELECT d, den,
         |    CAST(SUM(CASE WHEN m <= d THEN 1 ELSE 0 END) AS BIGINT)
         |      AS overlap
         |  FROM rb_d, rb_m GROUP BY 1, 2)
         |SELECT d, overlap,
         |  CAST(overlap AS DOUBLE) / CAST(den AS BIGINT) AS term,
         |  SUM(CAST(overlap AS DOUBLE) / CAST(den AS BIGINT))
         |    OVER (ORDER BY d
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS rbo_cum
         |FROM rb_o""".stripMargin,
    "collocation_lift" ->
      s"""WITH cl_t AS (
         |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
         |  FROM documents),
         |cl_b AS (
         |  SELECT t[i] AS w1, t[i+1] AS w2
         |  FROM cl_t,
         |    LATERAL (SELECT unnest(range(1, greatest(length(t), 1))) AS i)),
         |cl_c AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
         |         FROM cl_b GROUP BY 1, 2),
         |cl_n AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM cl_c),
         |cl_l AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS cl FROM cl_c
         |         GROUP BY 1),
         |cl_r AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS cr FROM cl_c
         |         GROUP BY 1)
         |SELECT w1, w2, c12,
         |  CAST(c12 * n AS DOUBLE) / CAST(cl * cr AS BIGINT) AS lift
         |FROM cl_c JOIN cl_l USING (w1) JOIN cl_r USING (w2), cl_n
         |WHERE c12 >= 5
         |ORDER BY lift DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,
    "feature_hash_export" ->
      """WITH fh_e AS (
        |  SELECT user_id, event_type,
        |    ('0x' || substr(md5(event_type), 1, 8))::BIGINT % 16 AS b,
        |    CASE WHEN ('0x' || substr(md5(event_type), 9, 8))::BIGINT
        |      % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM events),
        |fh_v AS (
        |  SELECT user_id, b, CAST(SUM(s) AS BIGINT) AS v
        |  FROM fh_e GROUP BY 1, 2),
        |fh_f AS (
        |  SELECT user_id,
        |    array_to_string(list_sort(array_agg(
        |      CAST(b AS VARCHAR) || ':' || CAST(v AS VARCHAR))), ',')
        |      AS features
        |  FROM fh_v WHERE v <> 0 GROUP BY 1),
        |fh_l AS (
        |  SELECT user_id,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
        |      END) AS BIGINT) AS label
        |  FROM fh_e GROUP BY 1)
        |SELECT f.user_id, f.features, l.label
        |FROM fh_f f JOIN fh_l l USING (user_id)""".stripMargin,
    "quality_label_propagation" ->
      s"""WITH $votesCtes,
         |${ExtQueries.winnowPairCtes},
         |qp_seed AS (
         |  SELECT id, lang,
         |    CAST(CASE WHEN votes = 3 THEN 1 WHEN votes <= 1 THEN -1
         |      ELSE 0 END AS BIGINT) AS seed
         |  FROM qv_v),
         |qp_e AS (
         |  SELECT id_a AS src, id_b AS dst FROM wf_pairs
         |  UNION ALL SELECT id_b AS src, id_a AS dst FROM wf_pairs),
         |qp_m1 AS (
         |  SELECT e.dst AS id,
         |    CAST(SUM(CASE WHEN x.seed > 0 THEN 1 WHEN x.seed < 0
         |      THEN -1 ELSE 0 END) AS BIGINT) AS m
         |  FROM qp_e e JOIN qp_seed x ON e.src = x.id GROUP BY 1),
         |qp_r1 AS (
         |  SELECT s.id, CAST(2 * s.seed + COALESCE(m.m, 0) AS BIGINT)
         |    AS score
         |  FROM qp_seed s LEFT JOIN qp_m1 m USING (id)),
         |qp_m2 AS (
         |  SELECT e.dst AS id,
         |    CAST(SUM(CASE WHEN x.score > 0 THEN 1 WHEN x.score < 0
         |      THEN -1 ELSE 0 END) AS BIGINT) AS m
         |  FROM qp_e e JOIN qp_r1 x ON e.src = x.id GROUP BY 1),
         |qp_r2 AS (
         |  SELECT s.id, CAST(2 * s.seed + COALESCE(m.m, 0) AS BIGINT)
         |    AS score
         |  FROM qp_seed s LEFT JOIN qp_m2 m USING (id))
         |SELECT s.id, s.lang, s.seed, r.score,
         |  CAST(CASE WHEN r.score > 0 THEN 1 WHEN r.score < 0 THEN -1
         |    ELSE 0 END AS BIGINT) AS label
         |FROM qp_seed s JOIN qp_r2 r USING (id)""".stripMargin,
    "dedup_survivor_bias" ->
      s"""WITH ${ExtQueries.winnowPairCtes},
         |sb_rm AS (SELECT DISTINCT id_b AS id FROM wf_pairs),
         |sb_b AS (
         |  SELECT doc_id AS id, lang,
         |    CAST(length(${ExtQueries.toks}) AS BIGINT) AS n_tok
         |  FROM documents),
         |sb_m AS (
         |  SELECT b.lang, b.n_tok, (r.id IS NOT NULL) AS rm
         |  FROM sb_b b LEFT JOIN sb_rm r USING (id)),
         |sb_p AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS docs_before,
         |    CAST(SUM(n_tok) AS BIGINT) AS tokens_before,
         |    CAST(SUM(CASE WHEN rm THEN 0 ELSE 1 END) AS BIGINT)
         |      AS docs_after,
         |    CAST(SUM(CASE WHEN rm THEN 0 ELSE n_tok END) AS BIGINT)
         |      AS tokens_after
         |  FROM sb_m GROUP BY 1),
         |sb_t AS (
         |  SELECT CAST(SUM(tokens_before) AS BIGINT) AS tb,
         |    CAST(SUM(tokens_after) AS BIGINT) AS ta
         |  FROM sb_p)
         |SELECT lang, docs_before, tokens_before, docs_after,
         |  tokens_after,
         |  CAST(tokens_before AS DOUBLE) / CAST(tb AS BIGINT)
         |    AS share_before,
         |  CAST(tokens_after AS DOUBLE) / CAST(ta AS BIGINT)
         |    AS share_after
         |FROM sb_p, sb_t""".stripMargin,
    "lm_incremental_update" ->
      """WITH li_t AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |li_b AS (
        |  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
        |  FROM li_t,
        |    LATERAL (SELECT unnest(range(1, greatest(length(t), 1))) AS i)),
        |li_c12 AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM li_b GROUP BY 1, 2),
        |li_c1 AS (
        |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM li_c12
        |  GROUP BY 1),
        |li_v AS (
        |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |  FROM (SELECT unnest(t) AS tok FROM li_t) WHERE tok <> ''),
        |li_q AS (
        |  SELECT b.lang,
        |    CAST(((c12 + 1) * 1048576) // (c1 + v) AS BIGINT) AS q
        |  FROM li_b b JOIN li_c12 USING (w1, w2) JOIN li_c1 USING (w1),
        |    li_v
        |  WHERE b.doc_id % 3 = 0)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(q) AS BIGINT) AS q_sum,
        |  CAST(SUM(q) AS DOUBLE)
        |    / CAST(count(*) * 1048576 AS BIGINT) AS mean_p
        |FROM li_q GROUP BY 1""".stripMargin,
    "curriculum_by_quality" ->
      s"""WITH $lmCtes,
         |cq_s AS (
         |  SELECT d.doc_id AS id,
         |    CAST(COALESCE(p.q_sum // p.n, 0) AS BIGINT) AS flu,
         |    md5('cq|' || CAST(d.doc_id AS VARCHAR)) AS h
         |  FROM documents d LEFT JOIN lm_per p USING (doc_id)),
         |cq_c AS (
         |  SELECT
         |    percentile_disc(0.25) WITHIN GROUP (ORDER BY flu) AS c1,
         |    percentile_disc(0.5)  WITHIN GROUP (ORDER BY flu) AS c2,
         |    percentile_disc(0.75) WITHIN GROUP (ORDER BY flu) AS c3
         |  FROM cq_s),
         |cq_b AS (
         |  SELECT id, flu,  h,
         |    CAST(1 + CAST(flu > c1 AS INT)
         |           + CAST(flu > c2 AS INT)
         |           + CAST(flu > c3 AS INT) AS BIGINT) AS bucket
         |  FROM cq_s CROSS JOIN cq_c)
         |SELECT id, flu, bucket,
         |  row_number() OVER (ORDER BY bucket DESC, h, id) - 1
         |    AS curriculum_pos
         |FROM cq_b""".stripMargin,
    "vocab_growth_curve" ->
      s"""WITH vg_d AS (
         |  SELECT doc_id, text,
         |    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         |      % 4 AS k
         |  FROM documents),
         |vg_t AS (
         |  SELECT k, tok FROM (
         |    SELECT k, unnest(${ExtQueries.toks}) AS tok FROM vg_d)
         |  WHERE tok <> ''),
         |vg_m AS (SELECT tok, MIN(k) AS k FROM vg_t GROUP BY 1),
         |vg_n AS (SELECT k, CAST(count(*) AS BIGINT) AS new_tokens
         |         FROM vg_m GROUP BY 1),
         |vg_c AS (SELECT k, CAST(count(*) AS BIGINT) AS n_docs
         |         FROM vg_d GROUP BY 1)
         |SELECT c.k,
         |  CAST(SUM(c.n_docs) OVER (ORDER BY c.k
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS n_docs_cum,
         |  CAST(SUM(COALESCE(n.new_tokens, 0)) OVER (ORDER BY c.k
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |    AS BIGINT) AS vocab_cum,
         |  CAST(COALESCE(n.new_tokens, 0) AS BIGINT) AS new_tokens
         |FROM vg_c c LEFT JOIN vg_n n ON n.k = c.k""".stripMargin,
    "ngram_coverage_audit" ->
      s"""WITH nc_g AS (
         |  SELECT doc_id, lang,
         |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
         |  FROM (SELECT doc_id, lang, ${ExtQueries.toks} AS t FROM documents),
         |    LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1)))
         |             AS i)),
         |nc_tr AS (SELECT DISTINCT gram FROM nc_g WHERE doc_id % 2 = 0),
         |nc_te AS (
         |  SELECT g.lang, g.gram, (t.gram IS NOT NULL) AS hit
         |  FROM nc_g g LEFT JOIN nc_tr t USING (gram)
         |  WHERE g.doc_id % 2 = 1)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_covered,
         |  CAST(count(DISTINCT gram) AS BIGINT) AS n_types,
         |  CAST(count(DISTINCT CASE WHEN hit THEN gram END) AS BIGINT)
         |    AS n_types_covered,
         |  CAST(SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS BIGINT) AS coverage
         |FROM nc_te GROUP BY 1""".stripMargin,
    "lang_confusion_audit" ->
      s"""WITH lc_s AS (
         |SELECT doc_id, lang,
         |${lcParts._1}
         |FROM documents),
         |lc_b AS (SELECT *, ${lcParts._2} AS best FROM lc_s)
         |SELECT lang, ${lcParts._3} AS lang_guess,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM lc_b GROUP BY 1, 2""".stripMargin,
    "release_neardup_diff" ->
      """WITH rd_t AS (
        |  SELECT doc_id, lang, text, doc_id % 4 = 3 AS inc
        |  FROM documents),
        |rd_g AS (
        |  SELECT DISTINCT doc_id AS id, inc,
        |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
        |  FROM (SELECT doc_id, inc,
        |          string_split_regex(trim(text), '\s+') AS t FROM rd_t),
        |    LATERAL (SELECT unnest(range(1, greatest(length(t) - 1, 1)))
        |             AS i)),
        |rd_sz AS (SELECT id, count(*) AS sz FROM rd_g GROUP BY 1),
        |rd_i AS (
        |  SELECT a.id AS sid, b.id AS iid, count(*) AS inter
        |  FROM rd_g a JOIN rd_g b ON a.gram = b.gram
        |  WHERE NOT a.inc AND b.inc
        |  GROUP BY 1, 2),
        |rd_near AS (
        |  SELECT DISTINCT iid AS id FROM rd_i
        |  JOIN rd_sz s1 ON s1.id = sid
        |  JOIN rd_sz s2 ON s2.id = iid
        |  WHERE CAST(inter AS DOUBLE)
        |    / CAST(s1.sz + s2.sz - inter AS DOUBLE) >= 0.5),
        |rd_fp AS (
        |  SELECT DISTINCT md5(text) AS fp FROM rd_t WHERE NOT inc),
        |rd_cls AS (
        |  SELECT t.doc_id, t.lang,
        |    CASE WHEN e.fp IS NOT NULL THEN 'exact'
        |      WHEN nn.id IS NOT NULL THEN 'near'
        |      ELSE 'new' END AS class
        |  FROM rd_t t
        |  LEFT JOIN rd_fp e ON md5(t.text) = e.fp
        |  LEFT JOIN rd_near nn ON nn.id = t.doc_id
        |  WHERE t.inc)
        |SELECT lang, class, CAST(count(*) AS BIGINT) AS n_docs
        |FROM rd_cls GROUP BY 1, 2""".stripMargin,
    "quality_ensemble_gate" ->
      s"""WITH $votesCtes
         |SELECT lang, votes, CAST(count(*) AS BIGINT) AS n_docs
         |FROM qv_v GROUP BY 1, 2""".stripMargin,
    "bitext_margin_mining" ->
      s"""WITH ${ExtQueries.vecCtes},
         |bm_d AS (
         |  SELECT c.vec_id AS nbr_id, q.vec_id AS query_id,
         |    CAST(sum(CAST(c.x * q.x AS DECIMAL(28,12))) AS DOUBLE) AS dot
         |  FROM comp c JOIN comp q
         |    ON c.i = q.i AND q.vec_id % 2 = 0 AND q.vec_id < 40
         |  WHERE c.vec_id % 2 = 1
         |  GROUP BY 1, 2),
         |bm_s AS (
         |  SELECT query_id, nbr_id, dot / (nc.sn * nq.sn) AS cosine
         |  FROM bm_d JOIN norms nc ON nc.vec_id = nbr_id
         |  JOIN norms nq ON nq.vec_id = query_id),
         |bm_r AS (
         |  SELECT query_id, nbr_id, cosine,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosine DESC, nbr_id ASC) AS r
         |  FROM bm_s),
         |bm_p AS (
         |  SELECT query_id,
         |    MAX(CASE WHEN r = 1 THEN nbr_id END) AS nbr_id,
         |    MAX(CASE WHEN r = 1 THEN cosine END) AS c1,
         |    MAX(CASE WHEN r = 2 THEN cosine END) AS c2,
         |    MAX(CASE WHEN r = 3 THEN cosine END) AS c3,
         |    MAX(CASE WHEN r = 4 THEN cosine END) AS c4
         |  FROM bm_r WHERE r <= 4 GROUP BY 1)
         |SELECT query_id, nbr_id, c1 AS cosine,
         |  (CAST(4 AS DOUBLE) * c1) / ((c1 + c2) + (c3 + c4)) AS margin,
         |  (CAST(4 AS DOUBLE) * c1) / ((c1 + c2) + (c3 + c4))
         |    >= CAST(1.125 AS DOUBLE) AS accepted
         |FROM bm_p""".stripMargin,
    "cluster_balanced_sample" ->
      s"""WITH ${ExtQueries.ivfAssignCtes},
         |cbs_r AS (
         |  SELECT nbr_id, cell_id,
         |    row_number() OVER (PARTITION BY cell_id
         |      ORDER BY md5(CAST(nbr_id AS VARCHAR)) ASC, nbr_id ASC) AS r
         |  FROM cells)
         |SELECT nbr_id, cell_id FROM cbs_r WHERE r <= 24""".stripMargin,
    "dsir_importance_sample" -> dsirSql,
    "lm_bigram_score" ->
      s"""WITH $lmCtes
         |SELECT d.doc_id,
         |  COALESCE(p.n, 0) AS n_bigrams,
         |  COALESCE(p.q_sum, 0) AS q_sum,
         |  CASE WHEN COALESCE(p.n, 0) > 0
         |    THEN CAST(p.q_sum AS DOUBLE) / CAST(p.n * 1048576 AS BIGINT)
         |  END AS mean_p
         |FROM documents d LEFT JOIN lm_per p USING (doc_id)""".stripMargin,
    "lm_quality_filter" ->
      s"""WITH $lmCtes
         |SELECT d.lang,
         |  CAST(SUM(CASE WHEN p.n IS NOT NULL AND p.q_sum >= p.n * 35840
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(SUM(CASE WHEN p.n IS NOT NULL AND p.q_sum >= p.n * 35840
         |    THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped
         |FROM documents d LEFT JOIN lm_per p USING (doc_id)
         |GROUP BY 1""".stripMargin,
    "lm_holdout_perlang" ->
      """WITH hl_t AS (
        |  SELECT doc_id, lang, doc_id % 2 AS grp,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |hl_b AS (
        |  SELECT doc_id, lang, grp, t[i] AS w1, t[i+1] AS w2
        |  FROM hl_t,
        |    LATERAL (SELECT unnest(range(1, greatest(length(t), 1))) AS i)),
        |hl_c12 AS (
        |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |  FROM hl_b WHERE grp = 0 GROUP BY 1, 2),
        |hl_c1 AS (
        |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM hl_c12
        |  GROUP BY 1),
        |hl_v AS (
        |  SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v
        |  FROM (SELECT unnest(t) AS tok FROM hl_t WHERE grp = 0)
        |  WHERE tok <> ''),
        |hl_q AS (
        |  SELECT b.doc_id, b.lang,
        |    CAST(((COALESCE(c.c12, 0) + 1) * 1048576)
        |      // (COALESCE(u.c1, 0) + v) AS BIGINT) AS q
        |  FROM hl_b b
        |  LEFT JOIN hl_c12 c ON b.w1 = c.w1 AND b.w2 = c.w2
        |  LEFT JOIN hl_c1 u ON b.w1 = u.w1, hl_v
        |  WHERE b.grp = 1)
        |SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(q) AS BIGINT) AS q_sum,
        |  CAST(SUM(q) AS DOUBLE)
        |    / CAST(count(*) * 1048576 AS BIGINT) AS mean_p
        |FROM hl_q GROUP BY 1""".stripMargin,
    "token_tv_divergence" ->
      """WITH tv_tok AS (
        |  SELECT source, tok FROM (
        |    SELECT source,
        |      unnest(string_split_regex(trim(text), '\s+')) AS tok
        |    FROM documents)
        |  WHERE tok <> ''),
        |tv_n AS (
        |  SELECT source, tok, CAST(count(*) AS BIGINT) AS n_st
        |  FROM tv_tok GROUP BY 1, 2),
        |tv_s AS (
        |  SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_s FROM tv_n
        |  GROUP BY 1),
        |tv_c AS (
        |  SELECT tok, CAST(SUM(n_st) AS BIGINT) AS n_t FROM tv_n
        |  GROUP BY 1),
        |tv_tot AS (SELECT CAST(SUM(n_t) AS BIGINT) AS n FROM tv_c),
        |tv_j AS (
        |  SELECT source, n_s, n,
        |    SUM(ABS(CAST(n_st AS HUGEINT) * n
        |      - CAST(n_t AS HUGEINT) * n_s)) AS part1,
        |    CAST(SUM(n_t) AS BIGINT) AS cov
        |  FROM tv_n JOIN tv_c USING (tok) JOIN tv_s USING (source),
        |    tv_tot
        |  GROUP BY 1, 2, 3)
        |SELECT source, n_s AS n_tokens,
        |  CAST(part1 + CAST(n_s AS HUGEINT) * (n - cov) AS DOUBLE)
        |    AS tv_num,
        |  CAST(2 * CAST(n_s AS HUGEINT) * n AS DOUBLE) AS tv_den,
        |  CAST(part1 + CAST(n_s AS HUGEINT) * (n - cov) AS DOUBLE)
        |    / CAST(2 * CAST(n_s AS HUGEINT) * n AS DOUBLE) AS tv
        |FROM tv_j""".stripMargin,
    "token_budget_alloc" ->
      """WITH ba_t AS (
        |  SELECT lang,
        |    CAST(SUM(length(string_split_regex(trim(text), '\s+')))
        |      AS BIGINT) AS n_tok
        |  FROM documents GROUP BY 1),
        |ba_n AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS n FROM ba_t),
        |ba_b AS (
        |  SELECT lang, n_tok,
        |    CAST((100000 * n_tok) // n AS BIGINT) AS base,
        |    CAST((100000 * n_tok) % n AS BIGINT) AS rem
        |  FROM ba_t, ba_n),
        |ba_k AS (SELECT CAST(100000 - SUM(base) AS BIGINT) AS k
        |         FROM ba_b),
        |ba_r AS (
        |  SELECT lang, n_tok, base,
        |    CAST(row_number() OVER (ORDER BY rem DESC, lang ASC)
        |      AS BIGINT) AS rr
        |  FROM ba_b)
        |SELECT lang, n_tok,
        |  CAST(base + CASE WHEN rr <= k THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM ba_r, ba_k""".stripMargin,
    "epoch_repeat_plan" ->
      """WITH ep_t AS (
        |  SELECT doc_id, lang,
        |    string_split_regex(trim(text), '\s+') AS t
        |  FROM documents),
        |ep_k AS (
        |  SELECT doc_id, lang, CAST(length(t) AS BIGINT) AS n_tok,
        |    md5(array_to_string(t[1:2], ' ')) AS h
        |  FROM ep_t),
        |ep_c AS (SELECT h, CAST(count(*) AS BIGINT) AS sz FROM ep_k
        |         GROUP BY 1)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
        |  CAST(SUM(n_tok * (CASE WHEN sz = 1 THEN 4
        |    WHEN sz <= 3 THEN 2 ELSE 1 END)) AS BIGINT)
        |    AS effective_tokens
        |FROM ep_k JOIN ep_c USING (h)
        |GROUP BY 1""".stripMargin)
}
