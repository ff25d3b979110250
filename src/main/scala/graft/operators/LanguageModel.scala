package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Corpus-trained bigram language-model scoring — the perplexity-style
  * quality filter (CCNet's KenLM recipe, reduced to a declarative
  * bigram model): documents whose token transitions are improbable
  * under the corpus's own statistics score low and get filtered.
  *
  * Model: add-k smoothed bigram probabilities
  * `P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V)` with V = distinct
  * unigrams; a document's score is the mean natural-log probability
  * over its transitions (higher = more fluent under the corpus).
  * Documents with fewer than 2 tokens are absent (no transitions).
  *
  * Scale shape: training is two counted shuffles (unigrams, bigrams)
  * with map-side partial aggregation — the same cost as t8's
  * repetition sweep. Scoring joins each document transition against
  * the bigram table: a plain hash equi-join on the (w1,w2) pair key,
  * the shape AQE load-balances; nothing is windowed or collected.
  * Unseen bigrams hit the smoothing floor via a LEFT join +
  * coalesce(0). The unigram join is DIFFERENT: its key `_w1` alone is
  * Zipf-skewed (the "the" partition would straggle at 100×), and for
  * natural-language corpora the unigram table is vocabulary-bounded
  * (≲ millions of rows), so it is broadcast by default — no transition
  * row ever shuffles on a single-token key. PlanQualitySpec pins this
  * shape. For corpora whose token space is adversarial (URLs, hashes,
  * raw code — distinct "tokens" scale with the data, not the
  * language), pass `broadcastUnigrams = false` to keep the size-based
  * shuffled join and let AQE's skew split carry the hot keys instead
  * of risking the broadcast limit.
  */
object LanguageModel {

  /** Per-document mean log-probability: (idCol, n_trans, mean_logp).
    * `model` docs train the bigram stats; `score` docs are scored
    * (they may be the same frame — self-scoring, the usual recipe).
    */
  /** (w_1 … w_n) n-gram rows from one staged tokenizer pass — the
    * single extraction all three count tables and both scorers use, so
    * an off-by-one fix cannot land in one arity and miss another.
    * Output columns `_g1 … _gn` (plus `idCols`); docs shorter than n
    * tokens contribute nothing.
    */
  private def ngrams(df: DataFrame, textCol: String, n: Int,
                     idCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val staged = df.select(
      idCols :+ TextAnalysis.tokens(col(textCol)).as("_toks"): _*)
    staged
      .filter(size(col("_toks")) >= n)
      .select(idCols :+
        posexplode(slice(col("_toks"), lit(1),
          size(col("_toks")) - (n - 1))).as(Seq("_p", "_g1")) :+
        col("_toks"): _*)
      .select(idCols ++ (1 to n).map { i =>
        if (i == 1) col("_g1")
        else element_at(col("_toks"), col("_p") + i).as(s"_g$i")
      }: _*)
  }

  /** The loud empty-corpus guard, IN-PLAN so the scorers stay one lazy
    * job (an eager driver-side count would re-tokenize the corpus —
    * measured 2× on ppl1/ppl2): a token-free model makes V = 0, every
    * smoothing denominator zero, and every score silently NULL without
    * this. raise_error fires at action time with a readable message.
    */
  private def guardedV(v: org.apache.spark.sql.Column,
                       msg: String =
                         "model corpus has no tokens — cannot train an LM")
      : org.apache.spark.sql.Column =
    // isNull too: an aggregate over ZERO rows yields NULL, not 0, and
    // `NULL <= 0` is NULL (false) — the guard would silently pass
    when(v.isNull || v <= 0, raise_error(lit(msg)))
      .otherwise(v)

  /** Per-token contributions to KL(A ‖ B) between two corpora's
    * unigram distributions — the distribution-drift monitor a corpus
    * pipeline runs between snapshots ("did the new crawl shift the
    * token mix, and which tokens moved it?"). Both distributions are
    * add-alpha smoothed over the UNION vocabulary (so a token absent
    * from one side contributes a finite, correctly-signed term
    * instead of ±∞): p(t) = (c_t + alpha) / (N + alpha·V). Output one
    * row per union-vocab token: (token, n_a, n_b, p_a, p_b, kl_term)
    * with kl_term = p_a · ln(p_a / p_b); Σ kl_term = the smoothed
    * divergence, and sorting by kl_term surfaces the movers.
    *
    * Scale shape: two explode+count shuffles whose outputs are
    * VOCABULARY-sized (Zipf bounds them far below the corpus), a full
    * outer join of the two count tables on the token, and per-row
    * arithmetic; N_a/N_b/V are 1-row aggregates broadcast in-plan.
    * Either side having no tokens refuses loudly (the [[guardedV]]
    * discipline — a silent all-null drift report is worse than an
    * error).
    */
  def unigramKlContributions(corpusA: DataFrame, corpusB: DataFrame,
                             textCol: String,
                             alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, "unigramKlContributions: alpha must be positive")
    def counts(df: DataFrame, out: String): DataFrame = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).cast("long").as(out))
    val ca = counts(corpusA, "n_a")
    val cb = counts(corpusB, "n_b")
    val joined = ca.join(cb, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"))
    val tot = joined.agg(
      guardedV(sum(col("n_a")),
        "unigramKlContributions: corpus A has no tokens").as("_Na"),
      guardedV(sum(col("n_b")),
        "unigramKlContributions: corpus B has no tokens").as("_Nb"),
      count(lit(1)).cast("long").as("_V"))
    joined.crossJoin(broadcast(tot))
      .withColumn("p_a",
        (col("n_a") + alpha) / (col("_Na") + col("_V") * alpha))
      .withColumn("p_b",
        (col("n_b") + alpha) / (col("_Nb") + col("_V") * alpha))
      .withColumn("kl_term", col("p_a") * log(col("p_a") / col("p_b")))
      .drop("_Na", "_Nb", "_V")
  }

  def bigramScore(model: DataFrame, score: DataFrame, idCol: String,
                  textCol: String, k: Double = 0.5,
                  broadcastUnigrams: Boolean = true): DataFrame = {
    require(k > 0, "smoothing k must be positive")
    // ONE tokenize pass trains BOTH count tables (r18, guide §1.2):
    // every token position emits (token, successor-or-null) — the
    // bigram table is the non-null rows of the (w1, w2) count
    // exchange, and the unigram table is its rollup over ALL rows
    // (a token's unigram count = Σ over its successors INCLUDING the
    // last-position null row, so the rollup is exactly c(w1) — not
    // the lossy bigram-prefix sum, which misses doc-final tokens).
    // Previously uni and big each ran their own full tokenize+explode
    // over the model corpus. try_element_at: the last position has no
    // successor — NULL, never an ANSI out-of-bounds error.
    val pairCells = model
      .select(TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(posexplode(col("_toks")).as(Seq("_p", "_w1")),
        col("_toks"))
      .select(col("_w1"),
        try_element_at(col("_toks"), col("_p") + 2).as("_w2"))
      .groupBy("_w1", "_w2")
      .agg(count(lit(1)).cast("double").as("_c"))
    val big = pairCells.filter(col("_w2").isNotNull)
      .select(col("_w1"), col("_w2"), col("_c").as("_cb"))
    val uni = pairCells.groupBy("_w1")
      .agg(sum(col("_c")).as("_cu"))
    val vocabSize = uni.agg(count(lit(1)).cast("double").as("_v"))

    ngrams(score, textCol, 2, Seq(col(idCol)))
      .select(col(idCol), col("_g1").as("_w1"), col("_g2").as("_w2"))
      .join(big, Seq("_w1", "_w2"), "left")
      .join(if (broadcastUnigrams) broadcast(uni) else uni,
        Seq("_w1"), "left")
      .crossJoin(broadcast(vocabSize))
      .withColumn("_logp",
        log((coalesce(col("_cb"), lit(0.0)) + k) /
          (coalesce(col("_cu"), lit(0.0)) +
            lit(k) * guardedV(col("_v")))))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_trans"),
        round(avg(col("_logp")), 6).as("mean_logp"))
  }

  /** CCNet-style perplexity buckets (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data"): within each group (CCNet partitions by language; any
    * grouping column works), rank documents by [[bigramScore]]'s
    * `mean_logp` and cut the ranking into `head` / `middle` / `tail`
    * thirds — head = most fluent under the model.
    *
    * The cut is RANK-based on integer arithmetic (`rn*3 <= n`, `rn*3
    * <= 2n`), never an interpolated quantile threshold: interpolated
    * cutoffs flip boundary documents on last-ulp float drift between
    * engines, ranks cannot (ordering ties break on the id, and
    * `mean_logp` is already 6-dp-rounded by [[bigramScore]]).
    *
    * Scale shape: the naive `row_number().over(partitionBy(group))`
    * puts an entire language in ONE partition — fatal when the group
    * is "English" at corpus scale. This rides
    * [[Sampling.ordinalByKey]]'s two-phase distributed prefix sum
    * instead (range-partition + sort on (group, -logp, id), per-
    * partition counts to the driver, offsets broadcast back), then
    * converts global ordinals to within-group ranks with one
    * vocabulary-sized aggregate (min ordinal + count per group,
    * broadcast back). Documents with fewer than 2 tokens have no
    * score and are absent, as in [[bigramScore]].
    *
    * The result comes back persisted and is the only cache the call
    * leaves: its first action fills it and releases every staged frame,
    * and the caller owns its `unpersist()`.
    */
  def perplexityBuckets(model: DataFrame, docs: DataFrame, idCol: String,
                        textCol: String, groupCol: String,
                        k: Double = 0.5): DataFrame = {
    // STAGE the scored frame (r18, guide §5 cache-when-reused): the
    // whole LM train+score pipeline feeds ordinalByKey's eager
    // prefix-sum staging AND the ordinal re-attach join in its output
    // plan — unstaged it executed twice per query. (id, n_trans,
    // mean_logp) rows are corpus-COUNT-sized, not corpus-sized;
    // released by the listener when the query's terminal action lands.
    val scored = bigramScore(model, docs, idCol, textCol, k).persist()
    val withGrp = docs.select(col(idCol), col(groupCol))
      .join(scored, Seq(idCol))
    val ranked = Sampling.ordinalByKey(withGrp, idCol,
      struct(col(groupCol), (-col("mean_logp")).as("_negp"), col(idCol)))
    val grpStats = ranked.groupBy(groupCol)
      .agg(min("ordinal").as("_g0"), count(lit(1)).as("_n"))
      .withColumnRenamed(groupCol, "_grp")
    // null-SAFE group join: a null group (unknown language/source) is
    // its own bucket group, not silently dropped — the repo's null-key
    // discipline (an equi-join would never match the null rows)
    val out = ranked
      .join(broadcast(grpStats), col(groupCol) <=> col("_grp"))
      .drop("_grp")
      .withColumn("_rn", col("ordinal") - col("_g0") + 1L)
      .select(col(idCol), col(groupCol), col("mean_logp"),
        when(col("_rn") * 3 <= col("_n"), lit("head"))
          .when(col("_rn") * 3 <= col("_n") * 2, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
    // `ranked` is ordinalByKey's persisted ordinal table: released with
    // the staged scores once the first action has filled `out`'s own
    // cache, which the caller holds (a second action must not re-rank
    // against the offsets the first run broadcast)
    Dedup.releaseAfter(out.persist(), Seq(scored, ranked))
  }

  /** Trigram scoring with STUPID BACKOFF (Brants et al. 2007, "Large
    * Language Models in Machine Translation") — the web-scale LM
    * recipe: no discounting to renormalize, just relative frequencies
    * with a fixed penalty per backoff level, which is exactly what
    * makes it trainable as plain counted shuffles at corpus scale:
    *
    * `S(w3|w1 w2) = c(w1w2w3)/c(w1w2)                  if c(w1w2w3) > 0
    *              = α · c(w2w3)/c(w2)                  else if c(w2w3) > 0
    *              = α² · (c(w3) + k)/(N + k·V)         otherwise`
    *
    * (the unigram floor is add-k smoothed so an OOV token scores
    * finitely; c(w1w2w3) > 0 implies c(w1w2) > 0 and c(w2w3) > 0
    * implies c(w2) > 0, so no branch divides by zero). A document's
    * score is the mean log-S over its trigram contexts; docs with
    * fewer than 3 tokens are absent.
    *
    * Scale shape: training is three counted shuffles (uni/bi/tri
    * grams). Scoring joins on the (w1,w2,w3), (w1,w2), and (w2,w3)
    * compound keys — AQE-balanced hash joins; the two single-token
    * lookups (c(w2), c(w3)) broadcast the vocabulary-bounded unigram
    * table under the same Zipf-skew argument (and opt-out flag) as
    * [[bigramScore]].
    */
  def trigramBackoffScore(model: DataFrame, score: DataFrame,
                          idCol: String, textCol: String,
                          alpha: Double = 0.4, k: Double = 0.5,
                          broadcastUnigrams: Boolean = true): DataFrame = {
    require(alpha > 0 && alpha <= 1, "backoff alpha must be in (0, 1]")
    require(k > 0, "smoothing k must be positive")
    // ONE tokenize pass trains ALL THREE count tables (r18, the
    // bigramScore rollup shape): every position emits (token,
    // successor-or-null, successor²-or-null); trigrams are the
    // fully-non-null rows, bigrams the rollup over _t3 (a bigram
    // position's trigram successor may be null at the doc tail),
    // unigrams the rollup over both. Previously each table ran its
    // own full tokenize+explode over the model corpus.
    val triCells = model
      .select(TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(posexplode(col("_toks")).as(Seq("_p", "_t1")),
        col("_toks"))
      .select(col("_t1"),
        try_element_at(col("_toks"), col("_p") + 2).as("_t2"),
        try_element_at(col("_toks"), col("_p") + 3).as("_t3"))
      .groupBy("_t1", "_t2", "_t3")
      .agg(count(lit(1)).cast("double").as("_c"))
    val tri = triCells.filter(col("_t3").isNotNull)
      .select(col("_t1").as("_w1"), col("_t2").as("_w2"),
        col("_t3").as("_w3"), col("_c").as("_c3"))
    val bi = triCells.filter(col("_t2").isNotNull)
      .groupBy(col("_t1").as("_a"), col("_t2").as("_b"))
      .agg(sum(col("_c")).as("_c2"))
    val uni = triCells.groupBy(col("_t1").as("_w"))
      .agg(sum(col("_c")).as("_cu"))
    // one-row (N, V) aggregate crossJoined in — lazy like everything
    // else (the uni exchange is shared within the single plan), with
    // the in-plan empty-corpus guard on V
    val nv = uni.agg(coalesce(sum(col("_cu")), lit(0.0)).as("_n"),
      count(lit(1)).cast("double").as("_v"))
    val uniSide = if (broadcastUnigrams) broadcast(uni) else uni

    ngrams(score, textCol, 3, Seq(col(idCol)))
      .select(col(idCol), col("_g1").as("_w1"), col("_g2").as("_w2"),
        col("_g3").as("_w3"))
      .join(tri, Seq("_w1", "_w2", "_w3"), "left")
      .join(bi.select(col("_a").as("_w1"), col("_b").as("_w2"),
        col("_c2").as("_c12")), Seq("_w1", "_w2"), "left")
      .join(bi.select(col("_a").as("_w2"), col("_b").as("_w3"),
        col("_c2").as("_c23")), Seq("_w2", "_w3"), "left")
      .join(uniSide.select(col("_w").as("_w2"), col("_cu").as("_cu2")),
        Seq("_w2"), "left")
      .join(uniSide.select(col("_w").as("_w3"), col("_cu").as("_cu3")),
        Seq("_w3"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("_s",
        when(col("_c3").isNotNull, col("_c3") / col("_c12"))
          .when(col("_c23").isNotNull,
            lit(alpha) * col("_c23") / col("_cu2"))
          .otherwise(lit(alpha * alpha) *
            (coalesce(col("_cu3"), lit(0.0)) + k) /
            (col("_n") + lit(k) * guardedV(col("_v")))))
      .groupBy(idCol)
      .agg(count(lit(1)).cast("long").as("n_ctx"),
        round(avg(log(col("_s"))), 6).as("mean_logs"))
  }
}
