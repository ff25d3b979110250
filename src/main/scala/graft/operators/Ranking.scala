package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** BM25 ranked retrieval — the relevance-scoring heart of the
  * reference's underlying engine (Lucene's Okapi BM25; eland exposes
  * the match queries but leaves scores server-side), re-expressed as a
  * declarative aggregation pipeline.
  *
  * Scale shape: documents NOT containing any query term are cut with
  * an `arrays_overlap` prefilter before the explode; term frequencies
  * are one counted shuffle over (doc, query-term) pairs only; document
  * frequencies reduce that tiny table again; corpus stats (N, avg
  * length) are a 1-row broadcast; the final top-k is a TakeOrdered
  * heap merge. Nothing corpus-sized shuffles except the one (doc,
  * term) count, whose width is |matching docs| × |query terms|.
  */
object Ranking {

  /** Top-k documents for a bag-of-terms query:
    * (idCol, score) ordered by score desc (ties by id). Standard
    * Okapi BM25 with `idf = ln(1 + (N - df + .5)/(df + .5))`.
    *
    * `analyzer` mirrors [[InvertedIndex.build]]'s chain ("standard" |
    * "english") on BOTH sides, so the scan face stays row-identical
    * to an index built with the same analyzer — the scan↔index
    * no-drift contract (InvertedIndexSpec pins it for both chains).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               analyzer: String = "standard"): DataFrame = {
    require(queryTerms.nonEmpty && k > 0)
    graft.functions.EnglishMinimalStem.requireKnown(analyzer)
    val terms = queryTerms
      .map(t => graft.functions.EnglishMinimalStem.analyzeTerm(analyzer,
        t.toLowerCase(java.util.Locale.ROOT)))
      .distinct
    // ONE tokenize pass (r18, the EsScoredQuery.fieldMoments shape):
    // matching-token occurrences + one (_t = null) row per
    // non-matching doc ride one (id, len, term) exchange; tf, df and
    // the corpus stats all derive from it — the previous stats agg
    // was a second full tokenize of the corpus (guide §1.2)
    val emitted = docs
      .select(col(idCol), graft.functions.EnglishMinimalStem
        .analyzeTokens(analyzer, TextAnalysis.tokens(col(textCol)))
        .as("_toks"))
      .select(col(idCol), size(col("_toks")).cast("double").as("_len"),
        col("_toks"))
      .select(col(idCol), col("_len"),
        explode_outer(filter(col("_toks"),
          t => t.isin(terms: _*))).as("_t"))
    val cells = emitted
      .groupBy(col(idCol), col("_len"), col("_t"))
      .agg(count(lit(1)).cast("double").as("_tf"))
    val tf = cells.filter(col("_t").isNotNull)
    val stats = cells.select(col(idCol), col("_len")).distinct()
      .agg(count(lit(1)).cast("double").as("_n"),
        avg(col("_len")).as("_avg"))
    val dfreq = tf.groupBy("_t")
      .agg(count_distinct(col(idCol)).cast("double").as("_df"))
    tf.join(broadcast(dfreq), Seq("_t"))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_s",
        col("_idf") * col("_tf") * (k1 + 1.0) /
          (col("_tf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("_len") / col("_avg"))))
      .groupBy(idCol)
      .agg(round(sum(col("_s")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** ES `combined_fields` — the principled multi-field ranking
    * ("simple BM25F", Robertson/Zaragoza/Taylor CIKM'04, which ES
    * documents as its model): each field's term frequency and length
    * contribute WEIGHTED into one synthetic combined field BEFORE
    * Okapi saturation —
    *
    *   tf~(t,d) = Σ_f w_f · tf_f(t,d);  len~(d) = Σ_f w_f · len_f(d)
    *   df(t) = docs where ANY field holds t;  avg~ = corpus mean len~
    *   score = Σ_t idf(t) · tf~·(k1+1) / (tf~ + k1(1−b+b·len~/avg~))
    *
    * This is NOT multi_match most_fields (which saturates per field
    * and then sums — double-dipping a term spread across fields) nor
    * best_fields (which drops all but one field). Same staging,
    * prefilter, stats-broadcast, and 6-dp discipline as [[bm25TopK]];
    * one tokenization per field, one id-keyed aggregation.
    */
  def bm25fTopK(docs: DataFrame, idCol: String,
                fieldWeights: Seq[(String, Double)],
                queryTerms: Seq[String], k: Int,
                k1: Double = 1.2, b: Double = 0.75,
                analyzer: String = "standard"): DataFrame = {
    require(queryTerms.nonEmpty && k > 0)
    require(fieldWeights.nonEmpty, "at least one (field, weight)")
    require(fieldWeights.forall(_._2 >= 1.0),
      s"combined_fields weights must be >= 1 (ES's bound), got " +
        s"$fieldWeights")
    require(fieldWeights.map(_._1).distinct.size == fieldWeights.size,
      s"duplicate fields in $fieldWeights")
    graft.functions.EnglishMinimalStem.requireKnown(analyzer)
    val terms = queryTerms
      .map(t => graft.functions.EnglishMinimalStem.analyzeTerm(analyzer,
        t.toLowerCase(java.util.Locale.ROOT)))
      .distinct
    val tks = fieldWeights.map { case (f, _) => f -> s"_tk_$f" }.toMap
    // a null field holds no tokens: coalesced to array() here, since
    // a NULL array would null both the flattened occurrences (losing
    // the doc's matches in EVERY field) and the size sum in _clen
    val staged = docs.select(col(idCol) +: fieldWeights.map {
        case (f, _) =>
          coalesce(graft.functions.EnglishMinimalStem
              .analyzeTokens(analyzer, TextAnalysis.tokens(col(f))),
            array().cast("array<string>"))
            .as(tks(f))
      }: _*)
      .withColumn("_clen", fieldWeights.map { case (f, w) =>
        size(col(tks(f))).cast("double") * w
      }.reduce(_ + _))
    // ONE tokenize pass over EVERY field (r18): each field's matching
    // occurrences are tagged with that field's weight and flattened
    // into one exploded stream — plus one null row per doc with no
    // match in any field — so tf~, df and the corpus stats all derive
    // from one (id, clen, term) exchange. The previous shape ran the
    // full multi-field tokenize projection once for the stats agg and
    // once PER FIELD for the union branches (each branch needs every
    // field for _clen): 2 fields cost 6 field-tokenizes, now 2.
    val occs = flatten(array(fieldWeights.map { case (f, w) =>
      transform(filter(col(tks(f)), t => t.isin(terms: _*)),
        t => struct(t.as("_t"), lit(w).as("_w")))
    }: _*))
    val emitted = staged.select(col(idCol), col("_clen"),
      explode_outer(occs).as("_o"))
    val cells = emitted
      .groupBy(col(idCol), col("_clen"), col("_o._t").as("_t"))
      .agg(sum(col("_o._w")).as("_tf"))
    val tfc = cells.filter(col("_t").isNotNull)
    val stats = cells.select(col(idCol), col("_clen")).distinct()
      .agg(count(lit(1)).cast("double").as("_n"),
        avg(col("_clen")).as("_avg"))
    val dfreq = tfc.groupBy("_t")
      .agg(count_distinct(col(idCol)).cast("double").as("_df"))
    tfc.join(broadcast(dfreq), Seq("_t"))
      .crossJoin(broadcast(stats))
      .withColumn("_idf",
        log(lit(1.0) + (col("_n") - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_s",
        col("_idf") * col("_tf") * (k1 + 1.0) /
          (col("_tf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("_clen") / col("_avg"))))
      .groupBy(idCol)
      .agg(round(sum(col("_s")), 6).as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal-rank fusion (Cormack & Clarke, SIGIR'09) — the ES 8.x
    * `rank: {rrf: ...}` hybrid-retrieval combiner: each input ranking
    * contributes 1/(rrfK + rank) for every document it ranked, the
    * contributions SUM across rankings, and the fused top-k orders by
    * that sum (ties by id). Rank-based, so a BM25 score scale and a
    * cosine scale fuse without normalization — exactly why ES uses it
    * to combine lexical search with knn.
    *
    * Each `rankings` frame carries (idCol, rankCol) with rank ≥ 1 and
    * one row per id (feed it a top-k output — bm25TopK with a
    * row_number, searchTopK, VectorIndex.searchTopK). Scale shape:
    * the inputs are already k-sized, so the fusion shuffles
    * Σ|rankings| ≤ rankings × k rows — nothing corpus-sized.
    *
    * With exactly two rankings the fused sum is order-independent
    * (IEEE addition is commutative); with three or more, last-ulp
    * association differences are absorbed by the 6-dp rounding.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, rankCol: String,
              k: Int, rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty && k > 0 && rrfK >= 0)
    rankings.map(_.select(col(idCol),
        (lit(1.0) / (lit(rrfK.toDouble) + col(rankCol).cast("double")))
          .as("_rrf")))
      .reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(round(sum(col("_rrf")), 6).as("rrf_score"))
      .orderBy(col("rrf_score").desc, col(idCol))
      .limit(k)
  }

  /** Weighted linear fusion with per-ranking min-max normalization —
    * the ES 8.x `linear` retriever combiner (the score-based sibling
    * of [[rrfFuse]] for when the relative magnitudes should matter,
    * not just ranks): each input ranking's scores normalize to [0, 1]
    * over ITS OWN retrieved set ((s − min)/(max − min); a
    * degenerate constant-score ranking contributes 1.0 per hit —
    * present means fully present, deterministic and documented), the
    * fused score is Σ weightᵢ × normᵢ over the rankings holding the
    * doc, and the top-k orders by the 6-dp-rounded sum (id ties).
    *
    * Each `rankings` frame carries (idCol, scoreCol) with one row per
    * id — feed it top-k outputs. Per-leg min/max enter as 1-row
    * broadcast crossJoins INSIDE the lazy plan (the in-plan-stats
    * discipline); the legs are already k-sized, so the fusion
    * shuffles ≤ rankings × k rows. With two rankings the sum is
    * order-independent (IEEE addition commutes); more, and last-ulp
    * association differences are absorbed by the rounding.
    */
  def linearFuse(rankings: Seq[DataFrame], idCol: String,
                 scoreCol: String, weights: Seq[Double],
                 k: Int): DataFrame = {
    require(rankings.nonEmpty && rankings.size == weights.size,
      s"need one weight per ranking (${rankings.size} rankings, " +
        s"${weights.size} weights)")
    require(k > 0 && weights.forall(_ >= 0),
      "k must be positive and weights non-negative")
    val contribs = rankings.zip(weights).map { case (r, w) =>
      val s = r.select(col(idCol), col(scoreCol).cast("double").as("_s"))
      val mm = s.agg(min(col("_s")).as("_mn"), max(col("_s")).as("_mx"))
      s.crossJoin(broadcast(mm))
        .select(col(idCol),
          (when(col("_mx") === col("_mn"), lit(1.0))
            .otherwise((col("_s") - col("_mn")) /
              (col("_mx") - col("_mn"))) * w).as("_c"))
    }
    contribs.reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(round(sum(col("_c")), 6).as("lin_score"))
      .orderBy(col("lin_score").desc, col(idCol))
      .limit(k)
  }

  /** [[linearFuse]] for a whole QUERY FRAME: each `rankings` frame
    * carries (qCol, idCol, scoreCol) rows and min-max normalization
    * runs PER (ranking, query) — each query's retrieved set owns its
    * own score range, exactly the per-leg rule of the single-query
    * form. Per-leg min/max reduce to |queries| rows and broadcast
    * back. Output (qCol, rank, idCol, lin_score), per query
    * row-identical to [[linearFuse]] over that query's slices.
    */
  def linearFusePerQuery(rankings: Seq[DataFrame], qCol: String,
                         idCol: String, scoreCol: String,
                         weights: Seq[Double], k: Int): DataFrame = {
    require(rankings.nonEmpty && rankings.size == weights.size,
      s"need one weight per ranking (${rankings.size} rankings, " +
        s"${weights.size} weights)")
    require(k > 0 && weights.forall(_ >= 0),
      "k must be positive and weights non-negative")
    val contribs = rankings.zip(weights).map { case (r, w) =>
      val s = r.select(col(qCol), col(idCol),
        col(scoreCol).cast("double").as("_s"))
      val mm = s.groupBy(qCol)
        .agg(min(col("_s")).as("_mn"), max(col("_s")).as("_mx"))
      s.join(broadcast(mm), Seq(qCol))
        .select(col(qCol), col(idCol),
          (when(col("_mx") === col("_mn"), lit(1.0))
            .otherwise((col("_s") - col("_mn")) /
              (col("_mx") - col("_mn"))) * w).as("_c"))
    }
    val fusedScores = contribs.reduce(_ unionByName _)
      .groupBy(col(qCol), col(idCol))
      .agg(round(sum(col("_c")), 6).as("lin_score"))
    Similarity.rankTopKPerQuery(fusedScores, k, qCol, idCol, "lin_score")
      .select(col(qCol), col("rank"), col(idCol), col("lin_score"))
  }

  /** [[rrfFuse]] for a whole QUERY FRAME: each `rankings` frame
    * carries (qCol, idCol, rankCol) rows — a batched search output
    * like [[InvertedIndex.searchTopKBatch]] or
    * [[VectorIndex.searchTopK]] — and fusion runs per query:
    * contributions sum within (query, doc) and the per-query top-k is
    * the shared two-phase [[Similarity.rankTopKPerQuery]]. Output
    * (qCol, rank, idCol, rrf_score), per query row-identical to
    * [[rrfFuse]] over that query's slices (same 6-dp rounding, same
    * id tie-break).
    *
    * Scale shape: inputs are already ≤ |queries| × k rows each, so
    * nothing corpus-sized ever enters the fusion.
    */
  def rrfFusePerQuery(rankings: Seq[DataFrame], qCol: String,
                      idCol: String, rankCol: String, k: Int,
                      rrfK: Int = 60): DataFrame = {
    require(rankings.nonEmpty && k > 0 && rrfK >= 0)
    val contrib = rankings.map(_.select(col(qCol), col(idCol),
        (lit(1.0) / (lit(rrfK.toDouble) + col(rankCol).cast("double")))
          .as("_rrf")))
      .reduce(_ unionByName _)
      .groupBy(col(qCol), col(idCol))
      .agg(round(sum(col("_rrf")), 6).as("rrf_score"))
    Similarity.rankTopKPerQuery(contrib, k, qCol, idCol, "rrf_score")
      .select(col(qCol), col("rank"), col(idCol), col("rrf_score"))
  }

  // ---- MaxSim late interaction (ColBERT; Khattab & Zaharia,
  // SIGIR'20) ---------------------------------------------------------
  // Multi-vector retrieval: every document and query is a BAG of
  // token vectors; score(q, d) = Σ over query tokens of the MAX
  // cosine against any document token. In the reference engine family
  // this is the `rank_vectors`/late-interaction path of ES 8.x.
  //
  // Scale shape: late interaction is a RERANKER — the serving stack
  // generates candidates first (BM25, `InvertedIndex.searchTopKBatch`,
  // or `VectorIndex.searchTopK` over pooled vectors) and MaxSim
  // rescores only those. `maxSimRerank` therefore BROADCASTS the
  // (q_id, doc_id) candidate set onto the doc-token table — the
  // corpus-scale table is filtered map-side, never shuffled to find
  // the candidates — and the quadratic token×token work is bounded by
  // |candidates| × |doc tokens/doc| × |query tokens|. The two
  // aggregations (max per query token, then sum per doc) run
  // map-side-partial like any groupBy, and the final per-query top-k
  // is the shared two-phase `rankTopKPerQuery`.

  /** Rescore `candidates` (qCol, idCol) by MaxSim and return the
    * per-query top-k: (qCol, rank, idCol, maxsim). `docTokenVecs` has
    * one row per document token (idCol, vecCol); `queryTokenVecs` one
    * row per query token (qCol, qPosCol, vecCol) — qPosCol keeps
    * repeated query tokens distinct (each contributes its own max,
    * like ColBERT). Cosines round to `roundTo` dp before the max and
    * the sum rounds again, so rankings replay across engines.
    */
  def maxSimRerank(docTokenVecs: DataFrame, queryTokenVecs: DataFrame,
                   candidates: DataFrame, idCol: String, qCol: String,
                   qPosCol: String, vecCol: String, k: Int,
                   roundTo: Int = 6): DataFrame = {
    require(k > 0, "k must be positive")
    val dv = docTokenVecs.select(col(idCol), col(vecCol).as("_dv"))
    val qv = queryTokenVecs.select(col(qCol), col(qPosCol),
      col(vecCol).as("_qv"))
    val scored = dv
      .join(broadcast(candidates.select(col(qCol), col(idCol))), Seq(idCol))
      .join(broadcast(qv), Seq(qCol))
      .withColumn("_cos", round(
        graft.plans.VectorExpressions.cosine(col("_dv"), col("_qv")),
        roundTo))
      .groupBy(col(qCol), col(idCol), col(qPosCol))
      .agg(max(col("_cos")).as("_m"))
      .groupBy(col(qCol), col(idCol))
      .agg(round(sum(col("_m")), roundTo).as("maxsim"))
    Similarity.rankTopKPerQuery(scored, k, qCol, idCol, "maxsim")
      .select(col(qCol), col("rank"), col(idCol), col("maxsim"))
  }

  /** Exact MaxSim over the whole corpus — the brute-force baseline
    * (every query scores every document). Candidate generation is the
    * cross of query ids × distinct doc ids; use [[maxSimRerank]] with
    * a real first-stage retriever for anything corpus-sized.
    */
  def maxSimTopK(docTokenVecs: DataFrame, queryTokenVecs: DataFrame,
                 idCol: String, qCol: String, qPosCol: String,
                 vecCol: String, k: Int, roundTo: Int = 6): DataFrame =
    maxSimRerank(docTokenVecs, queryTokenVecs,
      queryTokenVecs.select(qCol).distinct()
        .crossJoin(docTokenVecs.select(idCol).distinct()),
      idCol, qCol, qPosCol, vecCol, k, roundTo)
}
