package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** Benchmark-contamination sweep over a corpus: flag training
  * documents that share any token n-gram with an evaluation set (the
  * standard decontamination recipe for LLM training data — exact
  * n-gram overlap against held-out benchmarks).
  *
  * Scale shape: the benchmark n-gram set is small (benchmarks are
  * thousands of documents, not billions), so it is distinct-ed and
  * BROADCAST; the corpus side explodes its n-grams and hash-joins
  * map-side — the corpus is never shuffled to find matches. Only the
  * matched (doc, gram) pairs — a tiny fraction — flow into the
  * per-document aggregation. Order matters: join *before* distinct,
  * so the broadcast join is the filter and the dedup pass touches
  * survivors only.
  */
object Decontam {

  /** Per-document count of distinct benchmark n-grams found
    * (`n_hit_ngrams`); documents with no overlap are absent. `n` is
    * the shingle width (word n-grams, whitespace-tokenized,
    * lowercased — [[TextAnalysis.shingles]]).
    */
  def contaminationReport(corpus: DataFrame, idCol: String, textCol: String,
                          bench: DataFrame, benchTextCol: String,
                          n: Int): DataFrame = {
    // tokens staged in their own projection on both sides (the arr1
    // rule: the shingle lambda would otherwise re-run the tokenizer
    // once per shingle position)
    val benchGrams = broadcast(
      bench.select(TextAnalysis.tokens(col(benchTextCol)).as("_toks"))
        .select(explode(TextAnalysis.shinglesFromTokens(col("_toks"), n))
          .as("_gram"))
        .distinct())
    corpus
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        explode(TextAnalysis.shinglesFromTokens(col("_toks"), n)).as("_gram"))
      .join(benchGrams, Seq("_gram"))
      .groupBy(idCol)
      .agg(count_distinct(col("_gram")).cast("long").as("n_hit_ngrams"))
  }

  /** The drop-list face: ids of contaminated documents (≥ `minHits`
    * distinct shared n-grams), ready for [[Dedup]]-style removal.
    */
  def contaminatedIds(corpus: DataFrame, idCol: String, textCol: String,
                      bench: DataFrame, benchTextCol: String,
                      n: Int, minHits: Long = 1L): DataFrame =
    contaminationReport(corpus, idCol, textCol, bench, benchTextCol, n)
      .filter(col("n_hit_ngrams") >= minHits)
      .select(idCol)

  /** Build a Bloom filter over a string key column with
    * `BloomFilter.putString` — the SAME byte semantics
    * [[graft.plans.BloomMightContain]] probes with, so build and probe
    * agree by construction. `treeAggregate` keeps the merge tree
    * shallow (partial filters OR together executor-side, depth 2)
    * instead of funneling every partition's filter through the driver.
    */
  def buildStringBloom(keys: DataFrame, keyCol: String,
                       expectedItems: Long, fpp: Double)
      : org.apache.spark.util.sketch.BloomFilter = {
    require(expectedItems > 0, s"expectedItems must be > 0: $expectedItems")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1): $fpp")
    import org.apache.spark.util.sketch.BloomFilter
    keys.select(col(keyCol)).na.drop().rdd.map(_.getString(0))
      .treeAggregate(BloomFilter.create(expectedItems, fpp))(
        (f, s) => { f.putString(s); f },
        (a, b) => a.mergeInPlace(b))
  }

  /** [[contaminationReport]]'s 100 TB face: identical output (exact,
    * no approximation leaks into the result), different membership
    * plumbing. The exact recipe broadcasts the benchmark's distinct
    * n-gram STRINGS — fine for a few thousand benchmark docs, not for
    * a consolidated eval registry of ~10⁹ grams (tens of GB of UTF-8
    * plus hash-set overhead, unbroadcastable). Here the corpus side is
    * prefiltered by a broadcast BLOOM over those grams (~9.6
    * bits/element at 1% fpp ⇒ ~1.2 GB per billion grams), so only
    * might-contain survivors — true hits plus an fpp-sized trickle of
    * false positives — reach the exact confirm join. That join sees
    * survivor rows vs benchmark grams, both tiny relative to the
    * corpus, and Catalyst/AQE picks its strategy; the corpus itself is
    * never shuffled. No false negatives (Bloom guarantee), so
    * survivors ⊇ true hits and the confirm join restores exactness.
    *
    * `expectedGrams` sizes the filter; pass it when the benchmark gram
    * cardinality is known (skips a count job), otherwise it is counted.
    */
  def bloomContaminationReport(corpus: DataFrame, idCol: String,
                               textCol: String,
                               bench: DataFrame, benchTextCol: String,
                               n: Int, fpp: Double = 0.01,
                               expectedGrams: Long = -1L): DataFrame = {
    val spark = corpus.sparkSession
    // persisted: the distinct gram pipeline (a shuffle) is read up to
    // three times — the sizing count, the bloom build, and the exact
    // confirm join — and would otherwise re-tokenize the whole bench
    // for each; released after the result's first job (the keep-first
    // listener discipline)
    val benchGrams =
      bench.select(TextAnalysis.tokens(col(benchTextCol)).as("_toks"))
        .select(explode(TextAnalysis.shinglesFromTokens(col("_toks"), n))
          .as("_gram"))
        .distinct()
        .persist()
    val expected =
      if (expectedGrams > 0) expectedGrams
      else math.max(1L, benchGrams.count())
    val bloom = spark.sparkContext.broadcast(
      buildStringBloom(benchGrams, "_gram", expected, fpp))
    val report = corpus
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        explode(TextAnalysis.shinglesFromTokens(col("_toks"), n)).as("_gram"))
      .filter(graft.plans.BloomMightContain(col("_gram"), bloom))
      .join(benchGrams, Seq("_gram"))
      .groupBy(idCol)
      .agg(count_distinct(col("_gram")).cast("long").as("n_hit_ngrams"))
    Dedup.releaseAfter(report.persist(), Seq(benchGrams))
  }

  /** Embedding-space decontamination — the semantic sibling of the
    * n-gram recipes: paraphrased benchmark leakage shares no 13-gram,
    * but its embedding still lands next to the benchmark's. Reports
    * every corpus row whose cosine to ANY benchmark vector reaches
    * `minCosine`, as (id, bench_id, cosine) for the BEST match (max
    * rounded cosine, ties toward the smallest bench id — a total
    * order, so the report replays exactly).
    *
    * Scale shape: benchmark suites are thousands of vectors, so the
    * bench side is BROADCAST and the corpus streams through one
    * nested-loop pass (per-row max over the bench block) — the corpus
    * is never shuffled; the only aggregation is over the surviving
    * hits, a benchmark-sized trickle. Cosines are rounded to
    * `roundTo` BEFORE thresholding and argmax, so engines can't
    * disagree at the boundary. Zero-norm vectors (failed embeds,
    * padding rows) give a NaN cosine, and Spark's ordering treats NaN
    * as greater than everything — the explicit `!isnan` keeps them
    * out instead of flagging them against every benchmark row.
    */
  def semanticContamination(corpus: DataFrame, idCol: String, vecCol: String,
                            bench: DataFrame, benchIdCol: String,
                            benchVecCol: String, minCosine: Double,
                            roundTo: Int = 5): DataFrame = {
    val b = broadcast(bench.select(col(benchIdCol).as("_bid"),
      col(benchVecCol).as("_bv")))
    val cos = round(graft.functions.VectorOps.cosine(col("_cv"), col("_bv")),
      roundTo)
    corpus.select(col(idCol), col(vecCol).as("_cv"))
      .join(b, cos >= minCosine && !isnan(cos))
      .groupBy(idCol)
      .agg(graft.plans.ExtremumBy.idxmax(cos, col("_bid")).as("bench_id"),
        max(cos).as("cosine"))
      .select(col(idCol), col("bench_id"), col("cosine"))
  }

  /** Span-level contamination — the "13-gram overlap" recipe of the
    * GPT-3/PaLM decontamination reports: instead of counting shared
    * n-grams as a set, find the MERGED token spans of each corpus doc
    * that any benchmark `minTokens`-gram covers. Span extent separates
    * a stray idiom collision from a quoted benchmark passage, which is
    * what a removal policy actually keys on.
    *
    * Output per contaminated doc: (idCol, n_spans, contaminated_tokens,
    * max_span_len) — spans are maximal disjoint token intervals (two
    * overlapping gram windows merge into one span).
    *
    * Scale shape: benchmark positional gram hashes distinct+BROADCAST
    * (benchmarks are small — the dc1 rule); the corpus explodes
    * positional windows (codegen one-pass kernel) and hash-joins
    * map-side, never shuffling to find hits. The interval merge is a
    * running-max window PER DOC over hit positions only — bounded by
    * one document's hits, and only contaminated docs reach it.
    */
  def spanContamination(corpus: DataFrame, idCol: String, textCol: String,
                        bench: DataFrame, benchTextCol: String,
                        minTokens: Int = 13): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = minTokens
    val bGrams = broadcast(
      bench.select(explode(graft.plans.TokenPositionalShingleHashes(
          col(benchTextCol), k)).as("h"))
        .distinct())
    val hits = corpus
      .select(col(idCol).as("_id"),
        posexplode(graft.plans.TokenPositionalShingleHashes(col(textCol), k))
          .as(Seq("pos", "h")))
      .join(bGrams, Seq("h"))
    // merge overlapping [pos, pos+k-1] windows: a new span starts when
    // this window begins past every previous window's end
    val byPos = Window.partitionBy("_id").orderBy("pos")
    val spans = hits
      .withColumn("_prevEnd", max(col("pos") + k - 1)
        .over(byPos.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new",
        when(col("_prevEnd").isNull || col("pos") > col("_prevEnd"), 1)
          .otherwise(0))
      .withColumn("_grp", sum(col("_new")).over(byPos))
      .groupBy("_id", "_grp")
      .agg(min(col("pos")).as("_s"), (max(col("pos")) + k - 1).as("_e"))
    spans.groupBy("_id")
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(col("_e") - col("_s") + 1).cast("long").as("contaminated_tokens"),
        max(col("_e") - col("_s") + 1).cast("long").as("max_span_len"))
      .select(col("_id").as(idCol), col("n_spans"),
        col("contaminated_tokens"), col("max_span_len"))
  }
}
