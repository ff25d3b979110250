package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class LanguageModelSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("bigram scores match the hand-computed smoothed model") {
    // corpus: "a b" x2 and "a c" -> c(a)=3, c(b)=2, c(c)=1, V=3
    // c(a b)=2, c(a c)=1
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val got = LanguageModel.bigramScore(docs, docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val v = 3.0
    def p(cb: Double, cu: Double) = (cb + 0.5) / (cu + 0.5 * v)
    val ab = math.log(p(2, 3))
    val ac = math.log(p(1, 3))
    assert(got(1L)._1 == 1L && math.abs(got(1L)._2 - ab) < 1e-6)
    assert(got(2L)._2 == got(1L)._2)
    assert(math.abs(got(3L)._2 - ac) < 1e-6)
    // the common transition scores higher than the rare one
    assert(got(1L)._2 > got(3L)._2)
  }

  test("unseen transitions hit the smoothing floor; short docs drop out") {
    val train = Seq((1L, "x y x y")).toDF("doc_id", "text")
    val score = Seq((10L, "x y"), (11L, "y q"), (12L, "solo"))
      .toDF("doc_id", "text")
    val got = LanguageModel.bigramScore(train, score, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // "y q": q never seen after y -> floor probability, lower than "x y"
    assert(got.keySet == Set(10L, 11L))
    assert(got(10L) > got(11L))
  }

  test("unigramKlContributions: hand-computed smoothed terms, zero on " +
    "identical corpora, loud empty-side refusal") {
    val a = Seq("a a a b").toDF("text")
    val b = Seq("a b b b").toDF("text")
    val m = LanguageModel.unigramKlContributions(a, b, "text")
      .collect().map(r => r.getAs[String]("token") ->
        (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"),
          r.getAs[Double]("kl_term"))).toMap
    // V = 2, alpha = 0.5: p_a(a) = 3.5/5, p_b(a) = 1.5/5 and mirrored
    val pa = 3.5 / 5.0; val pb = 1.5 / 5.0
    assert(m("a")._1 == 3L && m("a")._2 == 1L)
    assert(math.abs(m("a")._3 - pa * math.log(pa / pb)) < 1e-12)
    assert(math.abs(m("b")._3 - pb * math.log(pb / pa)) < 1e-12)
    // KL of a distribution against itself: every term exactly 0
    assert(LanguageModel.unigramKlContributions(a, a, "text")
      .collect().forall(_.getAs[Double]("kl_term") == 0.0))
    // an empty side refuses loudly instead of an all-null report
    val e = intercept[Exception] {
      LanguageModel.unigramKlContributions(
        a.filter(org.apache.spark.sql.functions.lit(false)), b, "text")
        .collect()
    }
    assert(e.getMessage.contains("no tokens"), e.getMessage)
  }

  test("trigram stupid backoff: each CASE branch matches the hand model") {
    // train: "a b c a b c a b d" → c3(a b c)=2, c3(b c a)=2,
    // c3(c a b)=2, c3(a b d)=1; c2(a b)=3, c2(b c)=2, c2(c a)=2,
    // c2(b d)=1; c1: a=3 b=3 c=2 d=1 → N=9, V=4
    val train = Seq((1L, "a b c a b c a b d")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b c"),   // trigram branch: 2/3
      (11L, "x b c"),   // backoff to bigram (b c): 0.4 * 2/3
      (12L, "x y d"),   // backoff to unigram d: 0.16 * (1+0.5)/(9+2)
      (13L, "x y q"))   // OOV floor: 0.16 * 0.5/11
      .toDF("doc_id", "text")
    val got = LanguageModel.trigramBackoffScore(train, score,
        "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(got(10L) - math.log(2.0 / 3.0)) < 1e-6)
    assert(math.abs(got(11L) - math.log(0.4 * 2.0 / 3.0)) < 1e-6)
    assert(math.abs(got(12L) - math.log(0.16 * 1.5 / 11.0)) < 1e-6)
    assert(math.abs(got(13L) - math.log(0.16 * 0.5 / 11.0)) < 1e-6)
    // fluency order: seen trigram > backed-off bigram > unigram > OOV
    assert(got(10L) > got(11L) && got(11L) > got(12L) &&
      got(12L) > got(13L))
    // docs with < 3 tokens are absent
    assert(!LanguageModel.trigramBackoffScore(train,
        Seq((20L, "a b")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(_.getLong(0)).contains(20L))
    // the shuffled-unigram opt-out scores bit-identically
    val shuffled = LanguageModel.trigramBackoffScore(train, score,
        "doc_id", "text", broadcastUnigrams = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(shuffled == got)
    // a token-free model corpus fails loudly at action time (in-plan
    // raise_error), never silently-null scores
    val e = intercept[Exception](
      LanguageModel.trigramBackoffScore(
        Seq((1L, "")).toDF("doc_id", "text"), score, "doc_id", "text")
        .collect())
    assert(e.getMessage.contains("no tokens"))
    val e2 = intercept[Exception](
      LanguageModel.bigramScore(
        Seq((1L, "")).toDF("doc_id", "text"),
        Seq((10L, "x y")).toDF("doc_id", "text"), "doc_id", "text")
        .collect())
    assert(e2.getMessage.contains("no tokens"))
  }

  test("perplexityBuckets ≡ the naive per-group window (differential) " +
      "and cuts exact rank tertiles") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // two groups; fluent docs reuse the corpus's dominant bigrams,
    // junk docs use rare transitions — ranking is nontrivial
    val docs = (1L to 14L).map { i =>
      // a null group is ITS OWN bucket group, not dropped
      val g = if (i > 12) null
        else if (i % 2 == 0) "web" else "books"
      val text =
        if (i <= 4) "the cat sat on the mat the cat sat"
        else if (i <= 9) s"the cat ran f$i on a mat"
        else s"zz$i qq$i pp$i rr$i ww$i"
      (i, g, text)
    }.toDF("doc_id", "source", "text")
    val got = LanguageModel.perplexityBuckets(docs, docs,
        "doc_id", "text", "source")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // naive reference: fine at test scale, the trap at corpus scale
    val scored = LanguageModel.bigramScore(docs, docs, "doc_id", "text")
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val w = Window.partitionBy("source")
      .orderBy(col("mean_logp").desc, col("doc_id"))
    val want = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .select(col("doc_id"),
        when(col("rn") * 3 <= col("n"), "head")
          .when(col("rn") * 3 <= col("n") * 2, "middle")
          .otherwise("tail").as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === want)
    assert(got.size === 14) // the null-group docs are present, not dropped
    // 6 docs per named group -> 2/2/2; the 2-doc null group -> 0/1/1
    val perGroup = got.groupBy { case (id, _) =>
      if (id > 12) "null" else if (id % 2 == 0) "web" else "books"
    }.map { case (g, m) => g -> m.values.groupBy(identity).view
      .mapValues(_.size).toMap }
    assert(perGroup("web") === Map("head" -> 2, "middle" -> 2, "tail" -> 2))
    assert(perGroup("books") === Map("head" -> 2, "middle" -> 2, "tail" -> 2))
    assert(perGroup("null") === Map("middle" -> 1, "tail" -> 1))
  }

  test("perplexityBuckets releases its staged scores after the first " +
      "action") {
    val docs = (1L to 8L).map { i =>
      (i, if (i % 2 == 0) "web" else "books",
        if (i <= 4) "the cat sat on the mat" else s"zz$i qq$i the cat")
    }.toDF("doc_id", "source", "text")
    def scoresCached = LanguageModel.bigramScore(docs, docs, "doc_id",
      "text").storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = LanguageModel.perplexityBuckets(docs, docs, "doc_id", "text",
      "source")
    assert(scoresCached)
    assert(out.collect().length === 8)
    // the release runs in a query-execution listener on the bus
    org.apache.spark.TestJobs.drainListenerBus(spark)
    assert(!scoresCached)
    // what stays is the ordinal table Sampling.ordinalByKey returns
    // persisted, so that a second action reuses the ordinals it assigned
    assert((sc.getPersistentRDDs.keySet -- before).size <= 1)
  }

  test("broadcastUnigrams=false scores bit-identically to the default") {
    val train = Seq((1L, "a b a c"), (2L, "a b"), (3L, "c d e"))
      .toDF("doc_id", "text")
    val score = Seq((10L, "a b c"), (11L, "d e"), (12L, "q z"))
      .toDF("doc_id", "text")
    def run(bc: Boolean) =
      LanguageModel.bigramScore(train, score, "doc_id", "text",
          broadcastUnigrams = bc)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    val bcast = run(true)
    val shuffled = run(false)
    assert(bcast.keySet == shuffled.keySet)
    bcast.foreach { case (id, (n, s)) =>
      assert(shuffled(id)._1 == n)
      assert(shuffled(id)._2 == s) // bit-identical, not approximately
    }
  }
}
