package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class RankingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("bm25 matches the textbook formula on a hand corpus") {
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "d"))
      .toDF("doc_id", "text")
    val got = Ranking.bm25TopK(docs, "doc_id", "text", Seq("a", "c"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

    val (k1, b, n, avg) = (1.2, 0.75, 3.0, 2.0)
    def idf(df: Double) = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def part(tf: Double, df: Double, dl: Double) =
      idf(df) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avg))
    val d1 = part(2, 2, 3) // "a" twice in doc 1 (len 3)
    val d2 = part(1, 2, 2) + part(1, 1, 2) // "a" + "c" in doc 2 (len 2)
    assert(got.keySet == Set(1L, 2L)) // doc 3 matches nothing
    assert(math.abs(got(1L) - d1) < 1e-6 && math.abs(got(2L) - d2) < 1e-6)
    // the rarer term makes doc 2 win
    assert(got(2L) > got(1L))
  }

  test("multi-term queries beat single-term on the same doc; k caps output") {
    val docs = Seq((1L, "x y z"), (2L, "x x x"), (3L, "y")).toDF("doc_id", "text")
    val one = Ranking.bm25TopK(docs, "doc_id", "text", Seq("x"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val two = Ranking.bm25TopK(docs, "doc_id", "text", Seq("x", "y"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(two(1L) > one(1L))
    assert(Ranking.bm25TopK(docs, "doc_id", "text", Seq("x", "y"), 1)
      .count() == 1)
  }

  test("rrfFuse: hand-model sums, single-list presence, k cap, rank dominance") {
    val r1 = Seq((10L, 1L), (20L, 2L), (30L, 3L)).toDF("id", "rank")
    val r2 = Seq((20L, 1L), (40L, 2L)).toDF("id", "rank")
    val fused = Ranking.rrfFuse(Seq(r1, r2), "id", "rank", k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def c(rank: Long) = 1.0 / (60.0 + rank)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // present in both lists: the contributions SUM
    assert(fused(20L) == r6(c(2) + c(1)))
    // present in one list: that contribution alone
    assert(fused(10L) == r6(c(1)))
    assert(fused(40L) == r6(c(2)))
    assert(fused(30L) == r6(c(3)))
    // two mid appearances beat one first place (the RRF consensus
    // property: 1/61 < 1/62 + 1/63)
    assert(fused(20L) > fused(10L))
    // k caps the fused output
    assert(Ranking.rrfFuse(Seq(r1, r2), "id", "rank", k = 2).count() == 2)
  }

  test("linearFuse: min-max per leg, weights, degenerate range -> 1.0") {
    val r1 = Seq((10L, 4.0), (20L, 2.0), (30L, 0.0)).toDF("id", "score")
    val r2 = Seq((20L, 0.9), (40L, 0.5)).toDF("id", "score")
    val fused = Ranking.linearFuse(Seq(r1, r2), "id", "score",
        Seq(0.7, 0.3), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // leg 1 normalizes over (0..4): 10 -> 1, 20 -> 0.5, 30 -> 0;
    // leg 2 over (0.5..0.9): 20 -> 1, 40 -> 0
    assert(fused(10L) == 0.7)
    // 0.35 + 0.3 = 0.6499999999999999 in doubles; the 6-dp round is
    // part of the contract
    assert(fused(20L) == 0.65)
    assert(fused(30L) == 0.0)
    assert(fused(40L) == 0.0)
    // a constant-score leg contributes its full weight per hit
    val const = Seq((10L, 5.0), (20L, 5.0)).toDF("id", "score")
    val f2 = Ranking.linearFuse(Seq(const), "id", "score", Seq(0.4),
        k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(f2 == Map(10L -> 0.4, 20L -> 0.4), f2.toString)
    // contracts
    intercept[IllegalArgumentException] {
      Ranking.linearFuse(Seq(r1, r2), "id", "score", Seq(1.0), k = 5)
    }
  }

  test("bm25fTopK: combined-before-saturation beats per-field-sum " +
      "double-dipping; hand-computed single-doc score") {
    val spark = TestSpark.spark
    import spark.implicits._
    // doc 1: term once in EACH field (spread); doc 2: twice in one
    // field, absent in the other (concentrated); equal weights, equal
    // combined lengths → BM25F scores them EQUALLY (tf~ = 2 both),
    // while most_fields-style per-field-saturate-then-sum would rank
    // the spread doc 1 HIGHER (two unsaturated contributions)
    val docs = Seq(
      (1L, "cat pad pad", "cat pad pad"),
      (2L, "cat cat pad", "pad pad pad")).toDF("id", "title", "body")
    val got = Ranking.bm25fTopK(docs, "id",
      Seq("title" -> 1.0, "body" -> 1.0), Seq("cat"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == got(2L), got)
    // hand check: n=2, df=2 → idf = ln(1 + 0.5/2.5); tf~ = 2,
    // len~ = 6, avg~ = 6 → s = idf·2·2.2/(2 + 1.2·1)
    val idf = math.log(1.0 + 0.5 / 2.5)
    val expect = idf * 2 * 2.2 / (2 + 1.2)
    assert(math.abs(got(1L) -
      math.floor(expect * 1e6 + 0.5) / 1e6) < 2e-6, got)
    // weights scale tf AND length: title^2 doubles doc 2's hits
    val w = Ranking.bm25fTopK(docs, "id",
      Seq("title" -> 2.0, "body" -> 1.0), Seq("cat"), k = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(w(2L) > w(1L), w) // 2 title hits ×2 beat 1 title + 1 body
    intercept[IllegalArgumentException](
      Ranking.bm25fTopK(docs, "id", Seq("title" -> 0.5), Seq("cat"), 5))
  }

  test("bm25fTopK: a null field holds no tokens — the doc keeps its " +
      "matches in its other fields") {
    val spark = TestSpark.spark
    import spark.implicits._
    val withNull = Seq[(Long, String, String)](
      (1L, null, "cat pad pad"),
      (2L, null, "cat cat pad")).toDF("id", "title", "body")
    val titleDropped = withNull.drop("title")
    def scores(docs: org.apache.spark.sql.DataFrame,
               fields: Seq[(String, Double)]): Map[Long, Double] =
      Ranking.bm25fTopK(docs, "id", fields, Seq("cat"), k = 5)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = scores(withNull, Seq("title" -> 2.0, "body" -> 1.0))
    assert(got.keySet == Set(1L, 2L), got)
    assert(got == scores(titleDropped, Seq("body" -> 1.0)))
    // one null title among populated ones: that doc scores from its
    // body alone, the length sum counting the null field as empty
    val mixed = Seq[(Long, String, String)](
      (1L, null, "cat pad pad"),
      (2L, "", "cat pad pad"),
      (3L, "dog", "pad")).toDF("id", "title", "body")
    val m = scores(mixed, Seq("title" -> 2.0, "body" -> 1.0))
    assert(m.keySet == Set(1L, 2L) && m(1L) == m(2L), m)
  }
}
