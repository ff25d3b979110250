package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}

class EsScoredQuerySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Tables.load(spark, TestSpark.sfDir, "documents")

  private def scored(df: org.apache.spark.sql.DataFrame, json: String) =
    EsScoredQuery.scoredFrame(df, "doc_id", json)

  test("sparse_vector: hand-checked dot product, match gate, boost, " +
      "alias, refusals") {
    val sv = Seq(
      (1L, Seq(("alpha", 2.0), ("beta", 1.0))),
      (2L, Seq(("beta", 4.0), ("gamma", 3.0))),
      (3L, Seq(("gamma", 5.0))),
      (4L, Seq.empty[(String, Double)])
    ).toDF("doc_id", "raw")
      .select(col("doc_id"), transform(col("raw"), e =>
        struct(e.getField("_1").as("token"),
          e.getField("_2").as("weight"))).as("ml_tokens"))
    def rows(json: String): Map[Long, Double] =
      EsScoredQuery.scoredFrame(sv, "doc_id", json)
        .select("doc_id", "_score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // q = {alpha: 0.5, beta: 2}: doc1 = .5*2 + 2*1 = 3; doc2 = 2*4 = 8;
    // doc3 shares nothing -> excluded; doc4 empty -> excluded
    val q = """{"sparse_vector": {"field": "ml_tokens",
      |"query_vector": {"alpha": 0.5, "beta": 2}}}""".stripMargin
    assert(rows(q) == Map(1L -> 3.0, 2L -> 8.0))
    // boost multiplies; text_expansion (modern body) is an alias
    assert(rows("""{"sparse_vector": {"field": "ml_tokens",
      |"query_vector": {"alpha": 0.5, "beta": 2},
      |"boost": 2}}""".stripMargin) == Map(1L -> 6.0, 2L -> 16.0))
    assert(rows("""{"text_expansion": {"field": "ml_tokens",
      |"query_vector": {"alpha": 0.5, "beta": 2}}}""".stripMargin) ==
      Map(1L -> 3.0, 2L -> 8.0))
    // composes under bool: the dot product sums with other clauses
    assert(rows(s"""{"bool": {"must": [$q,
      |{"term": {"doc_id": 1}}]}}""".stripMargin) == Map(1L -> 4.0))
    // negative QUERY weight refuses at parse
    val neg = intercept[IllegalArgumentException](rows(
      """{"sparse_vector": {"field": "ml_tokens",
        |"query_vector": {"alpha": -1}}}""".stripMargin))
    assert(neg.getMessage.contains("negative"), neg.getMessage)
    // negative DOC weight refuses in-plan (ES rejects at index time)
    val bad = sv.select(col("doc_id"), transform(col("ml_tokens"), e =>
      struct(e.getField("token").as("token"),
        (e.getField("weight") * -1).as("weight"))).as("ml_tokens"))
    val inPlan = intercept[Exception](
      EsScoredQuery.scoredFrame(bad, "doc_id", q).collect())
    assert(inPlan.getMessage.contains("negative weight"),
      inPlan.getMessage)
    // inference_id (server-side expansion) refuses by absence
    val inf = intercept[IllegalArgumentException](rows(
      """{"sparse_vector": {"field": "ml_tokens",
        |"inference_id": "elser", "query_vector": {"a": 1}}}"""
        .stripMargin))
    assert(inf.getMessage.contains("inference_id"), inf.getMessage)
    // an empty / missing query_vector refuses
    intercept[IllegalArgumentException](rows(
      """{"sparse_vector": {"field": "ml_tokens",
        |"query_vector": {}}}""".stripMargin))
  }

  test("scored query_string / simple_query_string equal the explicit " +
      "DSL trees they parse to (BM25, not constant score)") {
    val tiny = Seq(
      (1L, "quick brown fox"),
      (2L, "quick red fox"),
      (3L, "slow brown dog"),
      (4L, "the quick dog runs")).toDF("doc_id", "text")
    def rows(json: String): Map[Long, Double] =
      scored(tiny, json).select("doc_id", "_score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // bare terms, default OR → bool should of matches
    assert(rows("""{"simple_query_string": {"query": "quick fox",
      |"fields": ["text"]}}""".stripMargin) ==
      rows("""{"bool": {"should": [{"match": {"text": "quick"}},
        |{"match": {"text": "fox"}}]}}""".stripMargin))
    // infix + → bool must (scores still sum)
    assert(rows("""{"simple_query_string": {"query": "quick + fox",
      |"fields": ["text"]}}""".stripMargin) ==
      rows("""{"bool": {"must": [{"match": {"text": "quick"}},
        |{"match": {"text": "fox"}}]}}""".stripMargin))
    // phrase | term → should of match_phrase and match
    assert(rows("""{"simple_query_string": {
      |"query": "\"brown fox\" | dog", "fields": ["text"]}}"""
      .stripMargin) ==
      rows("""{"bool": {"should": [
        |{"match_phrase": {"text": "brown fox"}},
        |{"match": {"text": "dog"}}]}}""".stripMargin))
    // query_string grammar: -negation gates, bare term earns BM25
    assert(rows("""{"query_string": {"query": "quick -fox",
      |"default_field": "text"}}""".stripMargin) ==
      rows("""{"bool": {"must": [{"match": {"text": "quick"}}],
        |"must_not": [{"match": {"text": "fox"}}]}}""".stripMargin))
    // with a +required clause, bare terms stay score-only: same rows
    // as +quick alone, scores >= (fox adds where present)
    val plus = rows("""{"query_string": {"query": "fox +quick",
      |"default_field": "text"}}""".stripMargin)
    val onlyQuick = rows("""{"match": {"text": "quick"}}""")
    assert(plus.keySet == onlyQuick.keySet)
    assert(plus(1L) > onlyQuick(1L)) // doc 1 has fox too
    assert(plus(4L) == onlyQuick(4L)) // doc 4 has no fox
    // multi-term leaves gate constant-score 1.0 (Lucene's rewrite)
    assert(rows("""{"query_string": {"query": "qui*",
      |"default_field": "text"}}""".stripMargin)
      .values.toSet == Set(1.0))
    // two default fields → dis_max across per-field matches
    val two = Seq((1L, "alpha beta", "alpha gamma")).toDF(
      "doc_id", "text", "title")
    val viaQs = EsScoredQuery.scoredFrame(two, "doc_id",
      """{"query_string": {"query": "alpha", "fields":
        |["text", "title"]}}""".stripMargin)
      .select("_score").collect().head.getDouble(0)
    val viaDisMax = EsScoredQuery.scoredFrame(two, "doc_id",
      """{"dis_max": {"queries": [{"match": {"text": "alpha"}},
        |{"match": {"title": "alpha"}}]}}""".stripMargin)
      .select("_score").collect().head.getDouble(0)
    assert(viaQs == viaDisMax)
  }

  test("a lone scored match is row-identical to Ranking.bm25TopK") {
    val viaDsl = scored(docs,
      """{"match": {"text": "stream filter join"}}""")
      .select(col("doc_id"), col("_score").as("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaRank = graft.operators.Ranking
      .bm25TopK(docs, "doc_id", "text", Seq("stream", "filter", "join"),
        k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaDsl == viaRank)
    assert(viaDsl.nonEmpty)
  }

  test("operator:and gates on all terms but scores the same sum") {
    val tiny = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha alpha delta"),
      (3L, "beta beta beta")).toDF("doc_id", "text")
    val orRows = scored(tiny, """{"match": {"text": "alpha beta"}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val andRows = scored(tiny,
      """{"match": {"text": {"query": "alpha beta", "operator": "and"}}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // OR matches all three; AND only doc 1 — with the identical score
    assert(orRows.keySet == Set(1L, 2L, 3L))
    assert(andRows.keySet == Set(1L))
    assert(andRows(1L) == orRows(1L))
  }

  test("bool: filter and must_not gate without scoring; should adds its boost") {
    val tiny = Seq(
      (1L, "alpha beta", "en", 10L),
      (2L, "alpha beta", "en", 99L),
      (3L, "alpha beta", "de", 99L),
      (4L, "gamma delta", "en", 99L)).toDF("doc_id", "text", "lang", "n")
    val rows = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"bool": {
        |  "must": [{"match": {"text": "alpha"}}],
        |  "should": [{"constant_score": {
        |    "filter": {"range": {"n": {"gte": 50}}}, "boost": 2.5}}],
        |  "filter": [{"term": {"lang": "en"}}]
        |}}""".stripMargin)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 3 fails the filter, doc 4 the must; docs 1 and 2 share the
    // same BM25 term score and differ by exactly the should boost
    assert(rows.keySet == Set(1L, 2L))
    assert(math.abs(rows(2L) - rows(1L) - 2.5) < 1e-9)
  }

  test("dis_max: best branch + tie_breaker x the rest; and-branch gates") {
    val tiny = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha delta epsilon"),
      (3L, "gamma gamma gamma")).toDF("doc_id", "text")
    def one(json: String): Map[Long, Double] =
      scored(tiny, json).select("doc_id", "_score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b1 = one("""{"match": {"text": "alpha"}}""")
    val b2 = one(
      """{"match": {"text": {"query": "beta gamma", "operator": "and"}}}""")
    val dm = one(
      """{"dis_max": {"tie_breaker": 0.25, "queries": [
        |  {"match": {"text": "alpha"}},
        |  {"match": {"text": {"query": "beta gamma", "operator": "and"}}}
        |]}}""".stripMargin)
    for ((id, got) <- dm) {
      val s1 = b1.getOrElse(id, 0.0)
      val s2 = b2.getOrElse(id, 0.0)
      val want = math.max(s1, s2) + 0.25 * (s1 + s2 - math.max(s1, s2))
      assert(math.abs(got - want) < 1e-6, s"doc $id: $got vs $want")
    }
    // doc 2 matches only branch 1; doc 3 (gamma but no beta) fails the
    // and-gate of branch 2 and matches nothing
    assert(dm.keySet == Set(1L, 2L))
  }

  test("multi_match is dis_max over the per-field match scores") {
    val tiny = Seq(
      (1L, "alpha beta", "gamma"),
      (2L, "gamma delta", "alpha alpha")).toDF("doc_id", "a", "b")
    val mm = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"multi_match": {"query": "alpha", "fields": ["a", "b"]}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fa = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"match": {"a": "alpha"}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fb = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"match": {"b": "alpha"}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(mm.keySet == Set(1L, 2L))
    for ((id, got) <- mm)
      assert(math.abs(got -
        math.max(fa.getOrElse(id, 0.0), fb.getOrElse(id, 0.0))) < 1e-6)
  }

  test("building a scored frame is fully lazy — zero jobs before the first action") {
    // the corpus stats (N, avg len) must enter the plan as a broadcast
    // crossJoin, not an eager per-field .head(): at 100TB an eager
    // stats job doubles the scan cost of every scored query AND runs
    // even for a frame the caller never executes
    // pin the input first so lazy-building can't be confused with
    // input-side jobs (schema inference etc.)
    val pinned = docs
    pinned.schema // force resolution outside the measured window
    val ((frame, phraseFrame), jobs) =
      org.apache.spark.TestJobs.jobsDuring(spark) {
        (scored(pinned,
          """{"bool": {"must": [{"match": {"text": "stream filter"}}],
               "should": [{"match": {"text": "join"}}]}}"""),
        // a phrase clause must stay equally lazy: its per-term dfs and
        // token totals ride the same broadcast-crossJoin discipline
        scored(pinned,
          """{"bool": {"should": [
               {"match_phrase": {"text": "stream filter"}},
               {"match": {"text": "join"}}]}}"""))
      }
    assert(jobs == 0, s"building the scored frames launched $jobs job(s)")
    assert(frame.limit(1).count() >= 0) // the frames still execute fine
    assert(phraseFrame.limit(1).count() >= 0)
  }

  test("function_score: filter-gated weight + field_value_factor," +
    " score/boost modes") {
    val tiny = Seq(
      (1L, "alpha beta", "en", 100.0),
      (2L, "alpha beta", "de", 900.0),
      (3L, "gamma delta", "en", 100.0)).toDF("doc_id", "text", "lang", "q")
    // base query: constant_score 2.0 on matching "alpha"; functions:
    // weight 3 when lang=en, fvf = sqrt(0.01 * q); score_mode sum,
    // boost_mode multiply, boost 0.5
    val rows = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"function_score": {
        |  "query": {"constant_score": {
        |    "filter": {"match": {"text": "alpha"}}, "boost": 2.0}},
        |  "functions": [
        |    {"filter": {"term": {"lang": "en"}}, "weight": 3.0},
        |    {"field_value_factor": {"field": "q", "factor": 0.01,
        |      "modifier": "sqrt"}}
        |  ],
        |  "score_mode": "sum", "boost_mode": "multiply", "boost": 0.5
        |}}""".stripMargin)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 3 fails the query gate; doc 1: 2.0*(3 + sqrt(1))*0.5 = 4.0;
    // doc 2: 2.0*(0 + sqrt(9))*0.5 = 3.0
    assert(rows == Map(1L -> 4.0, 2L -> 3.0), rows.toString)
    // multiply mode: non-matching functions contribute 1
    val mult = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"function_score": {
        |  "query": {"match_all": {}},
        |  "functions": [
        |    {"filter": {"term": {"lang": "en"}}, "weight": 3.0},
        |    {"field_value_factor": {"field": "q", "factor": 0.01,
        |      "modifier": "sqrt"}}
        |  ],
        |  "score_mode": "multiply", "boost_mode": "replace"
        |}}""".stripMargin)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 1: 3*1 = 3; doc 2: 1*3 = 3; doc 3: 3*1 = 3
    assert(mult == Map(1L -> 3.0, 2L -> 3.0, 3L -> 3.0), mult.toString)
    // log1p is the COMMON log, like ES: value 99, factor 1 -> 2.0
    val lg = EsScoredQuery.scoredFrame(
      Seq((1L, "alpha", 99.0)).toDF("doc_id", "text", "q"), "doc_id",
      """{"function_score": {
        |  "query": {"match_all": {}},
        |  "functions": [{"field_value_factor": {"field": "q",
        |    "modifier": "log1p"}}],
        |  "boost_mode": "replace"
        |}}""".stripMargin)
      .select("_score").collect().head.getDouble(0)
    assert(math.abs(lg - 2.0) < 1e-9, lg.toString)
    // no matching function leaves the query score UNMODIFIED (ES
    // keeps the factor at 1 when zero functions match — not 0)
    val none = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"function_score": {
        |  "query": {"constant_score": {
        |    "filter": {"match": {"text": "alpha"}}, "boost": 2.0}},
        |  "functions": [{"filter": {"term": {"lang": "fr"}},
        |    "weight": 5.0}],
        |  "score_mode": "sum"
        |}}""".stripMargin)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(none == Map(1L -> 2.0, 2L -> 2.0), none.toString)
    // unsupported pieces refuse loudly — even when a supported key
    // rides in the same entry, and at the body level
    intercept[IllegalArgumentException] {
      EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"function_score": {"query": {"match_all": {}},
          |  "functions": [{"random_score": {}}]}}""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"function_score": {"query": {"match_all": {}},
          |  "functions": [{"random_score": {}, "weight": 2.0}]}}"""
          .stripMargin)
    }
    intercept[IllegalArgumentException] {
      EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"function_score": {"query": {"match_all": {}},
          |  "functions": [{"weight": 1.0}], "min_score": 5}}"""
          .stripMargin)
    }
    intercept[IllegalArgumentException] {
      EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"function_score": {"query": {"match_all": {}},
          |  "functions": [{"weight": 1.0}],
          |  "score_mode": "max"}}""".stripMargin)
    }
  }

  test("scored match_phrase: hand-computed phrase-BM25, composition, " +
    "slop refusal") {
    val tiny = Seq(
      (1L, "a b a b a b"), // phrase "a b" x3, len 6
      (2L, "a b c"),       // x1, len 3
      (3L, "b a"),         // 0 — order matters
      (4L, "a a b")        // x1, len 3
    ).toDF("doc_id", "text")
    val got = EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"match_phrase": {"text": "a b"}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n = 4.0; val avg = 14.0 / 4
    val idf = 2.0 * math.log(1.0 + (n - 4.0 + 0.5) / (4.0 + 0.5))
    def score(ptf: Double, dl: Double) = BigDecimal(
        idf * ptf * 2.2 / (ptf + 1.2 * (1 - 0.75 + 0.75 * dl / avg)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 2L, 4L), got.toString)
    assert(got(1L) == score(3, 6) && got(2L) == score(1, 3) &&
      got(4L) == score(1, 3), got.toString)
    // boost multiplies; composition under bool sums with a match
    val boosted = EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"match_phrase": {"text": {"query": "a b", "boost": 2.0}}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(boosted(2L) - 2 * got(2L)) < 2e-6, boosted.toString)
    val comp = EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"bool": {"should": [
          |  {"match_phrase": {"text": "a b"}},
          |  {"match": {"text": "c"}}
          |]}}""".stripMargin)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(comp(1L) == got(1L) && comp(2L) > got(2L), comp.toString)
    // a single-term phrase scores exactly like the single-term match
    val p1 = EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"match_phrase": {"text": "c"}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val m1 = EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"match": {"text": "c"}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p1 == m1 && p1.keySet == Set(2L), s"$p1 vs $m1")
    // an all-whitespace phrase matches nothing; slop refuses loudly
    assert(EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"match_phrase": {"text": "   "}}""").count() == 0)
    assert(intercept[IllegalArgumentException] {
      EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"match_phrase": {"text": {"query": "a b", "slop": 2}}}""")
    }.getMessage.contains("slop"))
  }

  test("decay functions: ES arithmetic on numeric fields; seeded " +
    "random_score draws the portable uniform; deltas stay loud") {
    val tiny = Seq(
      (1L, "alpha", Some(300.0)), (2L, "alpha", Some(500.0)),
      (3L, "alpha", Some(330.0)), (4L, "alpha", Option.empty[Double]),
      (5L, "alpha", Some(5000.0))
    ).toDF("doc_id", "text", "x")
    def decayScores(kind: String, params: String): Map[Long, Double] =
      EsScoredQuery.scoredFrame(tiny, "doc_id",
        s"""{"function_score": {
           |  "query": {"match_all": {}},
           |  "functions": [{"$kind": {"x": {$params}}}],
           |  "boost_mode": "replace"
           |}}""".stripMargin)
        .select("doc_id", "_score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // gauss: 1 at origin, exactly `decay` one scale away, 1 inside
    // the offset, 1 on a missing field (ES), ~0 far away
    val g = decayScores("gauss",
      """"origin": 300, "scale": 200, "offset": 50""")
    assert(g(1L) == 1.0 && g(3L) == 1.0 && g(4L) == 1.0, g.toString)
    assert(g(2L) == math.rint(math.exp(-150.0 * 150.0 /
      (2.0 * (-200.0 * 200.0 / (2.0 * math.log(0.5))))) * 1e6) / 1e6)
    assert(g(5L) < 1e-6, g.toString)
    val g2 = decayScores("gauss", """"origin": 300, "scale": 200""")
    assert(g2(2L) == 0.5, s"one scale away must score decay: $g2")
    // exp: decay one scale away, positive tail far out
    val e = decayScores("exp",
      """"origin": 300, "scale": 200, "decay": 0.3""")
    assert(e(1L) == 1.0 && e(2L) == 0.3 && e(4L) == 1.0, e.toString)
    // the far tail rounds to 0 at 6 dp; nearer points order correctly
    assert(e(5L) < 0.01 && e(3L) > e(2L), e.toString)
    // linear: decay one scale away, hard 0 past the support
    val l = decayScores("linear",
      """"origin": 300, "scale": 200, "decay": 0.5""")
    assert(l(1L) == 1.0 && l(2L) == 0.5 && l(5L) == 0.0, l.toString)
    // seeded random_score: stable across evaluations, in [0, 1),
    // id-sensitive
    def draws() = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"function_score": {
        |  "functions": [{"random_score": {"seed": 7, "field": "doc_id"}}],
        |  "boost_mode": "replace"
        |}}""".stripMargin)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val d1 = draws(); val d2 = draws()
    assert(d1 == d2 && d1.values.forall(v => v >= 0.0 && v < 1.0))
    assert(d1.values.toSet.size == 5, s"draws must be id-sensitive: $d1")
    // deltas stay loud: seedless / fieldless random_score, duration
    // origins, unknown decay params, two functions in one entry
    def refuse(fn: String): String =
      intercept[IllegalArgumentException] {
        EsScoredQuery.scoredFrame(tiny, "doc_id",
          s"""{"function_score": {"query": {"match_all": {}},
             |  "functions": [$fn]}}""".stripMargin)
      }.getMessage
    assert(refuse("""{"random_score": {"field": "doc_id"}}""")
      .contains("seed"))
    assert(refuse("""{"random_score": {"seed": 7}}""").contains("field"))
    assert(refuse("""{"gauss": {"x": {"origin": "now-1d",
      "scale": "1d"}}}""").contains("origin"))
    assert(refuse("""{"gauss": {"x": {"origin": 1, "scale": 2,
      "multi_value_mode": "min"}}}""").contains("multi_value_mode"))
    assert(refuse("""{"gauss": {"x": {"origin": 1, "scale": 2}},
      "linear": {"x": {"origin": 1, "scale": 2}}}""").contains("at most"))
    assert(refuse("""{"script_score": {"script": "1"}}""")
      .contains("engine-independent"))
  }

  test("scored-context guardrails stay loud") {
    val tiny = Seq((1L, "alpha")).toDF("doc_id", "text")
    // fuzziness scores with engine-internal statistics in ES — no
    // portable number exists, so the scored face must refuse
    val e = intercept[IllegalArgumentException](scored(tiny,
      """{"match": {"text": {"query": "alpha", "fuzziness": 1}}}"""))
    assert(e.getMessage.contains("SCORED"))
    val e2 = intercept[IllegalArgumentException](
      EsScoredQuery.scoredFrame(tiny.withColumn("_score", lit(1.0)),
        "doc_id", """{"match": {"text": "alpha"}}"""))
    assert(e2.getMessage.contains("_score"))
    // a query that analyzes to zero terms matches nothing, loudly not
    // everything
    assert(scored(tiny, """{"match": {"text": "   "}}""").count() == 0)
    // filter-ish leaves keep constant_score semantics in query context
    val leaf = scored(tiny, """{"term": {"text": "alpha"}}""")
      .select("_score").head().getDouble(0)
    assert(leaf == 1.0)
  }

  test("knn: exact cosine top-k, filter honored, nested knn raises") {
    val tiny = Seq(
      (1L, Seq(1.0, 0.0), "a"),
      (2L, Seq(0.0, 1.0), "a"),
      (3L, Seq(1.0, 1.0), "a"),
      (4L, Seq(1.0, 0.1), "b")).toDF("vec_id", "v", "tag")
    val rows = EsScoredQuery.scoredFrame(tiny, "vec_id",
      """{"knn": {"field": "v", "query_vector": [1.0, 0.0], "k": 2,
        |  "num_candidates": 99,
        |  "filter": {"term": {"tag": "a"}}}}""".stripMargin)
      .select("vec_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc 4 is the nearest neighbor but filtered out; 1 (cos 1) and
    // 3 (cos ~0.7071) survive, 2 (cos 0) misses the k=2 cut
    assert(rows.keySet == Set(1L, 3L))
    assert(rows(1L) == 1.0)
    assert(rows(3L) == BigDecimal((1.0 + 0.707107) / 2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val e = intercept[IllegalArgumentException](
      EsScoredQuery.scoredFrame(tiny, "vec_id",
        """{"bool": {"must": [{"knn": {"field": "v",
          |  "query_vector": [1.0, 0.0], "k": 2}}]}}""".stripMargin))
    assert(e.getMessage.contains("TOP-LEVEL"))
    // k = 0 must raise, not silently read as "no matches"
    val e2 = intercept[IllegalArgumentException](
      EsScoredQuery.scoredFrame(tiny, "vec_id",
        """{"knn": {"field": "v", "query_vector": [1.0, 0.0], "k": 0}}"""))
    assert(e2.getMessage.contains("k must be positive"))
    // the caller's text guard reaches the knn filter clause
    val e3 = intercept[IllegalArgumentException](
      EsScoredQuery.scoredFrame(tiny, "vec_id",
        """{"knn": {"field": "v", "query_vector": [1.0, 0.0], "k": 2,
          |  "filter": {"match": {"tag": "a"}}}}""".stripMargin,
        requireText = f => throw new IllegalArgumentException(
          s"non-text field $f")))
    assert(e3.getMessage.contains("non-text field tag"))
  }

  test("termIdf: term leaves earn boost × idf; terms/range stay constant") {
    val tiny = Seq(
      (1L, "en", 10L), (2L, "en", 20L), (3L, "en", 30L),
      (4L, "de", 40L), (5L, "fr", 50L)).toDF("doc_id", "lang", "n")
    def idf(df: Double, n: Double = 5.0): Double =
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    val rows = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"bool": {"should": [
        |  {"term": {"lang": {"value": "en", "boost": 2.0}}},
        |  {"term": {"lang": "de"}},
        |  {"terms": {"lang": ["fr", "de"]}},
        |  {"range": {"n": {"gte": 45}}}
        |]}}""".stripMargin, termIdf = true)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val r6 = (x: Double) => BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(rows(1L) == r6(2.0 * idf(3)))            // boosted en term
    assert(rows(4L) == r6(idf(1) + 1.0))            // de term idf + terms const
    assert(rows(5L) == r6(1.0 + 1.0))               // terms const + range const
    // without the flag the same query scores term leaves 1.0
    val const = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"term": {"lang": "en"}}""")
      .select("_score").head().getDouble(0)
    assert(const == 1.0)
    // and building the idf-scored frame is still fully lazy
    val pinned = docs
    pinned.schema
    val (_, jobs) = org.apache.spark.TestJobs.jobsDuring(spark)(
      EsScoredQuery.scoredFrame(pinned, "doc_id",
        """{"term": {"lang": "en"}}""", termIdf = true))
    assert(jobs == 0, s"building the idf-scored frame launched $jobs job(s)")
  }

  test("rescore: window cut, non-match arm, and every score mode agree " +
      "with the two legs composed by hand") {
    val baseJson = """{"match": {"text": "stream filter"}}"""
    val phraseJson = """{"match_phrase": {"text": "order fast"}}"""
    val w = 15
    val base = EsScoredQuery.scoredFrame(docs, "doc_id", baseJson)
      .select($"doc_id", $"_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the window is the global top-w by (rounded score, id)
    val winIds = base.toSeq.sortBy { case (id, s) => (-s, id) }
      .take(w).map(_._1).toSet
    val ph = EsScoredQuery.scoredFrame(docs, "doc_id", phraseJson)
      .select($"doc_id", $"_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def rhu6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    for (mode <- Seq("total", "multiply", "avg", "max", "min")) {
      val got = EsScoredQuery.rescoredFrame(docs, "doc_id", baseJson,
          phraseJson, w, queryWeight = 0.7, rescoreWeight = 2.0,
          scoreMode = mode)
        .select($"doc_id", $"_score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got.keySet == base.keySet, mode) // result set = base matches
      for ((id, b) <- base) {
        val expected =
          if (!winIds(id)) b
          else ph.get(id) match {
            case None => 0.7 * b
            case Some(s) =>
              val (p, r) = (0.7 * b, 2.0 * s)
              mode match {
                case "total"    => p + r
                case "multiply" => p * r
                case "avg"      => (p + r) / 2.0
                case "max"      => math.max(p, r)
                case "min"      => math.min(p, r)
              }
          }
        assert(math.abs(got(id) - rhu6(expected)) < 1e-9,
          s"mode=$mode id=$id got=${got(id)} expected=${rhu6(expected)}")
      }
    }
    // both arms exercised: some windowed docs match the phrase, some not
    assert(winIds.exists(ph.contains) && winIds.exists(!ph.contains(_)))
  }

  test("boosting demotes negative-matching docs by exactly negative_boost") {
    val tiny = Seq(
      (1L, "apple pie recipe"),
      (2L, "apple tree care"),
      (3L, "pear tart")).toDF("doc_id", "text")
    val base = scored(tiny, """{"match": {"text": "apple"}}""")
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val boosted = scored(tiny,
      """{"boosting": {
        |  "positive": {"match": {"text": "apple"}},
        |  "negative": {"match": {"text": "tree"}},
        |  "negative_boost": 0.25}}""".stripMargin)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // matching set = positive's; doc 3 never appears
    assert(boosted.keySet == Set(1L, 2L))
    assert(boosted(1L) == base(1L))
    // the demotion applies BEFORE the 6-dp final rounding
    assert(math.abs(boosted(2L) -
      math.floor(base(2L) / 0.000001 * 0.25 * 0.000001 * 1e6 + 0.5) / 1e6)
      < 1e-6 || boosted(2L) < base(2L))
    assert(boosted(2L) < base(2L) * 0.26 && boosted(2L) > 0)
    // terms_set rides the constant-score fallthrough in query context
    val ts = scored(tiny,
      """{"terms_set": {"text": {"terms": ["apple", "pie", "tart"],
        |"minimum_should_match": 2}}}""".stripMargin)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ts == Map(1L -> 1.0))
  }

  test("pinned ranks promoted ids first in given order, organic follow") {
    val tiny = Seq(
      (1L, "alpha beta"), (2L, "alpha"), (3L, "gamma"), (4L, "alpha"))
      .toDF("doc_id", "text")
    val out = EsScoredQuery.scoredFrame(tiny, "doc_id",
      """{"pinned": {"ids": [3, 4],
        |"organic": {"match": {"text": "alpha"}}}}""".stripMargin)
      .orderBy(col("_score").desc, col("doc_id"))
      .select("doc_id", "_score").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    // doc 3 (pinned first, organic MISS) then doc 4 (pinned, also
    // organic), then organic docs 1, 2 by score
    assert(out.map(_._1).take(2).toSeq == Seq(3L, 4L), out.toSeq)
    assert(out(0)._2 > out(1)._2 && out(1)._2 > 1e38)
    assert(out.map(_._1).drop(2).toSet == Set(1L, 2L))
    assert(out.drop(2).forall(_._2 < 100))
    intercept[IllegalArgumentException](
      EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"pinned": {"ids": [1, 1],
          |"organic": {"match_all": {}}}}""".stripMargin).collect())
    intercept[IllegalArgumentException](
      EsScoredQuery.scoredFrame(tiny, "doc_id",
        """{"pinned": {"ids": [1]}}""").collect())
  }

  test("rank_feature curves and distance_feature proximity boosts") {
    def rhu6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val df = Seq((1L, 8.0), (2L, 24.0), (3L, 0.0))
      .toDF("doc_id", "pagerank")
    def one(json: String) = EsScoredQuery.scoredFrame(df, "doc_id", json)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // saturation pivot 8: doc1 8/16 = .5, doc2 24/32 = .75; doc 3
    // (zero feature) does not match
    val sat = one("""{"rank_feature": {"field": "pagerank",
      |"saturation": {"pivot": 8}, "boost": 2.0}}""".stripMargin)
    assert(sat.keySet == Set(1L, 2L))
    assert(sat(1L) == 1.0 && sat(2L) == 1.5)
    // log scaling 1: ln(1+8)
    val lg = one("""{"rank_feature": {"field": "pagerank",
      |"log": {"scaling_factor": 1}}}""".stripMargin)
    assert(math.abs(lg(1L) - rhu6(math.log(9.0))) < 1e-9)
    // sigmoid pivot 8 exp 2: 64/(64+64) = .5
    val sg = one("""{"rank_feature": {"field": "pagerank",
      |"sigmoid": {"pivot": 8, "exponent": 2}}}""".stripMargin)
    assert(sg(1L) == 0.5)
    // refusals: no function, two functions
    intercept[IllegalArgumentException](one(
      """{"rank_feature": {"field": "pagerank"}}"""))
    intercept[IllegalArgumentException](one(
      """{"rank_feature": {"field": "pagerank",
        |"log": {"scaling_factor": 1},
        |"saturation": {"pivot": 2}}}""".stripMargin))
    // distance_feature, date flavor: pivot 1d, origin at doc1's ts
    val dd = Seq((1L, "2024-01-02 00:00:00"), (2L, "2024-01-03 00:00:00"))
      .toDF("doc_id", "ts")
      .withColumn("ts", to_timestamp(col("ts")))
    val dist = EsScoredQuery.scoredFrame(dd, "doc_id",
      """{"distance_feature": {"field": "ts",
        |"origin": "2024-01-02", "pivot": "1d", "boost": 4.0}}"""
        .stripMargin)
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(dist(1L) == 4.0)          // zero distance → full boost
    assert(dist(2L) == 2.0)          // one pivot away → half
    // geo flavor: struct field + distance pivot
    val gd = Seq((1L, 0.0, 0.0)).toDF("doc_id", "lat", "lon")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.struct(
          col("lat"), col("lon")).as("loc"))
    val g = EsScoredQuery.scoredFrame(gd, "doc_id",
      """{"distance_feature": {"field": "loc",
        |"origin": {"lat": 0, "lon": 0}, "pivot": "100km"}}"""
        .stripMargin).select("_score").head().getDouble(0)
    assert(g == 1.0) // at the origin
  }

  test("synonyms: rule parsing — equivalent sets, explicit mappings, " +
      "refusals") {
    val m = Synonyms.parse(Seq("quick, fast, rapid", "colour => color"))
    assert(m("quick") == Seq("fast", "quick", "rapid"))
    assert(m("fast") == Seq("fast", "quick", "rapid"))
    assert(m("colour") == Seq("color"))
    assert(!m.contains("color")) // explicit mapping is one-way
    // entries fold through the corpus analyzer (lowercase)
    assert(Synonyms.parse(Seq("Quick, FAST"))("quick") ==
      Seq("fast", "quick"))
    // multi-token entries refuse (positional graph expansion)
    val mt = intercept[IllegalArgumentException](
      Synonyms.parse(Seq("new york, nyc")))
    assert(mt.getMessage.contains("single-token"), mt.getMessage)
    // a token on the left of two rules refuses (ES's ambiguity rule)
    val dup = intercept[IllegalArgumentException](
      Synonyms.parse(Seq("quick, fast", "quick => rapid")))
    assert(dup.getMessage.contains("two synonym rules"), dup.getMessage)
    // more than one '=>' refuses; dangling '=>' refuses
    intercept[IllegalArgumentException](Synonyms.parse(Seq("a => b => c")))
    intercept[IllegalArgumentException](Synonyms.parse(Seq("a =>")))
  }

  test("synonyms: SynonymQuery blending — summed tf, max df, one " +
      "Okapi pass per query position") {
    val corpus = Seq(
      (1L, "quick fast"), (2L, "quick"), (3L, "slow day")
    ).toDF("doc_id", "text")
    def rows(json: String, rules: Seq[String]): Map[Long, Double] =
      EsScoredQuery.scoredFrame(corpus, "doc_id", json,
          synonyms = rules)
        .select("doc_id", "_score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val q = """{"match": {"text": "quick"}}"""
    val r = rows(q, Seq("quick, fast"))
    // N=3, avg_len = (2+1+2)/3; group {fast,quick}: df(quick)=2,
    // df(fast)=1 -> blended df = max = 2 (Lucene SynonymQuery.docFreq)
    val n = 3.0; val avg = 5.0 / 3
    val idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
    def okapi(tf: Double, len: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len / avg))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    // doc1 holds BOTH members: tf blends to 2 in ONE saturation pass
    assert(r(1L) == r6(okapi(2.0, 2.0)), r)
    assert(r(2L) == r6(okapi(1.0, 1.0)), r)
    assert(!r.contains(3L))
    // un-expanded: doc1 scores tf=1 with df(quick)=2 — DIFFERENT
    val plain = rows(q, Nil)
    assert(plain(1L) != r(1L))
    // expansion matches docs holding only a synonym member
    val only = Seq((1L, "fast car"), (2L, "slow day"))
      .toDF("doc_id", "text")
    val e = EsScoredQuery.scoredFrame(only, "doc_id", q,
      synonyms = Seq("quick, fast")).select("doc_id").collect()
    assert(e.map(_.getLong(0)).toSeq == Seq(1L))
    // explicit mapping drops the original term: query 'colour'
    // reaches only 'color' docs
    val cm = Seq((1L, "color wheel"), (2L, "colour wheel"))
      .toDF("doc_id", "text")
    val ex = EsScoredQuery.scoredFrame(cm, "doc_id",
      """{"match": {"text": "colour"}}""",
      synonyms = Seq("colour => color")).select("doc_id").collect()
    assert(ex.map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("synonyms: operator=and counts query POSITIONS (groups), and " +
      "two query tokens of one set score the group once") {
    val corpus = Seq(
      (1L, "fast car"), (2L, "quick boat"), (3L, "car")
    ).toDF("doc_id", "text")
    // 'quick car' AND: doc1 matches via the expansion, doc3 lacks
    // the quick-position, doc2 lacks car
    val ids = EsScoredQuery.scoredFrame(corpus, "doc_id",
      """{"match": {"text": {"query": "quick car",
        |"operator": "and"}}}""".stripMargin,
      synonyms = Seq("quick, fast")).select("doc_id").collect()
      .map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L))
    // 'quick fast' collapses to ONE group — scored once, identical
    // to the single-token query
    val a = EsScoredQuery.scoredFrame(corpus, "doc_id",
      """{"match": {"text": "quick fast"}}""",
      synonyms = Seq("quick, fast"))
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = EsScoredQuery.scoredFrame(corpus, "doc_id",
      """{"match": {"text": "quick"}}""",
      synonyms = Seq("quick, fast"))
      .select("doc_id", "_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b)
  }
  test("match minimum_should_match: ints, negatives, percentages, " +
      "above-total no-match, and-override") {
    val corpus = Seq(
      (1L, "a b c d"), (2L, "a b"), (3L, "a"), (4L, "x")
    ).toDF("doc_id", "text")
    def ids(body: String): Seq[Long] =
      EsScoredQuery.scoredFrame(corpus, "doc_id",
        s"""{"match": {"text": {"query": "a b c d", $body}}}""")
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids("\"minimum_should_match\": 2") == Seq(1L, 2L))
    // "50%" of 4 -> 2; "-1" -> total-1 = 3; "-50%" -> 4-2 = 2
    assert(ids("\"minimum_should_match\": \"50%\"") == Seq(1L, 2L))
    assert(ids("\"minimum_should_match\": -1") == Seq(1L))
    assert(ids("\"minimum_should_match\": \"-50%\"") == Seq(1L, 2L))
    // above total matches NOTHING (Lucene's rule)
    assert(ids("\"minimum_should_match\": 9") == Seq())
    // floors at 1: "10%" of 4 -> 0 -> 1 (pure-should still needs one)
    assert(ids("\"minimum_should_match\": \"10%\"") ==
      Seq(1L, 2L, 3L))
    // operator:and ignores msm (ES: every position already required)
    assert(ids("\"operator\": \"and\", \"minimum_should_match\": 1")
      == Seq(1L))
    // conditional ladders refuse
    val lad = intercept[IllegalArgumentException](
      ids("\"minimum_should_match\": \"3<90%\""))
    assert(lad.getMessage.contains("conditional"), lad.getMessage)
    // BOOL-level msm shares the resolver: "50%" of 4 shoulds -> 2;
    // explicit 0 keeps ES's no-minimum escape hatch
    def bids(msm: String): Seq[Long] =
      EsScoredQuery.scoredFrame(corpus, "doc_id",
        s"""{"bool": {"should": [{"match": {"text": "a"}},
           |{"match": {"text": "b"}}, {"match": {"text": "c"}},
           |{"match": {"text": "d"}}],
           |"minimum_should_match": $msm}}""".stripMargin)
        .select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(bids("\"50%\"") == Seq(1L, 2L))
    assert(bids("-3") == Seq(1L, 2L, 3L))
    assert(bids("0") == Seq(1L, 2L, 3L, 4L))
  }
  test("multi_match cross_fields: blended max-df, per-position best " +
      "field, operator/msm count positions, field boosts") {
    val corpus = Seq(
      (1L, "alpha beta", "gamma"),
      (2L, "alpha", "alpha alpha beta"),
      (3L, "zzz", "beta"),
      (4L, "qqq", "qqq")
    ).toDF("doc_id", "title", "body")
    def rows(body: String): Map[Long, Double] =
      EsScoredQuery.scoredFrame(corpus, "doc_id",
        s"""{"multi_match": {"query": "alpha beta",
           |"fields": ["title", "body"], "type": "cross_fields"
           |$body}}""".stripMargin)
        .select("doc_id", "_score").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=4; title avg 5/4, body avg 6/4; BLENDED dfs: alpha
    // max(df_t=2, df_b=1)=2, beta max(1,2)=2 -> idf = ln(2) for both
    val idf = math.log(2.0)
    def okapi(tf: Double, len: Double, avg: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len / avg))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    val avgT = 5.0 / 4; val avgB = 6.0 / 4
    val or = rows("")
    assert(or.keySet == Set(1L, 2L, 3L))
    // doc1: both positions best in title (len 2)
    assert(or(1L) == r6(2 * okapi(1, 2, avgT)))
    // doc2: alpha best of title(tf1,len1) vs body(tf2,len3);
    // beta only in body
    assert(or(2L) == r6(
      math.max(okapi(1, 1, avgT), okapi(2, 3, avgB)) +
        okapi(1, 3, avgB)))
    assert(or(3L) == r6(okapi(1, 1, avgB)))
    // operator and / msm 2: every position must land SOMEWHERE
    assert(rows(""", "operator": "and"""").keySet == Set(1L, 2L))
    assert(rows(""", "minimum_should_match": 2""").keySet ==
      Set(1L, 2L))
    // a field boost multiplies that field's arm BEFORE the max
    val boosted = rows("").map { case (k, _) =>
      k -> EsScoredQuery.scoredFrame(corpus, "doc_id",
        """{"multi_match": {"query": "alpha beta",
          |"fields": ["title^2", "body"],
          |"type": "cross_fields"}}""".stripMargin)
        .filter(col("doc_id") === k).select("_score")
        .collect().head.getDouble(0)
    }
    assert(boosted(1L) == r6(2 * 2 * okapi(1, 2, avgT)))
    // doc3 matches only via body: boost on title changes nothing
    assert(boosted(3L) == or(3L))
    // tie_breaker refuses on cross_fields (best_fields only)
    intercept[IllegalArgumentException](rows(""", "tie_breaker": 0.3"""))
  }

  test("native TokenPhraseFreq == the HOF adjacency count (the " +
      "pre-r18 spelling) on the corpus and adversarial token runs") {
    // the HOF reference the native expression replaced in the phrase
    // scoring path: count of 0-based window starts where the terms
    // occur contiguously in order, 0 for too-short docs (guarded by
    // hasAll exactly as the old code was)
    def hofPtf(tc: org.apache.spark.sql.Column, terms: Seq[String]) = {
      val nT = terms.length
      val hasAll = terms.distinct
        .map(t => array_contains(tc, t)).reduce(_ && _)
      when(hasAll && size(tc) >= nT,
        size(filter(sequence(lit(0), size(tc) - nT), p =>
          terms.zipWithIndex.map { case (t, j) =>
            element_at(tc, p + j + 1) === lit(t)
          }.reduce(_ && _)))).otherwise(lit(0))
    }
    val adversarial = Seq(
      (1L, "batch batch batch"),        // overlapping-run merge case
      (2L, "order fast order fast"),    // repeated bigram
      (3L, "order"),                    // shorter than the phrase
      (4L, ""),                         // zero tokens
      (5L, "fast order"),               // reversed — order matters
      (6L, null.asInstanceOf[String])   // null text
    ).toDF("doc_id", "text")
    for {
      df <- Seq(docs.select(col("doc_id"), col("text")), adversarial)
      terms <- Seq(Seq("order", "fast"), Seq("batch", "batch"),
        Seq("the"), Seq("stream", "filter", "join"))
    } {
      val tc = TextAnalysis.tokens(col("text"))
      val diff = df.select(
          coalesce(graft.plans.TokenPhraseFreq.of(tc, terms)
            .cast("int"), lit(0)).as("nat"),
          hofPtf(tc, terms).cast("int").as("ref"))
        .filter(col("nat") =!= col("ref"))
      assert(diff.count() == 0L,
        s"TokenPhraseFreq drifted from the HOF reference for $terms")
    }
  }
}


