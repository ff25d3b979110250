package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}

class FieldedIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tmp(name: String): String = {
    val f = java.nio.file.Files.createTempDirectory(name).toFile
    f.deleteOnExit(); f.toString
  }

  /** documents with a derived short `title` field (first 4 tokens) —
    * different per-field df/avg-len so a stats-blend bug cannot hide.
    */
  private def corpus(): org.apache.spark.sql.DataFrame =
    Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), col("text"),
        concat_ws(" ", slice(graft.functions.TextAnalysis
          .tokens(col("text")), 1, 4)).as("title"))

  private def mmJson(mode: String, operator: String,
                     tie: Option[Double]): String = {
    val tieS = tie.map(t => s""", "tie_breaker": $t""").getOrElse("")
    s"""{"multi_match": {"query": "stream filter join",
       |  "fields": ["title^2", "text"],
       |  "type": "$mode", "operator": "$operator"$tieS}}""".stripMargin
  }

  private def viaScan(docs: org.apache.spark.sql.DataFrame, json: String,
                      k: Int): Seq[(Long, Double)] =
    graft.functions.EsScoredQuery.scoredFrame(docs, "doc_id", json)
      .select(col("doc_id"), col("_score"))
      .orderBy(col("_score").desc, col("doc_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def viaIndex(root: String, mode: String, operator: String,
                       tie: Double, k: Int): Seq[(Long, Double)] =
    FieldedIndex.searchTopK(spark, root, "stream filter join",
        Seq("title" -> 2.0, "text" -> 1.0), k, mode = mode,
        tieBreaker = tie, operator = operator, idColName = "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("index-served multi_match is row-identical to the scan-side " +
      "scored query, both modes, both operators") {
    val docs = corpus()
    val root = tmp("graft-fidx-diff")
    FieldedIndex.build(docs, "doc_id", Seq("title", "text"), root)
    assert(FieldedIndex.fields(spark, root) == Seq("title", "text"))
    val cases = Seq(
      ("best_fields", "or", 0.3),
      ("best_fields", "and", 0.0),
      ("most_fields", "or", 0.0))
    for ((mode, op, tie) <- cases) {
      val idx = viaIndex(root, mode, op, tie, k = 12)
      val scan = viaScan(docs, mmJson(mode, op,
        if (tie > 0) Some(tie) else None), k = 12)
      assert(idx == scan, s"mode=$mode op=$op tie=$tie")
      assert(idx.nonEmpty, s"mode=$mode op=$op matched nothing")
    }
    // best_fields ranks differently from most_fields on this corpus
    // (title matches dominate under dis_max) — the modes are not
    // accidentally the same code path
    assert(viaIndex(root, "best_fields", "or", 0.0, 12) !=
      viaIndex(root, "most_fields", "or", 0.0, 12))
  }

  test("searchAfterTopK tiles exactly: page1 ++ page2 == the top-14 " +
      "of one big page, no overlap, no gap") {
    val docs = corpus()
    val root = tmp("graft-fidx-after")
    FieldedIndex.build(docs, "doc_id", Seq("title", "text"), root,
      buckets = 8)
    val fb = Seq("title" -> 2.0, "text" -> 1.0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = rows(FieldedIndex.searchTopK(spark, root,
      "stream filter join", fb, k = 14, tieBreaker = 0.3,
      idColName = "doc_id"))
    val p1 = rows(FieldedIndex.searchTopK(spark, root,
      "stream filter join", fb, k = 7, tieBreaker = 0.3,
      idColName = "doc_id"))
    val (lastId, lastScore) = p1.last
    val p2 = rows(FieldedIndex.searchAfterTopK(spark, root,
      "stream filter join", fb, k = 7, afterScore = lastScore,
      afterId = lastId, tieBreaker = 0.3, idColName = "doc_id"))
    assert(p1 ++ p2 == full, s"p1=$p1 p2=$p2 full=$full")
    intercept[IllegalArgumentException](FieldedIndex.searchAfterTopK(
      spark, root, "stream", fb, k = 0, afterScore = 1.0, afterId = 0L))
  }

  test("fielded query_string is row-identical to the scored scan " +
      "face at unit boosts; bounds and refusals hold") {
    val docs = corpus().filter(col("doc_id") < 300)
    val root = tmp("graft-fidx-qs")
    FieldedIndex.build(docs, "doc_id", Seq("title", "text"), root,
      buckets = 8)
    val q = "title:stream filter -join"
    val viaIndex = FieldedIndex.queryStringSearchTopK(spark, root, q,
      Seq("title" -> 1.0, "text" -> 1.0), k = 15, idColName = "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaScanFace = graft.functions.EsScoredQuery.scoredFrame(docs,
      "doc_id",
      """{"query_string": {"query": "title:stream filter -join",
        |"fields": ["title", "text"]}}""".stripMargin)
      .select(col("doc_id"), col("_score"))
      .orderBy(col("_score").desc, col("doc_id")).limit(15)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaIndex == viaScanFace)
    assert(viaIndex.nonEmpty)
    // refusals: pure negative, unknown scoped field, dead negation
    intercept[IllegalArgumentException](
      FieldedIndex.queryStringSearchTopK(spark, root, "-join",
        Seq("text" -> 1.0), k = 5))
    intercept[IllegalArgumentException](
      FieldedIndex.queryStringSearchTopK(spark, root, "nope:alpha",
        Seq("text" -> 1.0), k = 5))
    intercept[IllegalArgumentException](
      FieldedIndex.queryStringSearchTopK(spark, root,
        "stream -text:stream", Seq("text" -> 1.0), k = 5))
    // unscoped clauses without default fields refuse
    intercept[IllegalArgumentException](
      FieldedIndex.queryStringSearchTopK(spark, root, "stream", Nil,
        k = 5))
    // fully-scoped queries need no defaults
    assert(FieldedIndex.queryStringSearchTopK(spark, root,
      "title:stream", Nil, k = 5, idColName = "doc_id").count() > 0)
  }

  test("lifecycle: append + delete + upsert + compact keep scan parity") {
    val docs = corpus().filter(col("doc_id") < 120)
    val root = tmp("graft-fidx-life")
    FieldedIndex.build(docs.filter(col("doc_id") < 60),
      "doc_id", Seq("title", "text"), root)
    FieldedIndex.append(docs.filter(col("doc_id") >= 60), "doc_id", root)
    val delIds = docs.filter(col("doc_id") % 11 === 0).select("doc_id")
    FieldedIndex.deleteDocs(delIds, root)
    // re-upsert one deleted doc with changed text: it must resurface
    // in BOTH fields with the new tokens
    val re = docs.filter(col("doc_id") === 22)
      .withColumn("text", concat(col("text"), lit(" stream stream")))
      .withColumn("title", concat_ws(" ",
        slice(graft.functions.TextAnalysis.tokens(col("text")), 1, 4)))
    FieldedIndex.upsertDocs(re, "doc_id", root)
    val live = docs.filter(col("doc_id") % 11 =!= 0).unionByName(re)
    val json = mmJson("best_fields", "or", Some(0.3))
    val before = viaIndex(root, "best_fields", "or", 0.3, 15)
    assert(before == viaScan(live, json, 15))
    FieldedIndex.compact(spark, root)
    assert(viaIndex(root, "best_fields", "or", 0.3, 15) == before)
    // per-field stats stay per-field: title's avg_len is the short one
    val st = FieldedIndex.stats(spark, root)
      .select("field", "avg_len").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(st("title") < st("text"))
  }

  test("contracts: unknown field, tie_breaker under most_fields, " +
      "path-unsafe names, unbuilt root all refuse loudly") {
    val docs = corpus()
    val root = tmp("graft-fidx-contract")
    FieldedIndex.build(docs, "doc_id", Seq("title", "text"), root)
    val e1 = intercept[IllegalArgumentException] {
      FieldedIndex.searchTopK(spark, root, "stream",
        Seq("nope" -> 1.0), 5)
    }
    assert(e1.getMessage.contains("not indexed"))
    val e2 = intercept[IllegalArgumentException] {
      FieldedIndex.searchTopK(spark, root, "stream",
        Seq("text" -> 1.0), 5, mode = "most_fields", tieBreaker = 0.3)
    }
    assert(e2.getMessage.contains("tie_breaker"))
    val e3 = intercept[IllegalArgumentException] {
      FieldedIndex.build(docs.withColumnRenamed("title", "ti tle"),
        "doc_id", Seq("ti tle"), tmp("graft-fidx-bad"))
    }
    assert(e3.getMessage.contains("path-safe"))
    val e4 = intercept[IllegalArgumentException] {
      FieldedIndex.searchTopK(spark, tmp("graft-fidx-none"), "stream",
        Seq("text" -> 1.0), 5)
    }
    assert(e4.getMessage.contains("_fields_meta"))
    // empty-analysis query: ES's empty hits, not an error
    assert(FieldedIndex.searchTopK(spark, root, "   ",
      Seq("text" -> 1.0), 5).count() == 0)
  }

  test("phrase mode: index-served multi_match type phrase is " +
      "row-identical to the scan-side scored query") {
    val docs = corpus()
    val root = tmp("graft-fidx-phrase")
    FieldedIndex.build(docs, "doc_id", Seq("title", "text"), root,
      positions = true)
    val idx = FieldedIndex.searchTopK(spark, root, "order fast",
        Seq("title" -> 2.0, "text" -> 1.0), 12, mode = "phrase",
        tieBreaker = 0.4, idColName = "doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scan = viaScan(docs,
      """{"multi_match": {"query": "order fast",
        |  "fields": ["title^2", "text"],
        |  "type": "phrase", "tie_breaker": 0.4}}""".stripMargin, 12)
    assert(idx == scan && idx.nonEmpty, idx)
    // a positions-less index refuses phrase mode loudly
    val flat = tmp("graft-fidx-nopos")
    FieldedIndex.build(docs, "doc_id", Seq("title", "text"), flat)
    val e = intercept[IllegalArgumentException] {
      FieldedIndex.searchTopK(spark, flat, "order fast",
        Seq("text" -> 1.0), 5, mode = "phrase").collect()
    }
    assert(e.getMessage.contains("positions"), e.getMessage)
  }

  test("plan: every per-field postings scan keeps bucket " +
      "PartitionFilters and the term pushdown") {
    val root = tmp("graft-fidx-plan")
    FieldedIndex.build(corpus(), "doc_id", Seq("title", "text"), root)
    val df = FieldedIndex.searchTopK(spark, root, "stream filter",
      Seq("title" -> 2.0, "text" -> 1.0), 5)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.filter(_.relation.location.rootPaths
      .exists(_.toString.contains("postings")))
    // both fields' subtrees are read (df + score per field)
    assert(scans.exists(_.relation.location.rootPaths
      .exists(_.toString.contains("fields/title"))))
    assert(scans.exists(_.relation.location.rootPaths
      .exists(_.toString.contains("fields/text"))))
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"no bucket PartitionFilters on ${s.relation.location.rootPaths}")
      assert(s.dataFilters.nonEmpty,
        s"term filter not pushed on ${s.relation.location.rootPaths}")
    }
  }

  test("one field's failed write leaves its sibling settled before " +
      "the call returns") {
    val root = tmp("graft-fidx-sibling")
    // `bad` is a struct: its field build fails at once on analysis,
    // while the text field's build still has its jobs to run
    val docs = corpus().withColumn("bad", struct(col("doc_id")))
    intercept[org.apache.spark.sql.AnalysisException] {
      FieldedIndex.build(docs, "doc_id", Seq("text", "bad"), root)
    }
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "a sibling field was still writing when build() returned")
    assert(InvertedIndex.committedSegments(spark, s"$root/fields/text")
      .size == 1)
  }
}
