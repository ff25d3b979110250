package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.StructType
import graft.TestSpark

/** The edges of an index's live corpus on all three stores: an index
  * whose every document is tombstoned (n = 0) and a one-document index.
  * Every search returns a typed frame — the same schema on both — with
  * no rows on the first and one row on the second, and no NaN score;
  * `stats()` reports the empty corpus as zeros.
  */
class StoreEdgeSpec extends AnyFunSuite {
  import StoreEdgeSpec.Stores
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val f = java.nio.file.Files.createTempDirectory(name).toFile
    f.deleteOnExit(); f.toString
  }

  private def docs(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"stream filter order fast join x$i", s"stream title $i"))
      .toDF("doc_id", "text", "title")

  /** The three stores over `ids`, with every id of `dead` tombstoned. */
  private def build(ids: Seq[Long], dead: Seq[Long]): Stores = {
    val d = docs(ids)
    val inv = tmp("graft-edge-inv")
    InvertedIndex.build(d, "doc_id", "text", inv, positions = true)
    val fld = tmp("graft-edge-fld")
    FieldedIndex.build(d, "doc_id", Seq("title", "text"), fld,
      positions = true)
    val vec = tmp("graft-edge-vec")
    VectorIndex.build(ids.map(i => (i, Seq(1.0, i.toDouble, 0.5)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", vec, nlist = 1)
    if (dead.nonEmpty) {
      val ids = dead.toDF("id")
      InvertedIndex.deleteDocs(ids, inv)
      FieldedIndex.deleteDocs(ids, fld)
      VectorIndex.deleteDocs(ids, vec)
    }
    InvertedIndex.buildVocabulary(spark, inv)
    Stores(inv, fld, vec)
  }

  private lazy val tombstoned = build(Seq(1L, 2L, 3L), Seq(1L, 2L, 3L))
  private lazy val oneDoc = build(Seq(7L), Nil)

  private val fields = Seq("title" -> 2.0, "text" -> 1.0)
  private def queries = Seq((1L, Seq("stream", "filter"), Seq(1.0, 0.0, 0.5)))
    .toDF("q_id", "terms", "vec")

  private def searches(s: Stores): Seq[(String, () => DataFrame)] = Seq(
    "bm25" -> (() => InvertedIndex.searchTopK(spark, s.inv,
      Seq("stream", "filter"), 5)),
    "search_after" -> (() => InvertedIndex.searchAfter(spark, s.inv,
      Seq("stream", "filter"), 5, afterScore = 1.0e6, afterId = 0L)),
    "bool" -> (() => InvertedIndex.booleanSearchTopK(spark, s.inv,
      Seq("stream"), Seq("filter"), Seq("absent"), 5)),
    "bool_prefix" -> (() => InvertedIndex.boolPrefixSearchTopK(spark, s.inv,
      "stream fil", 5)),
    "phrase" -> (() => InvertedIndex.phraseSearchTopK(spark, s.inv,
      Seq("order", "fast"), 5)),
    "phrase_prefix" -> (() => InvertedIndex.phrasePrefixSearchTopK(spark,
      s.inv, "order fa", 5)),
    "batch" -> (() => InvertedIndex.searchTopKBatch(
      queries.select("q_id", "terms"), s.inv, 5)),
    "synonyms" -> (() => InvertedIndex.searchTopKSynonyms(spark, s.inv,
      Seq("stream"), Seq("stream, flow"), 5)),
    "more_like_this" -> (() => InvertedIndex.moreLikeThisTopK(spark, s.inv,
      "stream filter", 5, minTermFreq = 1, minDocFreq = 1)),
    "indices" -> (() => InvertedIndex.searchTopKIndices(spark, Seq(s.inv),
      Seq("stream"), 5)),
    "term_stats" -> (() => InvertedIndex.termStats(spark, s.inv,
      Seq("stream"))),
    "fielded_best" -> (() => FieldedIndex.searchTopK(spark, s.fld,
      "stream filter", fields, 5)),
    "fielded_most" -> (() => FieldedIndex.searchTopK(spark, s.fld,
      "stream filter", fields, 5, "most_fields")),
    "fielded_phrase" -> (() => FieldedIndex.searchTopK(spark, s.fld,
      "order fast", fields, 5, "phrase")),
    "fielded_query_string" -> (() => FieldedIndex.queryStringSearchTopK(
      spark, s.fld, "title:stream filter", fields, 5)),
    "knn" -> (() => VectorIndex.searchTopK(queries.select("q_id", "vec"),
      s.vec, 5)))

  private def doubles(r: Row): Seq[Double] =
    r.toSeq.collect { case d: Double => d }

  private def shape(t: StructType) = t.fields.map(f => (f.name, f.dataType))

  test("every search on an all-tombstoned index returns no rows, on a " +
      "one-doc index one row, typed alike and without NaN") {
    val dead = searches(tombstoned).toMap
    searches(oneDoc).foreach { case (kind, call) =>
      val one = call()
      val none = dead(kind)()
      assert(shape(none.schema) sameElements shape(one.schema),
        s"$kind: ${none.schema.simpleString} vs ${one.schema.simpleString}")
      assert(none.collect().isEmpty, s"$kind found rows on a dead index")
      val rows = one.collect()
      assert(rows.length == 1, s"$kind: ${rows.toSeq}")
      assert(!rows.flatMap(doubles).exists(_.isNaN), s"$kind: ${rows.toSeq}")
    }
  }

  test("stats() of an all-tombstoned index report an empty corpus") {
    val s = tombstoned
    val inv = InvertedIndex.stats(spark, s.inv).head()
    assert(inv.getAs[Long]("n_docs") == 0L)
    assert(inv.getAs[Double]("avg_len") == 0.0)
    val fld = FieldedIndex.stats(spark, s.fld).collect()
    assert(fld.length == 2)
    fld.foreach { r =>
      assert(r.getAs[Long]("n_docs") == 0L && r.getAs[Double]("avg_len") == 0.0)
    }
    val vec = VectorIndex.stats(spark, s.vec).head()
    assert(vec.getAs[Long]("n_docs") == 0L)
    assert(vec.getAs[Double]("cell_skew") == 0.0)
    // and the one-doc index counts its document
    assert(InvertedIndex.stats(spark, oneDoc.inv).head()
      .getAs[Long]("n_docs") == 1L)
    assert(VectorIndex.stats(spark, oneDoc.vec).head()
      .getAs[Long]("n_docs") == 1L)
  }
}

object StoreEdgeSpec {
  /** Roots of the inverted, fielded and vector stores. */
  final case class Stores(inv: String, fld: String, vec: String)
}
