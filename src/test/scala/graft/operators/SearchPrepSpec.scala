package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.TestJobs.jobsDuring
import graft.{Tables, TestSpark}

/** Search preparation on live stores: a search call builds its frame
  * without running a Spark job (the batch and vector searches collect
  * their bounded query side once), leaves nothing persisted, and opens
  * every payload dir with the schema its commit doc records; a store
  * in an older layout, which records none, is refused. One fixture over the
  * sf0.001 documents and embeddings: each store holds two segments
  * (even ids built, odd ids appended) and one tombstone batch.
  */
class SearchPrepSpec extends AnyFunSuite {
  import SearchPrepSpec.Stores
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val f = java.nio.file.Files.createTempDirectory(name).toFile
    f.deleteOnExit(); f.toString
  }

  private def docs = Tables.load(spark, TestSpark.sfDir, "documents")
    .select(col("doc_id"), col("text"),
      concat_ws(" ", slice(graft.functions.TextAnalysis
        .tokens(col("text")), 1, 4)).as("title"))
  private def emb = Tables.load(spark, TestSpark.sfDir, "embeddings")
  private def even(df: DataFrame, id: String) = df.filter(col(id) % 2 === 0)
  private def odd(df: DataFrame, id: String) = df.filter(col(id) % 2 === 1)
  private def deleted = Seq(4L, 7L, 10L).toDF("id")

  private lazy val stores: Stores = {
    val inv = tmp("graft-prep-inv")
    InvertedIndex.build(even(docs, "doc_id"), "doc_id", "text", inv,
      positions = true)
    InvertedIndex.append(odd(docs, "doc_id"), "doc_id", "text", inv)
    InvertedIndex.deleteDocs(deleted, inv)
    InvertedIndex.buildVocabulary(spark, inv)
    val fld = tmp("graft-prep-fld")
    FieldedIndex.build(even(docs, "doc_id"), "doc_id", Seq("title", "text"),
      fld, positions = true)
    FieldedIndex.append(odd(docs, "doc_id"), "doc_id", fld)
    FieldedIndex.deleteDocs(deleted, fld)
    val vec = tmp("graft-prep-vec")
    VectorIndex.build(even(emb, "vec_id"), "vec_id", "embedding", vec,
      nlist = 4)
    VectorIndex.append(odd(emb, "vec_id"), "vec_id", "embedding", vec)
    VectorIndex.deleteDocs(deleted, vec)
    Stores(inv, fld, vec)
  }

  /** Two queries, ids outside the corpus id space, as read from
    * storage and (`queries`) as a frame built on the driver; resolved
    * once here so that reading the embeddings is not counted against
    * a search.
    */
  private lazy val storedQueries: DataFrame = {
    val q = emb.filter(col("vec_id") < 2).select(
      (col("vec_id") + 900000).as("q_id"),
      array(lit("stream"), lit("filter")).as("terms"),
      col("embedding").as("vec"))
    q.schema
    q
  }
  private lazy val queries: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(storedQueries.collect(): _*),
    storedQueries.schema)

  private val fields = Seq("title" -> 2.0, "text" -> 1.0)

  /** (kind, Spark jobs the call may run, the call). */
  private def searches(s: Stores): Seq[(String, Int, () => DataFrame)] = Seq(
    ("bm25", 0, () => InvertedIndex.searchTopK(spark, s.inv,
      Seq("stream", "filter"), 10)),
    ("bool", 0, () => InvertedIndex.booleanSearchTopK(spark, s.inv,
      Seq("stream"), Seq("filter"), Seq("join"), 10)),
    ("bool_prefix", 1, () => InvertedIndex.boolPrefixSearchTopK(spark,
      s.inv, "stream fil", 10)),
    ("fielded_best", 0, () => FieldedIndex.searchTopK(spark, s.fld,
      "stream filter join", fields, 10, "best_fields", 0.3)),
    ("fielded_most", 0, () => FieldedIndex.searchTopK(spark, s.fld,
      "stream filter join", fields, 10, "most_fields")),
    ("fielded_phrase", 0, () => FieldedIndex.searchTopK(spark, s.fld,
      "order fast", fields, 10, "phrase", 0.4)),
    ("knn", 0, () => VectorIndex.searchTopK(queries.select("q_id", "vec"),
      s.vec, 5, nprobe = 2)),
    ("batch", 0, () => InvertedIndex.searchTopKBatch(
      queries.select("q_id", "terms"), s.inv, 5)),
    ("hybrid", 0, () => Serving.searchHybrid(queries, s.inv, s.vec, 5,
      perLegK = 10)),
    // a query frame read from storage costs its one collect
    ("knn_stored", 1, () => VectorIndex.searchTopK(
      storedQueries.select("q_id", "vec"), s.vec, 5, nprobe = 2)),
    ("hybrid_stored", 2, () => Serving.searchHybrid(storedQueries, s.inv,
      s.vec, 5, perLegK = 10)))

  test("a search call runs no Spark job before the caller's action") {
    val s = stores
    queries // its jobs land outside the measured calls
    searches(s).foreach { case (kind, allowed, call) =>
      val (df, jobs) = jobsDuring(spark)(call())
      assert(jobs <= allowed,
        s"$kind ran $jobs job(s) inside the call (allowed: $allowed)")
      assert(df.collect().nonEmpty, s"$kind found nothing")
    }
  }

  test("no persisted state outlives a search, after the call or after " +
      "its action") {
    val s = stores
    val sc = spark.sparkContext
    searches(s).filter(c => Set("knn", "batch", "hybrid_stored")(c._1))
      .foreach { case (kind, _, call) =>
        val before = sc.getPersistentRDDs.keySet
        val df = call()
        assert(sc.getPersistentRDDs.keySet == before,
          s"$kind left persisted RDDs after the call")
        df.collect()
        assert(sc.getPersistentRDDs.keySet == before,
          s"$kind left persisted RDDs after its action")
      }
  }

  private def recorded(dir: String, doc: String, sub: String) =
    SegmentStore.recordedSchema(SegmentStore.readDocDir(
      SegmentStore.fsOf(spark, dir), s"$dir/$doc"), s"$dir/$doc", sub)

  private def assertExact(dir: String, subs: String*): Unit =
    subs.foreach { sub =>
      val inferred = spark.read.parquet(s"$dir/$sub").schema
      assert(recorded(dir, "stats", sub) == inferred,
        s"$dir/$sub: recorded ${recorded(dir, "stats", sub)}, " +
          s"inferred $inferred")
    }

  test("the commit doc records exactly the schema Spark infers for " +
      "each payload dir") {
    val s = stores
    // postings with positions, lens, tombstone ids
    SegmentStore.committedSegments(spark, s.inv)
      .foreach(assertExact(_, "postings", "lens"))
    SegmentStore.committedDeletes(spark, s.inv).foreach(assertExact(_, "ids"))
    assert(recorded(s.inv, "vocab_segments", "vocab") ==
      spark.read.parquet(s"${s.inv}/vocab").schema)
    // vectors and their ids ledger
    SegmentStore.committedSegments(spark, s.vec)
      .foreach(assertExact(_, "vectors", "ids"))
    // postings without positions, then the compacted segment (its
    // lens ledger is bucketed)
    val flat = tmp("graft-prep-flat")
    InvertedIndex.build(even(docs, "doc_id"), "doc_id", "text", flat)
    InvertedIndex.deleteDocs(even(deleted, "id"), flat)
    SegmentStore.committedSegments(spark, flat)
      .foreach(assertExact(_, "postings", "lens"))
    InvertedIndex.compact(spark, flat)
    SegmentStore.committedSegments(spark, flat)
      .foreach(assertExact(_, "postings", "lens"))
    // PQ codes, before and after compaction
    val pq = tmp("graft-prep-pq")
    VectorIndex.build(even(emb, "vec_id"), "vec_id", "embedding", pq,
      nlist = 4, pqM = 8)
    VectorIndex.deleteDocs(even(deleted, "id"), pq)
    SegmentStore.committedSegments(spark, pq)
      .foreach(assertExact(_, "vectors", "ids", "codes"))
    VectorIndex.compact(spark, pq)
    SegmentStore.committedSegments(spark, pq)
      .foreach(assertExact(_, "vectors", "ids", "codes"))
  }

  /** Rewrite every commit doc under `root` without its `schema`. */
  private def stripSchemas(root: String): Int = {
    val fs = SegmentStore.fsOf(spark, root)
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.filter(_.isDirectory)
        .flatMap(c => c +: walk(c))
    walk(new java.io.File(root))
      .filter(d => d.getName == "stats" &&
        new java.io.File(d, "doc.json").exists)
      .map { d =>
        val doc = SegmentStore.readDocDir(fs, d.toString)
          .asInstanceOf[org.json4s.JObject]
        SegmentStore.writeDocDir(fs, d.toString,
          org.json4s.JObject(doc.obj.filterNot(_._1 == "schema")))
      }.size
  }

  test("stores in an older layout (no recorded schemas, parquet " +
      "sidecars) are refused, naming the dir") {
    val s = stores
    val conf = spark.sparkContext.hadoopConfiguration
    def copyOf(root: String): String = {
      val to = tmp("graft-prep-old")
      val fs = SegmentStore.fsOf(spark, root)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(root),
        fs, new org.apache.hadoop.fs.Path(to, "store"), false, conf)
      s"$to/store"
    }
    val old = Stores(copyOf(s.inv), copyOf(s.fld), copyOf(s.vec))
    // 3 segment docs + 1 tombstone doc per single-field store
    assert(Seq(old.inv, old.fld, old.vec).map(stripSchemas) == Seq(3, 6, 3))
    // the sidecars as parquet tables, the way older builds wrote them
    spark.range(1).select(lit("title,text").as("fields"),
        lit("standard").as("analyzer"), lit(0).as("buckets"),
        lit(true).as("positions"))
      .coalesce(1).write.mode("overwrite").parquet(s"${old.fld}/_fields_meta")
    SegmentStore.committedSegments(spark, old.inv)
      .map(new org.apache.hadoop.fs.Path(_).getName).toDF("segment")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${old.inv}/vocab_segments")
    // (kind, the refused dir: a schema-less segment or tombstone doc,
    // or the parquet sidecar itself)
    def q(root: String) = java.util.regex.Pattern.quote(root)
    def docDir(root: String) = s"${q(root)}/(segments|deletes)/[^/ ]+/stats"
    val refusals = Seq("bm25" -> docDir(old.inv), "knn" -> docDir(old.vec),
        "bool_prefix" -> q(s"${old.inv}/vocab_segments")) ++
      Seq("fielded_best", "fielded_most", "fielded_phrase")
        .map(_ -> q(s"${old.fld}/_fields_meta"))
    val calls = searches(old).map(c => c._1 -> c._3).toMap
    refusals.foreach { case (kind, dir) =>
      val msg = intercept[IllegalStateException](calls(kind)().collect())
        .getMessage
      assert(dir.r.findFirstIn(msg).nonEmpty &&
        msg.contains("older graft layout"), s"$kind: $msg")
    }
  }
}

object SearchPrepSpec {
  /** Roots of the inverted, fielded and vector stores. */
  final case class Stores(inv: String, fld: String, vec: String)
}
