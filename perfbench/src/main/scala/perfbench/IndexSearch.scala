package perfbench

import graft.operators.{Dedup, FieldedIndex, InvertedIndex, Serving, VectorIndex}
import graft.streaming.CorpusStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.json4s._

import java.io.File
import scala.collection.mutable

/** `index-search`: one top-k search per op against a live corpus.
  *
  * Setup ingests the corpus through graft's write path: the seeded
  * build goes into a positional (title, text) [[FieldedIndex]] and a
  * [[VectorIndex]], and registers in a near-dup registry; then one tail
  * batch of new docs, near-duplicates, updates and deletes passes the
  * [[Dedup]] screen and lands in both stores as append, upsert and
  * delete, never compacted, so readers see several segments and
  * tombstones. The same events reach an [[InvertedIndex]] through a
  * running [[CorpusStream.incrementalCdcIndex]] query (build as
  * micro-batch 0, tail as micro-batch 1). The timed ops only read:
  * segment listing, sidecar reads, bucket pruning and BM25 statistics.
  */
final class IndexSearch(data: String, seed: Long) extends Main.Workload {
  import IndexSearch._

  private var plan: Gen.SearchPlan = _
  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var work: File = _
  private var query: StreamingQuery = _
  private var dropped = Seq.empty[Long]
  private var writtenInput = 0L
  private val out = mutable.ArrayBuffer.empty[JValue]

  /** One (cold) setup: it ingests the whole corpus, and a second one
    * would cost more than the timed loop itself.
    */
  val setupReps = 1
  def roundSize: Int = Gen.searchKinds.size
  // the plan's first round is the warm-up's; the timed ops follow it
  def opCount: Int = plan.ops.size - roundSize
  def kind(i: Int): String = plan.ops(roundSize + i).kind

  private def cdc = s"$work/cdc-inverted"
  private def fld = s"$work/fielded"
  private def vec = s"$work/vector"
  private def reg = s"$work/dedup-registry"
  private def src = new File(work, "cdc-source")
  private def roots = Seq(cdc, fld, vec).map(new File(_))

  def setup(s: SparkSession, w: File, t: Tracer): Unit = {
    spark = s; tr = t; work = w
    if (plan == null) plan = Gen.searchPlan(seed, Source.documents(s, data),
      Source.embeddings(s, data), Rounds)
    val base = Source.frame(s, plan.base)
    tr.span("store.build") {
      FieldedIndex.build(base, "id", Seq("title", "text"), fld,
        positions = true)
      VectorIndex.build(base, "id", "vec", vec, nlist = NList)
    }
    tr.span("dedup")(Dedup.nearDupAgainstRegistry(base, "id", "text", reg)
      .collect())
    src.mkdirs()
    query = CorpusStream.incrementalCdcIndex(
      s.readStream.schema(eventSchema).json(src.toString),
      "id", "text", "op", cdc, s"$work/cdc-checkpoint")
    cdcBatch(0, plan.base, Nil)

    val tail = plan.tail
    dropped = tr.span("dedup") {
      Dedup.nearDupAgainstRegistry(Source.frame(s, tail.fresh), "id",
        "text", reg).select("id").collect().map(_.getLong(0)).toSeq.sorted
    }
    val fresh = tail.fresh.filterNot(d => dropped.contains(d.id))
    tr.span("store.append") {
      val df = Source.frame(s, fresh)
      FieldedIndex.append(df, "id", fld)
      VectorIndex.append(df, "id", "vec", vec)
    }
    tr.span("store.upsert") {
      val df = Source.frame(s, tail.updates)
      FieldedIndex.upsertDocs(df, "id", fld)
      VectorIndex.upsertDocs(df, "id", "vec", vec)
    }
    tr.span("store.delete") {
      val ids = s.createDataFrame(tail.deletes.map(Tuple1(_))).toDF("id")
      FieldedIndex.deleteDocs(ids, fld)
      VectorIndex.deleteDocs(ids, vec)
    }
    cdcBatch(1, fresh ++ tail.updates, tail.deletes)
    // bool_prefix resolves prefixes through the vocabulary sidecar
    tr.span("store.build")(InvertedIndex.buildVocabulary(s, cdc))
    writtenInput = (plan.base ++ fresh ++ tail.updates).map(Source.inputBytes).sum
  }

  /** One CDC micro-batch: the events land as one new file of the
    * stream's source directory, and the query drains it.
    */
  private def cdcBatch(no: Int, upserts: Seq[Gen.Doc], deletes: Seq[Long]): Unit = {
    val lines = upserts.map(d => JObject("id" -> JLong(d.id),
        "text" -> JString(d.text), "op" -> JString("upsert"))) ++
      deletes.map(id => JObject("id" -> JLong(id), "text" -> JString(""),
        "op" -> JString("delete")))
    val tmp = new File(work, s"cdc-$no.json.tmp")
    java.nio.file.Files.write(tmp.toPath, lines.map(l =>
      org.json4s.jackson.JsonMethods.compact(l)).mkString("\n")
      .getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, new File(src, s"batch-$no.json").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    tr.span("streaming")(query.processAllAvailable())
  }

  /** One round of other queries of every kind, so that every timed
    * round runs warm. Without it the first round ran about 15% slower
    * than the next, and runs that fit one or two rounds into their
    * seconds reported different medians. Their outputs are checked too.
    */
  def warmup(): Unit = plan.ops.take(roundSize).foreach(record)

  override def close(): Unit = if (query != null) { query.stop(); query = null }

  def run(i: Int): Unit = record(plan.ops(roundSize + i))

  private def record(op: Gen.Op): Unit = {
    val rs = exec(op)
    out += JObject("kind" -> JString(op.kind), "params" -> Main.jv(op.params),
      "rows" -> Main.rows(rs))
  }

  private def search(body: => DataFrame): Array[Row] = {
    val df = tr.span("store.search")(body)
    tr.span("action")(df.collect())
  }

  private def queryFrame(p: Map[String, Any]): DataFrame = {
    val v = p("vec").asInstanceOf[Seq[Float]]
    val terms = p.getOrElse("terms", Nil).asInstanceOf[Seq[String]]
    spark.createDataFrame(java.util.List.of(Row(0L, terms, v)),
      StructType(Seq(StructField("q_id", LongType),
        StructField("terms", ArrayType(StringType)),
        StructField("vec", ArrayType(FloatType)))))
  }

  private def exec(op: Gen.Op): Array[Row] = {
    val p = op.params
    def ss(k: String) = p(k).asInstanceOf[Seq[String]]
    def str(k: String) = p(k).asInstanceOf[String]
    val fields = Seq("title" -> 2.0, "text" -> 1.0)
    op.kind match {
      case "bm25" => search(InvertedIndex.searchTopK(spark, cdc, ss("terms"), K))
      case "bool" => search(InvertedIndex.booleanSearchTopK(spark, cdc,
        ss("must"), ss("should"), ss("must_not"), K))
      case "bool_prefix" => search(InvertedIndex.boolPrefixSearchTopK(
        spark, cdc, str("query"), K))
      case "fielded_best" => search(FieldedIndex.searchTopK(spark, fld,
        str("query"), fields, K, "best_fields", 0.3))
      case "fielded_most" => search(FieldedIndex.searchTopK(spark, fld,
        str("query"), fields, K, "most_fields"))
      case "fielded_phrase" => search(FieldedIndex.searchTopK(spark, fld,
        str("phrase"), fields, K, "phrase", 0.4))
      case "knn" => search(VectorIndex.searchTopK(queryFrame(p), vec, K,
          nprobe = NList).select("id", "cos"))
      case "hybrid" => tr.span("serving") {
        val df = Serving.searchHybrid(queryFrame(p), cdc, vec, K,
          perLegK = 30, nprobe = NList).select("id", "rrf_score")
        tr.span("action")(df.collect())
      }
    }
  }

  def finish(): JValue = JObject(
    "k" -> JLong(K),
    "base" -> Source.docsJson(plan.base),
    "fresh" -> Source.docsJson(plan.tail.fresh),
    "updates" -> Source.docsJson(plan.tail.updates),
    "deletes" -> Main.jv(plan.tail.deletes),
    "dropped" -> Main.jv(dropped),
    "ops" -> JArray(out.toList))

  /** Store shape after setup, bytes read per search, and the write
    * path's streaming progress (micro-batches 0 and 1 of setup).
    */
  def layerExtras(spans: Seq[Span]): Map[String, Double] = {
    val st = Source.storeShape(roots)
    val searchIn = spans.filter(_.parent < 0).map { r =>
      spans.filter(_.op == r.op).map(_.counts.inBytes).sum.toDouble }
    val live = (plan.base ++ plan.tail.fresh.filterNot(d => dropped.contains(d.id)) ++
      plan.tail.updates).groupBy(_.id).view.mapValues(_.last).toMap --
      plan.tail.deletes
    val progress = query.recentProgress.filter(_.numInputRows > 0)
    def dur(k: String) =
      if (progress.isEmpty) 0.0
      else progress.map(p => Option(p.durationMs.get(k)).fold(0.0)(_.toDouble))
        .sum / progress.size
    Map(
      "store.files_written" -> st.files.toDouble,
      "store.segments_live" -> st.segments.toDouble,
      "store.tombstone_dirs" -> st.tombstones.toDouble,
      "store.read_fraction" ->
        (if (searchIn.isEmpty || st.bytes == 0) 0.0
         else searchIn.sum / searchIn.size / st.bytes),
      "store.index_bytes_per_input_byte" ->
        st.bytes.toDouble / live.values.map(Source.inputBytes).sum,
      "store.write_input_bytes" -> writtenInput.toDouble,
      "dedup.survivor_ratio" -> (plan.tail.fresh.size - dropped.size).toDouble /
        plan.tail.fresh.size,
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.rows_per_batch" ->
        (if (progress.isEmpty) 0.0
         else progress.map(_.numInputRows).sum.toDouble / progress.size))
  }
}

object IndexSearch {
  val K = 10
  val NList = 8
  val Rounds = 200
  val eventSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType),
    StructField("op", StringType)))
}

/** Reading the source tables and shaping docs for the stores. */
object Source {
  def documents(s: SparkSession, data: String): IndexedSeq[(Long, String)] =
    s.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq

  def embeddings(s: SparkSession, data: String): IndexedSeq[Seq[Float]] =
    s.read.parquet(s"$data/embeddings.parquet").orderBy("vec_id")
      .select("embedding").collect()
      .map(_.getSeq[Float](0)).toIndexedSeq

  val docSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType), StructField("title", StringType),
    StructField("vec", ArrayType(FloatType))))

  def frame(s: SparkSession, docs: Seq[Gen.Doc]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(docs.map(d =>
      Row(d.id, d.text, d.title, d.vec)): _*), docSchema)

  def docsJson(docs: Seq[Gen.Doc]): JValue = JArray(docs.toList.map(d =>
    JArray(List(JLong(d.id), JString(d.text), JString(d.title),
      JArray(d.vec.toList.map(x => JDouble(x.toDouble)))))))

  /** Raw bytes a doc hands the stores: text, title, float32 vector. */
  def inputBytes(d: Gen.Doc): Long =
    d.text.getBytes("UTF-8").length + d.title.getBytes("UTF-8").length +
      4L * d.vec.size

  final case class Shape(segments: Long, tombstones: Long, files: Long,
                         bytes: Long)

  /** Committed segments, tombstone batches, files and bytes under the
    * given store roots (a segment or tombstone batch commits with its
    * `stats` entry).
    */
  def storeShape(roots: Seq[File]): Shape = {
    var segs, tombs = 0L
    def walk(d: File): Unit = Option(d.listFiles).toSeq.flatten.foreach { f =>
      if (f.isDirectory) {
        val committed = new File(f, "stats").exists
        if (f.getParentFile.getName == "segments" && committed) segs += 1
        if (f.getParentFile.getName == "deletes" && committed) tombs += 1
        walk(f)
      }
    }
    roots.foreach(walk)
    val (files, bytes) = roots.map(Main.du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d) }
    Shape(segs, tombs, files, bytes)
  }
}
