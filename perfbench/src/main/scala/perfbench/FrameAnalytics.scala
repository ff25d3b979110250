package perfbench

import graft.api.GraftFrame
import graft.functions.EsQueryDsl
import graft.operators.{EsAggs, IngestPipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._

import java.io.File
import scala.collection.mutable

/** `frame-analytics`: one eland-style call per op on lineitem, orders
  * or events, returning a small result to the caller. Fixed per-call
  * costs (facade construction, DSL compilation, planning, job launch)
  * are a large share of each op; the index stores do no work.
  */
final class FrameAnalytics(data: String, seed: Long) extends Main.Workload {
  private val ops = Gen.frameOps(seed, 400)
  private var tr: Tracer = _
  private var tables: Map[String, DataFrame] = Map.empty
  private val out = mutable.ArrayBuffer.empty[JValue]

  /** The first setup pays the JVM's cold start, the others restart the
    * session on a warm JVM; setup_s, their median, is a warm restart. A
    * warm restart takes about 0.2 s, so seven of them cost little and
    * keep one slow restart from moving the median.
    */
  val setupReps = 7
  def opCount: Int = ops.size
  def roundSize: Int = Gen.frameKinds.size
  def kind(i: Int): String = ops(i).kind

  def setup(s: SparkSession, work: File, t: Tracer): Unit = {
    tr = t
    tables = Seq("lineitem", "orders", "events")
      .map(n => n -> graft.Tables.load(s, data, n)).toMap
  }

  /** Every distinct op of the sequence once (each kind's parameter
    * sets, see [[Gen.FrameVariants]]), so that the timed loop finds all
    * generated code compiled. Their outputs are checked too.
    */
  def warmup(): Unit = ops.distinct.foreach(record)

  def run(i: Int): Unit = record(ops(i))

  private def record(op: Gen.Op): Unit = {
    val (cols, rs) = exec(op)
    out += JObject("kind" -> JString(op.kind), "params" -> Main.jv(op.params),
      "cols" -> Main.jv(cols), "rows" -> Main.rows(rs))
  }

  private def dsl(json: String): org.apache.spark.sql.Column =
    tr.span("functions")(EsQueryDsl.toColumn(json))

  private def collect(df: DataFrame): (Seq[String], Array[Row]) =
    (df.columns.toSeq, tr.span("action")(df.collect()))

  private def api(body: => DataFrame): DataFrame = tr.span("api")(body)
  private def aggs(body: => DataFrame): DataFrame = tr.span("aggs")(body)

  private val pipelineJson =
    """{"processors": [
      |  {"dissect": {"field": "o_orderpriority",
      |    "pattern": "%{prio_num}-%{prio_word}"}},
      |  {"convert": {"field": "prio_num", "type": "long"}},
      |  {"lowercase": {"field": "prio_word"}},
      |  {"set": {"field": "engine", "value": "graft"}},
      |  {"convert": {"field": "o_orderkey", "type": "string",
      |    "target_field": "o_key"}},
      |  {"gsub": {"field": "o_orderstatus", "pattern": "^O$",
      |    "replacement": "OPEN", "target_field": "status_x"}}
      |]}""".stripMargin

  private def pipeline(priority: String): DataFrame =
    IngestPipeline(pipelineJson)(
      tables("orders").filter(col("o_orderpriority") === priority))

  private def js(xs: Seq[String]) = xs.map(x => s""""$x"""").mkString("[", ",", "]")

  private def exec(op: Gen.Op): (Seq[String], Array[Row]) = {
    val p = op.params
    def d(k: String) = p(k).asInstanceOf[Double]
    def n(k: String) = p(k).asInstanceOf[Int]
    def s(k: String) = p(k).asInstanceOf[String]
    def ss(k: String) = p(k).asInstanceOf[Seq[String]]
    val li = tables("lineitem"); val or = tables("orders")
    val ev = tables("events")
    op.kind match {
      case "filter_head" => collect(api(
        GraftFrame(or.select("o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderpriority"), "o_orderkey")
          .where(col("o_totalprice") > d("min_price")).head(n("n")).df))
      case "describe" => collect(api {
        val from = java.time.LocalDate.parse(s("ship_from"))
        val to = from.plusDays(n("ship_days").toLong)
        GraftFrame(li.select("l_orderkey", "l_quantity", "l_discount",
            "l_tax", "l_shipdate"), "l_orderkey")
          .where(col("l_shipdate") >= lit(from.toString).cast("timestamp") &&
            col("l_shipdate") < lit(to.toString).cast("timestamp"))
          .select(Seq("l_quantity", "l_discount", "l_tax")).describe()
      })
      case "aggregate" => collect(api(
        GraftFrame(or, "o_orderkey")
          .where(col("o_orderstatus") === s("status"))
          .select(Seq("o_totalprice", "o_custkey"))
          .aggregate(Seq("min", "max", "mean", "sum", "std"))))
      case "groupby" => collect(api(
        GraftFrame(li.select("l_orderkey", "l_returnflag", "l_linestatus",
            "l_quantity", "l_extendedprice", "l_discount"), "l_orderkey")
          .where(col("l_quantity") <= n("max_qty"))
          .groupby(Seq("l_returnflag", "l_linestatus"))
          .agg(Seq("sum", "mean", "count"))))
      case "value_counts" => collect(api(
        GraftFrame(ev, "event_id").where(col("value") >= d("min_value"))
          .valueCounts(s("column"), n("n"))))
      case "hist" => collect(api(
        GraftFrame(li, "l_orderkey")
          .where(col("l_discount") <= d("max_discount"))
          .hist("l_extendedprice", n("bins"))))
      case "quantile" => collect(api(
        GraftFrame(li.select("l_orderkey", "l_quantity", "l_discount",
            "l_returnflag"), "l_orderkey")
          .where(col("l_returnflag") === s("flag"))
          .select(Seq("l_quantity", "l_discount"))
          .quantile(p("qs").asInstanceOf[Seq[Double]])))
      case "dsl_terms_agg" =>
        val c = dsl(s"""{"bool": {"filter": [
          |{"range": {"l_quantity": {"gte": ${n("qty_lo")}, "lte": ${n("qty_hi")}}}},
          |{"terms": {"l_returnflag": ${js(ss("flags"))}}}]}}""".stripMargin)
        collect(aggs(EsAggs.termsAgg(li.filter(c), "l_suppkey",
          size = Some(n("size")))))
      case "dsl_histogram" =>
        val c = dsl(s"""{"range": {"l_discount": {"lte": ${d("max_discount")}}}}""")
        collect(aggs(EsAggs.histogram(li.filter(c), "l_extendedprice",
          d("interval"))))
      case "dsl_auto_date_histogram" =>
        val c = dsl(s"""{"terms": {"event_type": ${js(ss("types"))}}}""")
        collect(aggs(EsAggs.autoDateHistogram(ev.filter(c), "ts",
            n("buckets"))
          .groupBy("bucket", "auto_interval")
          .agg(count(lit(1)).as("doc_count")).orderBy("bucket")))
      case "dsl_composite_page" =>
        val c = dsl(s"""{"range": {"o_totalprice": {"gte": ${d("min_price")}}}}""")
        val after = ss("after")
        collect(aggs(EsAggs.compositePage(or.filter(c),
          Seq("o_orderpriority", "o_orderstatus"), n("size"),
          if (after.isEmpty) None else Some(after))))
      case "dsl_matrix_stats" =>
        val c = dsl(s"""{"bool": {"filter": [{"term": {"l_linestatus": "${s("status")}"}}]}}""")
        collect(aggs(EsAggs.matrixStats(li.filter(c),
          Seq("l_quantity", "l_extendedprice", "l_discount"))))
      case "ingest_noop" =>
        tr.span("ingest")(pipeline(s("priority"))
          .write.format("noop").mode("overwrite").save())
        (Nil, Array.empty[Row])
    }
  }

  /** The noop sink keeps nothing, so the pipeline's output is sampled
    * here, untimed, for each priority the ops wrote.
    */
  def finish(): JValue = {
    val prios = ops.distinct.filter(_.kind == "ingest_noop")
      .map(_.params("priority").asInstanceOf[String]).distinct.sorted
    val cols = Seq("o_orderkey", "prio_num", "prio_word", "engine",
      "o_key", "status_x")
    JObject(
      "ops" -> JArray(out.toList),
      "ingest_samples" -> JObject(prios.toList.map { pr =>
        pr -> Main.rows(pipeline(pr).select(cols.map(col): _*)
          .orderBy("o_orderkey").limit(20).collect())
      }))
  }

  def layerExtras(spans: Seq[Span]): Map[String, Double] = Map.empty
}
