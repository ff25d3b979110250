package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.io.File
import scala.collection.mutable

/** One benchmark run in one JVM: set the workload up, warm it up,
  * drive it as a closed loop with one client thread for the requested
  * seconds, and write the measurements plus everything the output check
  * needs to `<out>/result.json`. See perfbench/README.md.
  */
object Main {

  /** A workload as the loop drives it. `setup` runs in a fresh session
    * and work directory; ops are indexed from 0.
    */
  trait Workload {
    /** Setups per run; setup_s is their median. */
    def setupReps: Int
    def setup(spark: SparkSession, work: File, tr: Tracer): Unit
    /** Untimed, once, after the first setup: run each kind of op so
      * that class loading, JIT and code generation are done before
      * timing.
      */
    def warmup(): Unit
    def opCount: Int
    /** Ops per round: every kind once. */
    def roundSize: Int
    def kind(i: Int): String
    /** Run op `i` and keep whatever its output check needs. */
    def run(i: Int): Unit
    /** Untimed: the data for the output check. */
    def finish(): JValue
    /** Layer counters measured outside the spans, for the traced run. */
    def layerExtras(spans: Seq[Span]): Map[String, Double]
    /** Stop whatever the workload runs beside the session. */
    def close(): Unit = ()
  }

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, data: String, work: String,
                        out: String, traceFile: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k -> v }.toMap
    Args(m("--workload"), m("--seed").toLong, m("--seconds").toInt,
      m("--trace") == "1", m("--data"), m("--work"), m("--out"),
      m("--trace-file"))
  }

  def session(nproc: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir",
        new File(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---- small helpers -----------------------------------------------

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def jv(v: Any): JValue = v match {
    case null => JNull
    case b: Boolean => JBool(b)
    case i: Int => JLong(i.toLong)
    case l: Long => JLong(l)
    case d: Double => JDouble(d)
    case f: Float => JDouble(f.toDouble)
    case s: String => JString(s)
    case t: java.sql.Timestamp =>
      JString(t.toInstant.toString.replace("T", " ").stripSuffix("Z"))
    case t: java.time.LocalDateTime =>
      JString(t.toString.replace("T", " "))
    case r: Row => JArray(r.toSeq.map(jv).toList)
    case m: Map[_, _] =>
      JObject(m.toList.map { case (k, x) => k.toString -> jv(x) })
    case s: Iterable[_] => JArray(s.map(jv).toList)
    case other => JString(other.toString)
  }

  def rows(rs: Array[Row]): JValue = JArray(rs.map(jv).toList)

  /** This JVM's peak resident set (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  /** Heap in use after a full collection, MB: what the session and the
    * program still hold once the timed loop is over.
    */
  def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024)
  }

  def loadAvg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.split(" ")(0).toDouble finally src.close()
  }

  /** Files and bytes under `dir`. */
  def du(dir: File): (Long, Long) =
    if (!dir.exists) (0L, 0L)
    else if (dir.isFile) (1L, dir.length)
    else Option(dir.listFiles).toSeq.flatten.map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  // ---- the run -----------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val nproc = Runtime.getRuntime.availableProcessors
    val work = new File(a.work)
    val tr = new Tracer(a.trace)
    val wl: Workload = a.workload match {
      case "frame-analytics" => new FrameAnalytics(a.data, a.seed)
      case "index-search" => new IndexSearch(a.data, a.seed)
      case other => sys.error(s"unknown workload $other")
    }
    val loadStart = loadAvg()
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    // spans of the last setup, warm-up excluded: [lastSetupSpan, setupEnd)
    var lastSetupSpan = 0
    var setupEnd = 0
    var warmupS = 0.0
    for (r <- 0 until wl.setupReps) {
      if (spark != null) { wl.close(); tr.detach(); spark.stop() }
      lastSetupSpan = tr.spans.size
      val t0 = System.nanoTime()
      val rep = new File(work, s"setup-$r")
      spark = session(nproc, rep)
      tr.attach(spark)
      wl.setup(spark, rep, tr)
      setupS += (System.nanoTime() - t0) / 1e9
      setupEnd = tr.spans.size
      if (r == 0) {
        val w0 = System.nanoTime()
        wl.warmup()
        warmupS = (System.nanoTime() - w0) / 1e9
      }
    }

    val lat = mutable.ArrayBuffer.empty[Double]
    val cachedAfter = mutable.ArrayBuffer.empty[Double]
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    val errors = mutable.ArrayBuffer.empty[String]
    val start = System.nanoTime()
    val deadline = start + a.seconds * 1000000000L
    var end = start
    var i = 0
    // whole rounds until the seconds have passed, so that every run
    // measures the same mix of kinds however fast it goes
    while (i < wl.opCount && (end < deadline || i % wl.roundSize != 0)) {
      val t = System.nanoTime()
      // an op that throws counts as failed; the loop goes on
      try tr.op(i, wl.kind(i))(wl.run(i))
      catch { case e: Exception => errors += s"op $i (${wl.kind(i)}): $e" }
      end = System.nanoTime()
      lat += (end - t) / 1e6
      if (a.trace)
        cachedAfter += spark.sparkContext.getPersistentRDDs.size - cachedBefore
      i += 1
    }
    val wallS = (end - start) / 1e9
    val peak = peakRssMb()
    val live = liveHeapMb()
    val check = wl.finish()
    val loadEnd = loadAvg()

    val metrics: Map[String, (Double, String)] =
      if (!a.trace) Map(
        "setup_s" -> (median(setupS.toSeq), "s"),
        "op_p50_ms" -> (median(lat.toSeq), "ms"),
        "ops_per_s" -> (i / wallS, "ops/s"))
      else {
        val timed = tr.spans.filter(_.op >= 0).toSeq
        val setupSpans = tr.spans.slice(lastSetupSpan, setupEnd).toSeq
        val layers = Layers.of(timed, setupSpans, lat.toSeq,
          (0 until i).map(wl.kind), nproc, wl.layerExtras(timed))
        layers ++ Map(
          "session.cached_frames_after_op" ->
            (if (cachedAfter.isEmpty) 0.0 else cachedAfter.sum / cachedAfter.size,
              "count"),
          "trace.op_p50_ms" -> (median(lat.toSeq), "ms"),
          "session.peak_rss_mb" -> (peak, "MB"),
          "session.live_heap_mb" -> (live, "MB"))
      }

    val env = Map(
      "nproc" -> nproc,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "load_avg_start" -> loadStart,
      "load_avg_end" -> loadEnd,
      "setup_s_all" -> setupS.toSeq,
      "warmup_s" -> warmupS,
      "ops" -> i,
      "wall_s" -> wallS,
      "seed" -> a.seed,
      "workload" -> a.workload)

    val result = JObject(
      "metrics" -> JObject(metrics.toList.sortBy(_._1).map {
        case (k, (v, u)) => k -> JObject("value" -> JDouble(v),
          "unit" -> JString(u))
      }),
      "env" -> jv(env),
      "latencies_ms" -> jv(lat.toSeq),
      "errors" -> jv(errors.toSeq),
      "check" -> check)
    new File(a.out).mkdirs()
    java.nio.file.Files.write(new File(a.out, "result.json").toPath,
      JsonMethods.compact(JsonMethods.render(result)).getBytes("UTF-8"))
    if (a.trace) Layers.writeTrace(new File(a.traceFile), tr, env,
      tr.spans.slice(lastSetupSpan, setupEnd).toSeq)
    wl.close()
    tr.detach()
    spark.stop()
  }
}
