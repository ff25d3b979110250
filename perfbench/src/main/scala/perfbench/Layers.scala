package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods

import java.io.File

/** Per-layer metrics from the spans of a traced run.
  *
  * Span names: an op's root span carries the op kind; inside it the
  * workloads open `api`, `functions`, `aggs`, `ingest`, `serving`,
  * `store.search` (the search call up to the returned frame) and
  * `action` (the final collect or write). Setup opens the write-path
  * spans `store.<build|append|upsert|delete>`, `dedup` and `streaming`.
  * Read-path, `exec.*` and `catalyst.*` metrics come from the timed
  * ops, write-path ones from the last setup. `exec.*` and `catalyst.*`
  * are per op; a layer's `_ms` and `_jobs` are per call into it.
  */
object Layers {
  val writeKinds = Seq("build", "append", "upsert", "delete")

  /** Every per-layer metric name with its unit; the traced run prints
    * all of them, 0 where a workload never enters the layer.
    */
  val units: Seq[(String, String)] = Seq(
    "api.call_ms" -> "ms", "api.eager_jobs" -> "count",
    "functions.compile_ms" -> "ms",
    "aggs.call_ms" -> "ms", "aggs.eager_jobs" -> "count",
    "ingest.call_ms" -> "ms", "ingest.tasks" -> "count",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_ms" -> "ms",
    "exec.task_cpu_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.job_busy_ms" -> "ms", "exec.driver_gap_ms" -> "ms",
    "exec.core_util" -> "ratio", "exec.input_bytes" -> "bytes",
    "exec.input_rows" -> "count", "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.failed_tasks" -> "count") ++
    writeKinds.map(k => s"store.${k}_ms" -> "ms") ++ Seq(
    "store.jobs_per_write" -> "count", "store.files_written" -> "count",
    "store.bytes_written_per_input_byte" -> "ratio",
    "store.segments_live" -> "count", "store.tombstone_dirs" -> "count",
    "store.search_prep_ms" -> "ms", "store.search_jobs" -> "count",
    "store.read_fraction" -> "ratio",
    "store.index_bytes_per_input_byte" -> "ratio",
    "serving.hybrid_ms" -> "ms", "serving.hybrid_jobs" -> "count",
    "dedup.call_ms" -> "ms", "dedup.jobs" -> "count",
    "dedup.survivor_ratio" -> "ratio",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.rows_per_batch" -> "count",
    "session.latency_drift" -> "ratio",
    "setup.store_write_ms" -> "ms")

  /** Counts of `s` and everything under it. */
  def subtree(s: Span, children: Map[Int, Seq[Span]]): Counts = {
    val c = new Counts
    def go(x: Span): Unit = { c.add(x.counts); children.getOrElse(x.id, Nil).foreach(go) }
    go(s)
    c
  }

  /** Median over op kinds run at least twice of (last latency ÷ first
    * latency); 0 when no kind ran twice.
    */
  def drift(lat: Seq[Double], kinds: Seq[String]): Double = {
    val ratios = lat.zip(kinds).groupBy(_._2).values.collect {
      case xs if xs.size >= 2 => xs.last._1 / xs.head._1 }.toSeq
    if (ratios.isEmpty) 0.0 else Main.median(ratios)
  }

  def of(timed: Seq[Span], setupSpans: Seq[Span], lat: Seq[Double],
         kinds: Seq[String], nproc: Int, extras: Map[String, Double])
      : Map[String, (Double, String)] = {
    val children = (timed ++ setupSpans).filter(_.parent >= 0).groupBy(_.parent)
    val roots = timed.filter(_.parent < 0)
    val nOps = math.max(1, roots.size).toDouble
    val all = new Counts
    timed.foreach(s => all.add(s.counts))
    def perCall(n: String, f: Span => Double,
                in: Seq[Span] = timed): Double = {
      val xs = in.filter(_.name == n)
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    }
    def callMs(n: String, in: Seq[Span] = timed) = perCall(n, _.ms, in)
    def callJobs(n: String, in: Seq[Span] = timed) =
      perCall(n, s => subtree(s, children).jobs.toDouble, in)
    val busy = roots.map(r => subtree(r, children).jobBusyMs)
    val wallMs = roots.map(_.ms).sum
    val writes = setupSpans.filter(s => writeKinds.exists(k => s.name == s"store.$k"))
    val written = (writes ++ setupSpans.filter(_.name == "streaming"))
      .map(s => subtree(s, children).outBytes).sum
    val searchRoots = roots.filter(r =>
      timed.exists(s => s.op == r.op && s.name == "store.search"))
    val v: Map[String, Double] = Map(
      "api.call_ms" -> callMs("api"),
      "api.eager_jobs" -> callJobs("api"),
      "functions.compile_ms" -> callMs("functions"),
      "aggs.call_ms" -> callMs("aggs"),
      "aggs.eager_jobs" -> callJobs("aggs"),
      "ingest.call_ms" -> callMs("ingest"),
      "ingest.tasks" -> perCall("ingest", s => subtree(s, children).tasks.toDouble),
      "catalyst.analysis_ms" -> all.analysisMs / nOps,
      "catalyst.optimization_ms" -> all.optimizationMs / nOps,
      "catalyst.planning_ms" -> all.planningMs / nOps,
      "exec.jobs" -> all.jobs / nOps,
      "exec.stages" -> all.stages / nOps,
      "exec.tasks" -> all.tasks / nOps,
      "exec.task_ms" -> all.taskMs / nOps,
      "exec.task_cpu_ms" -> all.cpuMs / nOps,
      "exec.gc_ms" -> all.gcMs / nOps,
      "exec.job_busy_ms" -> busy.sum / nOps,
      "exec.driver_gap_ms" -> (wallMs - busy.sum) / nOps,
      "exec.core_util" -> (if (wallMs > 0) all.taskMs / (wallMs * nproc) else 0.0),
      "exec.input_bytes" -> all.inBytes / nOps,
      "exec.input_rows" -> all.inRows / nOps,
      "exec.shuffle_read_bytes" -> all.shReadBytes / nOps,
      "exec.shuffle_write_bytes" -> all.shWriteBytes / nOps,
      "exec.spill_bytes" -> all.spillBytes / nOps,
      "exec.failed_tasks" -> all.failedTasks / nOps,
      "store.jobs_per_write" ->
        (if (writes.isEmpty) 0.0
         else writes.map(s => subtree(s, children).jobs).sum.toDouble / writes.size),
      "store.search_prep_ms" -> callMs("store.search"),
      "store.search_jobs" ->
        (if (searchRoots.isEmpty) 0.0
         else searchRoots.map(r => subtree(r, children).jobs).sum.toDouble /
           searchRoots.size),
      "serving.hybrid_ms" -> callMs("serving"),
      "serving.hybrid_jobs" -> callJobs("serving"),
      "store.bytes_written_per_input_byte" ->
        extras.get("store.write_input_bytes").fold(0.0)(written / _),
      "dedup.call_ms" -> callMs("dedup", setupSpans),
      "dedup.jobs" -> callJobs("dedup", setupSpans),
      "session.latency_drift" -> drift(lat, kinds),
      "setup.store_write_ms" -> writes.map(_.ms).sum
    ) ++ writeKinds.map(k => s"store.${k}_ms" -> callMs(s"store.$k", setupSpans))
    units.map { case (n, u) =>
      n -> (extras.getOrElse(n, v.getOrElse(n, 0.0)), u)
    }.toMap
  }

  /** The per-op-kind split and the raw spans, written when the run
    * ends (spans are kept in memory until then).
    */
  def writeTrace(f: File, tr: Tracer, env: Map[String, Any],
                 setupSpans: Seq[Span]): Unit = {
    val spans = tr.spans.toSeq
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    val timedRoots = spans.filter(s => s.parent < 0 && s.op >= 0)
    val byKind = timedRoots.groupBy(_.name).toSeq.sortBy(_._1).map {
      case (kind, rs) =>
        val n = rs.size.toDouble
        val inner = rs.flatMap(r => spans.filter(s => s.op == r.op && s.parent >= 0))
        val tot = new Counts
        rs.foreach(r => tot.add(subtree(r, children)))
        kind -> Main.jv(Map(
          "ops" -> rs.size,
          "wall_ms" -> rs.map(_.ms).sum / n,
          "client_self_ms" -> rs.map(_.selfMs).sum / n,
          "self_ms" -> inner.groupBy(_.name).map { case (nm, ss) =>
            nm -> ss.map(_.selfMs).sum / n },
          "jobs" -> tot.jobs / n, "stages" -> tot.stages / n,
          "tasks" -> tot.tasks / n, "task_ms" -> tot.taskMs / n,
          "job_busy_ms" -> rs.map(r => subtree(r, children).jobBusyMs).sum / n,
          "catalyst_ms" ->
            (tot.analysisMs + tot.optimizationMs + tot.planningMs) / n,
          "input_bytes" -> tot.inBytes / n))
    }
    val setup = setupSpans.groupBy(_.name).map { case (nm, ss) =>
        nm -> Main.jv(Map("calls" -> ss.size, "ms" -> ss.map(_.ms).sum,
          "jobs" -> ss.map(_.counts.jobs).sum)) }
    val raw = spans.map(s => Main.jv(Seq(s.id, s.parent, s.op, s.name,
      s.start / 1e6, s.end / 1e6, s.counts.jobs, s.counts.tasks)))
    val doc = JObject(
      "env" -> Main.jv(env),
      "foreign_jobs" -> JLong(tr.foreignJobs),
      "by_kind" -> JObject(byKind.toList),
      "last_setup" -> JObject(setup.toList),
      "span_columns" -> Main.jv(Seq("id", "parent", "op", "name",
        "start_ms", "end_ms", "jobs", "tasks")),
      "spans" -> JArray(raw.toList))
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath,
      JsonMethods.compact(JsonMethods.render(doc)).getBytes("UTF-8"))
  }
}
