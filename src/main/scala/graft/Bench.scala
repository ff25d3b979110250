package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Measurement discipline:
  *  - a warm-up pass first (tables touched, one real query) so JVM/JIT,
  *    codegen compilation and FS cache are not billed to the first query;
  *  - results are written to the `noop` datasource, not `.count()`ed —
  *    count() lets Catalyst prune away computed columns and would
  *    measure an emptier plan than the query declares;
  *  - the dataset cache is CLEARED between queries: the dedup queries
  *    persist identical signature sub-plans, and without isolation a
  *    later query (dd7) silently reuses an earlier query's (dd2) cache
  *    and under-reports its own cost.
  */
object Bench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession("graft-bench")

    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage

    // Load gate BEFORE any work of our own: the r11 record started at
    // system load 3.04 and its first gates landed up to 45x their
    // clean re-times (g11 38.8 s vs 0.87 s) — honest numbers, useless
    // record. If the machine is busy when the bench starts, wait (in
    // 15 s polls, capped at 5 min) for the 1-min load average to decay
    // below 2 rather than billing someone else's work to query #1. The
    // gate runs before the warmup so the measured baseline is the
    // ENVIRONMENT's load, not our own warmup threads; wait time and
    // the pre-gate load are carried in the record.
    val loadPregate = loadAvg
    val gateT0 = System.nanoTime()
    var loadStart = loadPregate
    while (loadStart > 2.0 && System.nanoTime() - gateT0 < 300L * 1000000000L) {
      Thread.sleep(15000)
      loadStart = loadAvg
    }
    val gateWaitSec = (System.nanoTime() - gateT0) / 1e9

    // warm-up: touch every table + one aggregation query end-to-end,
    // plus one SCORED-scan query and one highlight query — the
    // tokenize/BM25/HOF codegen family repeatedly paid its first-slot
    // JIT inside whichever gate ran it first (r15 f20 17.5 s → 1.1 s
    // retime; r16 hl1 17.8 s → 1.1 s): warm the family untimed so the
    // first timed gate of the family measures the plan, not the JIT
    Tables.all.foreach { n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }
    SparkEntry.queries.get("q1_pricing_summary").foreach(run("_warmup", _))
    SparkEntry.queries.get("f19_scored_query")
      .foreach(run("_warmup_scored", _))
    SparkEntry.queries.get("hl1_highlight")
      .foreach(run("_warmup_highlight", _))
    // SPARK_GRAFT_WARM=x,y runs the named gates UNTIMED first — the
    // same-family warmer for subset retimes (e.g. warm st1 before
    // timing the stream lifecycle family, whose first gate otherwise
    // pays the family's state-store + codegen JIT)
    sys.env.get("SPARK_GRAFT_WARM")
      .iterator.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      .foreach { n =>
        SparkEntry.queries.get(n).foreach(run(s"_warmup_$n", _))
        spark.sharedState.cacheManager.clearCache()
      }
    // SPARK_GRAFT_ONLY=a,b,c restricts the run to named gates — the
    // retime tool for adjudicating load-window spikes without paying
    // a full board pass (the r15 VERDICT retime asks)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries) { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"SPARK_GRAFT_ONLY unknown: $unknown")
      SparkEntry.queries.view.filterKeys(names).toMap
    }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      spark.sharedState.cacheManager.clearCache()
      name -> run(name, fn)
    }
    // Environment-noise self-documentation: the ≥10 s gates (the
    // stream lifecycles) have repeatedly landed 3× slower in the
    // driver's record than in a clean re-run (r6/r7 adjudications).
    // Re-time them once and carry BOTH numbers: `queries` stays the
    // first-run record; a first-run ≫ re-time gap in `retimes` (or a
    // high load average) marks the gap as machine noise without
    // needing an out-of-band re-run.
    val retimes = results.filter(_._2 >= 10.0).map { case (name, _) =>
      spark.sharedState.cacheManager.clearCache()
      name -> run(s"$name (retime)", SparkEntry.queries(name))
    }
    val loadEnd = loadAvg
    def fmt(v: Double): String =
      BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val rts = retimes.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val noise =
      s""""retimes":$rts,"load_avg_start":${fmt(loadStart)},""" +
        s""""load_avg_pregate":${fmt(loadPregate)},""" +
        s""""gate_wait_sec":${fmt(gateWaitSec)},""" +
        s""""load_avg_end":${fmt(loadEnd)}"""
    val total = results.map(_._2).filter(_ >= 0).sum
    val fullJson =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,$noise,"sf":"$sfDir"}"""
    // The single-line record exceeds the driver's output capture window
    // (BENCH_r04/r05 both landed with "parsed": null and only the tail
    // half of the per-query numbers). Three-channel output so the
    // scoring record survives truncation from either end:
    //  1. the complete JSON written to BENCH.local.json (read it whole);
    //  2. a short total-first headline line that parses on its own;
    //  3. per-query numbers re-emitted in ~30-entry chunk lines, each a
    //     self-contained JSON object tagged part i/n.
    // a subset retime run must not clobber the full-board record
    val outPath = java.nio.file.Paths.get(
      if (only.isDefined) "BENCH.subset.json" else "BENCH.local.json")
    java.nio.file.Files.write(outPath, (fullJson + "\n").getBytes("UTF-8"))
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","sf":"$sfDir","n_queries":${results.size},$noise,"full_json":"${outPath.toAbsolutePath}"}""")
    results.grouped(30).zipWithIndex.foreach { case (chunk, i) =>
      val body = chunk.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"queries_part","part":${i + 1},"of":${(results.size + 29) / 30},"queries":$body}""")
    }
    // The driver's capture keeps the TAIL of output, so the total-first
    // headline above falls off it once the chunk lines land (r6's
    // "parsed": null). The LAST line is the COMPLETE record — total +
    // every per-query second in one JSON line (the driver contract's
    // literal shape). With run/outputStrategy := StdoutOutput
    // (build.sbt, r18) the line lands unprefixed; the chunk lines above
    // and BENCH.local.json stay as fallbacks if a capture window
    // truncates this line from the left.
    println(fullJson)
    spark.stop()
  }
}
