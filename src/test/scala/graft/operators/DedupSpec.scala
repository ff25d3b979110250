package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private def corpus = Seq(
    (0L, base),
    (1L, base),                                   // exact dup of 0
    (2L, base.replace("today", "tomorrow")),      // near dup of 0
    (3L, "completely different content about spark catalyst optimizer rules and shuffles"),
    (4L, "")                                      // empty doc
  ).toDF("id", "text")

  test("exactStats and keep-first dedup") {
    val stats = Dedup.exactStats(corpus, "text").head()
    assert(stats.getLong(0) == 5 && stats.getLong(1) == 4)
    val kept = Dedup.exactKeepFirst(corpus, "id", "text")
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(0L, 2L, 3L, 4L)) // id 1 deduped against id 0
  }

  test("keepBestByKey: max score wins, ties to smallest id, null keys all kept") {
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "k1", 5L), (2L, "k1", 9L),   // 2 wins on score
      (3L, "k2", 4L), (4L, "k2", 4L),   // tie -> 3 wins on id
      (5L, null.asInstanceOf[String], 0L),
      (6L, null.asInstanceOf[String], 0L) // null keys: both kept
    ).toDF("id", "k", "sc")
    val kept = Dedup.keepBestByKey(docs, "id", col("k"), col("sc"))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 5L, 6L))
    // string ids work (ExtremumBy ties break on the id's own order),
    // and a NaN score never wins its group
    val sdocs = Seq(
      ("a", "k1", 1.0), ("b", "k1", Double.NaN), ("c", "k1", 2.0)
    ).toDF("id", "k", "sc")
    val skept = Dedup.keepBestByKey(sdocs, "id", col("k"), col("sc"))
      .select("id").collect().map(_.getString(0)).toSet
    assert(skept === Set("c"))
    // a group with NO orderable score (all NaN) still keeps ONE row —
    // its smallest id — never zero (a dedup must not delete all copies)
    val allNaN = Seq(
      ("x", "k1", Double.NaN), ("w", "k1", Double.NaN), ("z", "k2", 1.0)
    ).toDF("id", "k", "sc")
    val nkept = Dedup.keepBestByKey(allNaN, "id", col("k"), col("sc"))
      .select("id").collect().map(_.getString(0)).toSet
    assert(nkept === Set("w", "z"))
  }

  test("incremental dedup drops cross-batch and in-batch dups, registry persists") {
    val reg = java.nio.file.Files.createTempDirectory("graft-dd-reg")
      .toString + "/registry"
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().sorted.toSeq

    val b1 = Seq((0L, "aaa"), (1L, "bbb"), (2L, "aaa")).toDF("id", "text")
    // in-batch dup (id 2) dropped, 0 and 1 survive and register
    assert(ids(Dedup.incrementalExactDedup(b1, "id", "text", reg))
      == Seq(0L, 1L))
    // batch 2: "aaa"/"bbb" already registered; "ccc" new (first of two)
    val b2 = Seq((10L, "aaa"), (11L, "ccc"), (12L, "ccc"), (13L, "bbb"))
      .toDF("id", "text")
    assert(ids(Dedup.incrementalExactDedup(b2, "id", "text", reg))
      == Seq(11L))
    // batch 3: "ccc" now registered by batch 2
    val b3 = Seq((20L, "ccc"), (21L, "ddd")).toDF("id", "text")
    assert(ids(Dedup.incrementalExactDedup(b3, "id", "text", reg))
      == Seq(21L))
    // the returned frame stays stable on re-execution (materialized
    // before its own digests were appended)
    val out = Dedup.incrementalExactDedup(
      Seq((30L, "eee")).toDF("id", "text"), "id", "text", reg)
    assert(ids(out) == Seq(30L) && ids(out) == Seq(30L))
  }

  test("near-dup registry catches cross-batch near-dups, registers clean rows") {
    val reg = java.nio.file.Files.createTempDirectory("graft-nd-reg")
      .toString + "/registry"
    val b1 = Seq((0L, base),
      (1L, "completely different content about spark catalyst rules"))
      .toDF("id", "text")
    // first batch: registry empty, no matches, everything registers
    assert(Dedup.nearDupAgainstRegistry(b1, "id", "text", reg).count() == 0)
    // second batch: an exact copy of doc 0, a near copy, one new doc
    val b2 = Seq((10L, base),
      (11L, base.replace("today", "tomorrow")),
      (12L, "entirely novel text with no overlap whatsoever here"))
      .toDF("id", "text")
    val m = Dedup.nearDupAgainstRegistry(b2, "id", "text", reg,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m.contains((10L, 0L)) && m.contains((11L, 0L)))
    assert(!m.exists(_._1 == 12L))
    // third batch: doc 12 was registered by batch 2; its copy now matches
    val b3 = Seq((20L, "entirely novel text with no overlap whatsoever here"))
      .toDF("id", "text")
    val m3 = Dedup.nearDupAgainstRegistry(b3, "id", "text", reg,
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(m3 == Set((20L, 12L)))
  }

  test("near-dup registry: a retried batch does not duplicate its rows") {
    val reg = java.nio.file.Files.createTempDirectory("graft-nd-retry")
      .toString + "/registry"
    val b1 = Seq((0L, base)).toDF("id", "text")
    Dedup.nearDupAgainstRegistry(b1, "id", "text", reg)
    // simulate a crash after the shingles append committed but before
    // the bands append: wipe the bands dir, then retry the batch
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(wipe)); f.delete(); ()
    }
    wipe(new java.io.File(s"$reg/bands"))
    Dedup.nearDupAgainstRegistry(b1, "id", "text", reg)
    // the shingle rows must NOT have doubled (recursive read counts
    // every file across batch dirs, committed or not)
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$reg/shingles").count() == 1)
    // and a matching later batch reports the duplicate exactly once
    val m = Dedup.nearDupAgainstRegistry(
      Seq((10L, base)).toDF("id", "text"), "id", "text", reg,
      threshold = 0.5).collect()
    assert(m.length == 1 && m(0).getLong(0) == 10L && m(0).getLong(1) == 0L)
  }

  test("re-running a committed batch: no self-matches, registeredIds answers instead") {
    val reg = java.nio.file.Files.createTempDirectory("graft-nd-rerun")
      .toString + "/registry"
    val b1 = Seq((0L, base), (1L, "nothing in common with that one"))
      .toDF("id", "text")
    assert(Dedup.nearDupAgainstRegistry(b1, "id", "text", reg).count() == 0)
    // full re-run of the SAME batch: its rows are already registered —
    // without the self-pair exclusion every doc would match itself at
    // jaccard 1.0
    assert(Dedup.nearDupAgainstRegistry(b1, "id", "text", reg,
      threshold = 0.5).count() == 0)
    // "already ingested?" is the probe's job
    assert(Dedup.registeredIds(spark, reg)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L))
  }

  test("a pre-r6 flat-layout registry fails loudly instead of reading as empty") {
    val reg = java.nio.file.Files.createTempDirectory("graft-dd-legacy")
      .toString + "/registry"
    // the old layout: part-files + _SUCCESS directly under the dir
    Seq("aaa").toDF("digest").coalesce(1)
      .write.mode("overwrite").parquet(reg)
    val e = intercept[IllegalStateException] {
      Dedup.incrementalExactDedup(
        Seq((1L, "bbb")).toDF("id", "text"), "id", "text", reg)
    }
    assert(e.getMessage.contains("flat-layout"))
  }

  test("registry compaction preserves probe results and collapses batch dirs") {
    val reg = java.nio.file.Files.createTempDirectory("graft-dd-compact")
      .toString + "/registry"
    Dedup.incrementalExactDedup(
      Seq((0L, "aaa"), (1L, "bbb")).toDF("id", "text"), "id", "text", reg)
    Dedup.incrementalExactDedup(
      Seq((2L, "ccc")).toDF("id", "text"), "id", "text", reg)
    val before = spark.read.option("recursiveFileLookup", "true")
      .parquet(reg).select("digest").collect().map(_.getString(0)).sorted.toSeq
    Dedup.compactExactRegistry(spark, reg)
    val dirs = new java.io.File(reg).listFiles().filter(_.isDirectory)
    assert(dirs.length == 1, s"expected 1 batch dir, got ${dirs.length}")
    val after = spark.read.option("recursiveFileLookup", "true")
      .parquet(reg).select("digest").collect().map(_.getString(0)).sorted.toSeq
    assert(after == before)
    // the compacted registry still dedups a later batch identically
    assert(Dedup.incrementalExactDedup(
      Seq((10L, "aaa"), (11L, "ddd")).toDF("id", "text"), "id", "text", reg)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(11L))

    // near-dup registry: probe answers identical across compaction
    val nreg = java.nio.file.Files.createTempDirectory("graft-nd-compact")
      .toString + "/registry"
    Dedup.nearDupAgainstRegistry(
      Seq((0L, base)).toDF("id", "text"), "id", "text", nreg)
    Dedup.nearDupAgainstRegistry(
      Seq((1L, "completely unrelated prose about catalyst optimizer rules"))
        .toDF("id", "text"), "id", "text", nreg)
    Dedup.compactNearDupRegistry(spark, nreg)
    Seq("shingles", "bands").foreach { sub =>
      val n = new java.io.File(s"$nreg/$sub").listFiles()
        .count(_.isDirectory)
      assert(n == 1, s"$sub: expected 1 batch dir, got $n")
    }
    val m = Dedup.nearDupAgainstRegistry(
      Seq((10L, base)).toDF("id", "text"), "id", "text", nreg,
      threshold = 0.5).collect()
    assert(m.length == 1 && m(0).getLong(0) == 10L && m(0).getLong(1) == 0L)
  }

  // descend through the AQE wrappers so subtree checks see the real
  // operators (plan.collect on AdaptiveSparkPlanExec does not recurse
  // into the finalized stages)
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(flattenPlan)
  }

  test("bucketed registry: identical survivors, Exchange-free probe, fresh-catalog re-registration") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
    val work = java.nio.file.Files.createTempDirectory("graft-dd-bkt").toString
    val regB = s"$work/bucketed"
    val regP = s"$work/plain"
    def run(reg: String, batch: org.apache.spark.sql.DataFrame): Seq[Long] =
      Dedup.incrementalExactDedup(batch, "id", "text", reg)
        .select("id").as[Long].collect().sorted.toSeq
    val b1 = Seq((0L, "aaa"), (1L, "bbb"), (2L, "aaa")).toDF("id", "text")
    val b2 = Seq((10L, "ccc"), (11L, "ddd")).toDF("id", "text")
    Seq(regB, regP).foreach { r => run(r, b1); run(r, b2) }
    Dedup.compactExactRegistryBucketed(spark, regB, buckets = 8)
    Dedup.compactExactRegistry(spark, regP)
    // (a) survivors identical across the two layouts, before and after
    // plain tail dirs accumulate on top of the bucketed store
    val b3 = Seq((20L, "aaa"), (21L, "ddd"), (22L, "eee")).toDF("id", "text")
    assert(run(regB, b3) == Seq(22L) && run(regP, b3) == Seq(22L))
    val b4 = Seq((30L, "eee"), (31L, "bbb"), (32L, "fff")).toDF("id", "text")
    assert(run(regB, b4) == Seq(32L) && run(regP, b4) == Seq(32L))

    // (b) the executed probe plan: the bucketed store's scan feeds the
    // anti-join pre-partitioned — no Exchange of any kind above it
    // (that is the entire point of compacting bucketed: at 100TB the
    // registry side never reshuffles per micro-batch). Broadcasts are
    // forced off so the join planner cannot paper over a lost
    // partitioning at toy scale.
    val bb = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Dedup.exactProbe(
        Seq((40L, "aaa"), (41L, "ggg")).toDF("id", "text"), "id", "text", regB)
      assert(probe.select("id").as[Long].collect().sorted.toSeq == Seq(41L))
      val nodes = flattenPlan(probe.queryExecution.executedPlan)
      val bucketScans = nodes.collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }
      assert(bucketScans.size == 1,
        s"expected exactly the compacted store's bucketed scan:\n" +
          probe.queryExecution.executedPlan)
      val scan = bucketScans.head
      // non-vacuous: the batch side DOES shuffle (to the bucket count)
      assert(nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
        "no shuffle anywhere — broadcast force-off did not take")
      val offenders = nodes.collect {
        case e: Exchange if flattenPlan(e).exists(_ eq scan) => e
      }
      assert(offenders.isEmpty,
        s"bucketed registry scan sits under an Exchange:\n$offenders")

      // (c) a catalog that never saw the table: drop the path-derived
      // table registrations, probe again — _bucket_spec.json must
      // re-register it and the scan must STILL be bucketed
      spark.sql("SHOW TABLES").collect().map(_.getString(1))
        .filter(_.startsWith("graft_bkt_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      val probe2 = Dedup.exactProbe(
        Seq((50L, "ccc"), (51L, "hhh")).toDF("id", "text"), "id", "text", regB)
      assert(probe2.select("id").as[Long].collect().sorted.toSeq == Seq(51L))
      val nodes2 = flattenPlan(probe2.queryExecution.executedPlan)
      val scans2 = nodes2.collect {
        case f: FileSourceScanExec if f.bucketedScan => f
      }
      assert(scans2.size == 1,
        "re-registration from _bucket_spec.json lost the bucket layout")
      assert(!nodes2.exists {
        case e: Exchange => flattenPlan(e).exists(_ eq scans2.head)
        case _ => false
      }, "re-registered bucketed scan sits under an Exchange")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bb)
  }

  test("bucketed near-dup registry: identical matches, no registry-side Exchange in any probe action") {
    val work = java.nio.file.Files.createTempDirectory("graft-nd-bkt").toString
    val regB = s"$work/bucketed"
    val regP = s"$work/plain"
    def matches(reg: String, batch: org.apache.spark.sql.DataFrame,
                t: Double = 0.5): Set[(Long, Long)] =
      Dedup.nearDupAgainstRegistry(batch, "id", "text", reg, threshold = t)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b1 = Seq((0L, base),
      (1L, "completely different content about spark catalyst rules"))
      .toDF("id", "text")
    val b2 = Seq((10L, "entirely novel text with no overlap whatsoever here"))
      .toDF("id", "text")
    Seq(regB, regP).foreach { r => matches(r, b1); matches(r, b2) }
    Dedup.compactNearDupRegistryBucketed(spark, regB, buckets = 8)
    Dedup.compactNearDupRegistry(spark, regP)
    // the band store's compacted batch has its sibling ids-* sidecar
    val bandDirs = new java.io.File(s"$regB/bands").listFiles()
      .filter(_.isDirectory).map(_.getName)
    assert(bandDirs.exists(n => n.startsWith("ids-") &&
      new java.io.File(s"$regB/bands/$n/_bucket_spec.json").exists),
      s"no committed ids-* sidecar among ${bandDirs.toSeq}")
    // retry discipline THROUGH the sidecar: a committed batch's re-run
    // must emit nothing (an empty or unreadable sidecar would let the
    // re-sent docs probe and self-match at jaccard 1.0)
    assert(matches(regB, b1) == Set.empty)
    assert(Dedup.registeredIds(spark, regB)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 10L))

    // (a) matches identical across layouts — near-dups of pre- and
    // post-compaction registrants, plus the already-registered skip
    val b3 = Seq((20L, base.replace("today", "tomorrow")),
      (21L, "entirely novel text with no overlap whatsoever there"),
      (22L, "fresh and unrelated prose about bucketed scan partitioning"))
      .toDF("id", "text")
    val m3b = matches(regB, b3)
    assert(m3b == matches(regP, b3))
    assert(m3b.contains((20L, 0L)) && m3b.contains((21L, 10L)) &&
      !m3b.exists(_._1 == 22L))
    // b3's clean rows landed as a PLAIN tail on both layouts; a later
    // batch must match against tail and bucketed store alike
    val b4 = Seq((30L, "fresh and unrelated prose about bucketed scan partitioned"),
      (31L, base)).toDF("id", "text")
    val m4b = matches(regB, b4)
    assert(m4b == matches(regP, b4))
    assert(m4b.contains((30L, 22L)) && m4b.contains((31L, 0L)))

    // (b) pin on the REAL ingest path: capture every query execution
    // of one full probe-and-register call and assert no Exchange of
    // any kind sits above a bucketed registry scan — the band
    // candidate join, the _ids retry guard, and the shingle verify
    // join all read their registry side pre-partitioned. Broadcasts
    // forced off so toy scale cannot paper over a lost partitioning.
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { captured.add(qe); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val bb = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.listenerManager.register(listener)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val b5 = Seq((40L, base.replace("quick", "sluggish")),
        (41L, "never before seen sentence about manifest replay windows"))
        .toDF("id", "text")
      assert(matches(regB, b5).contains((40L, 0L)))
      // listener delivery is async on the bus — drain it
      org.apache.spark.TestJobs.drainListenerBus(spark)
      // the property: registry rows reach their probe join pre-
      // partitioned — no Exchange BETWEEN a bucketed registry scan and
      // its nearest join ancestor. Exchanges above the join (e.g. the
      // candidate-pair distinct) shuffle derived results, not the
      // registry, and are fine.
      val plans = captured.toArray(
        Array.empty[org.apache.spark.sql.execution.QueryExecution])
        .map(_.executedPlan)
      val checked =
        plans.map(graft.PlanCheck.requireCoLocatedProbes(_, regB)).sum
      // non-vacuous: band + ids-sidecar + shingle scans all appeared
      assert(checked >= 3,
        s"expected bucketed band + ids-sidecar + shingle scans, saw $checked")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bb)
      spark.listenerManager.unregister(listener)
    }
  }

  test("exactly-once delivery: every crash window replays to the same rows") {
    val work = java.nio.file.Files.createTempDirectory("graft-dd-eo").toString
    val reg = s"$work/registry"
    def ids(dir: String): Seq[Long] = spark.read.parquet(dir)
      .select("id").as[Long].collect().sorted.toSeq
    val b0 = Seq((1L, "aaa"), (2L, "bbb"), (3L, "aaa")).toDF("id", "text")
    // clean run: survivors delivered to the batch dir AND returned
    val r0 = Dedup.incrementalExactDedupTo(b0, "id", "text", reg,
      s"$work/out/batch-0")
    assert(ids(s"$work/out/batch-0") == Seq(1L, 2L))
    assert(r0.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // crash AFTER the registry append (the at-most-once window of the
    // plain variant): the replay's survivors dedup to empty, but the
    // committed delivery must NOT be clobbered by that empty frame
    Dedup.incrementalExactDedupTo(b0, "id", "text", reg,
      s"$work/out/batch-0")
    assert(ids(s"$work/out/batch-0") == Seq(1L, 2L))
    // crash BETWEEN delivery commit and registry append: delivered dir
    // committed, digests unregistered — simulate by delivering batch 1
    // by hand, then running the operator; it must skip the write and
    // still register
    val b1 = Seq((10L, "aaa"), (11L, "ccc")).toDF("id", "text")
    b1.filter(col("id") === 11L).write.parquet(s"$work/out/batch-1")
    def parts() = new java.io.File(s"$work/out/batch-1").list()
      .filter(_.startsWith("part-")).sorted.toSeq
    val partsBefore = parts()
    Dedup.incrementalExactDedupTo(b1, "id", "text", reg,
      s"$work/out/batch-1")
    assert(ids(s"$work/out/batch-1") == Seq(11L))
    // a rewrite would have produced fresh uuid-named part files
    assert(parts() == partsBefore, "committed delivery was rewritten")
    // ...and the append really happened: "ccc" now dedups downstream
    assert(Dedup.incrementalExactDedupTo(
      Seq((20L, "ccc"), (21L, "ddd")).toDF("id", "text"), "id", "text",
      reg, s"$work/out/batch-2")
      .select("id").as[Long].collect().toSeq == Seq(21L))
    // crash MID-delivery: partial dir without _SUCCESS; the replay
    // overwrites it with the full survivors
    val b3 = Seq((30L, "eee")).toDF("id", "text")
    new java.io.File(s"$work/out/batch-3").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$work/out/batch-3/part-corrupt.parquet"),
      Array[Byte](1, 2, 3))
    Dedup.incrementalExactDedupTo(b3, "id", "text", reg,
      s"$work/out/batch-3")
    assert(ids(s"$work/out/batch-3") == Seq(30L))
  }

  test("near-dup exactly-once delivery: matches survive every crash window") {
    val work = java.nio.file.Files.createTempDirectory("graft-nd-eo").toString
    val reg = s"$work/registry"
    // batch 0: registry empty — delivery commits an EMPTY match set
    Dedup.nearDupAgainstRegistryTo(
      Seq((0L, base)).toDF("id", "text"), "id", "text", reg,
      s"$work/out/batch-0")
    assert(new java.io.File(s"$work/out/batch-0/_SUCCESS").exists)
    assert(spark.read.parquet(s"$work/out/batch-0").count() == 0)
    // batch 1 matches doc 0; delivered to its dir AND returned
    val b1 = Seq((10L, base)).toDF("id", "text")
    val r1 = Dedup.nearDupAgainstRegistryTo(b1, "id", "text", reg,
      s"$work/out/batch-1", threshold = 0.5)
    assert(r1.count() == 1)
    def d1() = spark.read.parquet(s"$work/out/batch-1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(d1() == Seq((10L, 0L)))
    // the at-most-once window of the plain variant: replaying batch 1
    // after its registration committed produces an empty match set —
    // the committed delivery must NOT be clobbered by it
    Dedup.nearDupAgainstRegistryTo(b1, "id", "text", reg,
      s"$work/out/batch-1", threshold = 0.5)
    assert(d1() == Seq((10L, 0L)))
    // crash mid-delivery (partial dir, no _SUCCESS): replay overwrites
    val b2 = Seq((20L, base)).toDF("id", "text")
    new java.io.File(s"$work/out/batch-2").mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$work/out/batch-2/part-corrupt.parquet"),
      Array[Byte](1, 2, 3))
    Dedup.nearDupAgainstRegistryTo(b2, "id", "text", reg,
      s"$work/out/batch-2", threshold = 0.5)
    assert(spark.read.parquet(s"$work/out/batch-2")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((20L, 0L)))
  }

  test("a crashed registry compaction heals before the next probe doubles matches") {
    val reg = java.nio.file.Files.createTempDirectory("graft-nd-heal")
      .toString + "/registry"
    Dedup.nearDupAgainstRegistry(
      Seq((0L, base)).toDF("id", "text"), "id", "text", reg)
    // craft the crash window of compactNearDupRegistry on the shingle
    // store: the compaction target committed (a full copy of the input
    // batch dir), manifest still present, input not yet deleted —
    // every shingle row exists twice
    val sh = s"$reg/shingles"
    val fs = new org.apache.hadoop.fs.Path(sh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val input = new java.io.File(sh).listFiles()
      .filter(_.isDirectory).head.getName
    spark.read.parquet(s"$sh/$input")
      .write.mode("overwrite").parquet(s"$sh/batch-crash")
    Manifest.write(fs, new org.apache.hadoop.fs.Path(s"$sh/compacting"),
      Seq("batch-crash", input))
    // non-vacuous: an un-healed probe emits the match TWICE (the
    // verify join sees reg_id 0's shingles in both dirs) — the exact
    // hazard the startup heal exists to prevent
    val unhealed = Dedup.nearDupAgainstRegistry(
      Seq((10L, base)).toDF("id", "text"), "id", "text", reg,
      threshold = 0.5).collect()
    assert(unhealed.length == 2)
    Dedup.healNearDupRegistry(spark, reg)
    // the duplicated input dir is gone (the probe's own empty
    // clean-rows append remains alongside the compaction target) and
    // doc 0's shingles exist exactly once again
    assert(!new java.io.File(s"$sh/$input").exists)
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(sh).count() == 1)
    assert(!new java.io.File(s"$sh/compacting").exists)
    val m = Dedup.nearDupAgainstRegistry(
      Seq((11L, base)).toDF("id", "text"), "id", "text", reg,
      threshold = 0.5).collect()
    assert(m.length == 1 && m(0).getLong(0) == 11L && m(0).getLong(1) == 0L)

    // exact registry: same window, healExactRegistry finishes the
    // deletes (duplicates there are anti-join-harmless, but the probe
    // scan must not pay for the registry twice forever)
    val ereg = java.nio.file.Files.createTempDirectory("graft-dd-heal")
      .toString + "/registry"
    Dedup.incrementalExactDedup(
      Seq((0L, "aaa")).toDF("id", "text"), "id", "text", ereg)
    val einput = new java.io.File(ereg).listFiles()
      .filter(_.isDirectory).head.getName
    spark.read.parquet(s"$ereg/$einput")
      .write.mode("overwrite").parquet(s"$ereg/batch-crash")
    Manifest.write(fs, new org.apache.hadoop.fs.Path(s"$ereg/compacting"),
      Seq("batch-crash", einput))
    Dedup.healExactRegistry(spark, ereg)
    assert(new java.io.File(ereg).listFiles().count(_.isDirectory) == 1)
    assert(Dedup.incrementalExactDedup(
      Seq((1L, "aaa"), (2L, "bbb")).toDF("id", "text"), "id", "text", ereg)
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("minhash LSH surfaces exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashLshPairs(corpus, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((0L, 1L)))
    assert(pairs.find(p => (p._1, p._2) == (0L, 1L)).get._3 == 1.0)
    assert(keys.contains((0L, 2L)) && keys.contains((1L, 2L)))
    assert(!keys.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("bucket-size guard drops hot buckets; drop list is one decision per doc") {
    import org.apache.spark.sql.functions._
    // 12 copies of the same text = one hot clique
    val clique = spark.range(12).select(col("id"),
      lit("a b c d e f g h i j k l m n o p q r s t").as("text"))
    val unguarded = Dedup.minhashLshPairs(clique, "id", "text", threshold = 0.9)
    assert(unguarded.count() == 12L * 11 / 2)
    val guarded = Dedup.minhashLshPairs(clique, "id", "text",
      threshold = 0.9, maxBucketSize = 8)
    assert(guarded.count() == 0) // whole clique is one >8 bucket
    val drops = Dedup.nearDupDrops(unguarded)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(drops == (1L to 11L)) // keep id 0, drop the other 11
  }

  test("simhash of near-identical docs is close in hamming distance") {
    val sims = corpus.filter($"id" < 3)
      .select($"id", graft.functions.TextAnalysis.simhash64($"text").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(0L) == sims(1L)) // identical text, identical sketch
    val ham02 = java.lang.Long.bitCount(sims(0L) ^ sims(2L))
    assert(ham02 <= 16, s"hamming=$ham02")
  }

  test("simhashNearDup: banded output equals all-pairs hamming radius, both families") {
    val docs = graft.Tables.load(spark, graft.TestSpark.sfDir, "documents")
    for (portable <- Seq(false, true)) {
      val sketch =
        if (portable) graft.functions.TextAnalysis.simhashPortable($"text")
        else graft.functions.TextAnalysis.simhash64($"text")
      val sigs = docs
        .filter(size(graft.functions.TextAnalysis.tokens($"text")) > 0)
        .select($"doc_id", sketch.as("sh"))
      // flat all-pairs reference — the exact set the pigeonhole
      // argument promises the banded join recovers
      val ref = sigs.as("a").crossJoin(sigs.as("b"))
        .filter($"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("id_a"), $"b.doc_id".as("id_b"),
          bit_count($"a.sh".bitwiseXOR($"b.sh")).as("ham"))
        .filter($"ham" <= 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val got = Dedup.simhashNearDup(docs, "doc_id", "text",
          bands = 4, maxHamming = 3, portable = portable)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == ref, s"portable=$portable")
      assert(ref.exists(_._3 == 0)) // exact dups exist in the corpus
    }
    // losing the pigeonhole guarantee must refuse, not silently recall-drop
    assertThrows[IllegalArgumentException](
      Dedup.simhashNearDup(docs, "doc_id", "text", bands = 4, maxHamming = 4))
    // bands = 1 means ONE full-width 64-bit chunk: the mask must be
    // all-ones ((1L << 64) - 1 is 0 on the JVM — shifts are mod 64),
    // so the output is exactly the identical-sketch pairs, NOT every
    // doc collapsed into bucket 0
    val sigs1 = docs
      .filter(size(graft.functions.TextAnalysis.tokens($"text")) > 0)
      .select($"doc_id", graft.functions.TextAnalysis.simhash64($"text").as("sh"))
    val refEq = sigs1.as("a").crossJoin(sigs1.as("b"))
      .filter($"a.doc_id" < $"b.doc_id" && $"a.sh" === $"b.sh")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val gotEq = Dedup.simhashNearDup(docs, "doc_id", "text",
        bands = 1, maxHamming = 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(gotEq == refEq && gotEq.nonEmpty)
  }

  test("portable md5 minhash family: verified near-dup output matches native") {
    // the two hash families produce different signatures and slightly
    // different CANDIDATE sets; after the exact-Jaccard verify both
    // must land on the same near-dup answer (the dd7 composition), and
    // both must surface the corpus's exact-dup pairs at estimate 1.0
    val docs = graft.Tables.load(spark, graft.TestSpark.sfDir, "documents")
    def run(portable: Boolean) = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.2,
      maxBucketSize = 100, portable = portable)
    def verified(portable: Boolean) =
      Dedup.ngramJaccard(docs, "doc_id", "text",
          run(portable).select("id_a", "id_b"), shingleN = 3)
        .filter($"jaccard" >= 0.8)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val nat = verified(portable = false)
    val por = verified(portable = true)
    assert(nat == por && nat.nonEmpty)
    // PLANTED identical-text pairs must sit at estimate 1.0 in BOTH
    // families (identical docs => identical signatures,
    // deterministically; the natural sf0.001 corpus has no exact
    // dups). Deliberately weaker than set-equality of each family's
    // est-1.0 pairs: a j≈0.99 near-dup can reach 64/64 matching mins
    // in one family and 63/64 in the other — estimator variance, not
    // a bug.
    val seeds = docs.select($"doc_id", $"text").filter($"doc_id" < 25)
    val planted = seeds.unionByName(
      seeds.select(($"doc_id" + 50000).as("doc_id"), $"text"))
    val clonePairs = (0L until 25L).map(i => (i, i + 50000)).toSet
    for (portable <- Seq(false, true)) {
      val exactOnes = Dedup.minhashLshPairs(planted, "doc_id", "text",
          shingleN = 3, bands = 16, rowsPerBand = 4, threshold = 0.2,
          portable = portable)
        .filter($"est_jaccard" === 1.0)
        .collect()
        .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
      assert(clonePairs.subsetOf(exactOnes), s"portable=$portable")
    }
  }

  test("dedupCorpus: keep-first exact copy, keep-the-longest representative") {
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river bank today and tomorrow morning"
    val docs = Seq(
      (0L, base),
      (1L, base),                      // exact dup of 0 -> keep-first drops it
      (2L, base + " with extra tail"), // near-dup of 0, LONGER -> the rep
      (3L, "completely different content about spark catalyst " +
        "optimizer rules and shuffles everywhere"),
      (4L, "")                         // no shingles; untouched, survives
    ).toDF("id", "text")
    val out = Dedup.dedupCorpus(docs, "id", "text", threshold = 0.5)
      .select("id").collect().map(_.getLong(0)).toSet
    // 1 falls to exact keep-first; 0 loses the {0, 2} component to the
    // longer member 2; 3 and 4 are untouched
    assert(out == Set(2L, 3L, 4L))
    // all original columns survive intact
    assert(Dedup.dedupCorpus(docs, "id", "text", threshold = 0.5)
      .columns.toSeq == Seq("id", "text"))
  }

  test("ngramContainment: both directions, subset=1.0, short-doc=0.0") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta", "s"),
      (1L, "alpha beta gamma delta", "s"),   // strict prefix of 0
      (2L, "completely different words here now", "s"),
      (3L, "xy zz", "s")                     // < 3 tokens: no shingles
    ).toDF("id", "text", "src")
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("id_a", "id_b")
    val m = Dedup.ngramContainment(docs, "id", "text", pairs)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b")))
      .toMap
    // doc 0 has 6 shingles, doc 1 has 2, both inside 0
    assert(m((0L, 1L)) == (2.0 / 6.0, 1.0))
    assert(m((0L, 2L)) == (0.0, 0.0))
    assert(m((0L, 3L)) == (0.0, 0.0))      // empty set contains nothing
    // blocked variant computes the same values over all in-block pairs
    val b = Dedup.blockedNgramContainment(docs, "id", "text", "src")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3))).toMap
    assert(b.size == 6 && b((0L, 1L)) == (2.0 / 6.0, 1.0))
  }

  test("dedupLinesWithinDoc: first occurrence kept, blanks exempt, " +
    "untrimmed identity, CRLF-safe") {
    val docs = Seq(
      (0L, "alpha\nbeta\n\nalpha\ngamma\n\nbeta"),
      (1L, "x\n  x\nx"),              // "  x" is a DIFFERENT line
      (2L, "solo")
    ).toDF("id", "text")
    val m = Dedup.dedupLinesWithinDoc(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // both blank lines survive (paragraph structure), repeats drop
    assert(m(0L) == ((7L, 5L, "alpha\nbeta\n\ngamma\n")))
    assert(m(1L) == ((3L, 2L, "x\n  x")))
    assert(m(2L) == ((1L, 1L, "solo")))
    // CRLF spelling dedups against the LF occurrence
    val crlf = Dedup.dedupLinesWithinDoc(
      Seq((9L, "same\r\nsame\nkept")).toDF("id", "text"), "id", "text")
      .collect()(0)
    assert(crlf.getLong(2) == 2L && crlf.getString(3) == "same\nkept")
  }

  test("removeBoilerplateLines: CRLF and LF spellings share line identity") {
    // the banner appears CRLF in doc 0 and LF in doc 1: df = 2 > 1,
    // so it must vanish from BOTH (pre-fix, the \r split the identity)
    val docs = Seq(
      (0L, "unique zero\r\nSHARED BANNER\r\ntail zero"),
      (1L, "unique one\nSHARED BANNER\ntail one")
    ).toDF("id", "text")
    val out = Dedup.removeBoilerplateLines(docs, "id", "text", maxDocFreq = 1)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(0L) == "unique zero\ntail zero")
    assert(out(1L) == "unique one\ntail one")
  }

  test("c4LineFilter: terminal punct + min words, order kept, empty doc") {
    val docs = Seq(
      (0L, "A good long sentence.\nshort.\nno punct here\n" +
        "Does this survive?\nIt does!\nends with quote, she said.\""),
      (1L, ""),                       // one empty line, dropped
      (2L, "all lines drop\nhere")
    ).toDF("id", "text")
    val out = Dedup.c4LineFilter(docs, "id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // "It does!" ends right but is only 2 words -> the word floor cuts it
    assert(out(0L) == ((6L, 3L,
      "A good long sentence.\nDoes this survive?\n" +
        "ends with quote, she said.\"")))
    assert(out(1L) == ((1L, 0L, "")))
    assert(out(2L) == ((2L, 0L, "")))
    // null text behaves like empty
    val n = Dedup.c4LineFilter(
      Seq((9L, null.asInstanceOf[String])).toDF("id", "text"), "id", "text")
      .collect()(0)
    assert(n.getLong(2) == 0L && n.getString(3) == "")
    // CRLF corpus: the \r is consumed by the split — same lines kept
    // as the LF spelling, and no \r leaks into text_clean
    val crlf = Dedup.c4LineFilter(
      Seq((7L, "A good long sentence.\r\nno punct here\r\nIs this kept too?"))
        .toDF("id", "text"), "id", "text")
      .collect()(0)
    assert(crlf.getLong(2) == 2L)
    assert(crlf.getString(3) == "A good long sentence.\nIs this kept too?")
  }

  test("removeBoilerplateLines: frequency cutoff, order, whitespace exemption") {
    // 12 docs: every doc carries "FOOTER" (df=12 > 3, removed), docs
    // 0-3 carry "promo" (df=4 > 3, removed), docs 0-2 carry "rare"
    // (df=3 == cutoff, KEPT), plus a unique line and a blank line
    val docs = (0L until 12L).map { i =>
      val lines = Seq(s"unique head $i") ++
        (if (i < 3) Seq("rare") else Nil) ++
        Seq("", "FOOTER") ++
        (if (i < 4) Seq("promo") else Nil) ++
        Seq(s"unique tail $i")
      (i, lines.mkString("\n"))
    }.toDF("id", "text")
      // null text reads as empty: one whitespace line, kept, unchanged
      .unionByName(Seq((99L, null.asInstanceOf[String])).toDF("id", "text"))
    val out = Dedup.removeBoilerplateLines(docs, "id", "text", maxDocFreq = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 0: had 6 lines, loses FOOTER + promo, keeps rare/blank/uniques in order
    assert(out(0L) == (6L, 4L, "unique head 0\nrare\n\nunique tail 0"))
    // doc 5: had 4 lines, loses FOOTER only
    assert(out(5L) == (4L, 3L, "unique head 5\n\nunique tail 5"))
    // null text: present in the output, one kept (empty) line
    assert(out(99L) == (1L, 1L, ""))
    // blank lines never count toward df and never vanish
    assert(out.filter(_._1 != 99L).values.forall(_._3.contains("\n")))
    // determinism across evaluations
    val again = Dedup.removeBoilerplateLines(docs, "id", "text", maxDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert((0L until 12L).forall(i => again(i) == out(i)._3))
  }

  test("native TokenMinHash is bit-identical to the staged HOF signature pipeline") {
    import org.apache.spark.sql.functions._
    // real corpus text: exercises unicode, punctuation, whitespace runs
    val docs = spark.read.parquet(graft.TestSpark.sfDir + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hof = docs
      .select(col("doc_id"), graft.functions.TextAnalysis.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"), transform(col("tk"), t => xxhash64(t)).as("th"))
      .select(col("doc_id"),
        transform(sequence(lit(1), size(col("th")) - lit(2)),
          i => xxhash64(element_at(col("th"), i),
            element_at(col("th"), i + 1), element_at(col("th"), i + 2))).as("hs"))
      .select(col("doc_id"), Dedup.minhashFromHashes(col("hs"), 64).as("sig"))
    val native = docs
      .select(col("doc_id"), graft.plans.TokenMinHash(col("text"), 3, 64).as("sig"))
      .filter(col("sig").isNotNull)
    assert(hof.count() == native.count())
    val mismatches = hof.as("a").join(native.as("b"), "doc_id")
      .filter(col("a.sig") =!= col("b.sig")).count()
    assert(mismatches == 0)
  }

  test("native TokenMinHashPortable is bit-identical to the md5 HOF pipeline") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(graft.TestSpark.sfDir + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hof = docs
      .select(col("doc_id"),
        Dedup.portableShingleHashes(col("text"), 3).as("hs"))
      .filter(size(col("hs")) >= 1)
      .select(col("doc_id"), Dedup.minhashFromHashesPortable(col("hs"), 64).as("sig"))
    val native = docs
      .select(col("doc_id"),
        graft.plans.TokenMinHashPortable(col("text"), 3, 64).as("sig"))
      .filter(col("sig").isNotNull)
    assert(hof.count() == native.count())
    val mismatches = hof.as("a").join(native.as("b"), "doc_id")
      .filter(col("a.sig") =!= col("b.sig")).count()
    assert(mismatches == 0)
  }

  test("native TokenShingleHashes matches the HOF sorted-distinct-hash form") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(graft.TestSpark.sfDir + "/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hof = docs.select(col("doc_id"),
      array_sort(array_distinct(transform(
        array_distinct(graft.functions.TextAnalysis.shingles(col("text"), 3)),
        s => xxhash64(s)))).as("sh"))
    val native = docs.select(col("doc_id"),
      graft.plans.TokenShingleHashes(col("text"), 3).as("sh"))
    val mismatches = hof.as("a").join(native.as("b"), "doc_id")
      .filter(col("a.sh") =!= col("b.sh")).count()
    assert(mismatches == 0)
    // empty-doc edge: both forms yield []
    import spark.implicits._
    val e = Seq((1L, ""), (2L, "one two")).toDF("doc_id", "text")
      .select(graft.plans.TokenShingleHashes(col("text"), 3).as("sh"))
      .collect().map(_.getSeq[Long](0))
    assert(e.forall(_.isEmpty))
  }

  test("staged signature cache releases after the first action without double-execution") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val results = (1 to 3).map { _ =>
      val r = Dedup.minhashLshPairs(corpus, "id", "text", threshold = 0.5)
      r.count() // first caller action — triggers the async staged release
      r
    }
    // the staged signature frames unpersist via QueryExecutionListener
    // (async on the listener bus, drained here); only the 3 persisted
    // RESULT frames (caller-owned) may remain
    org.apache.spark.TestJobs.drainListenerBus(spark)
    val n = spark.sparkContext.getPersistentRDDs.size
    assert(n <= before + 3, s"cached RDDs grew: before=$before now=$n")
    results.foreach(_.unpersist(true))
  }

  test("id-only and ship-signatures layouts agree") {
    val a = Dedup.minhashLshPairs(corpus, "id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val b = Dedup.minhashLshPairs(corpus, "id", "text", threshold = 0.5,
      shipSignatures = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("LSH->verify composition stays sub-quadratic on a hot clique") {
    import spark.implicits._
    // 40-doc boilerplate clique + 4 distinct docs: all-pairs would be
    // 40*39/2 = 780 clique pairs; the guard caps the clique's buckets
    val hot = spark.range(40).select(col("id"),
      lit("alpha beta gamma delta epsilon zeta eta theta iota kappa").as("text"))
    val distinct = Seq(
      (100L, base), (101L, base.replace("today", "tomorrow")),
      (102L, "spark catalyst whole stage codegen pipelines"),
      (103L, "completely unrelated words about storage formats")
    ).toDF("id", "text")
    val docs = hot.unionByName(distinct)
    val cand = Dedup.minhashLshPairs(docs, "id", "text",
      threshold = 0.2, maxBucketSize = 8)
    val verified = Dedup.ngramJaccard(docs, "id", "text",
      cand.select("id_a", "id_b"))
    val n = verified.count()
    assert(n < 40, s"candidate pairs not sub-quadratic: $n") // 780+ if unguarded
    // the genuine near-dup outside the clique still surfaces
    assert(verified.filter(col("id_a") === 100 && col("id_b") === 101 &&
      col("jaccard") > 0.5).count() == 1)
    cand.unpersist(); verified.unpersist()
  }

  test("LSH-bucketed embedding near-dup: subset of all-pairs, finds exact dups") {
    import org.apache.spark.sql.functions._
    val e = spark.read.parquet(graft.TestSpark.sfDir + "/embeddings.parquet")
    def pairs(block: org.apache.spark.sql.Column): Set[(Long, Long)] =
      Dedup.embeddingNearDup(e, "vec_id", "embedding", block, threshold = 0.9)
        .select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = pairs(Similarity.lshBuckets(col("embedding"), planes = 6))
    val all = pairs(lit(1))
    assert(lsh.subsetOf(all)) // bucketing only prunes, never invents
    // identical vectors always share a bucket (equal projections) and
    // surface with cos = 1
    import spark.implicits._
    val v = Array.fill(8)(0.5f)
    val syn = Seq((1L, v), (2L, v), (3L, Array.fill(8)(-0.5f)))
      .toDF("vec_id", "embedding")
    val found = Dedup.embeddingNearDup(syn, "vec_id", "embedding",
      Similarity.lshBuckets(col("embedding"), planes = 6), threshold = 0.99)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == Set((1L, 2L)))
  }

  test("ngram jaccard verifies candidates exactly") {
    val pairs = Seq((0L, 1L), (0L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(corpus, "id", "text", pairs)
      .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getDouble(2)).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j((0L, 3L)) == 0.0)
  }

  private def spanRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSet

  test("sharedSpans finds the exact maximal planted span and nothing else") {
    // per-position-unique tokens: the ONLY matches are the planted copy
    val aToks = (0 until 40).map(i => s"a$i")
    val span = aToks.slice(5, 30)                 // 25 tokens, 0-based 5..29
    val bToks = Seq("x0", "x1") ++ span ++ Seq("y0")
    val docs = Seq((1L, aToks.mkString(" ")), (2L, bToks.mkString(" ")))
      .toDF("id", "text")
    val out = spanRows(Dedup.sharedSpans(docs, "id", "text", minTokens = 12))
    assert(out == Set((1L, 2L, 5L, 2L, 25L)))
    // below the threshold: a 25-token span is invisible to K=26
    assert(Dedup.sharedSpans(docs, "id", "text", minTokens = 26).isEmpty)
    // exactly at the threshold: one single-window island
    val at = spanRows(Dedup.sharedSpans(docs, "id", "text", minTokens = 25))
    assert(at == Set((1L, 2L, 5L, 2L, 25L)))
  }

  test("sharedSpans separates two distinct spans between the same pair") {
    val s1 = (0 until 15).map(i => s"p$i")
    val s2 = (0 until 13).map(i => s"q$i")
    val a = s1 ++ Seq("am0", "am1") ++ s2               // s1@0, s2@17
    val b = Seq("bm0") ++ s2 ++ Seq("bm1", "bm2") ++ s1 // s2@1, s1@16
    val docs = Seq((1L, a.mkString(" ")), (2L, b.mkString(" ")))
      .toDF("id", "text")
    val out = spanRows(Dedup.sharedSpans(docs, "id", "text", minTokens = 12))
    assert(out == Set((1L, 2L, 0L, 16L, 15L), (1L, 2L, 17L, 1L, 13L)))
  }

  test("removeSharedSpans keeps the first occurrence, rewrites the copy, empties exact dups") {
    val aToks = (0 until 40).map(i => s"a$i")
    val span = aToks.slice(5, 30)
    val bToks = Seq("x0", "x1") ++ span ++ Seq("y0")
    val docs = Seq(
      (1L, aToks.mkString(" ")),
      (2L, bToks.mkString(" ")),
      (3L, aToks.mkString(" ")),          // exact dup of 1 → empties
      (4L, "tiny unrelated doc")          // untouched
    ).toDF("id", "text")
    val out = Dedup.removeSharedSpans(docs, "id", "text", minTokens = 12)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 (smallest id) keeps everything
    assert(out(1L) == (40L, 40L, aToks.mkString(" ")))
    // doc 2 loses exactly the copied span, keeps its own frame
    assert(out(2L) == (28L, 3L, "x0 x1 y0"))
    // doc 3 is entirely a duplicated span → empty, not dropped
    assert(out(3L) == (40L, 0L, ""))
    // doc 4 untouched
    assert(out(4L) == (3L, 3L, "tiny unrelated doc"))
  }

  test("sharedSpans: exact-dup docs yield the whole-doc span; maxPostings skips hot grams") {
    val toks = (0 until 20).map(i => s"d$i")
    val docs = (1L to 5L).map(id => (id, toks.mkString(" "))).toDF("id", "text")
    val out = spanRows(Dedup.sharedSpans(docs, "id", "text", minTokens = 12))
    // all 10 pairs, full-doc span
    assert(out.size == 10 && out.forall { case (_, _, as, bs, len) =>
      as == 0L && bs == 0L && len == 20L })
    // every window hash has 5 postings: a cap of 4 drops them all —
    // the boilerplate trade (exact-dup handles these clusters)
    assert(Dedup.sharedSpans(docs, "id", "text", minTokens = 12,
      maxPostings = 4).isEmpty)
    // a cap that admits them changes nothing
    val capped = spanRows(Dedup.sharedSpans(docs, "id", "text",
      minTokens = 12, maxPostings = 5))
    assert(capped == out)
  }
}
