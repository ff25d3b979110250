package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}

class VectorIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val f = java.nio.file.Files.createTempDirectory(name).toFile
    f.deleteOnExit(); f.toString
  }

  private def segDirs(path: String): Seq[java.io.File] =
    Option(new java.io.File(s"$path/segments").listFiles)
      .toSeq.flatten.filter(_.isDirectory).toSeq

  private def emb = Tables.load(spark, TestSpark.sfDir, "embeddings")

  /** Query frame with ids shifted OUT of the corpus id space so the
    * scan operators' self-exclusion (`n_id =!= q_id`) never fires and
    * the index (which has no notion of query identity) compares
    * row-identically.
    */
  private def queriesShifted(n: Int) = emb.filter(col("vec_id") < n)
    .select((col("vec_id") + 900000).as("q_id"),
      col("embedding").as("vec"))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq

  test("index search == Similarity.ivfTopK under the same quantizer") {
    val path = tmp("graft-vidx-diff")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    val cents = VectorIndex.readCentroids(spark, path)
    val q = queriesShifted(5)
    for (nprobe <- Seq(1, 3, 8)) {
      val viaIndex = rows(VectorIndex.searchTopK(q, path, k = 5,
        nprobe = nprobe))
      val viaScan = rows(Similarity.ivfTopK(
        q.withColumnRenamed("q_id", "vec_id")
          .withColumnRenamed("vec", "embedding"),
        emb, "vec_id", "embedding", k = 5, cents, nprobe = nprobe)
        .withColumnsRenamed(Map("n_id" -> "id")))
      assert(viaIndex == viaScan, s"nprobe=$nprobe diverged")
      assert(viaIndex.nonEmpty)
    }
  }

  test("knn.filter: candidates restrict to the id set BEFORE ranking") {
    val path = tmp("graft-vidx-filter")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 4)
    val q = queriesShifted(3)
    val keep = emb.filter(col("vec_id") % 2 === 0).select("vec_id")
    val filtered = VectorIndex.searchTopK(q, path, k = 5, nprobe = 4,
      idColName = "n_id", filterIds = Some(keep))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every survivor is in the filter set, ranks re-number within it
    assert(filtered.nonEmpty)
    filtered.foreach { case (_, _, nId) => assert(nId % 2 == 0, nId) }
    filtered.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length))
    }
    // the filtered ranking == brute ranking over the filtered corpus
    val bruteIdx = tmp("graft-vidx-filter-brute")
    VectorIndex.build(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", bruteIdx, nlist = 4)
    val brute = VectorIndex.searchTopK(q, bruteIdx, k = 5, nprobe = 4,
      idColName = "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(filtered.toSeq == brute.toSeq)
    // a malformed filter frame refuses
    intercept[IllegalArgumentException](
      VectorIndex.searchTopK(q, path, k = 5, nprobe = 4,
        filterIds = Some(emb.select("vec_id", "embedding"))))
  }

  test("knn.similarity: sub-threshold hits drop before the k-cut") {
    val path = tmp("graft-vidx-sim")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 4)
    val q = queriesShifted(3)
    // every query matches ITSELF at cos 1.0; a threshold just under
    // 1 keeps only the self-match — fewer than k rows per query
    val cut = VectorIndex.searchTopK(q, path, k = 5, nprobe = 4,
        idColName = "n_id", minSimilarity = Some(0.999999))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(cut.nonEmpty)
    cut.foreach { case (_, rank, cos) =>
      assert(rank == 1L && cos >= 0.999999, (rank, cos)) }
    // an out-of-domain threshold refuses
    intercept[IllegalArgumentException](
      VectorIndex.searchTopK(q, path, k = 5,
        minSimilarity = Some(1.5)))
  }

  test("nprobe = nlist is exact brute force; build+append == one-shot build") {
    val split = tmp("graft-vidx-split")
    VectorIndex.build(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", split, nlist = 8)
    VectorIndex.append(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", split)
    assert(segDirs(split).length == 2)
    val one = tmp("graft-vidx-one")
    VectorIndex.build(emb, "vec_id", "embedding", one, nlist = 8)
    val q = queriesShifted(5)
    // exact at full probe regardless of which quantizer each holds
    val a = rows(VectorIndex.searchTopK(q, split, k = 5, nprobe = 8))
    val b = rows(VectorIndex.searchTopK(q, one, k = 5, nprobe = 8))
    val brute = rows(Similarity.bruteForceTopK(
      q.withColumnRenamed("q_id", "vec_id")
        .withColumnRenamed("vec", "embedding"),
      emb, "vec_id", "embedding", k = 5)
      .withColumnsRenamed(Map("n_id" -> "id")))
    assert(a == brute)
    assert(b == brute)
    // compaction collapses segments and preserves answers (same
    // quantizer survives, so ANY nprobe is preserved, not just exact)
    val preCompact = rows(VectorIndex.searchTopK(q, split, k = 5, nprobe = 2))
    VectorIndex.compact(spark, split, idBuckets = 4)
    assert(segDirs(split).length == 1)
    assert(rows(VectorIndex.searchTopK(q, split, k = 5, nprobe = 2)) ==
      preCompact)
    assert(rows(VectorIndex.searchTopK(q, split, k = 5, nprobe = 8)) == brute)
  }

  test("upsert + delete lifecycle: logical == compacted == fresh rebuild") {
    val path = tmp("graft-vidx-life")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    // update every 10th vector with a deterministic jitter, add fresh
    val updated = emb.filter(col("vec_id") % 10 === 0)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => x + ((col("vec_id") * 31 + i * 7) % 5 - lit(2.0)) * 0.001)
          .as("embedding"))
    val fresh = emb.filter(col("vec_id") < 3)
      .select((col("vec_id") + 500000).as("vec_id"), col("embedding"))
    VectorIndex.upsertDocs(
      updated.unionByName(fresh.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))),
      "vec_id", "embedding", path)
    VectorIndex.deleteDocs(
      emb.filter(col("vec_id") % 7 === 3).select("vec_id"), path)
    val q = queriesShifted(5)
    val logical = rows(VectorIndex.searchTopK(q, path, k = 5, nprobe = 8))
    // the final live corpus, rebuilt from scratch
    val finalCorpus = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .filter(col("vec_id") % 10 =!= 0)
      .unionByName(updated)
      .unionByName(fresh.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")))
      .filter(col("vec_id") % 7 =!= 3)
    val ref = tmp("graft-vidx-life-ref")
    VectorIndex.build(finalCorpus, "vec_id", "embedding", ref, nlist = 8)
    assert(rows(VectorIndex.searchTopK(q, ref, k = 5, nprobe = 8)) == logical)
    // compaction applies the tombstones physically, same answers
    VectorIndex.compact(spark, path, idBuckets = 4)
    assert(segDirs(path).length == 1)
    assert(Option(new java.io.File(s"$path/deletes").listFiles)
      .forall(_.isEmpty), "compaction must consume the tombstones")
    assert(rows(VectorIndex.searchTopK(q, path, k = 5, nprobe = 8)) == logical)
    // stats reflect the live corpus
    val st = VectorIndex.stats(spark, path).head()
    assert(st.getLong(0) == finalCorpus.count())
    assert(st.getInt(1) == 1)
  }

  test("search prunes vector cell directories at planning time") {
    val path = tmp("graft-vidx-prune")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    val df = VectorIndex.searchTopK(queriesShifted(2), path, k = 3,
      nprobe = 1)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec if
        s.relation.location.rootPaths
          .exists(_.toString.contains("vectors")) => s
    }
    assert(scans.nonEmpty)
    // at nprobe=1 over 2 queries at most 2 of the 8 cell dirs survive
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"no partition filter on the vectors scan:\n$s")
      val selected = s.selectedPartitions.partitionCount
      assert(selected <= 2,
        s"expected ≤ 2 pruned cell dirs, scanned $selected")
    }
  }

  test("compacted ids ledger is id-bucketed; upsert and delete probes read it co-located") {
    val path = tmp("graft-vidx-idsbkt")
    VectorIndex.build(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", path, nlist = 8)
    VectorIndex.append(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", path)
    VectorIndex.compact(spark, path, idBuckets = 4)
    val seg = segDirs(path).head
    assert(new java.io.File(s"$seg/ids/_bucket_spec.json").exists,
      "compaction did not write the ids ledger bucketed")
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
      VectorIndex.upsertDocs(
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding")),
        "vec_id", "embedding", path)
      VectorIndex.deleteDocs(
        emb.orderBy(col("vec_id").desc).limit(3).select("vec_id"), path)
      val deadline = System.currentTimeMillis + 20000
      var last = -1
      while (captured.size != last && System.currentTimeMillis < deadline) {
        last = captured.size; Thread.sleep(400)
      }
      val plans = captured.toArray(
        Array.empty[org.apache.spark.sql.execution.QueryExecution])
        .map(_.executedPlan)
      val checked =
        plans.map(graft.PlanCheck.requireCoLocatedProbes(_, path)).sum
      assert(checked >= 2,
        s"expected the upsert AND delete ids probes to read bucketed, saw $checked")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bb)
      spark.listenerManager.unregister(listener)
    }
  }

  test("ingestBatch is exactly-once per batch id; upsert replay never self-masks") {
    val path = tmp("graft-vidx-ingest")
    val b0 = emb.filter(col("vec_id") < 100)
    VectorIndex.ingestBatch(b0, "vec_id", "embedding", path,
      batchId = 0, nlistIfNew = 4)
    assert(segDirs(path).length == 1)
    // replay of a marked batch: no rewrite, no extra segment
    VectorIndex.ingestBatch(b0, "vec_id", "embedding", path, batchId = 0)
    assert(segDirs(path).length == 1)
    // an upsert batch re-sending ids with new vectors, replayed after
    // its marker was lost (the crash window): same final answers
    val upd = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, _) => x * 2.0).as("embedding"))
    VectorIndex.ingestUpsertBatch(upd, "vec_id", "embedding", path,
      batchId = 1)
    val q = queriesShifted(3)
    val after = rows(VectorIndex.searchTopK(q, path, k = 5, nprobe = 4))
    new java.io.File(s"$path/ingested/batch-1").delete()
    VectorIndex.ingestUpsertBatch(upd, "vec_id", "embedding", path,
      batchId = 1)
    assert(rows(VectorIndex.searchTopK(q, path, k = 5, nprobe = 4)) == after)
  }

  test("planted exact copy is found at nprobe = 1 (same cell by construction)") {
    val path = tmp("graft-vidx-plant")
    val planted = emb.filter(col("vec_id") === 7)
      .select(lit(777777L).as("vec_id"), col("embedding"))
    VectorIndex.build(
      emb.select("vec_id", "embedding").unionByName(planted),
      "vec_id", "embedding", path, nlist = 8)
    val q = emb.filter(col("vec_id") === 7)
      .select(lit(1L).as("q_id"), col("embedding").as("vec"))
    val top = VectorIndex.searchTopK(q, path, k = 2, nprobe = 1)
      .orderBy("rank").collect()
    assert(top.length == 2)
    // both the original and its planted copy score cosine 1.0
    assert(top.map(_.getLong(2)).toSet == Set(7L, 777777L))
    assert(top.forall(_.getDouble(3) == 1.0))
  }

  test("CDC batch: deletes tombstone, non-live deletes no-op, contracts loud") {
    val path = tmp("graft-vidx-cdc")
    val ups = (op: String, df: org.apache.spark.sql.DataFrame) =>
      df.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"),
        lit(op).as("op"))
    VectorIndex.ingestCdcBatch(ups("upsert", emb), "vec_id", "embedding",
      "op", path, batchId = 0, nlistIfNew = 4)
    // batch 1: update <5 with doubled vectors, delete 10..14, and a
    // delete of an id that was never ingested (must silently no-op —
    // checkpoint-replay / ES-404 semantics)
    val b1 = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"), x => x * 2.0)
          .as("embedding"), lit("upsert").as("op"))
      .unionByName(ups("delete",
        emb.filter(col("vec_id") >= 10 && col("vec_id") < 15)))
      .unionByName(Seq((987654321L, Seq(1.0), "delete"))
        .toDF("vec_id", "embedding", "op"))
    VectorIndex.ingestCdcBatch(b1, "vec_id", "embedding", "op", path,
      batchId = 1)
    val q = queriesShifted(3)
    val got = rows(VectorIndex.searchTopK(q, path, k = 5, nprobe = 4))
    val finalCorpus = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .filter(col("vec_id") >= 5)
      .unionByName(emb.filter(col("vec_id") < 5)
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"), x => x * 2.0)
            .as("embedding")))
      .filter(col("vec_id") < 10 || col("vec_id") >= 15)
    val ref = tmp("graft-vidx-cdc-ref")
    VectorIndex.build(finalCorpus, "vec_id", "embedding", ref, nlist = 4)
    assert(rows(VectorIndex.searchTopK(q, ref, k = 5, nprobe = 4)) == got)
    // two events for one id in a batch: loud
    val dup = ups("upsert", emb.filter(col("vec_id") === 30))
      .unionByName(ups("delete", emb.filter(col("vec_id") === 30)))
    assertThrows[IllegalArgumentException] {
      VectorIndex.ingestCdcBatch(dup, "vec_id", "embedding", "op", path,
        batchId = 2)
    }
    // unknown op: loud
    assertThrows[IllegalArgumentException] {
      VectorIndex.ingestCdcBatch(ups("merge",
          emb.filter(col("vec_id") === 31)),
        "vec_id", "embedding", "op", path, batchId = 3)
    }
  }

  test("IVF-PQ: ADC exact config == exact search; codes survive upsert and compact; recall at small candidates") {
    val path = tmp("graft-vidx-pq")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 8,
      pqM = 8)
    val q = queriesShifted(3)
    val exact = rows(VectorIndex.searchTopK(q, path, k = 4, nprobe = 8))
    assert(rows(VectorIndex.searchTopKAdc(q, path, k = 4,
      candidates = 1000000, nprobe = 8)) == exact)
    // an index built WITHOUT pqM refuses the ADC path loudly
    val plain = tmp("graft-vidx-nopq")
    VectorIndex.build(emb.limit(50), "vec_id", "embedding", plain,
      nlist = 4)
    val e = intercept[IllegalArgumentException] {
      VectorIndex.searchTopKAdc(q, plain, k = 2, candidates = 100)
    }
    assert(e.getMessage.contains("pqM"))
    // upsert writes the new segment's codes too: post-upsert ADC at
    // the exact configuration equals the exact search over live state
    val upd = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"),
        transform(col("embedding").cast("array<double>"), x => x * 2.0)
          .as("embedding"))
    VectorIndex.upsertDocs(upd, "vec_id", "embedding", path)
    VectorIndex.deleteDocs(
      emb.filter(col("vec_id") % 9 === 5).select("vec_id"), path)
    val exact2 = rows(VectorIndex.searchTopK(q, path, k = 4, nprobe = 8))
    assert(rows(VectorIndex.searchTopKAdc(q, path, k = 4,
      candidates = 1000000, nprobe = 8)) == exact2)
    // compaction re-encodes the merged segment's codes
    VectorIndex.compact(spark, path, idBuckets = 4)
    assert(new java.io.File(s"${segDirs(path).head}/codes").exists)
    assert(rows(VectorIndex.searchTopKAdc(q, path, k = 4,
      candidates = 1000000, nprobe = 8)) == exact2)
    // a planted exact copy shares its original's cell AND codes: tiny
    // candidates + one probe still surface both at cosine 1.0
    val plant = tmp("graft-vidx-pq-plant")
    VectorIndex.build(
      emb.select("vec_id", "embedding").unionByName(
        emb.filter(col("vec_id") === 7)
          .select(lit(777777L).as("vec_id"), col("embedding"))),
      "vec_id", "embedding", plant, nlist = 8, pqM = 8)
    val q7 = emb.filter(col("vec_id") === 7)
      .select(lit(1L).as("q_id"), col("embedding").as("vec"))
    val top = VectorIndex.searchTopKAdc(q7, plant, k = 2,
      candidates = 10, nprobe = 1).orderBy("rank").collect()
    assert(top.map(_.getLong(2)).toSet == Set(7L, 777777L))
    assert(top.forall(_.getDouble(3) == 1.0))
  }

  test("a rejected upsert leaves the index untouched; empty delete no-ops; all-tombstoned compact skips") {
    val path = tmp("graft-vidx-guard")
    val small = emb.filter(col("vec_id") < 40)
    VectorIndex.build(small, "vec_id", "embedding", path, nlist = 4)
    val q = queriesShifted(2)
    val before = rows(VectorIndex.searchTopK(q, path, k = 3, nprobe = 4))
    def delDirs = Option(new java.io.File(s"$path/deletes").listFiles)
      .toSeq.flatten.length
    // duplicate-id upsert batch: must be rejected BEFORE any tombstone
    // commits — the live versions stay searchable
    val dup = small.filter(col("vec_id") === 1)
      .unionByName(small.filter(col("vec_id") === 1))
      .select("vec_id", "embedding")
    assertThrows[IllegalArgumentException] {
      VectorIndex.upsertDocs(dup, "vec_id", "embedding", path)
    }
    assert(delDirs == 0, "rejected upsert left a tombstone behind")
    assert(rows(VectorIndex.searchTopK(q, path, k = 3, nprobe = 4)) == before)
    // empty delete: vacuous success, no tombstone batch
    VectorIndex.deleteDocs(
      small.filter(col("vec_id") < 0).select("vec_id"), path)
    assert(delDirs == 0)
    // delete EVERYTHING, then the cadence compact must skip (not
    // throw), searches must answer empty, and new docs must still land
    VectorIndex.deleteDocs(small.select("vec_id"), path)
    VectorIndex.compact(spark, path)
    assert(VectorIndex.searchTopK(q, path, k = 3, nprobe = 4).count() == 0)
    VectorIndex.ingestBatch(
      emb.filter(col("vec_id") >= 40 && col("vec_id") < 80)
        .select("vec_id", "embedding"),
      "vec_id", "embedding", path, batchId = 77)
    assert(VectorIndex.searchTopK(q, path, k = 3, nprobe = 4).count() > 0)
  }

  test("nprobe larger than nlist clamps to exact search (nlist = 1 usable with defaults)") {
    val path = tmp("graft-vidx-one-cell")
    VectorIndex.build(emb.filter(col("vec_id") < 50), "vec_id",
      "embedding", path, nlist = 1)
    // default nprobe = 2 on a 1-cell index: clamped, not rejected
    val got = rows(VectorIndex.searchTopK(queriesShifted(2), path, k = 3))
    assert(got.nonEmpty)
    val brute = rows(Similarity.bruteForceTopK(
      queriesShifted(2).withColumnRenamed("q_id", "vec_id")
        .withColumnRenamed("vec", "embedding"),
      emb.filter(col("vec_id") < 50), "vec_id", "embedding", k = 3)
      .withColumnsRenamed(Map("n_id" -> "id")))
    assert(got == brute)
  }

  test("contracts fail loudly: duplicate ids, wrong dimension, unknown delete") {
    val path = tmp("graft-vidx-loud")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 4)
    val dup = emb.filter(col("vec_id") === 1)
      .unionByName(emb.filter(col("vec_id") === 1))
      .select((col("vec_id") + 600000).as("vec_id"), col("embedding"))
    assertThrows[IllegalArgumentException] {
      VectorIndex.append(dup, "vec_id", "embedding", path)
    }
    val short = Seq((600001L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException] {
      VectorIndex.append(short, "vec_id", "embedding", path)
    }
    assertThrows[IllegalArgumentException] {
      VectorIndex.deleteDocs(Seq(987654321L).toDF("vec_id"), path)
    }
    // a failed append leaves no committed segment behind
    assert(segDirs(path).count(d =>
      new java.io.File(d, "stats/_SUCCESS").exists) == 1)
  }

  test("a root whose quantizer is gone refuses with the build() message") {
    val path = tmp("graft-vidx-noq")
    VectorIndex.build(emb.filter(col("vec_id") < 40), "vec_id", "embedding",
      path, nlist = 2)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$path/quantizer"))
    assert(segDirs(path).nonEmpty)
    val search = intercept[IllegalArgumentException] {
      VectorIndex.searchTopK(queriesShifted(1), path, 3)
    }
    assert(search.getMessage.contains(s"$path has no quantizer — build() first"))
    val append = intercept[IllegalArgumentException] {
      VectorIndex.append(emb.filter(col("vec_id") === 40), "vec_id",
        "embedding", path)
    }
    assert(append.getMessage.contains("has no quantizer — build() first"))
  }

  test("stats exposes per-cell occupancy; a drifted corpus moves " +
    "cell_skew up") {
    val path = tmp("graft-vidx-drift")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 8)
    val st0 = VectorIndex.stats(spark, path).head()
    val n0 = st0.getAs[Long]("n_docs")
    val skew0 = st0.getAs[Double]("cell_skew")
    assert(st0.getAs[Long]("cell_occ_min") >= 0)
    assert(st0.getAs[Long]("cell_occ_max") >= n0 / 8)
    assert(skew0 >= 1.0, s"skew below 1 is impossible (max >= mean): $skew0")
    // drift: append the SAME count of identical far-away vectors —
    // they all land in one cell, so max occupancy ~doubles-plus while
    // the mean only doubles -> skew strictly rises
    val drift = emb.select((col("vec_id") + 500000).as("vec_id"),
      transform(col("embedding"), x => lit(7.0)).as("embedding"))
    VectorIndex.append(drift, "vec_id", "embedding", path)
    val st1 = VectorIndex.stats(spark, path).head()
    assert(st1.getAs[Long]("n_docs") == 2 * n0)
    assert(st1.getAs[Double]("cell_skew") > skew0,
      s"drift did not move the skew signal: $skew0 -> " +
        s"${st1.getAs[Double]("cell_skew")}")
    // the hot cell now holds at least the whole drifted batch
    assert(st1.getAs[Long]("cell_occ_max") >= n0)
  }

  test("rebuild retrains the quantizer in place: identical exact-config " +
    "answers, skew drops, ledger re-bucketed, PQ kept") {
    val path = tmp("graft-vidx-rebuild")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 8,
      pqM = 8)
    // drift the corpus: a same-sized batch of identical far-away
    // vectors piles into one cell under the frozen quantizer
    val drift = emb.select((col("vec_id") + 500000).as("vec_id"),
      transform(col("embedding"), x => lit(7.0)).as("embedding"))
    VectorIndex.append(drift, "vec_id", "embedding", path)
    val skewBefore = VectorIndex.stats(spark, path).head()
      .getAs[Double]("cell_skew")
    val q = queriesShifted(5)
    val before = rows(VectorIndex.searchTopK(q, path, k = 5, nprobe = 8))
    VectorIndex.rebuild(spark, path)
    // one segment, same live corpus, identical every-cell answers
    assert(segDirs(path).length == 1)
    assert(rows(VectorIndex.searchTopK(q, path, k = 5, nprobe = 8))
      == before)
    val st = VectorIndex.stats(spark, path).head()
    assert(st.getAs[Long]("n_docs") == 2 * emb.count())
    assert(st.getAs[Double]("cell_skew") < skewBefore,
      s"rebuild did not reduce the drift skew: $skewBefore -> " +
        s"${st.getAs[Double]("cell_skew")}")
    // the rebuilt ids ledger is bucketed (probe co-location survives)
    val seg = segDirs(path).head
    assert(new java.io.File(s"$seg/ids/_bucket_spec.json").exists)
    // PQ codes were re-encoded: the ADC exact configuration still
    // equals the exact search
    val adc = rows(VectorIndex.searchTopKAdc(q, path, k = 5,
      candidates = 10000000, nprobe = 8))
    assert(adc == before)
    // upsert/delete still work against the rebuilt index
    VectorIndex.deleteDocs(emb.filter(col("vec_id") < 3)
      .select("vec_id"), path)
    assert(VectorIndex.stats(spark, path).head().getAs[Long]("n_docs")
      == 2 * emb.count() - 3)
  }

  test("a crashed rebuild heals in both directions") {
    import org.apache.hadoop.fs.Path
    // rollback: manifest + staged quantizer, target never committed
    val p1 = tmp("graft-vidx-rbheal1")
    VectorIndex.build(emb, "vec_id", "embedding", p1, nlist = 4)
    val fs = new Path(p1).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val centsBefore = VectorIndex.readCentroids(spark, p1).toSeq.map(_.toSeq)
    VectorIndex.writeQuantizerAt(spark, s"$p1/quantizer-next",
      Array(Array(9.0, 9.0), Array(-9.0, -9.0)))
    Manifest.write(fs, new Path(s"$p1/rebuilding"),
      Seq("segments/seg-never-written",
        "segments/" + new Path(segDirs(p1).head.toString).getName))
    VectorIndex.heal(spark, p1)
    assert(!fs.exists(new Path(s"$p1/rebuilding")))
    assert(!fs.exists(new Path(s"$p1/quantizer-next")))
    assert(VectorIndex.readCentroids(spark, p1).toSeq.map(_.toSeq)
      == centsBefore, "rollback must leave the old quantizer")
    assert(segDirs(p1).nonEmpty)
    assert(VectorIndex.searchTopK(queriesShifted(2), p1, k = 3,
      nprobe = 4).count() > 0)
    // completion: target committed, quantizer staged, inputs pending —
    // heal must promote the quantizer and delete the inputs
    val p2 = tmp("graft-vidx-rbheal2")
    VectorIndex.build(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", p2, nlist = 4)
    VectorIndex.append(emb.filter(col("vec_id") % 2 === 1),
      "vec_id", "embedding", p2)
    val Seq(a, b) = segDirs(p2).map(f => new Path(f.toString).getName)
      .sorted.toSeq
    val staged = Seq(Seq.fill(64)(1.0), Seq.fill(64)(-1.0))
    VectorIndex.writeQuantizerAt(spark, s"$p2/quantizer-next",
      staged.map(_.toArray).toArray)
    Manifest.write(fs, new Path(s"$p2/rebuilding"),
      Seq(s"segments/$b", s"segments/$a"))
    VectorIndex.heal(spark, p2)
    assert(!fs.exists(new Path(s"$p2/rebuilding")))
    assert(!fs.exists(new Path(s"$p2/quantizer-next")))
    assert(segDirs(p2).map(f => new Path(f.toString).getName) == Seq(b),
      "completion must retire the input segments")
    assert(VectorIndex.readCentroids(spark, p2).toSeq.map(_.toSeq)
      == staged, "completion must promote the staged quantizer")
    // earliest window: rebuild() writes the manifest BEFORE staging
    // quantizer-next (so no orphan staging dir can ever outlive a
    // crash) — a manifest alone must roll back to the old quantizer
    val p3 = tmp("graft-vidx-rbheal3")
    VectorIndex.build(emb, "vec_id", "embedding", p3, nlist = 4)
    val cents3 = VectorIndex.readCentroids(spark, p3).toSeq.map(_.toSeq)
    Manifest.write(fs, new Path(s"$p3/rebuilding"),
      Seq("segments/seg-never-written",
        "segments/" + new Path(segDirs(p3).head.toString).getName))
    VectorIndex.heal(spark, p3)
    assert(!fs.exists(new Path(s"$p3/rebuilding")))
    assert(VectorIndex.readCentroids(spark, p3).toSeq.map(_.toSeq)
      == cents3)
    assert(VectorIndex.searchTopK(queriesShifted(2), p3, k = 3,
      nprobe = 4).count() > 0)
  }

  test("the ADC path refuses an oversized query frame loudly") {
    val path = tmp("graft-vidx-maxq")
    VectorIndex.build(emb, "vec_id", "embedding", path, nlist = 4,
      pqM = 8)
    val q = queriesShifted(5)
    val ex = intercept[IllegalArgumentException] {
      VectorIndex.searchTopKAdc(q, path, k = 2, candidates = 10,
        nprobe = 4, maxQueries = 3)
    }
    assert(ex.getMessage.contains("refused"), ex.getMessage)
    // within the bound the same call serves
    assert(VectorIndex.searchTopKAdc(q, path, k = 2, candidates = 10,
      nprobe = 4, maxQueries = 5).count() > 0)
  }
}
