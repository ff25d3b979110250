package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{Tables, TestSpark}

class InvertedIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String = {
    val f = java.nio.file.Files.createTempDirectory(name).toFile
    f.deleteOnExit(); f.toString
  }

  private def segDirs(path: String): Seq[java.io.File] =
    Option(new java.io.File(s"$path/segments").listFiles)
      .toSeq.flatten.filter(_.isDirectory).toSeq

  private def topDocs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("index-backed search is row-identical to the corpus-scan bm25TopK") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-diff")
    InvertedIndex.build(docs, "doc_id", "text", path)
    val terms = Seq("stream", "filter", "join")
    val viaIndex = topDocs(InvertedIndex.searchTopK(spark, path, terms,
      k = 10, idColName = "doc_id"))
    val viaScan = topDocs(Ranking.bm25TopK(docs, "doc_id", "text", terms,
      k = 10))
    assert(viaIndex == viaScan)
    assert(viaIndex.nonEmpty)
  }

  test("searchAfter tiles exactly: pages concatenate to the full " +
      "ranking, no overlap, no gap — including across score ties") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"), (3L, "alpha beta"),
      (4L, "alpha"), (5L, "alpha"), (6L, "beta"), (7L, "gamma"))
      .toDF("doc_id", "text")
    val path = tmp("graft-idx-after")
    InvertedIndex.build(docs, "doc_id", "text", path)
    val terms = Seq("alpha", "beta")
    val full = InvertedIndex.searchTopK(spark, path, terms, 10,
      idColName = "doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // page through 2 at a time via each page's last (score, id)
    val paged = Iterator.iterate(
      (InvertedIndex.searchTopK(spark, path, terms, 2,
        idColName = "doc_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq, 0)) {
      case (page, n) =>
        val (lastId, lastScore) = page.last
        (InvertedIndex.searchAfter(spark, path, terms, 2,
          afterScore = lastScore, afterId = lastId,
          idColName = "doc_id").collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq, n + 1)
    }.takeWhile(_._1.nonEmpty).map(_._1).take(5).toSeq.flatten
    assert(paged == full) // ties (docs 1,2,3 identical) tile on id
  }

  test("phrasePrefixSearchTopK matches the scan face's doc set; " +
      "completed occurrences drive the tf; bare prefix is constant") {
    val docs = Seq(
      (1L, "quick brown fox runs"),   // 'quick brown f…' completes
      (2L, "quick brown dog"),        // full phrase, no f-completion
      (3L, "brown quick fox"),        // terms present, wrong order
      (4L, "quick brown fog quick brown fox"), // TWO completions
      (5L, "fox quick")).toDF("doc_id", "text")
    val path = tmp("graft-idx-ppfx")
    InvertedIndex.build(docs, "doc_id", "text", path, positions = true)
    InvertedIndex.buildVocabulary(spark, path)
    val got = InvertedIndex.phrasePrefixSearchTopK(spark, path,
      "quick brown f", k = 10, idColName = "doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // scan face agrees on WHICH docs match
    val scan = docs.filter(graft.functions.EsMatch.matchPhrasePrefix(
      org.apache.spark.sql.functions.col("text"), "quick brown f"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.keySet == scan && got.keySet == Set(1L, 4L))
    // doc 4 has ptf 2 (fog AND fox complete) → higher phrase score
    assert(got(4L) > got(1L))
    // every score carries the +1.0 constant prefix clause
    got.values.foreach(s => assert(s > 1.0))
    // bare one-term prefix: constant 1.0, id order
    val bare = InvertedIndex.phrasePrefixSearchTopK(spark, path,
      "fo", k = 10, idColName = "doc_id").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bare == Seq((1L, 1.0), (3L, 1.0), (4L, 1.0), (5L, 1.0)))
    // an unmatched prefix returns a typed empty frame
    assert(InvertedIndex.phrasePrefixSearchTopK(spark, path,
      "quick brown zz", k = 10, idColName = "doc_id").count() == 0)
    // positions-less index refuses loudly
    val flat = tmp("graft-idx-ppfx-flat")
    InvertedIndex.build(docs, "doc_id", "text", flat)
    InvertedIndex.buildVocabulary(spark, flat)
    intercept[IllegalArgumentException](
      InvertedIndex.phrasePrefixSearchTopK(spark, flat, "quick b", 5))
  }

  test("booleanSearchTopK: must gates on all, should adds score, " +
      "must_not excludes; flat query strings drive it") {
    val docs = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta join"),
      (3L, "alpha delta"),
      (4L, "beta delta"),
      (5L, "delta epsilon")).toDF("doc_id", "text")
    val path = tmp("graft-idx-bool")
    InvertedIndex.build(docs, "doc_id", "text", path)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq
    // must both + not join → doc 1 only (doc 2 has join)
    assert(ids(InvertedIndex.booleanSearchTopK(spark, path,
      must = Seq("alpha", "beta"), should = Nil,
      mustNot = Seq("join"), k = 10, idColName = "doc_id")) == Seq(1L))
    // pure should, msm default 1 → any of delta/epsilon
    assert(ids(InvertedIndex.booleanSearchTopK(spark, path,
      must = Nil, should = Seq("delta", "epsilon"), mustNot = Nil,
      k = 10, idColName = "doc_id")).toSet == Set(3L, 4L, 5L))
    // must + should: should is score-only (msm 0) but adds score
    val withShould = InvertedIndex.booleanSearchTopK(spark, path,
      must = Seq("alpha"), should = Seq("gamma"), mustNot = Nil,
      k = 10, idColName = "doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mustOnly = InvertedIndex.booleanSearchTopK(spark, path,
      must = Seq("alpha"), should = Nil, mustNot = Nil,
      k = 10, idColName = "doc_id").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(withShould.keySet == mustOnly.keySet)
    assert(withShould(1L) > mustOnly(1L)) // doc 1 has gamma
    assert(withShould(3L) == mustOnly(3L))
    // the scored sum equals plain searchTopK when everything matches
    assert(InvertedIndex.booleanSearchTopK(spark, path,
      must = Seq("alpha"), should = Nil, mustNot = Nil, k = 10,
      idColName = "doc_id").collect().map(_.getDouble(1)).toSeq ==
      InvertedIndex.searchTopK(spark, path, Seq("alpha"), k = 10,
        idColName = "doc_id").collect().map(_.getDouble(1)).toSeq)
    // query-string driving: conj, disj, and the refusals
    assert(ids(InvertedIndex.queryStringSearchTopK(spark, path,
      "alpha + beta -join", 10, idColName = "doc_id")) == Seq(1L))
    assert(ids(InvertedIndex.queryStringSearchTopK(spark, path,
      "delta | epsilon", 10, idColName = "doc_id")).toSet
      == Set(3L, 4L, 5L))
    intercept[IllegalArgumentException](
      InvertedIndex.queryStringSearchTopK(spark, path,
        "\"alpha beta\"", 10)) // phrases live on the scan faces
    intercept[IllegalArgumentException](
      InvertedIndex.queryStringSearchTopK(spark, path,
        "alpha b | c", 10)) // OR group under AND cannot flatten
    intercept[IllegalArgumentException](
      InvertedIndex.booleanSearchTopK(spark, path, Nil, Nil,
        Seq("join"), 10)) // pure negative = corpus scan, refused
    intercept[IllegalArgumentException](
      InvertedIndex.booleanSearchTopK(spark, path, Seq("alpha"), Nil,
        Seq("alpha"), 10)) // contradictory must/must_not
  }

  test("build + append across segments == one-shot build; compact preserves") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-seg")
    InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    assert(segDirs(path).length == 2)
    val terms = Seq("spark", "hash")
    val two = topDocs(InvertedIndex.searchTopK(spark, path, terms,
      k = 15, idColName = "doc_id"))
    // the merged df/stats math must equal an index that never segmented
    val pathOne = tmp("graft-idx-one")
    InvertedIndex.build(docs, "doc_id", "text", pathOne)
    val one = topDocs(InvertedIndex.searchTopK(spark, pathOne, terms,
      k = 15, idColName = "doc_id"))
    assert(two == one)
    // compaction collapses to one segment with identical answers
    InvertedIndex.compact(spark, path)
    assert(segDirs(path).length == 1)
    assert(topDocs(InvertedIndex.searchTopK(spark, path, terms,
      k = 15, idColName = "doc_id")) == two)
  }

  test("driver-side bucketOf agrees with the index's layout column") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-bucket")
    InvertedIndex.build(docs, "doc_id", "text", path, buckets = 64)
    val seg = segDirs(path).head
    // every persisted (term, bucket) pair must match the driver hash —
    // otherwise searchTopK would prune away the terms it needs
    val mism = spark.read.parquet(s"$seg/postings")
      .select("term", "bucket").distinct().collect()
      .count(r => InvertedIndex.bucketOf(r.getString(0), 64) != r.getInt(1))
    assert(mism == 0)
  }

  test("search prunes postings directories at planning time") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-prune")
    InvertedIndex.build(docs, "doc_id", "text", path, buckets = 64)
    val df = InvertedIndex.searchTopK(spark, path, Seq("stream"), k = 5)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.filter(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
    assert(scans.nonEmpty)
    val scan = scans.head
    assert(scan.partitionFilters.nonEmpty, "no PartitionFilters on bucket")
    val selected = scan.relation.location.listFiles(
      scan.partitionFilters, scan.dataFilters).length
    val total = scan.relation.location.listFiles(Nil, Nil).length
    assert(selected < total,
      s"selected $selected of $total postings partitions — nothing pruned")
    // and the term predicate reaches the parquet reader
    assert(scan.dataFilters.nonEmpty, "term filter not pushed to the scan")
  }

  test("tombstoned search keeps directory pruning and broadcasts the anti-join") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-delplan")
    InvertedIndex.build(docs, "doc_id", "text", path, buckets = 64)
    InvertedIndex.deleteDocs(
      docs.filter(col("doc_id") % 9 === 0).select("doc_id"), path)
    val df = InvertedIndex.searchTopK(spark, path, Seq("stream"), k = 5)
    val plan = df.queryExecution.sparkPlan
    val scans = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.filter(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
    assert(scans.nonEmpty && scans.forall(_.partitionFilters.nonEmpty),
      "tombstones cost the bucket pruning")
    // the tombstone subtraction must be a broadcast anti-join — a
    // shuffled spelling would re-partition the postings per query
    val bAnti = plan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(bAnti.nonEmpty, "tombstone anti-join is not broadcast")
    val smj = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(smj.isEmpty, "tombstone anti-join shuffled (SortMergeJoin)")
  }

  test("stats are the commit marker: a crashed segment is invisible, an empty index loud") {
    val docs = Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text")
    val path = tmp("graft-idx-crash")
    InvertedIndex.build(docs, "doc_id", "text", path)
    // simulate a crash between the postings write and the stats write
    def wipe(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(wipe)); f.delete(); ()
    }
    wipe(new java.io.File(s"${segDirs(path).head}/stats"))
    val e = intercept[IllegalArgumentException](
      InvertedIndex.searchTopK(spark, path, Seq("a"), k = 1))
    assert(e.getMessage.contains("no committed segments"))
    // a crashed APPEND leaves the committed history serving
    InvertedIndex.build(docs, "doc_id", "text", path)
    val before = topDocs(InvertedIndex.searchTopK(spark, path, Seq("a"),
      k = 2, idColName = "doc_id"))
    InvertedIndex.append(Seq((3L, "a a")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val crashed = segDirs(path).filter(d =>
      !new java.io.File(d, "stats/_SUCCESS").exists())
    assert(crashed.isEmpty) // clean append committed...
    wipe(new java.io.File(s"${segDirs(path).maxBy(_.getName)}/stats"))
    // ...now one segment is marker-less; search serves the rest (but
    // which segment got wiped is uuid-ordered, so only assert it runs
    // and returns a committed subset's answer deterministically)
    val after = topDocs(InvertedIndex.searchTopK(spark, path, Seq("a"),
      k = 3, idColName = "doc_id"))
    assert(after.nonEmpty)
    assert(after.map(_._1).toSet.subsetOf(Set(1L, 2L, 3L)))
    assert(before.nonEmpty)
  }

  private def copyDir(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles).toSeq.flatten
        .foreach(f => copyDir(f, new java.io.File(dst, f.getName)))
      ()
    } else {
      java.nio.file.Files.copy(src.toPath, dst.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      ()
    }

  private def hadoopFs(path: String) = new org.apache.hadoop.fs.Path(path)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a compact() crash between commit and delete heals, not bakes duplicates") {
    val docs = Seq((1L, "a b"), (2L, "b c"), (3L, "a a c"))
      .toDF("doc_id", "text")
    val path = tmp("graft-idx-heal")
    InvertedIndex.build(docs.filter(col("doc_id") <= 2), "doc_id", "text", path)
    InvertedIndex.append(docs.filter(col("doc_id") === 3), "doc_id", "text", path)
    def top(p: String) = topDocs(InvertedIndex.searchTopK(spark, p,
      Seq("a", "b"), k = 3, idColName = "doc_id"))
    val want = top(path)
    // snapshot the 2-segment state, compact the original, then graft
    // the merged segment + manifest into the snapshot: EXACTLY the
    // state a crash after the merged commit but before the input
    // deletes leaves behind
    val snap = tmp("graft-idx-heal-snap")
    copyDir(new java.io.File(path), new java.io.File(snap))
    InvertedIndex.compact(spark, path)
    val merged = segDirs(path).head.getName
    copyDir(new java.io.File(s"$path/segments/$merged"),
      new java.io.File(s"$snap/segments/$merged"))
    val inputs = segDirs(snap).map(_.getName).filterNot(_ == merged)
    Manifest.write(hadoopFs(snap),
      new org.apache.hadoop.fs.Path(s"$snap/compacting"),
      s"segments/$merged" +: inputs.map("segments/" + _))
    // un-healed, every posting and every stats moment exists twice
    assert(segDirs(snap).length == 3)
    // heal replays the interrupted deletes; answers return to truth
    InvertedIndex.heal(spark, snap)
    assert(segDirs(snap).map(_.getName) == Seq(merged))
    assert(!new java.io.File(s"$snap/compacting").exists)
    assert(top(snap) == want)
    // the other crash window: manifest names a merged segment that
    // never committed — heal drops the partial dir, inputs survive
    val path2 = tmp("graft-idx-heal2")
    InvertedIndex.build(docs, "doc_id", "text", path2)
    val keep = segDirs(path2).map(_.getName)
    new java.io.File(s"$path2/segments/seg-partial/postings").mkdirs()
    Manifest.write(hadoopFs(path2),
      new org.apache.hadoop.fs.Path(s"$path2/compacting"),
      "segments/seg-partial" +: keep.map("segments/" + _))
    InvertedIndex.heal(spark, path2)
    assert(segDirs(path2).map(_.getName) == keep)
    assert(top(path2).nonEmpty)
  }

  test("ingest ledger survives compaction: a replayed batch does not re-append") {
    val b0 = Seq((1L, "alpha beta"), (2L, "beta delta")).toDF("doc_id", "text")
    val b1 = Seq((3L, "alpha delta delta")).toDF("doc_id", "text")
    val path = tmp("graft-idx-ledger")
    InvertedIndex.ingestBatch(b0, "doc_id", "text", path, batchId = 0L)
    InvertedIndex.ingestBatch(b1, "doc_id", "text", path, batchId = 1L)
    def top() = topDocs(InvertedIndex.searchTopK(spark, path,
      Seq("alpha", "delta"), k = 3, idColName = "doc_id"))
    val want = top()
    // crash AFTER the segment commit but BEFORE the marker (this
    // window precedes any compaction of the segment): the replay
    // rewrites the segment in place and repairs the marker
    new java.io.File(s"$path/ingested/batch-1").delete()
    InvertedIndex.ingestBatch(b1, "doc_id", "text", path, batchId = 1L)
    assert(new java.io.File(s"$path/ingested/batch-1").exists)
    assert(segDirs(path).length == 2)
    assert(top() == want)
    InvertedIndex.compact(spark, path)
    assert(segDirs(path).length == 1)
    // batch 1's segment was renamed away by the compaction; without
    // the ledger this replay would re-append its postings
    InvertedIndex.ingestBatch(b1, "doc_id", "text", path, batchId = 1L)
    assert(segDirs(path).length == 1)
    assert(top() == want)
    // invalid bucket counts are rejected before any write (0 is the
    // auto sentinel since r17-opt; above one md5 byte stays invalid)
    val e = intercept[IllegalArgumentException](
      InvertedIndex.ingestBatch(b0, "doc_id", "text",
        tmp("graft-idx-badbuckets"), batchId = 0L, bucketsIfNew = 300))
    assert(e.getMessage.contains("buckets"))
  }

  test("tombstone deletes: logical == rebuild-without, compact applies physically") {
    val docs = Seq((1L, "a b c"), (2L, "a a d"), (3L, "b c c d"),
      (4L, "c d"), (5L, "")).toDF("doc_id", "text")
    val path = tmp("graft-idx-del")
    InvertedIndex.build(docs.filter(col("doc_id") <= 3), "doc_id", "text", path)
    InvertedIndex.append(docs.filter(col("doc_id") >= 4), "doc_id", "text", path)
    def top(p: String) = topDocs(InvertedIndex.searchTopK(spark, p,
      Seq("c", "d"), k = 5, idColName = "doc_id"))
    // tombstone docs 2 (cross-segment) and 5 (token-free): search must
    // be row-identical to an index that never held them — same df,
    // same n, same avg length (5's len-0 removal shifts avg too)
    InvertedIndex.deleteDocs(Seq(2L, 5L).toDF("id"), path)
    val want = {
      val clean = tmp("graft-idx-del-clean")
      InvertedIndex.build(docs.filter(col("doc_id") =!= 2 &&
        col("doc_id") =!= 5), "doc_id", "text", clean)
      top(clean)
    }
    assert(top(path) == want && want.nonEmpty)
    assert(!want.map(_._1).contains(2L))
    // compact applies the tombstones physically and clears them
    InvertedIndex.compact(spark, path)
    assert(segDirs(path).length == 1)
    assert(Option(new java.io.File(s"$path/deletes").listFiles)
      .toSeq.flatten.isEmpty)
    assert(top(path) == want)
    // the deleted id is truly gone from storage, not just masked
    assert(spark.read.parquet(s"${segDirs(path).head}/postings")
      .filter(col("id") === 2L).count() == 0)
    // contract: unknown and already-tombstoned ids fail loudly
    InvertedIndex.deleteDocs(Seq(3L).toDF("id"), path)
    val e1 = intercept[IllegalArgumentException](
      InvertedIndex.deleteDocs(Seq(3L).toDF("id"), path))
    assert(e1.getMessage.contains("live"))
    val e2 = intercept[IllegalArgumentException](
      InvertedIndex.deleteDocs(Seq(99L).toDF("id"), path))
    assert(e2.getMessage.contains("live"))
    // a crashed deleteDocs (ids written, stats marker missing) is
    // invisible to search
    val before = top(path)
    val crash = new java.io.File(s"$path/deletes/batch-crash/ids")
    crash.mkdirs()
    Seq(1L).toDF("id").write.mode("overwrite").parquet(crash.toString)
    assert(top(path) == before)
    // deleting the last live docs then compacting SKIPS (a CDC stream
    // whose cadence compact lands after a delete-everything batch must
    // not wedge on replay): the logical state stays readable (empty
    // hits), and later ingest revives the index
    InvertedIndex.deleteDocs(Seq(1L, 4L).toDF("id"), path)
    InvertedIndex.compact(spark, path)
    assert(top(path).isEmpty)
    InvertedIndex.ingestBatch(Seq((7L, "x y")).toDF("doc_id", "text"),
      "doc_id", "text", path, batchId = 91)
    assert(topDocs(InvertedIndex.searchTopK(spark, path, Seq("x"), k = 3,
      idColName = "doc_id")).map(_._1) == Seq(7L))
  }

  test("segment-scoped tombstones: upsert resurfaces docs without compact") {
    val docs = Seq((1L, "a b c"), (2L, "a a d"), (3L, "b c c d"))
      .toDF("doc_id", "text")
    val path = tmp("graft-idx-upsert")
    InvertedIndex.build(docs, "doc_id", "text", path)
    def top(p: String) = topDocs(InvertedIndex.searchTopK(spark, p,
      Seq("c", "d"), k = 5, idColName = "doc_id"))
    // upsert: doc 2 gets new content, doc 9 is genuinely new — the
    // tombstone on doc 2 is scoped to the OLD segment only, so its
    // re-ingested posting is live immediately, compact-free
    val up = Seq((2L, "c c c"), (9L, "d d")).toDF("doc_id", "text")
    InvertedIndex.upsertDocs(up, "doc_id", "text", path)
    val want = {
      val clean = tmp("graft-idx-upsert-clean")
      InvertedIndex.build(
        Seq((1L, "a b c"), (2L, "c c c"), (3L, "b c c d"), (9L, "d d"))
          .toDF("doc_id", "text"), "doc_id", "text", clean)
      top(clean)
    }
    assert(top(path) == want && want.map(_._1).contains(2L))
    // the updated doc is deletable again (it is live in the NEW
    // segment), and compact folds everything down to the same answers
    InvertedIndex.compact(spark, path)
    assert(segDirs(path).length == 1)
    assert(top(path) == want)
    InvertedIndex.deleteDocs(Seq(2L).toDF("id"), path)
    val cleanNo2 = tmp("graft-idx-upsert-no2")
    InvertedIndex.build(
      Seq((1L, "a b c"), (3L, "b c c d"), (9L, "d d"))
        .toDF("doc_id", "text"), "doc_id", "text", cleanNo2)
    assert(top(path) == top(cleanNo2))
    // upserting ONLY new ids (no live overlap) takes the append-only
    // path and still answers correctly
    InvertedIndex.upsertDocs(Seq((11L, "c d c")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val cleanPlus = tmp("graft-idx-upsert-plus")
    InvertedIndex.build(
      Seq((1L, "a b c"), (3L, "b c c d"), (9L, "d d"), (11L, "c d c"))
        .toDF("doc_id", "text"), "doc_id", "text", cleanPlus)
    assert(top(path) == top(cleanPlus))
  }

  test("upsert ingest: last arrival wins per id; a retry never masks its own batch") {
    val path = tmp("graft-idx-cdc")
    val b0 = Seq((1L, "a b c"), (2L, "a a d")).toDF("doc_id", "text")
    val b1 = Seq((2L, "c c c"), (3L, "b d")).toDF("doc_id", "text")
    InvertedIndex.ingestUpsertBatch(b0, "doc_id", "text", path, batchId = 0L)
    InvertedIndex.ingestUpsertBatch(b1, "doc_id", "text", path, batchId = 1L)
    def top(p: String) = topDocs(InvertedIndex.searchTopK(spark, p,
      Seq("c", "d"), k = 5, idColName = "doc_id"))
    val want = {
      val clean = tmp("graft-idx-cdc-clean")
      InvertedIndex.build(
        Seq((1L, "a b c"), (2L, "c c c"), (3L, "b d")).toDF("doc_id", "text"),
        "doc_id", "text", clean)
      top(clean)
    }
    assert(top(path) == want && want.map(_._1).contains(2L))
    // THE window this design exists for: crash after batch 1's segment
    // committed but before its marker — the retry must NOT see its own
    // previous attempt's docs as upsert targets (tombstoning them in
    // seg-batch-1 and then rewriting it would mask the whole batch)
    assert(new java.io.File(s"$path/ingested/batch-1").delete())
    InvertedIndex.ingestUpsertBatch(b1, "doc_id", "text", path, batchId = 1L)
    assert(top(path) == want)
    assert(new java.io.File(s"$path/ingested/batch-1").exists)
    // marked batches are skipped outright (post-compaction replays)
    InvertedIndex.compact(spark, path)
    InvertedIndex.ingestUpsertBatch(b1, "doc_id", "text", path, batchId = 1L)
    assert(segDirs(path).length == 1)
    assert(top(path) == want)
  }

  test("a batch with duplicate ids is rejected before any write") {
    val path = tmp("graft-idx-dup")
    val dup = Seq((1L, "a b"), (1L, "a c"), (2L, "d")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      InvertedIndex.build(dup, "doc_id", "text", path))
    assert(e.getMessage.contains("duplicate ids"))
    // nothing half-written: the index stays absent
    assert(!new java.io.File(s"$path/segments").exists ||
      segDirs(path).isEmpty)
    // the CDC ingest path hits the same guard
    val e2 = intercept[IllegalArgumentException](
      InvertedIndex.ingestUpsertBatch(dup, "doc_id", "text", path,
        batchId = 0L))
    assert(e2.getMessage.contains("duplicate ids"))
  }

  test("stats() reports the live corpus; termStats is tombstone-adjusted") {
    val docs = Seq((1L, "a b c"), (2L, "a a d"), (3L, "b c"), (4L, ""))
      .toDF("doc_id", "text")
    val path = tmp("graft-idx-stats-api")
    InvertedIndex.build(docs, "doc_id", "text", path)
    InvertedIndex.append(Seq((5L, "a d")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    InvertedIndex.deleteDocs(Seq(2L, 4L).toDF("id"), path)
    val st = InvertedIndex.stats(spark, path).head()
    // live: docs 1, 3, 5 — lens 3 + 2 + 2 (the token-free doc 4 and
    // doc 2 subtracted exactly)
    assert(st.getAs[Long]("n_docs") == 3L)
    assert(st.getAs[Double]("sum_len") == 7.0)
    assert(st.getAs[Int]("segments") == 2 &&
      st.getAs[Int]("tombstone_batches") == 1)
    val df = InvertedIndex.termStats(spark, path, Seq("a", "d", "zz"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // "a": docs 1, 5 (2's two copies are dead); "d": doc 5 only;
    // "zz": absent entirely
    assert(df == Map("a" -> 2L, "d" -> 1L))
    // compaction changes structure, never the answers
    InvertedIndex.compact(spark, path)
    val st2 = InvertedIndex.stats(spark, path).head()
    assert(st2.getAs[Long]("n_docs") == 3L &&
      st2.getAs[Double]("sum_len") == 7.0 &&
      st2.getAs[Int]("segments") == 1 &&
      st2.getAs[Int]("tombstone_batches") == 0)
  }

  test("randomized CDC lifecycle differential: index == rebuild of the final state") {
    // a seeded sequence of upserts, deletes, and compactions applied
    // BOTH to the index and to a plain Map; at checkpoints the index
    // must answer exactly like one built fresh from the Map — the
    // differential covers tombstone-scope interactions (delete after
    // upsert after compact after delete ...) no enumerated spec does
    val rnd = new scala.util.Random(42)
    val pool = Vector("a", "b", "c", "d", "e", "f")
    def text() = Seq.fill(1 + rnd.nextInt(6))(pool(rnd.nextInt(pool.size)))
      .mkString(" ")
    val path = tmp("graft-idx-fuzz")
    var state = (1L to 8L).map(id => id -> text()).toMap
    InvertedIndex.build(state.toSeq.toDF("doc_id", "text"),
      "doc_id", "text", path)
    def check(): Unit = {
      val clean = tmp("graft-idx-fuzz-clean")
      InvertedIndex.build(state.toSeq.toDF("doc_id", "text"),
        "doc_id", "text", clean)
      val terms = Seq("a", "c", "e")
      assert(
        topDocs(InvertedIndex.searchTopK(spark, path, terms, k = 30,
          idColName = "doc_id")) ==
        topDocs(InvertedIndex.searchTopK(spark, clean, terms, k = 30,
          idColName = "doc_id")))
      assert(InvertedIndex.stats(spark, path).head()
        .getAs[Long]("n_docs") == state.size)
    }
    for (step <- 1 to 16) {
      rnd.nextInt(5) match {
        case 0 => // upsert 1-3 docs: mix of updates and brand-new ids
          val ids = rnd.shuffle((1L to 16L).toList).take(1 + rnd.nextInt(3))
          val batch = ids.map(id => id -> text())
          InvertedIndex.upsertDocs(batch.toDF("doc_id", "text"),
            "doc_id", "text", path)
          state = state ++ batch
        case 1 => // the STREAMING upsert face, with random replay
          // injection: re-running the batch (sometimes with its ledger
          // marker crashed away first) must be a no-op on the answers
          val ids = rnd.shuffle((1L to 16L).toList).take(1 + rnd.nextInt(3))
          val batch = ids.map(id => id -> text())
          val df = batch.toDF("doc_id", "text")
          InvertedIndex.ingestUpsertBatch(df, "doc_id", "text", path,
            batchId = 1000L + step)
          state = state ++ batch
          if (rnd.nextBoolean()) {
            if (rnd.nextBoolean())
              assert(new java.io.File(
                s"$path/ingested/batch-${1000 + step}").delete(),
                "ledger marker vanished — the crashed-replay branch " +
                  "would silently stop being exercised")
            InvertedIndex.ingestUpsertBatch(df, "doc_id", "text", path,
              batchId = 1000L + step)
          }
        case 2 => // delete 1-2 live docs (keep at least one alive)
          val live = state.keys.toList.sorted
          if (live.size > 2) {
            val ids = rnd.shuffle(live).take(1 + rnd.nextInt(2))
            InvertedIndex.deleteDocs(ids.toDF("id"), path)
            state = state -- ids
          }
        case 3 =>
          InvertedIndex.compact(spark, path)
        case 4 => // the FULL CDC face: one op-typed batch mixing
          // upserts with deletes, with the same random replay
          // injection as the upsert arm
          val ids = rnd.shuffle((1L to 16L).toList).take(2 + rnd.nextInt(3))
          val (delIds, upIds) = ids.splitAt(
            if (state.size > 2) rnd.nextInt(2) else 0)
          val ups = upIds.map(id => id -> text())
          val events = (ups.map { case (id, t) => (id, t, "upsert") } ++
            delIds.map(id => (id, "", "delete")))
            .toDF("doc_id", "text", "op")
          InvertedIndex.ingestCdcBatch(events, "doc_id", "text", "op",
            path, batchId = 2000L + step)
          state = state ++ ups -- delIds
          if (rnd.nextBoolean()) {
            if (rnd.nextBoolean())
              assert(new java.io.File(
                s"$path/ingested/batch-${2000 + step}").delete(),
                "ledger marker vanished — the crashed-replay branch " +
                  "would silently stop being exercised")
            InvertedIndex.ingestCdcBatch(events, "doc_id", "text", "op",
              path, batchId = 2000L + step)
          }
      }
      if (step % 4 == 0) check()
    }
    check()
  }

  test("CDC batch: delete events tombstone, non-live deletes no-op, contracts loud") {
    val path = tmp("graft-idx-cdc")
    InvertedIndex.build(Seq((1L, "alpha beta"), (2L, "alpha gamma"),
      (3L, "beta gamma")).toDF("doc_id", "text"), "doc_id", "text", path)
    // mixed batch: update doc 1, delete doc 2, insert doc 4
    InvertedIndex.ingestCdcBatch(Seq((1L, "alpha delta", "upsert"),
        (2L, "", "delete"), (4L, "beta beta", "upsert"))
      .toDF("doc_id", "text", "op"), "doc_id", "text", "op", path, 0L)
    def alive(): Seq[Long] = InvertedIndex
      .searchTopK(spark, path, Seq("alpha", "beta", "gamma", "delta"),
        k = 10, idColName = "doc_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(alive() == Seq(1L, 3L, 4L))
    assert(InvertedIndex.stats(spark, path).head()
      .getAs[Long]("n_docs") == 3)
    // delete-only batch: kills doc 3; its second delivery (marker
    // present) is a no-op, and a REPLAY with the marker crashed away
    // finds doc 3 no longer live and must no-op too (ES's
    // delete-of-missing is a 404, not a failure — and that tolerance
    // is exactly what makes the crash window idempotent)
    val delOnly = Seq((3L, "", "delete")).toDF("doc_id", "text", "op")
    InvertedIndex.ingestCdcBatch(delOnly, "doc_id", "text", "op", path, 1L)
    assert(alive() == Seq(1L, 4L))
    InvertedIndex.ingestCdcBatch(delOnly, "doc_id", "text", "op", path, 1L)
    assert(new java.io.File(s"$path/ingested/batch-1").delete())
    InvertedIndex.ingestCdcBatch(delOnly, "doc_id", "text", "op", path, 1L)
    assert(alive() == Seq(1L, 4L))
    assert(InvertedIndex.stats(spark, path).head()
      .getAs[Long]("n_docs") == 2)
    // contracts: two events for one id, and an unknown op, both loud
    val dup = intercept[IllegalArgumentException](
      InvertedIndex.ingestCdcBatch(Seq((5L, "x", "upsert"),
          (5L, "", "delete")).toDF("doc_id", "text", "op"),
        "doc_id", "text", "op", path, 9L))
    assert(dup.getMessage.contains("ONE event per id"))
    val bad = intercept[IllegalArgumentException](
      InvertedIndex.ingestCdcBatch(Seq((6L, "x", "insert"))
          .toDF("doc_id", "text", "op"),
        "doc_id", "text", "op", path, 9L))
    assert(bad.getMessage.contains("upsert, delete"))
    // neither failed batch may have marked itself ingested
    assert(!new java.io.File(s"$path/ingested/batch-9").exists())
  }

  test("batched search == per-query searchTopK, on both term-membership paths") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-batch")
    InvertedIndex.build(docs, "doc_id", "text", path)
    InvertedIndex.deleteDocs(
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"), path)
    val qs = Seq(
      (10L, Seq("stream", "filter", "join")),
      (20L, Seq("spark", "hash")),
      (30L, Seq("vector", "spark", "filter")),
      (40L, Seq("zzznosuchterm")))
    val queries = qs.toDF("q_id", "terms")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    // the IN-pushdown path (few distinct terms) and the semi-join path
    // (cap forced to 0) must both equal the per-query serving loop;
    // tombstones live so the df/stats adjustment is in play
    val push = rows(InvertedIndex.searchTopKBatch(queries, path, k = 10,
      idColName = "doc_id"))
    val semi = rows(InvertedIndex.searchTopKBatch(queries, path, k = 10,
      idColName = "doc_id", maxPushdownTerms = 0))
    val loop = qs.flatMap { case (qid, terms) =>
      if (terms.head.startsWith("zzz")) Nil
      else InvertedIndex.searchTopK(spark, path, terms, k = 10,
          idColName = "doc_id").collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1L, r.getLong(0), r.getDouble(1)) }
    }
    assert(push == loop)
    assert(semi == loop)
    // the matchless query has no rows — ES's empty hits, not an error
    assert(!push.exists(_._1 == 40L))
    assert(push.nonEmpty)
  }

  test("compacted lens ledger is id-bucketed; upsert and delete probes read it co-located") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .limit(400).localCheckpoint(true)
    val path = tmp("graft-idx-lensbkt")
    InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    InvertedIndex.compact(spark, path, lensBuckets = 8)
    assert(segDirs(path).length == 1)
    val seg = segDirs(path).head
    assert(new java.io.File(s"$seg/lens/_bucket_spec.json").exists,
      "compaction did not write the lens ledger bucketed")

    // capture every action of one upsert batch and one delete batch —
    // the two paths whose per-batch O(index) lens probe the bucketed
    // ledger exists for — and assert the lens scan reaches its
    // semi-join without an Exchange
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
      val upd = docs.limit(5)
        .select(col("doc_id"), concat(col("text"), lit(" updated")).as("text"))
      InvertedIndex.upsertDocs(upd, "doc_id", "text", path)
      InvertedIndex.deleteDocs(
        docs.orderBy(col("doc_id").desc).limit(3).select("doc_id"), path)
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
        s"expected the upsert AND delete lens probes to read bucketed, saw $checked")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bb)
      spark.listenerManager.unregister(listener)
    }
    // the lifecycle stays correct through the bucketed ledger: updated
    // docs resurface, deleted docs vanish, stats match a fresh rebuild
    // of the same final corpus
    val deleted = docs.orderBy(col("doc_id").desc).limit(3)
      .select("doc_id").as[Long].collect().toSet
    val finalCorpus = docs.select("doc_id", "text")
      .join(docs.limit(5).select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(docs.limit(5).select(col("doc_id"),
        concat(col("text"), lit(" updated")).as("text")))
      .filter(!col("doc_id").isin(deleted.toSeq: _*))
    val ref = tmp("graft-idx-lensbkt-ref")
    InvertedIndex.build(finalCorpus, "doc_id", "text", ref)
    val terms = Seq("spark", "updated", "filter")
    assert(topDocs(InvertedIndex.searchTopK(spark, path, terms,
      k = 10, idColName = "doc_id")) ==
      topDocs(InvertedIndex.searchTopK(spark, ref, terms,
        k = 10, idColName = "doc_id")))
  }

  test("stats count every doc, including token-free ones; moments are additive") {
    val docs = Seq((1L, "x x y"), (2L, ""), (3L, "y")).toDF("doc_id", "text")
    val path = tmp("graft-idx-stats")
    InvertedIndex.build(docs, "doc_id", "text", path)
    // stats are a driver-side JSON sidecar (r17-opt layout)
    val doc = org.json4s.jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"${segDirs(path).head}/stats/doc.json")),
      java.nio.charset.StandardCharsets.UTF_8))
    assert((doc \ "n") == org.json4s.JDouble(3.0))
    // sum_len over ALL docs: 3 + 0 + 1
    assert((doc \ "sum_len") == org.json4s.JDouble(4.0))
    // empty doc contributes no postings
    assert(spark.read.parquet(s"${segDirs(path).head}/postings")
      .filter(col("id") === 2L).count() == 0)
  }

  test("positional index: phraseSearch == scan matchPhrase across " +
    "append/delete/compact; non-positional refuses; BM25 unchanged") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-pos")
    def scanIds(corpus: org.apache.spark.sql.DataFrame): Seq[Long] =
      corpus.where(graft.functions.EsMatch.matchPhrase(col("text"),
          "the fast"))
        .select("doc_id").orderBy("doc_id").collect()
        .map(_.getLong(0)).toSeq
    def idxIds(): Seq[Long] =
      InvertedIndex.phraseSearch(spark, path, Seq("the", "fast"),
          idColName = "doc_id")
        .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    // two segments: the flag must survive append (read from stats)
    InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path, positions = true)
    InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path)
    val full = scanIds(docs)
    assert(full.nonEmpty && idxIds() == full)
    // single-term and no-match phrases behave
    assert(InvertedIndex.phraseSearch(spark, path, Seq("the"),
      idColName = "doc_id").count() ==
      docs.where(graft.functions.EsMatch.matchAny(col("text"), "the"))
        .count())
    assert(InvertedIndex.phraseSearch(spark, path,
      Seq("fast", "zzzznope"), idColName = "doc_id").count() == 0)
    // a streaming ingest batch INHERITS the positional flag from the
    // existing segments (the stats-ride rule), so a stream over a
    // positional build keeps serving phrases over new docs
    InvertedIndex.ingestBatch(
      Seq((777001L, "xq the fast yq")).toDF("doc_id", "text"),
      "doc_id", "text", path, batchId = 424242)
    assert(idxIds().contains(777001L),
      "an ingested batch's phrase occurrences must be searchable")
    InvertedIndex.deleteDocs(Seq(777001L).toDF("doc_id"), path)
    assert(idxIds() == full)
    // tombstones subtract from phrase results too
    val dead = full.take(3)
    InvertedIndex.deleteDocs(dead.toDF("doc_id"), path)
    assert(idxIds() == full.drop(3))
    // BM25 search over the positional index matches the scan (the
    // pos column must be invisible to scoring)
    val viaIndex = topDocs(InvertedIndex.searchTopK(spark, path,
      Seq("stream", "filter"), k = 10, idColName = "doc_id"))
    val viaScan = topDocs(Ranking.bm25TopK(
      docs.join(dead.toDF("doc_id"), Seq("doc_id"), "left_anti"),
      "doc_id", "text", Seq("stream", "filter"), k = 10))
    assert(viaIndex == viaScan)
    // compaction keeps the flag and the answers
    InvertedIndex.compact(spark, path)
    assert(idxIds() == full.drop(3))
    // the phrase read prunes postings bucket DIRECTORIES at planning
    // time, exactly like searchTopK (two terms → at most two buckets
    // of the 64 survive per scan)
    val df = InvertedIndex.phraseSearch(spark, path, Seq("the", "fast"),
      idColName = "doc_id")
    df.collect()
    val scans = graft.PlanCheck.flatten(df.queryExecution.executedPlan)
      .collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec if
          s.relation.location.rootPaths
            .exists(_.toString.contains("postings")) => s
      }
    assert(scans.nonEmpty, "no postings scan found in the phrase plan")
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        s"no partition filter on the postings scan:\n$s")
      assert(s.selectedPartitions.partitionCount <= 2,
        s"expected <= 2 pruned bucket dirs, scanned " +
          s"${s.selectedPartitions.partitionCount}")
    }
    // a non-positional index refuses loudly
    val plain = tmp("graft-idx-nopos")
    InvertedIndex.build(docs, "doc_id", "text", plain)
    assert(intercept[IllegalArgumentException] {
      InvertedIndex.phraseSearch(spark, plain, Seq("the", "fast"))
    }.getMessage.contains("positions"))
  }

  test("phraseSearchTopK matches the hand-computed phrase-BM25 model") {
    val tiny = Seq(
      (1L, "a b a b a b"), // phrase "a b" x3, len 6
      (2L, "a b c"),       // x1, len 3
      (3L, "b a"),         // 0 — order matters
      (4L, "a a b")        // x1 (overlap-free), len 3
    ).toDF("doc_id", "text")
    val path = tmp("graft-idx-pscore")
    InvertedIndex.build(tiny, "doc_id", "text", path, positions = true)
    val got = InvertedIndex.phraseSearchTopK(spark, path, Seq("a", "b"),
        k = 10, idColName = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N = 4, df(a) = 4, df(b) = 4, avg len = (6+3+2+3)/4
    val n = 4.0; val avg = 14.0 / 4
    val idf = 2.0 * math.log(1.0 + (n - 4.0 + 0.5) / (4.0 + 0.5))
    def score(ptf: Double, dl: Double) = BigDecimal(
        idf * ptf * 2.2 / (ptf + 1.2 * (1 - 0.75 + 0.75 * dl / avg)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet == Set(1L, 2L, 4L), got.toString)
    assert(got(1L) == score(3, 6) && got(2L) == score(1, 3) &&
      got(4L) == score(1, 3), got.toString)
    // more phrase occurrences outrank fewer (saturating, still
    // monotone)
    assert(got(1L) > got(2L))
  }

  test("sloppy phrase: anchored counting, transposition costs 2 " +
      "(Lucene's two-moves rule), slop 0 == exact") {
    val tiny = Seq(
      (1L, "a x b"),       // a..b gap 1: slop >= 1 hits, exact misses
      (2L, "b a"),         // transposed: adjacent swap costs 2 moves
      (3L, "a b"),         // exact
      (4L, "a b a b"),     // two anchored matches at any slop
      (5L, "a x x x b")    // gap 3: needs slop >= 3
    ).toDF("doc_id", "text")
    val path = tmp("graft-idx-sloppy")
    InvertedIndex.build(tiny, "doc_id", "text", path, positions = true)
    def ids(slop: Int): Set[Long] =
      InvertedIndex.phraseSearchTopK(spark, path, Seq("a", "b"),
        k = 10, idColName = "doc_id", slop = slop)
        .collect().map(_.getLong(0)).toSet
    assert(ids(0) == Set(3L, 4L))
    assert(ids(1) == Set(1L, 3L, 4L))      // swap needs 2, not 1
    assert(ids(2) == Set(1L, 2L, 3L, 4L))  // transposed doc 2 enters
    assert(ids(3) == Set(1L, 2L, 3L, 4L, 5L))
    // slop 0 scores are identical to the default exact path
    val exact = InvertedIndex.phraseSearchTopK(spark, path,
      Seq("a", "b"), k = 10, idColName = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val zero = InvertedIndex.phraseSearchTopK(spark, path,
      Seq("a", "b"), k = 10, idColName = "doc_id", slop = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(exact == zero)
    // doc 4 anchors TWO sloppy matches — its tf (and score) exceeds
    // the single-anchor docs of equal length... compare same-length
    // doc 3 (1 anchor, len 2) vs nothing directly; just pin tf order
    // via the monotone score on equal-length docs 1 vs 5 at slop 3
    intercept[IllegalArgumentException] {
      InvertedIndex.phraseSearchTopK(spark, path, Seq("a", "b"),
        k = 10, slop = -1)
    }
    // repeated phrase terms need DISTINCT occurrences: "a a" cannot
    // match by reusing one position — only doc 4 carries two a's
    // (0 and 2: adjusted 0 and 1, range 1 → slop >= 1)
    def idsAA(slop: Int): Set[Long] =
      InvertedIndex.phraseSearchTopK(spark, path, Seq("a", "a"),
        k = 10, idColName = "doc_id", slop = slop)
        .collect().map(_.getLong(0)).toSet
    assert(idsAA(0).isEmpty)
    assert(idsAA(1) == Set(4L))
    assert(idsAA(3) == Set(4L))
  }

  test("a segment whose stats are a parquet table (an older layout) is " +
      "refused by search and by append, naming the dir") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-oldstats")
    InvertedIndex.build(docs.filter(col("doc_id") % 2 === 0),
      "doc_id", "text", path)
    // fabricate a segment in the layout older builds wrote: a one-row
    // parquet stats table with its committer's _SUCCESS, no doc.json
    val seg = segDirs(path).head.toString
    Seq((1.0, 1.0, 8)).toDF("n", "sum_len", "buckets")
      .write.mode("overwrite").parquet(s"$seg/stats")
    def refused(body: => Any): Unit = {
      val msg = intercept[IllegalStateException](body).getMessage
      assert(msg.contains(s"$seg/stats") &&
        msg.contains("older graft layout") && msg.contains("build()"), msg)
    }
    refused(InvertedIndex.searchTopK(spark, path, Seq("spark", "hash"),
      k = 15, idColName = "doc_id"))
    refused(InvertedIndex.append(docs.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", path))
    // the refused append wrote no segment
    assert(segDirs(path).size == 1)
  }

  test("query-term lowercasing is locale-independent (Turkish-I safe)") {
    // index tokens are lowered by Spark's locale-independent lower();
    // the query side must use Locale.ROOT or a Turkish-default JVM
    // maps 'I' -> 'ı' and every uppercase query silently misses.
    // NOTE: this test mutates the JVM-GLOBAL default locale for its
    // window (restored in the finally). Suites run sequentially here
    // (no parallelExecution); if test-level parallelism is ever
    // enabled, this test must be excluded from it — concurrent tests
    // would observe tr-TR.
    val tiny = Seq((1L, "INDEX scan PHRASE INDEX scan"),
      (2L, "other words here")).toDF("doc_id", "text")
    val path = tmp("graft-idx-locale")
    InvertedIndex.build(tiny, "doc_id", "text", path, positions = true)
    val prev = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(new java.util.Locale("tr", "TR"))
      assert(InvertedIndex.phraseSearch(spark, path,
        Seq("INDEX", "SCAN"), idColName = "doc_id")
        .collect().map(_.getLong(0)).toSeq == Seq(1L))
      assert(InvertedIndex.phraseSearchTopK(spark, path,
        Seq("INDEX", "SCAN"), k = 5, idColName = "doc_id").count() == 1)
      assert(InvertedIndex.searchTopK(spark, path, Seq("INDEX"), k = 5,
        idColName = "doc_id").count() == 1)
      assert(InvertedIndex.termStats(spark, path, Seq("INDEX"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        == Map("index" -> 1L))
    } finally java.util.Locale.setDefault(prev)
  }

  test("fuzzy search: deletion-dictionary resolution = brute levenshtein " +
    "over the vocabulary; typo'd query equals the corrected search") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-fuzzy")
    InvertedIndex.build(docs, "doc_id", "text", path)
    InvertedIndex.buildFuzzyDictionary(spark, path)
    // brute resolution: every vocab term within lev <= 1 of the typos
    val vocab = docs
      .select(explode(graft.functions.TextAnalysis.tokens(col("text")))
        .as("t")).distinct()
    val brute = vocab
      .filter(levenshtein(col("t"), lit("streem")) <= 1 ||
        levenshtein(col("t"), lit("filtir")) <= 1)
      .collect().map(_.getString(0)).toSeq.sorted
    assert(brute.contains("stream") && brute.contains("filter"), brute)
    val fuzzy = topDocs(InvertedIndex.fuzzySearchTopK(spark, path,
      Seq("streem", "filtir"), k = 10, idColName = "doc_id"))
    val direct = topDocs(InvertedIndex.searchTopK(spark, path,
      brute, k = 10, idColName = "doc_id"))
    assert(fuzzy == direct)
    assert(fuzzy.nonEmpty)
    // substitution / insertion / deletion all resolve (the three
    // pigeonhole cases): "stream" reachable from each typo class
    for (typo <- Seq("stresm", "streams", "strea")) {
      val r = topDocs(InvertedIndex.fuzzySearchTopK(spark, path,
        Seq(typo), k = 5, idColName = "doc_id"))
      assert(r.nonEmpty, s"typo '$typo' resolved nothing")
    }
    // a query with no vocabulary neighbor is a no-match, not an error
    assert(InvertedIndex.fuzzySearchTopK(spark, path,
      Seq("zzzzqqqq"), k = 5, idColName = "doc_id").count() == 0)
    // missing dictionary refuses loudly
    val bare = tmp("graft-idx-fuzzy-bare")
    InvertedIndex.build(docs.limit(5), "doc_id", "text", bare)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.fuzzySearchTopK(spark, bare, Seq("streem"), k = 5)
    }
    assert(e.getMessage.contains("fuzzy dictionary"), e.getMessage)
  }

  test("cross-index search == one index over the union corpus; mixed " +
      "analyzers refuse; tombstones stay per-index") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val a = tmp("graft-idx-multi-a"); val b = tmp("graft-idx-multi-b")
    InvertedIndex.build(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", a, buckets = 64)
    InvertedIndex.build(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", b, buckets = 32)
    val flat = tmp("graft-idx-multi-flat")
    InvertedIndex.build(docs, "doc_id", "text", flat)
    val terms = Seq("stream", "filter", "join")
    val multi = topDocs(InvertedIndex.searchTopKIndices(spark,
      Seq(a, b), terms, k = 12, idColName = "doc_id"))
    val one = topDocs(InvertedIndex.searchTopK(spark, flat, terms,
      k = 12, idColName = "doc_id"))
    assert(multi == one && multi.nonEmpty)
    // a delete in ONE index adjusts the merged stats and df
    InvertedIndex.deleteDocs(
      docs.filter($"doc_id" % 10 === 0).select("doc_id"), a)
    val flat2 = tmp("graft-idx-multi-flat2")
    InvertedIndex.build(docs.filter($"doc_id" % 10 =!= 0),
      "doc_id", "text", flat2)
    assert(topDocs(InvertedIndex.searchTopKIndices(spark, Seq(a, b),
        terms, k = 12, idColName = "doc_id"))
      == topDocs(InvertedIndex.searchTopK(spark, flat2, terms,
        k = 12, idColName = "doc_id")))
    // analyzer mismatch refuses loudly
    val en = tmp("graft-idx-multi-en")
    InvertedIndex.build(docs.limit(10), "doc_id", "text", en,
      analyzer = "english")
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.searchTopKIndices(spark, Seq(a, en), terms, k = 5)
    }
    assert(e.getMessage.contains("mix analyzers"), e.getMessage)
  }

  test("term suggester: suggest_mode missing/popular/always over live " +
      "df; the input term never suggests itself") {
    val corpus = Seq((1L, "cat hat"), (2L, "cat bat"),
      (3L, "cat"), (4L, "hat")).toDF("doc_id", "text")
    val path = tmp("graft-idx-suggest")
    InvertedIndex.build(corpus, "doc_id", "text", path)
    InvertedIndex.buildFuzzyDictionary(spark, path)
    def sug(t: String, mode: String) =
      InvertedIndex.suggestTerms(spark, path, t, k = 5, mode = mode)
        .collect().map(r =>
          (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    // df: cat 3, hat 2, bat 1
    assert(sug("cat", "missing").isEmpty)       // cat exists -> nothing
    assert(sug("cat", "always") ==
      Seq(("hat", 2L, 1), ("bat", 1L, 1)))      // df desc
    assert(sug("cat", "popular").isEmpty)       // nothing beats df 3
    assert(sug("bat", "popular") ==
      Seq(("cat", 3L, 1), ("hat", 2L, 1)))      // strictly more popular
    assert(sug("cut", "missing") == Seq(("cat", 3L, 1))) // a real typo
    assert(sug("zzz", "missing").isEmpty)       // no neighbors
    intercept[IllegalArgumentException](sug("cat", "sometimes"))
    // tombstoned docs leave the df (a dead term never suggests)
    InvertedIndex.deleteDocs(Seq(2L).toDF("doc_id"), path)
    assert(sug("cut", "missing") == Seq(("cat", 2L, 1)))
  }

  test("fuzzy dictionary staleness: an append since the build fails " +
      "loudly instead of silently missing the new vocabulary") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    val path = tmp("graft-idx-fuzzy-stale")
    InvertedIndex.build(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", path)
    InvertedIndex.buildFuzzyDictionary(spark, path)
    // still fresh: resolves fine
    assert(InvertedIndex.fuzzySearchTopK(spark, path, Seq("streem"),
      k = 5, idColName = "doc_id").count() > 0)
    // tombstones don't change the segment set — the safe-direction
    // staleness (over-generated candidates score as nothing) passes
    InvertedIndex.deleteDocs(
      docs.filter($"doc_id" % 10 === 0).select("doc_id"), path)
    assert(InvertedIndex.fuzzySearchTopK(spark, path, Seq("streem"),
      k = 5, idColName = "doc_id").count() > 0)
    // an APPEND adds vocabulary the dictionary cannot resolve → loud
    InvertedIndex.append(docs.filter($"doc_id" % 2 === 1),
      "doc_id", "text", path)
    val e = intercept[IllegalArgumentException] {
      InvertedIndex.fuzzySearchTopK(spark, path, Seq("streem"), k = 5)
    }
    assert(e.getMessage.contains("STALE"), e.getMessage)
    // rebuild clears it
    InvertedIndex.buildFuzzyDictionary(spark, path)
    assert(InvertedIndex.fuzzySearchTopK(spark, path, Seq("streem"),
      k = 5, idColName = "doc_id").count() > 0)
  }

  test("more_like_this: selection (minTermFreq/minDocFreq/" +
      "maxQueryTerms/6dp-tie), msm cut, like-doc exclusion, empty " +
      "selection is empty not an error") {
    val corpus = Seq(
      (1L, "alpha alpha beta gamma"),
      (2L, "alpha beta"),
      (3L, "alpha delta"),
      (4L, "gamma gamma"),
      (5L, "epsilon"),
      (6L, "alpha beta gamma")).toDF("doc_id", "text")
    val path = tmp("graft-idx-mlt")
    InvertedIndex.build(corpus, "doc_id", "text", path)
    // like doc 1: only "alpha" reaches tf >= 2; df(alpha) = 4
    val like1 = "alpha alpha beta gamma"
    val r1 = InvertedIndex.moreLikeThisTopK(spark, path, like1, k = 10,
        idColName = "doc_id", maxQueryTerms = 25, minTermFreq = 2,
        minDocFreq = 2, minShouldMatchPct = 30, excludeId = Some(1L))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(r1 == Seq(2L, 3L, 6L), r1)
    // synthetic like text: alpha/beta/gamma all at tf 2; df alpha 4,
    // beta 3, gamma 3 -> top-2 by tf*idf = {beta, gamma} (alpha's
    // bigger df loses; beta/gamma tie 6dp-equal, kept together by the
    // cut); msm 100% -> docs holding BOTH
    val like2 = "alpha alpha beta beta gamma gamma"
    val r2 = InvertedIndex.moreLikeThisTopK(spark, path, like2, k = 10,
        idColName = "doc_id", maxQueryTerms = 2, minTermFreq = 2,
        minDocFreq = 3, minShouldMatchPct = 100)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(r2 == Seq(1L, 6L), r2)
    // like-doc exclusion drops results, never df
    val r3 = InvertedIndex.moreLikeThisTopK(spark, path, like2, k = 10,
        idColName = "doc_id", maxQueryTerms = 2, minTermFreq = 2,
        minDocFreq = 3, minShouldMatchPct = 100, excludeId = Some(1L))
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(r3 == Seq(6L), r3)
    // nothing frequent enough / vocabulary miss -> empty, typed
    val r4 = InvertedIndex.moreLikeThisTopK(spark, path, "zzz yyy",
      k = 5, idColName = "doc_id")
    assert(r4.columns.toSeq == Seq("doc_id", "score") && r4.count() == 0)
    val r5 = InvertedIndex.moreLikeThisTopK(spark, path, like1, k = 5,
      idColName = "doc_id", minTermFreq = 99)
    assert(r5.count() == 0)
  }

  test("english analyzer: postings stem, query terms stem, and every " +
      "write path inherits the chain (append/upsert/CDC/compact)") {
    val corpus = Seq(
      (1L, "the filters run fast"),
      (2L, "a filter runs"),
      (3L, "stories of queries"),
      (4L, "story query filter"),
      (5L, "knees and glass")).toDF("doc_id", "text")
    val path = tmp("graft-idx-english")
    InvertedIndex.build(corpus.filter($"doc_id" <= 3),
      "doc_id", "text", path, analyzer = "english")
    InvertedIndex.append(corpus.filter($"doc_id" > 3),
      "doc_id", "text", path)
    // "filters" (query side) finds docs holding "filter" OR "filters"
    val hits = InvertedIndex.searchTopK(spark, path, Seq("filters"),
      k = 10, idColName = "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(hits == Seq(1L, 2L, 4L), hits)
    // df merges surface forms: "queries"/"story" each hit both docs
    val df3 = InvertedIndex.termStats(spark, path, Seq("Queries", "story"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(df3 == Map("query" -> 2L, "story" -> 2L), df3)
    // the chain survives upsert + compact (stats carry the analyzer)
    InvertedIndex.upsertDocs(Seq((2L, "dogs dogs dogs"))
      .toDF("doc_id", "text"), "doc_id", "text", path)
    InvertedIndex.compact(spark, path)
    val afterCompact = InvertedIndex.searchTopK(spark, path, Seq("dog"),
      k = 10, idColName = "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(afterCompact == Seq(2L), afterCompact)
    // "knees" stays "knees" (no over-stem): "knee" must not match
    assert(InvertedIndex.searchTopK(spark, path, Seq("knee"),
      k = 10, idColName = "doc_id").count() == 0)
    assert(InvertedIndex.searchTopK(spark, path, Seq("knees"),
      k = 10, idColName = "doc_id").count() == 1)
    // stats() surfaces nothing new but the index still reads clean
    assert(InvertedIndex.stats(spark, path)
      .select("n_docs").head().getLong(0) == 5L)
    // unknown analyzer refused at build
    val bad = intercept[IllegalArgumentException] {
      InvertedIndex.build(corpus, "doc_id", "text",
        tmp("graft-idx-bad-an"), analyzer = "porter")
    }
    assert(bad.getMessage.contains("unknown analyzer"))
  }

  test("english analyzer: scan bm25TopK(analyzer) == index search; " +
      "batched search Column-side stem == driver-side stem") {
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .withColumn("text", graft.queries.QueryUtil.stemFixtureText(
        col("text"), col("doc_id")))
    val path = tmp("graft-idx-english-diff")
    InvertedIndex.build(docs, "doc_id", "text", path,
      analyzer = "english")
    val terms = Seq("Queries", "dogs", "glass")
    val viaIndex = topDocs(InvertedIndex.searchTopK(spark, path, terms,
      k = 12, idColName = "doc_id"))
    val viaScan = topDocs(Ranking.bm25TopK(docs, "doc_id", "text",
      terms, k = 12, analyzer = "english"))
    assert(viaIndex == viaScan && viaIndex.nonEmpty)
    // the batch face analyzes per-row with the COLUMN stemmer — it
    // must agree with searchTopK's driver-side stemString per query
    val queries = Seq((1L, Seq("Queries", "dogs")), (2L, Seq("stories")))
      .toDF("q_id", "terms")
    val batch = InvertedIndex.searchTopKBatch(queries, path, k = 12,
        idColName = "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    val one = topDocs(InvertedIndex.searchTopK(spark, path,
      Seq("Queries", "dogs"), k = 12, idColName = "doc_id"))
    val two = topDocs(InvertedIndex.searchTopK(spark, path,
      Seq("stories"), k = 12, idColName = "doc_id"))
    assert(batch(1L) == one && batch(2L) == two)
  }

  test("english analyzer: positional phrase search matches stemmed " +
      "adjacency; scan matchPhrase(english) agrees") {
    val corpus = Seq(
      (1L, "fast filters run here"),
      (2L, "the filter runs fast"),
      (3L, "filters walk slowly")).toDF("doc_id", "text")
    val path = tmp("graft-idx-english-pos")
    InvertedIndex.build(corpus, "doc_id", "text", path,
      positions = true, analyzer = "english")
    // phrase "filter run" (analyzed) = consecutive stems — doc 1 has
    // "filters run", doc 2 has "filter runs"; doc 3's next token stems
    // to "walk"
    val viaIndex = InvertedIndex.phraseSearch(spark, path,
      Seq("filter", "runs"), idColName = "doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(viaIndex == Seq(1L, 2L), viaIndex)
    val viaScan = corpus.filter(graft.functions.EsMatch.matchPhrase(
        col("text"), "filter runs", analyzer = "english"))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaScan == viaIndex)
    // scored face agrees with the filter face's doc set
    val scored = InvertedIndex.phraseSearchTopK(spark, path,
      Seq("filters", "run"), k = 10, idColName = "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(scored == viaIndex, scored)
  }

  test("completion suggester: live-df ranking, delete-awareness, " +
      "staleness and empty-prefix refusals") {
    val docs = Seq(
      (1L, "stream stream sort"), (2L, "stream sort"), (3L, "stream"),
      (4L, "sort spark"), (5L, "window")).toDF("doc_id", "text")
    val path = tmp("graft-idx-sg2")
    InvertedIndex.build(docs, "doc_id", "text", path)
    InvertedIndex.buildVocabulary(spark, path)
    def top(prefix: String, k: Int = 5): Seq[(String, Long)] =
      InvertedIndex.suggestCompletions(spark, path, prefix, k)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // df: stream 3, sort 3, spark 1 — ties break term-asc
    assert(top("s") == Seq(("sort", 3L), ("stream", 3L), ("spark", 1L)))
    assert(top("st") == Seq(("stream", 3L)))
    assert(top("zz").isEmpty)
    // live df: deleting doc 1 drops stream to 2 WITHOUT a vocab
    // rebuild (tombstones don't change the segment set)
    InvertedIndex.deleteDocs(docs.filter($"doc_id" === 1L)
      .select("doc_id"), path)
    assert(top("st") == Seq(("stream", 2L)))
    // an append DOES change the segment set: stale sidecar refuses
    InvertedIndex.append(Seq((6L, "storage")).toDF("doc_id", "text"),
      "doc_id", "text", path)
    val e = intercept[IllegalArgumentException] { top("st") }
    assert(e.getMessage.contains("STALE"))
    InvertedIndex.buildVocabulary(spark, path)
    assert(top("sto") == Seq(("storage", 1L)))
    val e2 = intercept[IllegalArgumentException] { top("") }
    assert(e2.getMessage.contains("prefix"))
    // plan pin: the prefix read pushes a term RANGE into the vocab
    // scan (the row-group pruning lever at real vocabulary sizes)
    val vdf = spark.read.parquet(s"$path/vocab")
      .filter(org.apache.spark.sql.functions.col("term") >= "st" &&
        org.apache.spark.sql.functions.col("term") < "st￿")
    val vscan = vdf.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.head
    assert(vscan.dataFilters.nonEmpty,
      "term range not pushed into the vocabulary scan")
  }

  test("weighted completion suggester: weight ranking, context " +
      "filtering, max-weight dedup, refusals") {
    val path = tmp("graft-idx-sg4")
    val entries = Seq(
      ("Stream", 10L, Seq("web")),          // lowercase fold
      ("stream", 30L, Seq("news")),         // dup term: max wins
      ("storage", 20L, Seq("web", "news")),
      ("sort", 5L, Seq.empty[String]),      // no contexts
      ("window", 99L, Seq("web"))           // prefix-excluded
    ).toDF("term", "weight", "ctxs")
    InvertedIndex.buildSuggestEntries(entries, "term", "weight", path,
      contextsCol = Some("ctxs"))
    def top(prefix: String, ctx: Seq[String] = Nil): Seq[(String, Long)] =
      InvertedIndex.suggestWeighted(spark, path, prefix, k = 5,
        contexts = ctx).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
    // weight desc, term asc; the dup 'stream' keeps max(10, 30)
    assert(top("s") == Seq(("stream", 30L), ("storage", 20L),
      ("sort", 5L)))
    // context filter: ANY-of; the context-less 'sort' never matches a
    // NON-empty filter
    assert(top("s", Seq("web")) == Seq(("storage", 20L), ("stream", 10L)))
    assert(top("s", Seq("news")) == Seq(("stream", 30L), ("storage", 20L)))
    assert(top("s", Seq("nope")).isEmpty)
    // prefix folds case like the entries
    assert(top("ST") == top("st"))
    // a single-STRING contexts column wraps to a one-element array
    val p2 = tmp("graft-idx-sg4b")
    InvertedIndex.buildSuggestEntries(
      Seq(("alpha", 1L, "web")).toDF("term", "weight", "c"),
      "term", "weight", p2, contextsCol = Some("c"))
    assert(InvertedIndex.suggestWeighted(spark, p2, "a",
      contexts = Seq("web")).count() == 1)
    // negative weight refuses IN-PLAN; missing sidecar refuses
    val neg = intercept[Exception](InvertedIndex.buildSuggestEntries(
      Seq(("x", -1L, Seq("web"))).toDF("term", "weight", "ctxs"),
      "term", "weight", tmp("graft-idx-sg4c"), Some("ctxs")))
    assert(neg.getMessage.contains("non-negative"), neg.getMessage)
    intercept[IllegalArgumentException](
      InvertedIndex.suggestWeighted(spark, tmp("graft-idx-sg4d"), "s"))
    intercept[IllegalArgumentException](
      InvertedIndex.suggestWeighted(spark, path, ""))
  }

  test("bool_prefix search: scan-face doc-set parity, BM25+1 scoring, " +
      "bare-prefix constant ranking, delete-awareness") {
    val docs = Seq(
      (1L, "stream filter join"), (2L, "stream filler"),
      (3L, "stream sort"), (4L, "filter join"),
      (5L, "filthy stream stream")).toDF("doc_id", "text")
    val path = tmp("graft-idx-boolprefix")
    InvertedIndex.build(docs, "doc_id", "text", path)
    InvertedIndex.buildVocabulary(spark, path)
    val got = InvertedIndex.boolPrefixSearchTopK(spark, path,
      "stream fil", k = 10, idColName = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // doc-set parity with the scan face (AND + prefix)
    val scan = docs.filter(graft.functions.EsMatch.matchBoolPrefix(
        col("text"), "stream fil"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.keySet == scan && scan == Set(1L, 2L, 5L))
    // scoring: BM25 of 'stream' + the constant 1.0 — doc 5 has tf 2
    // in a 3-token doc, so it outranks docs 1 and 2
    assert(got(5L) > got(1L) && got(5L) > got(2L))
    // the full-term leg equals searchTopK's number + 1.0 exactly
    val viaSearch = InvertedIndex.searchTopK(spark, path,
      Seq("stream"), k = 10, idColName = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    got.foreach { case (id, s) =>
      assert(math.abs(s - (viaSearch(id) + 1.0)) < 2e-6, s"$id: $s") }
    // bare prefix: every doc with a 'fil…' token at constant 1.0
    val bare = InvertedIndex.boolPrefixSearchTopK(spark, path,
      "fil", k = 10, idColName = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    assert(bare.map(_._1) == Seq(1L, 2L, 4L, 5L)) // id ties ascending
    assert(bare.forall(_._2 == 1.0))
    // deletes: tombstoning doc 2 removes it without a vocab rebuild
    InvertedIndex.deleteDocs(docs.filter($"doc_id" === 2L)
      .select("doc_id"), path)
    val after = InvertedIndex.boolPrefixSearchTopK(spark, path,
      "stream fil", k = 10, idColName = "doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(after == Set(1L, 5L))
    // no vocabulary extension → typed empty frame
    assert(InvertedIndex.boolPrefixSearchTopK(spark, path,
      "stream zzz", k = 5, idColName = "doc_id").isEmpty)
  }

  test("explainScore components sum to searchTopK's number; " +
      "onlyIds restricts rows, never statistics") {
    val docs = Seq(
      (1L, "alpha beta alpha"), (2L, "alpha gamma"),
      (3L, "beta beta")).toDF("doc_id", "text")
    val path = tmp("graft-idx-explain")
    InvertedIndex.build(docs, "doc_id", "text", path)
    val terms = Seq("alpha", "beta")
    val ex = InvertedIndex.explainScore(spark, path, terms,
      idColName = "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r).toMap
    // components: doc 1 alpha tf 2, df 2; doc 3 beta tf 2, df 2
    assert(ex((1L, "alpha")).getAs[Double]("tf") == 2.0)
    assert(ex((1L, "alpha")).getAs[Double]("df") == 2.0)
    // per-doc contribution sums reconcile with searchTopK (both 6dp)
    val sums = ex.toSeq.groupBy(_._1._1)
      .map { case (id, rs) =>
        id -> rs.map(_._2.getAs[Double]("score_contrib")).sum
      }
    val viaSearch = InvertedIndex.searchTopK(spark, path, terms,
      k = 10, idColName = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    sums.foreach { case (id, s) =>
      assert(math.abs(s - viaSearch(id)) < 3e-6, s"$id: $s") }
    // onlyIds: fewer rows, SAME df (corpus stats unrestricted)
    val only = InvertedIndex.explainScore(spark, path, terms,
      idColName = "doc_id", onlyIds = Some(Seq(1L)))
      .collect()
    assert(only.map(_.getLong(0)).toSet == Set(1L))
    assert(only.find(_.getString(1) == "alpha").get
      .getAs[Double]("df") == 2.0)
  }

  test("deleteByQuery tombstones matching docs: or = any term, " +
      "and = all terms, zero-match writes nothing") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha gamma"), (3L, "delta"),
      (4L, "beta")).toDF("doc_id", "text")
    val path = tmp("graft-idx-dbq")
    InvertedIndex.build(docs, "doc_id", "text", path)
    // and: only doc 1 has both
    assert(InvertedIndex.deleteByQuery(spark, path, "alpha beta",
      operator = "and") == 1L)
    assert(InvertedIndex.searchTopK(spark, path, Seq("alpha"), 10,
      idColName = "doc_id")
      .collect().map(_.getLong(0)).toSet == Set(2L))
    // zero matches: no tombstone batch written
    val before = InvertedIndex.stats(spark, path)
      .head().getAs[Int]("tombstone_batches")
    assert(InvertedIndex.deleteByQuery(spark, path, "nosuchterm") == 0L)
    assert(InvertedIndex.stats(spark, path)
      .head().getAs[Int]("tombstone_batches") == before)
    // or: beta OR gamma hits docs 2 and 4 (1 already gone)
    assert(InvertedIndex.deleteByQuery(spark, path, "beta gamma") == 2L)
    assert(InvertedIndex.stats(spark, path).head()
      .getAs[Long]("n_docs") == 1L)
  }
  test("searchTopKSynonyms: SynonymQuery blending over postings — " +
      "summed tf, max member df, singleton parity") {
    val corpus = Seq(
      (1L, "quick fast car"), (2L, "quick boat"), (3L, "car port")
    ).toDF("id", "text")
    val path = tmp("graft-syn-idx")
    InvertedIndex.build(corpus, "id", "text", path)
    val r = InvertedIndex.searchTopKSynonyms(spark, path,
      Seq("quick"), Seq("quick, fast"), k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    // N=3, avg=(3+2+2)/3; group {fast,quick}: df(quick)=2, df(fast)=1
    // -> blended df 2; doc1 tf 2, doc2 tf 1
    val n = 3.0; val avg = 7.0 / 3
    val idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
    def okapi(tf: Double, len: Double) =
      idf * tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * len / avg))
    def r6(x: Double) = math.round(x * 1e6) / 1e6
    assert(r == Map(1L -> r6(okapi(2, 3)), 2L -> r6(okapi(1, 2))))
    // no rules touching the query -> identical to the plain search
    val plain = InvertedIndex.searchTopK(spark, path,
      Seq("car", "port"), k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val same = InvertedIndex.searchTopKSynonyms(spark, path,
      Seq("car", "port"), Seq("quick, fast"), k = 10)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(plain == same)
    // a member absent from the corpus contributes df 0, not a crash
    val ab = InvertedIndex.searchTopKSynonyms(spark, path,
      Seq("port"), Seq("port, starboard"), k = 10)
      .collect().map(_.getLong(0)).toSeq
    assert(ab == Seq(3L))
  }
  test("termsEnum: lexicographic prefix pages tile; tombstoned-only " +
      "terms drop; cursor and refusals") {
    val corpus = Seq(
      (1L, "apple apricot"), (2L, "april apple"), (3L, "banana apex")
    ).toDF("id", "text")
    val path = tmp("graft-te-idx")
    InvertedIndex.build(corpus, "id", "text", path)
    InvertedIndex.buildVocabulary(spark, path)
    def terms(size: Int, after: Option[String] = None): Seq[String] =
      InvertedIndex.termsEnum(spark, path, "ap", size, after)
        .collect().map(_.getString(0)).toSeq
    assert(terms(10) == Seq("apex", "apple", "apricot", "april"))
    // pages tile exactly through the cursor
    assert(terms(2) == Seq("apex", "apple"))
    assert(terms(2, Some("apple")) == Seq("apricot", "april"))
    // a term living only in a deleted doc drops (exact, unlike ES)
    InvertedIndex.deleteDocs(Seq(3L).toDF("id"), path)
    assert(terms(10) == Seq("apple", "apricot", "april"))
    intercept[IllegalArgumentException](
      InvertedIndex.termsEnum(spark, path, "ap", 0))
  }
}


