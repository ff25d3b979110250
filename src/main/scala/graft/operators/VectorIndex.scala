package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.VectorOps
import graft.plans.VectorExpressions

/** A persistent IVF vector index — the materialized face of
  * [[Similarity.ivfTopK]] and the vector twin of [[InvertedIndex]]:
  * where the reference's backing engine serves `knn` searches from a
  * per-shard HNSW graph built at index time (eland's `es_match` /
  * semantic-search path never re-reads the corpus), this serves
  * cosine top-k from cell-partitioned parquet segments built once,
  * probing only each query's nearest cells.
  *
  * The scan-based ANN operators re-read and re-score the whole corpus
  * per query frame; right for one-off analytics, wrong for a
  * query-serving workload. Here:
  *
  *  - [[build]] trains a coarse k-means quantizer (nlist centroids,
  *    frozen for the index's lifetime — the standard IVF recipe) and
  *    writes the corpus as one immutable SEGMENT: vectors parquet
  *    partitioned by nearest-centroid `cell`, an `ids` ledger
  *    ((id, cell) — the probe/compaction bookkeeping, ~16 B/doc), and
  *    a one-row stats table written LAST as the commit marker (the
  *    [[SegmentStore]] discipline — a crashed build is invisible).
  *  - [[searchTopK]] answers a whole QUERY FRAME in one plan: each
  *    query probes its `nprobe` nearest cells, the union of probed
  *    cells prunes partition DIRECTORIES of every segment at planning
  *    time (≤ nlist ints collected driver-side — bounded regardless
  *    of workload), vectors join the broadcast queries on `cell`, and
  *    per-query ranking is the two-phase
  *    [[Similarity.rankTopKPerQuery]]. Query cost is O(probed cells'
  *    vectors), not O(corpus); `nprobe = nlist` degrades gracefully
  *    to exact brute force (the oracle-gated configuration).
  *  - [[append]]/[[ingestBatch]] add batches as new segments under
  *    the frozen quantizer; [[deleteDocs]]/[[upsertDocs]]/
  *    [[ingestUpsertBatch]] reuse the segment-scoped tombstone model
  *    of [[InvertedIndex]] (one batch-wide tombstone, scopes never
  *    cover the new segment, exactly-once per batch id via the
  *    ingest ledger); [[compact]] merges live vectors into one
  *    segment per cell layout, writes the ids ledger BUCKETED by id
  *    so every later upsert/delete probe reads it pre-partitioned
  *    (the Exchange-free probe property, spec-pinned), and is
  *    manifest-healed against crashes.
  *
  * Contracts (shared with the inverted index): appended ids must be
  * new; upsert/CDC batches carry one row per id; vectors must be
  * non-zero (cosine) and share the build dimensionality; single
  * writer at a time; compaction is offline maintenance. The quantizer
  * is trained ONCE — a corpus whose distribution drifts far from the
  * build sample degrades recall (cells imbalance), the standard IVF
  * trade; rebuild to retrain.
  *
  * Scoring is row-identical to [[Similarity.ivfTopK]] over the live
  * corpus (same centroids, same probe rule, same 6-dp rounding —
  * differential-pinned in VectorIndexSpec).
  */
object VectorIndex {

  // ---- layout ------------------------------------------------------

  private def fsOf(spark: SparkSession, path: String) =
    SegmentStore.fsOf(spark, path)

  private def quantizerPath(indexPath: String) = s"$indexPath/quantizer"
  private def pqPath(indexPath: String) = s"$indexPath/pq"

  /** Nested double arrays ↔ JSON — the quantizer and PQ models are
    * driver-side docs since r17-opt (a handful of KB read per ingest
    * batch and per search; a Spark job per read was pure scheduler
    * overhead at every scale). `Double.toString` round-trips exactly,
    * so cell assignment is bit-identical across write/read.
    */
  private def cellsToJson(cells: Seq[Seq[Double]]): org.json4s.JValue =
    org.json4s.JArray(cells.map(c => (org.json4s.JArray(
      c.map(v => org.json4s.JDouble(v): org.json4s.JValue).toList)
      : org.json4s.JValue)).toList)

  private def cellsFromJson(v: org.json4s.JValue): Array[Array[Double]] =
    v match {
      case org.json4s.JArray(rows) => rows.map {
        case org.json4s.JArray(ds) => ds.map {
          case org.json4s.JDouble(d) => d
          case org.json4s.JInt(i) => i.toDouble
          case other => sys.error(s"non-numeric centroid component $other")
        }.toArray
        case other => sys.error(s"non-array centroid row $other")
      }.toArray
      case other => sys.error(s"non-array centroid doc $other")
    }

  private def writePqModel(spark: SparkSession, indexPath: String,
                           model: Quantization.PqModel): Unit =
    SegmentStore.writeDocDir(fsOf(spark, indexPath), pqPath(indexPath),
      org.json4s.JObject(
        "codebooks" -> org.json4s.JArray(
          model.codebooks.map(cb =>
            cellsToJson(cb.toSeq.map(_.toSeq))).toList)))

  /** The PQ codebooks, when the index was built with `pqM > 0` —
    * driver-side, m × ksub × dsub doubles (the whole model).
    */
  private[operators] def readPqModel(spark: SparkSession,
                                     indexPath: String): Option[Quantization.PqModel] = {
    val fs = fsOf(spark, indexPath)
    if (!fs.exists(new org.apache.hadoop.fs.Path(
        s"${pqPath(indexPath)}/_SUCCESS"))) None
    else (SegmentStore.readDocDir(fs, pqPath(indexPath)) \ "codebooks") match {
      case org.json4s.JArray(cbs) =>
        Some(Quantization.PqModel(cbs.map(cellsFromJson).toArray))
      case other => sys.error(s"malformed pq doc: $other")
    }
  }

  /** The frozen quantizer, driver-side: nlist×dim doubles (the whole
    * IVF model — tiny by design; what must scale is assignment and
    * search, and those run as broadcast literal expressions).
    */
  private[operators] def readCentroids(spark: SparkSession,
                                       indexPath: String): Array[Array[Double]] = {
    val missing = s"$indexPath has no quantizer — build() first"
    val path = quantizerPath(indexPath)
    val cells = cellsFromJson(
      SegmentStore.readDocDir(fsOf(spark, path), path, missing) \ "cells")
    require(cells.nonEmpty, missing)
    cells
  }

  /** Write one immutable segment: vectors (partitioned by cell) and
    * the ids ledger first, stats LAST (the commit marker).
    */
  private def writeSegmentNamed(docs: DataFrame, idCol: String,
                                vecCol: String, indexPath: String,
                                name: String,
                                centroids: Array[Array[Double]]): Unit = {
    val seg = s"$indexPath/segments/$name"
    // a named REWRITE (ingestBatch retry) must first un-commit the
    // previous attempt (stats-last discipline, see InvertedIndex)
    fsOf(docs.sparkSession, indexPath)
      .delete(new org.apache.hadoop.fs.Path(s"$seg/stats"), true)
    // norm precomputed at write time: every future search divides by
    // it, and computing it once here beats per-query recomputation
    val staged = docs
      .select(col(idCol).as("id"),
        VectorOps.asDouble(col(vecCol)).as("v"))
      .withColumn("cell", Similarity.ivfCell(col("v"), centroids))
      .withColumn("norm", sqrt(VectorOps.normSq(col("v"))))
      .persist()
    val ss = docs.sparkSession
    try {
      val r = SegmentStore.labeled(ss, "vec seg: contract agg")(
        staged.agg(count(lit(1)).as("_n"),
          count_distinct(col("id")).as("_d"),
          count(when(col("v").isNull || size(col("v")) =!=
            centroids.head.length, 1)).as("_bad")).head())
      require(r.getLong(0) == r.getLong(1),
        s"batch contains duplicate ids (${r.getLong(0)} rows, " +
          s"${r.getLong(1)} distinct) — collapse to one row per id " +
          "before ingesting")
      require(r.getLong(2) == 0,
        s"${r.getLong(2)} vectors are null or not ${centroids.head.length}-" +
          "dimensional — the index stores one frozen dimensionality")
      // vectors, the ids ledger, and the PQ codes are independent
      // reads of the same persisted staged frame landing in different
      // dirs — overlap them (guide §2.6); stats stays LAST (the
      // commit marker), so crash-safety is unchanged
      val ids = staged.select(col("id"), col("cell"))
      val codes = readPqModel(docs.sparkSession, indexPath).map(m =>
        staged.select(col("id"), col("cell"),
          Quantization.pqEncode(col("v"), m).as("codes")))
      val writes = Seq(
        () => SegmentStore.labeled(ss, "vec seg: vectors write")(
          // repartition by cell before partitionBy: otherwise every
          // write task opens up to nlist files (the small-files trap).
          // Width = the cell count, not the session's
          // shuffle.partitions (r18, guide §2: no empty tasks below
          // it, and at scale the cell count is the right width)
          staged.repartition(centroids.length, col("cell"))
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$seg/vectors")),
        () => SegmentStore.labeled(ss, "vec seg: ids write")(
          ids.write.mode("overwrite").parquet(s"$seg/ids"))) ++
        // a PQ-enabled index (build(pqM > 0)) carries a codes table per
        // segment — the m-small-ints-per-row thing ADC search scans
        // instead of the vectors; written before stats, so the
        // segment's commit marker covers it
        codes.map { c => () =>
          SegmentStore.labeled(ss, "vec seg: codes write")(
            c.repartition(centroids.length, col("cell"))
              .write.mode("overwrite").partitionBy("cell")
              .parquet(s"$seg/codes"))
        }.toSeq
      SegmentStore.inParallel(writes)
      // stats from the contract-check agg above — a driver-side doc
      // (marker last), no second pass over staged (r17-opt)
      writeVecStats(ss, seg, r.getLong(0).toDouble, centroids.length,
        payloadSchemas(staged, ids, codes))
    } finally {
      staged.unpersist()
      ()
    }
  }

  private def writeSegment(docs: DataFrame, idCol: String, vecCol: String,
                           indexPath: String,
                           centroids: Array[Array[Double]]): Unit =
    writeSegmentNamed(docs, idCol, vecCol, indexPath,
      s"seg-${java.util.UUID.randomUUID()}", centroids)

  /** The segment's commit doc: n, nlist, and the read schema of each
    * payload dir (see [[SegmentStore.readPayload]]).
    */
  private def writeVecStats(spark: SparkSession, seg: String, n: Double,
                            nlist: Int,
                            schemas: Seq[(String, StructType)]): Unit =
    SegmentStore.writeDocDir(fsOf(spark, seg), s"$seg/stats",
      org.json4s.JObject(
        "n" -> org.json4s.JDouble(n),
        "nlist" -> org.json4s.JInt(nlist),
        SegmentStore.schemaField(schemas)))

  /** Read schemas of a segment's `vectors` (cell-partitioned), `ids`
    * and, on a PQ index, `codes` (cell-partitioned) — from the frames
    * the writes consume.
    */
  private def payloadSchemas(vectors: DataFrame, ids: DataFrame,
                             codes: Option[DataFrame])
      : Seq[(String, StructType)] =
    Seq("vectors" -> SegmentStore.writtenSchema(vectors, Seq("cell")),
      "ids" -> SegmentStore.writtenSchema(ids)) ++
      codes.map(c => "codes" -> SegmentStore.writtenSchema(c, Seq("cell")))

  /** The cell count the snapshot's segments were written with. */
  private def nlistOf(snap: SegmentStore.Snapshot): Int =
    snap.segs.head.num("nlist").toInt

  // ---- lifecycle ---------------------------------------------------

  /** Create a FRESH index at `indexPath`: train the quantizer on
    * `docs` (deterministic seeded sample — [[Similarity.trainIvfCentroids]]),
    * then write one segment. Any existing segments, tombstones,
    * ledger markers, and manifest are removed first (stale state
    * would mask or skip the new corpus — the [[InvertedIndex.build]]
    * reset).
    */
  /** `pqM > 0` additionally trains per-subspace PQ codebooks
    * ([[Quantization.trainPq]], `pqM` subspaces × `pqKsub` centroids)
    * and stores every segment's PQ code table — enabling
    * [[searchTopKAdc]], the IVF-PQ serving path.
    */
  def build(docs: DataFrame, idCol: String, vecCol: String,
            indexPath: String, nlist: Int = 16, kmeansIters: Int = 10,
            sampleN: Int = 4096, seed: Long = 42,
            pqM: Int = 0, pqKsub: Int = 16): Unit = {
    require(nlist >= 1, s"nlist must be positive, got $nlist")
    val spark = docs.sparkSession
    val fs = fsOf(spark, indexPath)
    Seq("segments", "deletes", "ingested", "quantizer", "pq").foreach(d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/$d"), true))
    Manifest.delete(fs, SegmentStore.manifestPath(indexPath))
    val centroids = Similarity.trainIvfCentroids(docs, vecCol, nlist,
      kmeansIters, sampleN, seed)
    writeQuantizer(spark, indexPath, centroids)
    if (pqM > 0)
      writePqModel(spark, indexPath, Quantization.trainPq(docs, vecCol,
        pqM, pqKsub, kmeansIters, sampleN, seed))
    writeSegment(docs, idCol, vecCol, indexPath, centroids)
  }

  private def writeQuantizer(spark: SparkSession, indexPath: String,
                             centroids: Array[Array[Double]]): Unit =
    writeQuantizerAt(spark, quantizerPath(indexPath), centroids)

  private[operators] def writeQuantizerAt(spark: SparkSession, path: String,
                                          centroids: Array[Array[Double]]): Unit =
    SegmentStore.writeDocDir(fsOf(spark, path), path,
      org.json4s.JObject(
        "cells" -> cellsToJson(centroids.toSeq.map(_.toSeq))))

  /** Add NEW documents as one more immutable segment under the frozen
    * quantizer (ids must not live in any committed segment — gate
    * re-sends with [[Dedup.incrementalExactDedup]] upstream, exactly
    * the [[InvertedIndex.append]] contract).
    */
  def append(docs: DataFrame, idCol: String, vecCol: String,
             indexPath: String): Unit = {
    val spark = docs.sparkSession
    SegmentStore.open(spark, indexPath) // refuses a root never built
    writeSegment(docs, idCol, vecCol, indexPath,
      readCentroids(spark, indexPath))
  }

  /** Tombstone documents: same segment-scoped model, exact-match
    * contract, and stats-last commit as [[InvertedIndex.deleteDocs]] —
    * the charge ledger here is the per-segment `ids` table and the
    * only charged moment is n.
    */
  def deleteDocs(ids: DataFrame, indexPath: String): Unit = {
    val spark = ids.sparkSession
    val snap = SegmentStore.open(spark, indexPath)
    require(ids.columns.length == 1,
      s"ids must be a single-column frame, got ${ids.columns.toSeq}")
    val del = ids.select(col(ids.columns.head).as("id"))
      .distinct().localCheckpoint(true)
    val nReq = del.count()
    // deleting nothing is vacuous success — NOT a zero-id tombstone
    // batch, which every search would broadcast and the next compact
    // would treat as a full-rewrite trigger
    if (nReq == 0) return
    val hitRow = liveIdFrames(spark, snap)
      .map(_.join(del, Seq("id"), "left_semi"))
      .reduce(_ unionByName _)
      .agg(count(lit(1)).as("n"), count_distinct(col("id")).as("d")).head()
    require(hitRow.getLong(0) == nReq && hitRow.getLong(1) == nReq,
      s"deleteDocs: $nReq ids requested but ${hitRow.getLong(0)} live " +
        s"rows over ${hitRow.getLong(1)} distinct ids matched in " +
        s"$indexPath — unknown/already-tombstoned ids (or an id live " +
        "in two segments) are contract violations")
    SegmentStore.writeTombstone(spark, snap, del,
      Seq("n" -> hitRow.getLong(0).toDouble))
  }

  /** The segment-write contract checks (unique ids, frozen
    * dimensionality), run BEFORE any tombstone commits: a batch that
    * will be rejected must be rejected while the index is still
    * untouched — tombstone-then-validate would mask the live versions
    * of a batch that never lands, and a checkpointed stream would
    * replay the same rejection forever with the rows already dead.
    * (writeSegmentNamed re-checks on the staged frame — cheap
    * defense-in-depth; THIS call is the one that orders the failure
    * before the side effect.)
    */
  private def validateBatch(docs: DataFrame, idCol: String,
                            vecCol: String, dim: Int): Unit = {
    val r = docs.select(col(idCol).as("id"),
        VectorOps.asDouble(col(vecCol)).as("v"))
      .agg(count(lit(1)).as("_n"), count_distinct(col("id")).as("_d"),
        count(when(col("v").isNull || size(col("v")) =!= dim, 1)).as("_bad"))
      .head()
    require(r.getLong(0) == r.getLong(1),
      s"batch contains duplicate ids (${r.getLong(0)} rows, " +
        s"${r.getLong(1)} distinct) — collapse to one row per id " +
        "before ingesting")
    require(r.getLong(2) == 0,
      s"${r.getLong(2)} vectors are null or not $dim-dimensional — " +
        "the index stores one frozen dimensionality")
  }

  /** ES-style upsert: live versions of the incoming ids are
    * tombstoned (scoped to the CURRENT segments), then the whole
    * batch lands as one new segment — updated vectors resurface
    * immediately because tombstone scopes never cover the new
    * segment. Ids must be unique within `docs`; new ids just append.
    */
  def upsertDocs(docs: DataFrame, idCol: String, vecCol: String,
                 indexPath: String): Unit = {
    val spark = docs.sparkSession
    val snap = SegmentStore.open(spark, indexPath)
    val centroids = readCentroids(spark, indexPath)
    validateBatch(docs, idCol, vecCol, centroids.head.length)
    tombstoneLiveOf(docs, idCol, snap)
    writeSegment(docs, idCol, vecCol, indexPath, centroids)
  }

  /** One ids-ledger read finds the live versions of the incoming ids
    * and their count, charged directly. No live match → no tombstone
    * (pure inserts). Per-frame semi-join + union of results: a
    * compacted segment's id-bucketed ledger keeps its partitioning
    * into the probe — the per-batch O(index) ledger read never
    * reshuffles (the [[InvertedIndex]] lens-probe rule, spec-pinned).
    */
  private def tombstoneLiveOf(docs: DataFrame, idCol: String,
                              scope: SegmentStore.Snapshot): Unit = {
    val spark = docs.sparkSession
    SegmentStore.labeled(spark, "vec tomb: live probe") {
      val ids = docs.select(col(idCol).as("id")).distinct()
        .localCheckpoint(true)
      val hits = liveIdFrames(spark, scope)
        .map(_.join(ids, Seq("id"), "left_semi"))
        .reduce(_ unionByName _)
        .localCheckpoint(true)
      val n = hits.count()
      if (n > 0)
        SegmentStore.writeTombstone(spark, scope,
          hits.select("id").distinct(), Seq("n" -> n.toDouble))
    }
  }

  /** Per-segment `ids` ledger rows tagged with their segment name,
    * minus applicable tombstones — ONE FRAME PER SEGMENT so a
    * compacted segment's id-bucketed ledger keeps its
    * HashPartitioning into the caller's join (callers join per frame
    * and union the RESULTS; semi-joins distribute over the left
    * union).
    */
  private def liveIdFrames(spark: SparkSession,
                           snap: SegmentStore.Snapshot): Seq[DataFrame] =
    SegmentStore.liveLedgerFrames(spark, snap, "ids")

  /** Exactly-once per-batch streaming ingest (append-only feeds) —
    * the [[InvertedIndex.ingestBatch]] discipline: batch-id-named
    * segment rewritten on retry, durable ledger marker created after
    * the stats commit, marked batches skipped outright. The FIRST
    * batch trains the quantizer (it must carry ≥ `nlistIfNew`
    * vectors); empty batches write only their marker.
    */
  def ingestBatch(docs: DataFrame, idCol: String, vecCol: String,
                  indexPath: String, batchId: Long,
                  nlistIfNew: Int = 16): Unit = {
    val spark = docs.sparkSession
    val fs = fsOf(spark, indexPath)
    val marker = SegmentStore.ingestMarker(indexPath, batchId)
    if (fs.exists(marker)) return
    if (!docs.isEmpty) {
      val centroids = ensureQuantizer(docs, vecCol, indexPath, nlistIfNew)
      writeSegmentNamed(docs, idCol, vecCol, indexPath,
        s"seg-batch-$batchId", centroids)
    }
    fs.create(marker, true).close()
  }

  /** The CDC face: [[ingestBatch]]'s exactly-once discipline with
    * [[upsertDocs]] semantics. The tombstone scope EXCLUDES the
    * batch's own `seg-batch-<id>` segment, so a checkpoint retry
    * never self-masks (the [[InvertedIndex.ingestUpsertBatch]] replay
    * argument, verbatim).
    */
  def ingestUpsertBatch(docs: DataFrame, idCol: String, vecCol: String,
                        indexPath: String, batchId: Long,
                        nlistIfNew: Int = 16): Unit = {
    val spark = docs.sparkSession
    val fs = fsOf(spark, indexPath)
    val marker = SegmentStore.ingestMarker(indexPath, batchId)
    if (fs.exists(marker)) return
    if (!docs.isEmpty) {
      val ownName = s"seg-batch-$batchId"
      val snap = SegmentStore.snapshot(spark, indexPath)
      val others = snap.copy(segs = snap.segs.filterNot(_.name == ownName))
      val centroids = ensureQuantizer(docs, vecCol, indexPath, nlistIfNew)
      // reject a bad batch BEFORE the tombstone commits (see
      // validateBatch — a replayed rejection must leave the index
      // untouched, not the batch's live versions masked)
      validateBatch(docs, idCol, vecCol, centroids.head.length)
      if (others.segs.nonEmpty) tombstoneLiveOf(docs, idCol, others)
      writeSegmentNamed(docs, idCol, vecCol, indexPath, ownName, centroids)
    }
    fs.create(marker, true).close()
  }

  /** The full CDC face — op-typed events (`upsert` rows carrying new
    * vectors, `delete` rows whose vector is ignored) applied with
    * [[ingestBatch]]'s exactly-once discipline; the
    * [[InvertedIndex.ingestCdcBatch]] semantics verbatim: one
    * batch-wide tombstone covers an upsert's stale version and a
    * delete's live version alike (scoped to the OTHER segments, never
    * the batch's own retry target), deletes of non-live ids no-op
    * (replay idempotence; ES's 404-not-failure), one event per id per
    * batch enforced loudly, delete-only batches write marker only.
    */
  def ingestCdcBatch(events: DataFrame, idCol: String, vecCol: String,
                     opCol: String, indexPath: String, batchId: Long,
                     nlistIfNew: Int = 16): Unit = {
    val spark = events.sparkSession
    val fs = fsOf(spark, indexPath)
    val marker = SegmentStore.ingestMarker(indexPath, batchId)
    if (fs.exists(marker)) return
    val evs = events.select(col(idCol).as("id"), col(vecCol).as("_vec"),
      lower(col(opCol)).as("_op")).persist()
    try {
      val r = evs.agg(count(lit(1)).as("_n"),
        count_distinct(col("id")).as("_d"),
        count(when(col("_op").isin("upsert", "delete"), 1)).as("_k"),
        count(when(col("_op") === "upsert", 1)).as("_u")).head()
      require(r.getLong(0) == r.getLong(1),
        s"CDC batch $batchId carries ${r.getLong(0)} events over " +
          s"${r.getLong(1)} distinct ids — collapse to ONE event per id " +
          "(last op wins) before ingesting")
      require(r.getLong(2) == r.getLong(0),
        s"CDC batch $batchId has ${r.getLong(0) - r.getLong(2)} events " +
          s"with ops outside {upsert, delete} in column '$opCol'")
      val nUpserts = r.getLong(3)
      if (r.getLong(0) > 0) {
        val ownName = s"seg-batch-$batchId"
        val snap = SegmentStore.snapshot(spark, indexPath)
        val others = snap.copy(segs = snap.segs.filterNot(_.name == ownName))
        val ups = evs.filter(col("_op") === "upsert")
          .select(col("id").as(idCol), col("_vec").as(vecCol))
        // quantizer + dimension check BEFORE the tombstone commits
        // (validateBatch ordering; the one-event-per-id contract was
        // already checked above, also pre-tombstone)
        val centroids =
          if (nUpserts == 0) None
          else {
            val c = ensureQuantizer(ups, vecCol, indexPath, nlistIfNew)
            validateBatch(ups, idCol, vecCol, c.head.length)
            Some(c)
          }
        if (others.segs.nonEmpty) tombstoneLiveOf(evs, "id", others)
        centroids.foreach(c =>
          writeSegmentNamed(ups, idCol, vecCol, indexPath, ownName, c))
      }
      fs.create(marker, true).close()
    } finally {
      evs.unpersist()
      ()
    }
  }

  private def ensureQuantizer(docs: DataFrame, vecCol: String,
                              indexPath: String,
                              nlistIfNew: Int): Array[Array[Double]] = {
    val spark = docs.sparkSession
    val fs = fsOf(spark, indexPath)
    if (fs.exists(new org.apache.hadoop.fs.Path(
        s"${quantizerPath(indexPath)}/_SUCCESS")))
      readCentroids(spark, indexPath)
    else {
      val centroids = Similarity.trainIvfCentroids(docs, vecCol, nlistIfNew)
      writeQuantizer(spark, indexPath, centroids)
      centroids
    }
  }

  /** Resolve a crashed [[compact]] ([[SegmentStore.heal]]) or a
    * crashed [[rebuild]] (the `rebuilding` manifest) — idempotent.
    */
  def heal(spark: SparkSession, indexPath: String): Unit = {
    rebuildHeal(spark, indexPath)
    SegmentStore.heal(spark, indexPath)
  }

  private def rebuildManifestPath(indexPath: String) =
    new org.apache.hadoop.fs.Path(s"$indexPath/rebuilding")

  /** Replay an interrupted [[rebuild]]. New segment committed →
    * finish (promote `quantizer-next` if still staged, delete the
    * inputs); uncommitted → roll back (drop the partial segment and
    * the staged quantizer — the old quantizer was never touched). No
    * outcome mixes old-cell segments with the new quantizer.
    */
  private def rebuildHeal(spark: SparkSession, indexPath: String): Unit = {
    val fs = fsOf(spark, indexPath)
    val mf = rebuildManifestPath(indexPath)
    Manifest.read(fs, mf).foreach { lines =>
      val target = lines.head
      val nextP = new org.apache.hadoop.fs.Path(s"$indexPath/quantizer-next")
      if (fs.exists(new org.apache.hadoop.fs.Path(
          s"$indexPath/$target/stats/_SUCCESS"))) {
        // the promote-then-delete tail, replayed: a missing
        // quantizer-next means promotion already happened
        if (fs.exists(new org.apache.hadoop.fs.Path(
            s"$indexPath/quantizer-next/_SUCCESS"))) {
          fs.delete(new org.apache.hadoop.fs.Path(
            quantizerPath(indexPath)), true)
          require(fs.rename(nextP,
            new org.apache.hadoop.fs.Path(quantizerPath(indexPath))),
            s"quantizer promotion rename failed in $indexPath")
        }
        lines.tail.foreach(i => fs.delete(
          new org.apache.hadoop.fs.Path(s"$indexPath/$i"), true))
      } else {
        fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/$target"), true)
        fs.delete(nextP, true)
      }
      Manifest.delete(fs, mf)
    }
  }

  /** Retrain the frozen coarse quantizer from the LIVE corpus and
    * rewrite the index as ONE fresh segment under it — the remedy for
    * the drift [[stats]]'s `cell_skew` signal surfaces (the standard
    * IVF trade: the quantizer freezes at [[build]]; a corpus that
    * drifts away piles into few cells and probes degrade toward
    * corpus scans). `nlist = 0` keeps the current width; pass a
    * larger one when the corpus has grown (the √N sizing rule). PQ
    * codebooks (independent of the coarse cells) are kept; the new
    * segment's codes re-encode against them. The merged ids ledger is
    * written id-bucketed like [[compact]]'s, so probe co-location
    * survives the rebuild.
    *
    * Crash-safe OFFLINE maintenance (the [[compact]] contract — no
    * concurrent searches/appends): the `rebuilding` manifest names
    * the new segment and every input BEFORE anything is written; the
    * retrained quantizer stages at `quantizer-next` and promotes only
    * after the new segment commits; [[heal]] replays either direction.
    */
  def rebuild(spark: SparkSession, indexPath: String, nlist: Int = 0,
              kmeansIters: Int = 10, sampleN: Int = 4096,
              seed: Long = 42, idBuckets: Int = 0): Unit = {
    require(nlist >= 0, s"nlist must be >= 0 (0 = keep width), got $nlist")
    heal(spark, indexPath)
    val fs = fsOf(spark, indexPath)
    SegmentStore.sweepUncommitted(fs, indexPath)
    val snap = SegmentStore.open(spark, indexPath)
    val live = SegmentStore.liveRows(spark, snap, "vectors")
      .select(col("id"), col("v"))
    if (live.limit(1).count() == 0) {
      System.err.println(s"[graft] rebuild skipped: every document in " +
        s"$indexPath is tombstoned (build() afresh to reset)")
      return
    }
    val newNlist = if (nlist > 0) nlist else nlistOf(snap)
    val cents = Similarity.trainIvfCentroids(live, "v", newNlist,
      kmeansIters, sampleN, seed)
    val name = s"seg-${java.util.UUID.randomUUID()}"
    val seg = s"$indexPath/segments/$name"
    val inputs =
      snap.segs.map("segments/" + _.name) ++ snap.dels.map("deletes/" + _.name)
    // the manifest lands before ANY bytes (quantizer-next included):
    // a crash at any later point leaves a manifest whose uncommitted
    // branch in [[heal]] rolls back both the staged quantizer and the
    // partial segment — no orphan quantizer-next can outlive a crash
    Manifest.write(fs, rebuildManifestPath(indexPath),
      s"segments/$name" +: inputs)
    // stage the retrained quantizer; promotion waits for the segment
    val nextPath = s"$indexPath/quantizer-next"
    writeQuantizerAt(spark, nextPath, cents)
    val fresh = live
      .withColumn("cell", Similarity.ivfCell(col("v"), cents))
      .withColumn("norm", sqrt(VectorOps.normSq(col("v"))))
    fresh.repartition(cents.length, col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$seg/vectors")
    val vectors = spark.read
      .schema(SegmentStore.writtenSchema(fresh, Seq("cell")))
      .parquet(s"$seg/vectors")
    val written = vectors.select("id", "cell")
    // one count serves the ids-ledger bucket sizing (0 = auto, the
    // compact() formula) and the stats doc
    val n = written.count()
    val ib =
      if (idBuckets > 0) idBuckets
      else math.min(256, math.max(8, (n / 100000.0).ceil.toInt))
    Bucketing.saveBucketedBatch(
      written.repartition(ib, col("id")),
      s"$seg/ids", Seq("id"), ib)
    val codes = readPqModel(spark, indexPath).map(m =>
      vectors.select(col("id"), col("cell"),
        Quantization.pqEncode(col("v"), m).as("codes")))
    codes.foreach(_.repartition(cents.length, col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$seg/codes"))
    writeVecStats(spark, seg, n.toDouble, newNlist,
      payloadSchemas(vectors, written, codes))
    // promote, then retire the inputs — heal replays this tail
    fs.delete(new org.apache.hadoop.fs.Path(quantizerPath(indexPath)), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(nextPath),
      new org.apache.hadoop.fs.Path(quantizerPath(indexPath))),
      s"quantizer promotion rename failed in $indexPath")
    (snap.segs ++ snap.dels).foreach(s =>
      fs.delete(new org.apache.hadoop.fs.Path(s.path), true))
    Manifest.delete(fs, rebuildManifestPath(indexPath))
  }

  /** Merge every committed segment into one, applying tombstones
    * PHYSICALLY, manifest-healed exactly like [[InvertedIndex.compact]].
    * The merged `ids` ledger is written BUCKETED by id
    * (`idBuckets`) so every later upsert/delete probe reads it
    * pre-partitioned — the per-batch O(index) ledger read never
    * reshuffles, at any index size. Offline maintenance: run without
    * concurrent searches.
    */
  def compact(spark: SparkSession, indexPath: String,
              idBuckets: Int = 0): Unit = {
    heal(spark, indexPath)
    val fs = fsOf(spark, indexPath)
    SegmentStore.sweepUncommitted(fs, indexPath)
    val snap = SegmentStore.snapshot(spark, indexPath)
    val (segs, dels) = (snap.segs, snap.dels)
    if (segs.length > 1 || (dels.nonEmpty && segs.nonEmpty)) {
      val nlist = nlistOf(snap)
      // live vectors stay a LAZY plan — the merged write is its one
      // full scan; the ids ledger and stats then derive from a
      // column-pruned (id, cell) read of the segment just written, so
      // the corpus is never checkpointed (the InvertedIndex.compact
      // discipline: only ledger-sized things get pinned)
      val live = SegmentStore.liveRows(spark, snap, "vectors")
      // an all-tombstoned index would compact to a segment no reader
      // can open (schema-less empty vectors). Searches over the
      // logical state stay correct (they see the empty live set), so
      // SKIP the compaction instead of throwing: a CDC stream whose
      // cadence compaction lands right after a delete-everything batch
      // must not wedge on checkpoint replay — documents can still
      // arrive in the next batch.
      if (live.limit(1).count() == 0) {
        System.err.println(s"[graft] compact skipped: every document " +
          s"in $indexPath is tombstoned (build() afresh to reset, or " +
          "ingest more documents)")
        return
      }
      val name = s"seg-${java.util.UUID.randomUUID()}"
      val seg = s"$indexPath/segments/$name"
      val inputs =
        segs.map("segments/" + _.name) ++ dels.map("deletes/" + _.name)
      Manifest.write(fs, SegmentStore.manifestPath(indexPath),
        s"segments/$name" +: inputs)
      live.repartition(nlist, col("cell"))
        .write.mode("overwrite").partitionBy("cell")
        .parquet(s"$seg/vectors")
      val vectors = spark.read
        .schema(SegmentStore.writtenSchema(live, Seq("cell")))
        .parquet(s"$seg/vectors")
      val written = vectors.select("id", "cell")
      // ONE count serves the ids-ledger bucket sizing AND the stats
      // doc below; bucket count from the LIVE corpus size when the
      // caller passed 0 (auto) — probe parallelism should track the
      // index, not a constant (guide §2)
      val n = written.count()
      val ib =
        if (idBuckets > 0) idBuckets
        else math.min(256, math.max(8, (n / 100000.0).ceil.toInt))
      // PQ-enabled: re-encode the merged segment's codes from its
      // own just-written vectors (a pruned read of the new segment,
      // not a second pass over the inputs)
      val codes = readPqModel(spark, indexPath).map(m =>
        vectors.select(col("id"), col("cell"),
          Quantization.pqEncode(col("v"), m).as("codes")))
      // the ids ledger and the PQ codes both derive from the
      // just-written vectors and are independent of each other —
      // overlap them (guide §2.6); stats stays last
      SegmentStore.inParallel(Seq(
        () => Bucketing.saveBucketedBatch(
          written.repartition(ib, col("id")),
          s"$seg/ids", Seq("id"), ib)) ++
        codes.map { c => () =>
          c.repartition(nlist, col("cell"))
            .write.mode("overwrite").partitionBy("cell")
            .parquet(s"$seg/codes")
        }.toSeq)
      writeVecStats(spark, seg, n.toDouble, nlist,
        payloadSchemas(vectors, written, codes))
      (segs ++ dels).foreach(s =>
        fs.delete(new org.apache.hadoop.fs.Path(s.path), true))
      Manifest.delete(fs, SegmentStore.manifestPath(indexPath))
    }
  }

  // ---- read paths --------------------------------------------------

  /** Index observability: one row of live corpus size, structural
    * counts, and per-cell occupancy — the maintenance signals a
    * compaction cadence watches. The occupancy triple
    * (cell_occ_min/cell_occ_max/cell_skew, skew = max over mean
    * counting EMPTY cells) is the quantizer-drift signal: the
    * quantizer is frozen at build time, so a corpus whose
    * distribution drifts away from the build sample piles into few
    * cells — skew climbs toward nlist (every probe of a hot cell then
    * scans a corpus-sized fraction, the recall/cost degradation the
    * IVF trade documents) long before recall visibly degrades.
    * Rebuild (or re-ingest into a fresh build) when it climbs; a
    * balanced index sits within a small factor of 1.
    *
    * Cost: the structural counts read one row per segment dir; the
    * occupancy reads the live ids LEDGERS (16 B/doc, column-pruned to
    * `cell`), reduced map-side to ≤ nlist rows — not the vectors.
    */
  def stats(spark: SparkSession, indexPath: String): DataFrame = {
    // the snapshot's commit docs carry every count — zero Spark jobs
    val snap = SegmentStore.open(spark, indexPath)
    val nlist = nlistOf(snap)
    // live per-cell occupancy: ≤ nlist rows to the driver, zero-filled
    // for cells no live vector occupies (an empty cell IS drift signal)
    val occRows = liveIdFrames(spark, snap)
      .map(_.groupBy(col("cell").cast("int").as("cell"))
        .agg(count(lit(1)).as("_c")))
      .reduce(_ unionByName _)
      .groupBy("cell").agg(sum(col("_c")).as("c"))
      .collect()
    val occ = Array.fill(nlist)(0L)
    occRows.foreach(r => occ(r.getInt(0)) = r.getAs[Long]("c"))
    val mean = occ.sum.toDouble / nlist
    val skew = if (mean > 0) occ.max / mean else 0.0
    spark.range(1).select(
      lit(snap.liveSum("n").toLong).as("n_docs"),
      lit(snap.segs.length).as("segments"),
      lit(snap.dels.length).as("tombstone_batches"),
      lit(nlist).as("nlist"),
      lit(occ.min).as("cell_occ_min"),
      lit(occ.max).as("cell_occ_max"),
      lit(math.rint(skew * 1e6) / 1e6).as("cell_skew"))
  }

  /** Serve a whole query frame: (qIdCol, rank, idColName, cos) for
    * rank ≤ k per query, cosine rounded to `roundTo` with id
    * tiebreak. Each query probes its `nprobe` nearest cells; the
    * union of probed cells (≤ nlist ints) prunes the vectors scan's
    * partition directories; `nprobe = nlist` is exact brute force.
    * Queries are broadcast — the workload contract is a modest query
    * frame against an arbitrarily large index — so the probe side
    * (queries × nprobe rows) is collected ONCE and re-enters the plan
    * as a local relation: the probed cells come from the collected
    * rows and nothing stays persisted after the call. That collect is
    * the call's only possible Spark job, and a query frame built on
    * the driver (a local relation) needs none.
    */
  /** `filterIds`: ES 8 `knn.filter` — restrict candidates to an id
    * set BEFORE ranking (a single-column frame; the filter typically
    * comes from a metadata predicate resolved to ids). The semi-join
    * lands after the cell pruning and before any scoring, so filtered
    * vectors are never dotted. IVF caveat, same as ES's HNSW one: a
    * highly selective filter can leave fewer than k survivors in the
    * probed cells — raise `nprobe` (nlist = exact) when the filter
    * bites hard; recall degrades to exact the same way unfiltered
    * search does.
    */
  /** `minSimilarity`: ES 8.8 `knn.similarity` — the minimum cosine a
    * hit needs to count as a match; sub-threshold candidates drop
    * BEFORE the k-cut (ES prunes them during collection), so a query
    * can return fewer than k rows. The threshold compares against the
    * ROUNDED score (`roundTo`), the engine's score surface, so the
    * cut is engine-independent.
    */
  def searchTopK(queries: DataFrame, indexPath: String, k: Int,
                 nprobe: Int = 2, qIdCol: String = "q_id",
                 vecCol: String = "vec", idColName: String = "id",
                 roundTo: Int = 6,
                 filterIds: Option[DataFrame] = None,
                 minSimilarity: Option[Double] = None): DataFrame = {
    require(k > 0)
    minSimilarity.foreach(s => require(s >= -1.0 && s <= 1.0,
      s"knn similarity must be a cosine in [-1, 1], got $s"))
    filterIds.foreach(f => require(f.columns.length == 1,
      s"filterIds must be a single-column id frame, got " +
        s"${f.columns.mkString(", ")}"))
    val spark = queries.sparkSession
    val snap = SegmentStore.open(spark, indexPath)
    val centroids = readCentroids(spark, indexPath)
    val nlist = centroids.length
    require(nprobe >= 1, s"nprobe must be positive, got $nprobe")
    // clamped, not rejected: probing more cells than exist just means
    // exact search, and the DEFAULT (2) must stay usable on a tiny
    // index built with nlist = 1
    val np = math.min(nprobe, nlist)
    // per-query probe cells via the deterministic (score, cell) struct
    // sort of Similarity.ivfTopK, collected once and exploded here: the
    // rows serve the driver-side cell set AND the broadcast join side.
    // A pure projection, so a query frame built on the driver folds
    // into a local relation and the collect runs no job at all.
    val probed = queries
      .select(col(qIdCol).as("_q_id"),
        VectorOps.asDouble(col(vecCol)).as("q_v"))
      .withColumn("probes", Similarity.ivfProbeCells(col("q_v"),
        centroids, np))
      .withColumn("q_n", sqrt(VectorOps.normSq(col("q_v"))))
    val probeRows = probed.collect().toSeq.flatMap(r =>
      r.getSeq[Int](2).map(cell =>
        org.apache.spark.sql.Row(r.get(0), r.get(1), cell, r.get(3))))
    val q = spark.createDataFrame(java.util.Arrays.asList(probeRows: _*),
      probed.select(col("_q_id"), col("q_v"),
        explode(col("probes")).as("cell"), col("q_n")).schema)
    // bounded driver state: the distinct probed-cell set is ≤ nlist
    val wanted = probeRows.map(_.getInt(2)).distinct
    val c0 = SegmentStore.liveRows(spark, snap, "vectors",
      _.filter(col("cell").isin(wanted: _*)))
    val c = filterIds.fold(c0)(f =>
      c0.join(f.toDF("id"), Seq("id"), "left_semi"))
    val scored0 = c.join(broadcast(q), Seq("cell"))
      .withColumn("cos", round(
        VectorExpressions.dot(col("q_v"), col("v")) /
          (col("q_n") * col("norm")), roundTo))
    val scored = minSimilarity.fold(scored0)(s =>
      scored0.filter(col("cos") >= s))
    Similarity.rankTopKPerQuery(scored, k, "_q_id", "id", "cos")
      .select(col("_q_id").as(qIdCol), col("rank"),
        col("id").as(idColName), col("cos"))
  }

  /** Driver-side nearest-`np` cells (plain squared L2, ties by cell
    * id) — the local twin of [[Similarity.ivfProbeCells]] for the ADC
    * path's cell-pruning set.
    */
  private def nearestCellsLocal(v: Array[Double],
                                centroids: Array[Array[Double]],
                                np: Int): Seq[Int] =
    centroids.indices.map { j =>
      var d = 0.0; var t = 0
      val c = centroids(j)
      while (t < c.length) { val x = v(t) - c(t); d += x * x; t += 1 }
      (d, j)
    }.sorted.take(np).map(_._2).toSeq

  /** The IVF-PQ serving path (the FAISS IVFPQ shape): queries probe
    * their `nprobe` nearest cells, stage 1 scans ONLY those cells' PQ
    * CODE rows — m small ints per row, the ~32×-smaller read — and
    * ranks by the asymmetric-distance approximation
    * ([[Quantization.pqSearchTopK]]); stage 2 re-ranks the
    * `candidates` survivors by exact cosine against the pruned live
    * vectors. `nprobe ≥ nlist` AND `candidates` ≥ corpus degrades to
    * exact brute force (the oracle-gated configuration). Requires
    * `build(pqM > 0)`. Output (qIdCol, rank, idColName, cos); query
    * and corpus ids must be long-castable.
    */
  def searchTopKAdc(queries: DataFrame, indexPath: String, k: Int,
                    candidates: Int, nprobe: Int = 2,
                    qIdCol: String = "q_id", vecCol: String = "vec",
                    idColName: String = "id",
                    roundTo: Int = 6, maxQueries: Int = 1024): DataFrame = {
    require(k > 0)
    require(maxQueries >= 1, s"maxQueries must be positive, got $maxQueries")
    val spark = queries.sparkSession
    val snap = SegmentStore.open(spark, indexPath)
    val model = readPqModel(spark, indexPath).getOrElse(
      throw new IllegalArgumentException(
        s"$indexPath was built without PQ codes — build(pqM > 0) " +
          "enables the ADC path; use searchTopK otherwise"))
    val centroids = readCentroids(spark, indexPath)
    require(nprobe >= 1, s"nprobe must be positive, got $nprobe")
    val np = math.min(nprobe, centroids.length)
    // probe-cell set driver-side from the query vectors (bounded: the
    // ADC tables collect the query frame anyway, and the frame is
    // maxQueries-enforced — this collect shares the same limit so an
    // oversized frame fails HERE, before any scan)
    val qVecRows = queries
      .select(VectorOps.asDouble(col(vecCol)).as("v"))
      .limit(maxQueries + 1).collect()
    require(qVecRows.length <= maxQueries,
      s"ADC search bakes per-query distance tables into the plan as " +
        s"literals, so the query frame collects driver-side — more than " +
        s"$maxQueries queries refused (raise maxQueries deliberately, " +
        "split the frame, or use the broadcast-joined searchTopK path)")
    val wanted = qVecRows
      .flatMap(r => nearestCellsLocal(r.getSeq[Double](0).toArray,
        centroids, np))
      .distinct.toSeq
    val prune: DataFrame => DataFrame =
      _.filter(col("cell").isin(wanted: _*))
    val codesLive = SegmentStore.liveRows(spark, snap, "codes", prune)
      .select("id", "codes")
    val corpusLive = SegmentStore.liveRows(spark, snap, "vectors", prune)
      .select(col("id"), col("v"))
    val q2 = queries.select(col(qIdCol).as("id"), col(vecCol).as("v"))
    Quantization.pqSearchTopK(q2, codesLive, corpusLive, "id", "v", k,
        model, candidates, roundTo, maxQueries)
      .select(col("q_id").as(qIdCol), col("rank"),
        col("id").as(idColName), col("cos"))
  }
}
