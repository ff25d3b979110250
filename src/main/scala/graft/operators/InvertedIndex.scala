package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.TextAnalysis

/** A persistent inverted index (term → postings) with index-backed
  * BM25 search — the materialized face of [[Ranking.bm25TopK]] and
  * the Spark-native equivalent of Lucene's role in the reference's
  * backing engine (eland pushes every `match` query to it).
  *
  * The scan-based bm25TopK re-tokenizes the corpus per query; right
  * for one-off analytics, wrong for a query-serving workload. Here:
  *
  *  - [[build]]/[[append]] write immutable SEGMENTS (the Lucene
  *    model): each segment is one corpus-count shuffle materialized
  *    as postings parquet partitioned by a stable term bucket (first
  *    byte of md5(term) — engine- and run-independent), plus a
  *    one-row stats table holding ADDITIVE moments (n, sum_len).
  *    Stats are written LAST and are the segment's commit marker: a
  *    crashed build/append leaves a stats-less segment every read
  *    skips, so search never serves a half-written segment
  *    (the registry discipline of [[Dedup.incrementalExactDedup]]).
  *  - [[searchTopK]] reads ONLY the query terms' buckets of each
  *    committed segment — directory pruning at planning time
  *    (spec-pinned) plus a parquet `term IN (...)` pushdown. Query
  *    cost is O(postings of the query terms), not O(corpus): at
  *    100 TB the corpus is never re-read, and term df / corpus
  *    stats merge additively across segments (appended doc sets are
  *    disjoint by contract, so no posting is double-counted).
  *  - [[compact]] merges all committed segments into one (postings
  *    rows are disjoint — a plain union), commit-then-delete, so
  *    segment count stays a handful and search lists few dirs.
  *  - [[deleteDocs]] tombstones documents (the Lucene delete model):
  *    committed tombstone batches subtract logically at search time
  *    (segment-scoped anti-join + lens-exact stats adjustment) until
  *    compact() removes them physically. Each segment carries a
  *    `lens` ledger (id, len — every doc, ~12 B each) that charges
  *    deletes and recomputes compacted stats exactly. [[upsertDocs]]
  *    composes delete + append into the ES-style update: tombstone
  *    scopes never cover the new segment, so updated docs resurface
  *    immediately, no compact() in between.
  *
  * Append contract: ids in an appended batch must be NEW (not in any
  * committed segment) — the index stores postings, not documents, so
  * it cannot dedup re-sent docs itself; gate re-ingest with
  * [[Dedup.incrementalExactDedup]] upstream. Single writer at a time,
  * like the dedup registries.
  *
  * Scoring is row-identical to [[Ranking.bm25TopK]] (same staged
  * doubles, same idf/tf expression tree, same 6-dp rounding —
  * differential-pinned in InvertedIndexSpec), so a caller can move
  * between the scan and index paths without result drift.
  */
object InvertedIndex {

  /** Stable term → bucket assignment: first byte of md5(term) mod
    * `buckets`. md5 over UTF-8 bytes on both sides, so the Spark
    * expression, the driver-side [[bucketOf]], and a DuckDB oracle
    * all agree on the layout.
    */
  private def termBucket(term: Column, buckets: Int): Column =
    (conv(substring(md5(term), 1, 2), 16, 10).cast("int") % buckets)

  /** Driver-side twin of [[termBucket]] — lets `searchTopK` enumerate
    * the buckets of its query terms without running a job.
    */
  private[operators] def bucketOf(term: String, buckets: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (d(0) & 0xff) % buckets
  }

  private def fsOf(spark: SparkSession, path: String) =
    SegmentStore.fsOf(spark, path)

  /** Committed segment dirs (stats marker present), sorted. */
  private[operators] def committedSegments(spark: SparkSession,
                                indexPath: String): Seq[String] =
    SegmentStore.committedSegments(spark, indexPath)

  /** Committed tombstone batch dirs under `deletes/` — same stats-last
    * commit marker as segments, so a crashed [[deleteDocs]] is
    * invisible to every reader.
    */
  private[operators] def committedDeletes(spark: SparkSession,
                               indexPath: String): Seq[String] =
    SegmentStore.committedDeletes(spark, indexPath)

  /** Write one immutable segment: postings first, stats last (the
    * commit marker).
    */
  private def writeSegment(docs: DataFrame, idCol: String,
                           textCol: String, indexPath: String,
                           buckets: Int, positions: Boolean,
                           analyzer: String): Unit =
    writeSegmentNamed(docs, idCol, textCol, indexPath,
      s"seg-${java.util.UUID.randomUUID()}", buckets, positions, analyzer)

  private def writeSegmentNamed(docs: DataFrame, idCol: String,
                                textCol: String, indexPath: String,
                                name: String, buckets: Int,
                                positions: Boolean,
                                analyzer: String): Unit = {
    val seg = s"$indexPath/segments/$name"
    // a named REWRITE (ingestBatch retry) must first un-commit the
    // previous attempt: stats are written last as the commit marker,
    // and a surviving old stats/_SUCCESS would make a crash
    // mid-postings-rewrite look committed — searches would then serve
    // the partial postings instead of skipping the segment
    fsOf(docs.sparkSession, indexPath)
      .delete(new org.apache.hadoop.fs.Path(s"$seg/stats"), true)
    // persisted: the postings write and the stats write are separate
    // jobs, and without pinning each would re-tokenize the batch
    val staged = docs
      .select(col(idCol).as("id"),
        graft.functions.EnglishMinimalStem.analyzeTokens(analyzer,
          TextAnalysis.tokens(col(textCol))).as("_toks"))
      .select(col("id"), col("_toks"),
        size(col("_toks")).cast("double").as("len"))
      .persist()
    try {
      writeSegmentJobs(staged, seg, buckets, positions, analyzer)
    } finally {
      staged.unpersist()
      ()
    }
  }

  /** Bucket count for a NEW index when the caller passed 0 ("auto"),
    * derived from the first batch's token volume (guide §2: derive
    * partitioning from input size, not a constant tuned for one
    * deployment). One bucket per ~1M postings keeps bucket files at a
    * healthy parquet size; the floor of 8 keeps search-time directory
    * pruning meaningful on small corpora, and the cap is the one-md5-
    * byte layout limit. A fixed 64 was 64 near-empty directories of
    * commit overhead per segment at gate scale AND too few buckets at
    * 100 TB — wrong in both directions.
    */
  private def autoBuckets(nTokens: Double): Int =
    math.min(256, math.max(8, (nTokens / 1000000.0).ceil.toInt))

  private def writeSegmentJobs(staged: DataFrame, seg: String,
                               bucketsReq: Int, positions: Boolean,
                               analyzer: String): Unit = {
    // ids must be unique within a batch (build/append/ingest/upsert
    // alike): a CDC micro-batch carrying two updates for one doc would
    // otherwise double that doc in the lens ledger and inflate its
    // tf/df silently, surfacing only much later as a deleteDocs
    // contract violation far from the cause. ONE agg over the
    // already-persisted staged frame carries the contract check AND
    // the segment's additive stats moments — the stats write below
    // becomes a literal row instead of a second full pass (r17-opt:
    // one pass per segment write, not two).
    val ss = staged.sparkSession
    val ur = SegmentStore.labeled(ss, "idx seg: tokenize+contract agg")(
      staged.agg(count(lit(1)).as("_n"),
        count_distinct(col("id")).as("_d"),
        coalesce(sum(col("len")), lit(0.0)).as("_sum")).head())
    require(ur.getLong(0) == ur.getLong(1),
      s"batch contains duplicate ids (${ur.getLong(0)} rows, " +
        s"${ur.getLong(1)} distinct) — collapse to one row per id " +
        "(e.g. last update wins) before ingesting")
    val buckets =
      if (bucketsReq > 0) bucketsReq else autoBuckets(ur.getDouble(2))
    // positional postings carry each occurrence's 0-based token
    // offsets as a sorted array (~4 B/token) — what phraseSearch
    // joins on; BM25 reads never touch the column (parquet pruning)
    val postings = (if (positions)
        staged.select(col("id"), col("len"),
            posexplode(col("_toks")).as(Seq("_p", "term")))
          .groupBy(col("term"), col("id"), col("len"))
          .agg(count(lit(1)).cast("double").as("tf"),
            sort_array(collect_list(col("_p"))).as("pos"))
      else
        staged.select(col("id"), col("len"),
            explode(col("_toks")).as("term"))
          .groupBy(col("term"), col("id"), col("len"))
          .agg(count(lit(1)).cast("double").as("tf")))
      .withColumn("bucket", termBucket(col("term"), buckets))
    val lens = staged.select(col("id"), col("len"))
    // postings and lens read the same persisted staged frame and land
    // in different dirs — overlap them (guide §2.6); stats stays LAST
    // (the commit marker), so crash-safety is unchanged
    SegmentStore.inParallel(Seq(
      () => SegmentStore.labeled(ss, "idx seg: postings write")(
        // repartition by bucket before partitionBy: otherwise every
        // write task opens up to `buckets` files (the small-files trap).
        // The partition COUNT is the data-derived bucket count, not the
        // session's shuffle.partitions (r18, guide §2 / VERDICT item 6:
        // a 32-partition shuffle over 8 buckets schedules 24 empty
        // tasks per segment write — pure overhead at gate scale, and
        // at 100 TB the bucket count is the right width too)
        postings.repartition(buckets, col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$seg/postings")),
      () => SegmentStore.labeled(ss, "idx seg: lens write")(
        // per-doc lengths (EVERY doc, token-free included): ~12 B/doc,
        // the exact ledger [[deleteDocs]] charges against and compact()
        // sums stats from — postings can't serve either (token-free
        // docs have none, and per-term rows repeat len)
        lens.write.mode("overwrite").parquet(s"$seg/lens"))))
    // ADDITIVE moments (n, sum_len — not avg), so multi-segment
    // search and compact() merge stats exactly — from the
    // contract-check agg above, no second pass over staged, written
    // as the driver-side stats doc (marker last; see
    // [[SegmentStore.writeDocDir]])
    writeSegStats(staged.sparkSession, seg, ur.getLong(0).toDouble,
      ur.getDouble(2), buckets, positions, analyzer, Seq(
        "postings" -> SegmentStore.writtenSchema(postings, Seq("bucket")),
        "lens" -> SegmentStore.writtenSchema(lens)))
  }

  /** The segment's commit doc: additive moments, layout, and the read
    * schema of each payload dir (see [[SegmentStore.readPayload]]).
    */
  private def writeSegStats(spark: SparkSession, seg: String, n: Double,
                            sumLen: Double, buckets: Int,
                            positions: Boolean, analyzer: String,
                            schemas: Seq[(String, StructType)]): Unit =
    SegmentStore.writeDocDir(fsOf(spark, seg), s"$seg/stats",
      org.json4s.JObject(
        "n" -> org.json4s.JDouble(n),
        "sum_len" -> org.json4s.JDouble(sumLen),
        "buckets" -> org.json4s.JInt(buckets),
        "positions" -> org.json4s.JBool(positions),
        "analyzer" -> org.json4s.JString(analyzer),
        SegmentStore.schemaField(schemas)))

  /** One committed segment's stats, read DRIVER-SIDE from its stats
    * doc (no Spark job).
    */
  private[operators] final case class SegStatsDoc(n: Double, sumLen: Double,
                                                  buckets: Int,
                                                  positions: Boolean,
                                                  analyzer: String)

  private def readSegStats(spark: SparkSession, seg: String): SegStatsDoc = {
    val stats = s"$seg/stats"
    val doc = SegmentStore.readDocDir(fsOf(spark, seg), stats)
    (doc \ "positions", doc \ "analyzer") match {
      case (org.json4s.JBool(positions), org.json4s.JString(analyzer)) =>
        SegStatsDoc(SegmentStore.docDouble(doc, "n"),
          SegmentStore.docDouble(doc, "sum_len"),
          SegmentStore.docDouble(doc, "buckets").toInt,
          positions, analyzer)
      case _ => throw SegmentStore.olderLayout(stats,
        "no recorded positions/analyzer")
    }
  }

  /** A committed tombstone batch's charged moments (n, sum_len) —
    * driver-side doc read.
    */
  private def readDelStats(spark: SparkSession,
                           del: String): (Double, Double) = {
    val doc = SegmentStore.readDocDir(fsOf(spark, del), s"$del/stats")
    (SegmentStore.docDouble(doc, "n"), SegmentStore.docDouble(doc, "sum_len"))
  }

  /** (buckets, positions, analyzer) of an existing index — one
    * driver-side stats-doc read of the first committed segment.
    */
  private def segMeta(spark: SparkSession,
                      segs: Seq[String]): (Int, Boolean, String) = {
    val st = readSegStats(spark, segs.head)
    (st.buckets, st.positions, st.analyzer)
  }

  /** Whether the index stores positional postings — from the first
    * committed segment's stats (uniform across segments because every
    * writer derives it from here).
    */
  private def indexPositions(spark: SparkSession,
                             segs: Seq[String]): Boolean =
    segs.nonEmpty && readSegStats(spark, segs.head).positions

  /** One segment's postings, opened with the schema its commit doc
    * records (no inference job).
    */
  private[operators] def postingsOf(spark: SparkSession,
                                    seg: String): DataFrame =
    SegmentStore.readPayload(spark, seg, "postings")

  private def mergedPostings(spark: SparkSession, segs: Seq[String],
                             prune: DataFrame => DataFrame): DataFrame =
    segs.map(s => prune(postingsOf(spark, s)))
      .reduce(_ unionByName _)

  /** [[mergedPostings]] with each segment's rows tagged by segment
    * name (a literal — free), minus the tombstone pairs applicable to
    * that segment. The tag exists so a tombstone kills an id only in
    * its own scope: a re-ingested id's newer posting survives.
    */
  private def mergedLivePostings(spark: SparkSession, segs: Seq[String],
                                 dels: Seq[String],
                                 prune: DataFrame => DataFrame): DataFrame =
    segs.map(s => prune(postingsOf(spark, s))
        .withColumn("_seg", lit(new org.apache.hadoop.fs.Path(s).getName)))
      .reduce(_ unionByName _)
      .join(broadcast(tombstonePairs(spark, dels)),
        Seq("id", "_seg"), "left_anti")
      .drop("_seg")


  /** Create a FRESH index at `indexPath` (any existing segments are
    * removed) holding one segment for `docs`.
    *
    * `analyzer` picks the analysis chain for BOTH sides of every later
    * search ("standard" | "english" — see
    * [[graft.functions.EnglishMinimalStem]]): tokens are analyzed at
    * segment-write time, the choice is recorded in each segment's
    * stats, and every append/ingest/search inherits it from there —
    * an index never mixes analyzers.
    */
  def build(docs: DataFrame, idCol: String, textCol: String,
            indexPath: String, buckets: Int = 0,
            positions: Boolean = false,
            analyzer: String = "standard"): Unit = {
    require(buckets == 0 || (buckets >= 1 && buckets <= 256),
      s"buckets must be 0 (auto) or in [1, 256] (one md5 byte), got $buckets")
    graft.functions.EnglishMinimalStem.requireKnown(analyzer)
    val fs = fsOf(docs.sparkSession, indexPath)
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/segments"), true)
    // a FRESH index also resets tombstones, the ingest ledger, and any
    // compaction manifest — stale batch-id markers would make
    // ingestBatch skip the new stream's early batches, and stale
    // tombstones would mask the new corpus's postings
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/deletes"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$indexPath/ingested"), true)
    Manifest.delete(fs, manifestPath(indexPath))
    writeSegment(docs, idCol, textCol, indexPath, buckets, positions,
      analyzer)
  }

  /** Tombstone documents — the Lucene delete model. The ids land in a
    * committed tombstone batch (`deletes/batch-<uuid>/` holding the id
    * list plus a one-row stats table of the deleted (n, sum_len),
    * charged EXACTLY against the per-segment `lens` ledgers; stats are
    * written LAST as the commit marker, so a crashed delete is
    * invisible). [[searchTopK]] subtracts tombstoned docs logically —
    * a postings anti-join plus a driver-side stats adjustment — and
    * [[compact]] applies them physically and clears the tombstones.
    *
    * Contract: every id must be LIVE (ingested, not already
    * tombstoned) — enforced against the lens ledger, so a double
    * delete or an unknown id fails loudly instead of silently skewing
    * the corpus stats every future score uses. Tombstones are
    * SEGMENT-SCOPED (real Lucene semantics): each records the segments
    * committed at delete time and applies only to them, so a deleted
    * id can be re-ingested afterwards — [[upsertDocs]] builds on
    * exactly that. Single writer, as everywhere in this module.
    *
    * Scale shape: one scan of the lens ledgers (~12 B/doc — not the
    * postings) charges the batch; searches then pay one anti-join
    * against the (bounded-between-compactions) tombstone set.
    */
  def deleteDocs(ids: DataFrame, indexPath: String): Unit = {
    val spark = ids.sparkSession
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    deleteDocsScoped(ids, indexPath, segs)
  }

  /** [[deleteDocs]] against an explicit scope — the segments the
    * tombstone applies to. [[ingestUpsertBatch]] passes a scope that
    * EXCLUDES the batch's own (crashed, about-to-be-rewritten)
    * segment; everything else uses the full committed set.
    */
  private def deleteDocsScoped(ids: DataFrame, indexPath: String,
                               segs: Seq[String]): Unit = {
    require(ids.columns.length == 1,
      s"ids must be a single-column frame, got ${ids.columns.toSeq}")
    val spark = ids.sparkSession
    val del = ids.select(col(ids.columns.head).as("id"))
      .distinct().localCheckpoint(true)
    // deleting nothing is vacuous success — NOT a zero-id tombstone
    // batch, which every search would broadcast and the next compact
    // would treat as a full-rewrite trigger. One count serves the
    // emptiness gate and the exact-match comparison below (r17-opt:
    // the separate isEmpty probe was a second job on the same frame).
    val nReq = del.count()
    if (nReq == 0) return
    // EXACT detector: matched rows AND matched distinct ids must both
    // equal the request — aggregate row count alone would let an id
    // live in two segments (rows > ids, an append-contract violation)
    // compensate for an unknown id (ids < requested) and slip through.
    // Per-frame semi-join (the tombstoneLiveOf shape): a compacted
    // segment's id-bucketed lens charges the delete without a shuffle.
    val hitRow = liveLensFrames(spark, segs,
        committedDeletes(spark, indexPath))
      .map(_.join(del, Seq("id"), "left_semi"))
      .reduce(_ unionByName _)
      .agg(count(lit(1)).cast("double").as("n"),
        count_distinct(col("id")).cast("double").as("d"),
        coalesce(sum(col("len")), lit(0.0)).as("sum_len")).head()
    require(hitRow.getDouble(0).toLong == nReq &&
        hitRow.getDouble(1).toLong == nReq,
      s"deleteDocs: $nReq ids requested but ${hitRow.getDouble(0).toLong} " +
        s"live rows over ${hitRow.getDouble(1).toLong} distinct ids " +
        s"matched in $indexPath — unknown/already-tombstoned ids (or an " +
        "id live in two segments) are contract violations")
    writeTombstone(spark, indexPath, segs, del,
      hitRow.getDouble(0), hitRow.getDouble(2))
  }

  /** Commit one tombstone batch: ids, then scope, then stats LAST (the
    * marker). The SCOPE is the segments committed at the caller's
    * probe time (the only ones that can hold the ids) and never a
    * later segment — so a deleted id can be re-ingested (see
    * [[upsertDocs]]) and the new posting is not masked. Segment-name
    * reuse cannot dangle a scope: only ingestBatch writes predictable
    * names, and its ledger (cleared solely by build(), which also
    * clears tombstones) blocks any second ingest of a batch id.
    */
  private def writeTombstone(spark: SparkSession, indexPath: String,
                             segs: Seq[String], ids: DataFrame,
                             n: Double, sumLen: Double): Unit =
    SegmentStore.writeTombstone(spark, indexPath, segs, ids,
      Seq("n" -> n, "sum_len" -> sumLen))

  /** (id, _seg) applicability pairs of the committed tombstones: a
    * row means "id is dead IN that segment". Bounded between
    * compactions — always broadcast, never shuffled against postings.
    */
  private def tombstonePairs(spark: SparkSession,
                             dels: Seq[String]): DataFrame =
    SegmentStore.tombstonePairs(spark, dels)

  /** Per-segment `lens` rows tagged with their segment name, minus the
    * tombstones applicable to each segment: exactly the live corpus —
    * ONE FRAME PER SEGMENT, so a compacted segment's id-bucketed lens
    * ledger keeps its HashPartitioning into whatever join the caller
    * builds (a union would erase it — the registry-probe rule from
    * [[Dedup]]). The broadcast tombstone anti-join preserves the
    * child's partitioning. Callers that join these frames must join
    * per frame and union the RESULTS; semi-joins distribute over the
    * left union, so that rewrite is always sound.
    */
  private def liveLensFrames(spark: SparkSession, segs: Seq[String],
                             dels: Seq[String]): Seq[DataFrame] =
    SegmentStore.liveLedgerFrames(spark, segs, dels, "lens")

  /** The union view of [[liveLensFrames]] — for consumers that rewrite
    * the whole corpus anyway (compaction) and do not care about
    * per-frame partitioning.
    */
  private def liveLens(spark: SparkSession, segs: Seq[String],
                       dels: Seq[String]): DataFrame =
    liveLensFrames(spark, segs, dels).reduce(_ unionByName _)

  /** ES-style upsert: documents whose ids are LIVE are tombstoned
    * first (scoped to the current segments), then the whole batch
    * lands as one new segment — updated docs resurface with their new
    * content immediately, no compact() required, because tombstone
    * scopes never cover the new segment. Ids must be unique within
    * `docs`; genuinely-new ids skip the delete and just append.
    */
  def upsertDocs(docs: DataFrame, idCol: String, textCol: String,
                 indexPath: String): Unit = {
    val spark = docs.sparkSession
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    tombstoneLiveOf(docs, idCol, indexPath, segs)
    append(docs, idCol, textCol, indexPath)
  }

  /** The upsert paths' single-scan probe-and-tombstone: ONE lens read
    * finds the live versions of the incoming ids AND their (n,
    * sum_len) moments, charged directly — not a second scan through
    * deleteDocsScoped. No live match → no tombstone (pure inserts).
    */
  private def tombstoneLiveOf(docs: DataFrame, idCol: String,
                              indexPath: String,
                              segs: Seq[String]): Unit = {
    val spark = docs.sparkSession
    SegmentStore.labeled(spark, "idx tomb: live probe") {
      // pinned: the ids subtree feeds one semi-join PER lens frame below
      val ids = docs.select(col(idCol).as("id")).distinct()
        .localCheckpoint(true)
      // per-frame semi-join + union ≡ semi-join against the union, and
      // keeps a compacted segment's id-bucketed lens pre-partitioned
      // into its probe — the O(index) lens read of every upsert/CDC
      // batch never reshuffles (spec-pinned)
      val hits = liveLensFrames(spark, segs,
          committedDeletes(spark, indexPath))
        .map(_.join(ids, Seq("id"), "left_semi"))
        .reduce(_ unionByName _)
        .localCheckpoint(true)
      val m = hits.agg(count(lit(1)).cast("double").as("n"),
        coalesce(sum(col("len")), lit(0.0)).as("sum_len")).head()
      if (m.getDouble(0) > 0)
        writeTombstone(spark, indexPath, segs,
          hits.select("id").distinct(), m.getDouble(0), m.getDouble(1))
    }
  }

  /** The CDC face: [[ingestBatch]]'s exactly-once-per-batch-id
    * discipline with [[upsertDocs]] semantics, for a continuous stream
    * that UPDATES earlier documents
    * ([[graft.streaming.CorpusStream.incrementalUpsertIndex]]).
    *
    * Replay-safety beyond ingestBatch: the tombstone scope EXCLUDES
    * the batch's own `seg-batch-<id>` segment. Without that, a retry
    * after the segment committed but before the marker landed would
    * see its own previous attempt's docs as live, tombstone them IN
    * THAT SEGMENT, and then rewrite the segment under the mask —
    * silently deleting the whole batch. With the exclusion the retry
    * finds nothing live in the OTHER segments (the first attempt's
    * committed tombstones already cover them) and simply rewrites its
    * own segment. Every other window replays like ingestBatch.
    */
  def ingestUpsertBatch(docs: DataFrame, idCol: String, textCol: String,
                        indexPath: String, batchId: Long,
                        bucketsIfNew: Int = 0): Unit = {
    require(bucketsIfNew == 0 || (bucketsIfNew >= 1 && bucketsIfNew <= 256),
      s"buckets must be 0 (auto) or in [1, 256] (one md5 byte), got $bucketsIfNew")
    val spark = docs.sparkSession
    val fs = fsOf(spark, indexPath)
    val marker = SegmentStore.ingestMarker(indexPath, batchId)
    if (fs.exists(marker)) return
    if (!docs.isEmpty) {
      val ownName = s"seg-batch-$batchId"
      val all = committedSegments(spark, indexPath)
      val others = all.filterNot(s =>
        new org.apache.hadoop.fs.Path(s).getName == ownName)
      val (buckets, positions, analyzer) =
        if (all.isEmpty) (bucketsIfNew, false, "standard")
        else segMeta(spark, all)
      if (others.nonEmpty) tombstoneLiveOf(docs, idCol, indexPath, others)
      writeSegmentNamed(docs, idCol, textCol, indexPath, ownName, buckets,
        positions, analyzer)
    }
    fs.create(marker, true).close()
  }

  /** The full CDC face: one micro-batch carrying op-typed events —
    * `upsert` rows (id + new text) AND `delete` rows (id, text
    * ignored) — applied with [[ingestBatch]]'s exactly-once-per-batch
    * discipline. [[ingestUpsertBatch]] covers feeds that only ever
    * update; real change-data-capture also deletes, and before this
    * a tombstone-only event had no streaming path
    * ([[graft.streaming.CorpusStream.incrementalCdcIndex]]).
    *
    * Semantics per batch: every event id's LIVE version (in the
    * OTHER segments — never the batch's own retry target) is
    * tombstoned in one batch-wide tombstone; then the upsert rows
    * land as the batch's own segment. Deletes of ids that are not
    * live no-op silently — that is what makes a checkpoint REPLAY of
    * a crashed batch idempotent (the first attempt's committed
    * tombstone already covers them), and it matches ES's
    * `delete`-of-missing-doc behavior (a 404, not a failure).
    *
    * Contract: ONE event per id per batch — a feed carrying several
    * ops for an id in one micro-batch must collapse to the last op
    * upstream (the same last-wins collapse any CDC consumer does).
    * Rejected loudly here, not discovered later as skewed stats.
    *
    * Replay windows (superset of [[ingestUpsertBatch]]'s): crash
    * after the tombstone → retry finds nothing live, re-tombstones
    * nothing; crash after the segment commit → retry rewrites its own
    * segment (excluded from tombstone scope, so never self-masked);
    * delete-only batches write no segment, only their marker.
    */
  def ingestCdcBatch(events: DataFrame, idCol: String, textCol: String,
                     opCol: String, indexPath: String, batchId: Long,
                     bucketsIfNew: Int = 0): Unit = {
    require(bucketsIfNew == 0 || (bucketsIfNew >= 1 && bucketsIfNew <= 256),
      s"buckets must be 0 (auto) or in [1, 256] (one md5 byte), got $bucketsIfNew")
    val spark = events.sparkSession
    val fs = fsOf(spark, indexPath)
    val marker = SegmentStore.ingestMarker(indexPath, batchId)
    if (fs.exists(marker)) return
    val evs = events.select(col(idCol).as("id"), col(textCol).as("_text"),
      lower(col(opCol)).as("_op")).persist()
    try {
      // one pass: op histogram + the one-event-per-id contract
      val r = SegmentStore.labeled(spark, "cdc: op histogram")(
        evs.agg(count(lit(1)).as("_n"),
          count_distinct(col("id")).as("_d"),
          count(when(col("_op").isin("upsert", "delete"), 1)).as("_k"),
          count(when(col("_op") === "upsert", 1)).as("_u")).head())
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
        val all = committedSegments(spark, indexPath)
        val others = all.filterNot(s =>
          new org.apache.hadoop.fs.Path(s).getName == ownName)
        val (buckets, positions, analyzer) =
          if (all.isEmpty) (bucketsIfNew, false, "standard")
          else segMeta(spark, all)
        // ONE tombstone covers both kinds of event: an upsert's stale
        // version and a delete's live version die the same way
        if (others.nonEmpty) tombstoneLiveOf(evs, "id", indexPath, others)
        if (nUpserts > 0)
          writeSegmentNamed(evs.filter(col("_op") === "upsert")
              .select(col("id").as(idCol), col("_text").as(textCol)),
            idCol, textCol, indexPath, ownName, buckets,
            positions, analyzer)
      }
      fs.create(marker, true).close()
    } finally {
      evs.unpersist()
      ()
    }
  }

  /** Add NEW documents as one more immutable segment (see the append
    * contract above). Bucket count is inherited from the existing
    * index so every segment shares one layout.
    */
  def append(docs: DataFrame, idCol: String, textCol: String,
             indexPath: String): Unit = {
    val spark = docs.sparkSession
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val (buckets, positions, analyzer) = segMeta(spark, segs)
    writeSegment(docs, idCol, textCol, indexPath, buckets,
      positions, analyzer)
  }

  /** Idempotent per-batch ingest for streaming drivers
    * ([[graft.streaming.CorpusStream.incrementalIndex]]): exactly-once
    * registration per batch id, in two layers.
    *
    *  - The segment name derives from the batch id, so a foreachBatch
    *    RETRY whose segment still exists REWRITES it (stats marker
    *    dropped first, so the rewrite window is un-committed) instead
    *    of appending a duplicate as a uuid-named [[append]] would.
    *  - A durable ledger marker (`ingested/batch-<id>`, created AFTER
    *    the segment's stats commit) records completed batch ids. The
    *    ledger is what survives [[compact]]: compaction renames
    *    segments away, so "does seg-batch-N exist?" stops answering
    *    "was batch N ingested?" the moment a compaction runs — a
    *    checkpoint replay of a compacted batch would re-append
    *    postings the merged segment already holds. A marked batch id
    *    is skipped outright, segment present or not.
    *
    * Creates the index on the first batch; empty batches write no
    * segment (only their marker). During a retry's rewrite the segment
    * is transiently un-committed — the single-writer contract shared
    * with [[compact]].
    */
  def ingestBatch(docs: DataFrame, idCol: String, textCol: String,
                  indexPath: String, batchId: Long,
                  bucketsIfNew: Int = 0): Unit = {
    require(bucketsIfNew == 0 || (bucketsIfNew >= 1 && bucketsIfNew <= 256),
      s"buckets must be 0 (auto) or in [1, 256] (one md5 byte), got $bucketsIfNew")
    val spark = docs.sparkSession
    val fs = fsOf(spark, indexPath)
    val marker = SegmentStore.ingestMarker(indexPath, batchId)
    if (fs.exists(marker)) return
    if (!docs.isEmpty) {
      val segs = committedSegments(spark, indexPath)
      val (buckets, positions, analyzer) =
        if (segs.isEmpty) (bucketsIfNew, false, "standard")
        else segMeta(spark, segs)
      writeSegmentNamed(docs, idCol, textCol, indexPath,
        s"seg-batch-$batchId", buckets, positions, analyzer)
    }
    // marker last: a crash before this line leaves the batch unmarked
    // and its (committed or partial) segment rewritable by the replay
    fs.create(marker, true).close()
  }

  private def manifestPath(indexPath: String) =
    SegmentStore.manifestPath(indexPath)

  /** Resolve a [[compact]] that crashed between committing its merged
    * segment and deleting the inputs. In that window merged AND input
    * segments are all committed: searches double-count, and — worse —
    * a naive next compact() would union them (postings twice, stats n
    * doubled) and DELETE the evidence, baking the duplication in
    * permanently. The manifest written by compact() records which
    * segment replaced which: heal replays that decision — merged
    * committed → finish the input deletes; merged uncommitted → drop
    * the partial merged dir — then clears the manifest. Idempotent
    * (a crash mid-heal re-heals); called by compact() itself and by
    * [[graft.streaming.CorpusStream.incrementalIndex]] on restart so
    * a replayed stream never searches or re-compacts the duplicated
    * state.
    */
  def heal(spark: SparkSession, indexPath: String): Unit =
    // entries are index-relative ("segments/seg-x", "deletes/batch-y")
    // so one manifest covers segment inputs AND the tombstone dirs a
    // compaction applies physically; the commit marker of both kinds
    // is their stats table
    SegmentStore.heal(spark, indexPath)

  /** Merge every committed segment into one, applying tombstones
    * PHYSICALLY: live postings are disjoint rows (a plain union minus
    * the tombstoned ids), the merged stats are recomputed from the
    * merged lens ledger (exact — token-free docs included), and the
    * consumed tombstone batches are removed with the input segments
    * (they are in the manifest, so a crash cannot leave tombstones
    * that would subtract a second time from already-subtracted stats).
    * Crash-safe via the [[heal]] manifest: the input list is published
    * before the merged segment is written, the merged stats marker
    * lands before anything is removed, and any interruption is
    * replayed to completion by the next compact()/heal(). Reads in a
    * crashed window would double-count, so like the dedup-registry
    * compaction this is OFFLINE maintenance: run without concurrent
    * searches.
    */
  /** Drop marker-less crash leftovers (a segment whose append died
    * before its stats commit, a tombstone batch whose deleteDocs died
    * likewise): no reader consumes them, but left alone they
    * accumulate forever on a long-lived index and every
    * committedSegments/committedDeletes listing stat-probes them.
    * Safe under compact()'s offline single-writer contract — nothing
    * is mid-write while this runs. (The registry compaction's sweep in
    * Dedup.compactDir is this same discipline.)
    */
  private def sweepUncommitted(fs: org.apache.hadoop.fs.FileSystem,
                               indexPath: String): Unit =
    SegmentStore.sweepUncommitted(fs, indexPath)

  /** `lensBuckets` sizes the compacted segment's id-bucketed lens
    * ledger — the build side of every later upsert/CDC/delete probe
    * ([[tombstoneLiveOf]]/[[deleteDocsScoped]]): bucketed by id, the
    * probe semi-join reads it pre-partitioned, so the per-micro-batch
    * O(index) lens read never reshuffles, at any index size. Pick it
    * for the target deployment's probe parallelism, like the dedup
    * registries' bucket counts. Fresh per-batch segments keep plain
    * lens dirs (they are batch-sized) until a compaction folds them
    * in.
    */
  def compact(spark: SparkSession, indexPath: String,
              lensBuckets: Int = 0): Unit = {
    heal(spark, indexPath)
    sweepUncommitted(fsOf(spark, indexPath), indexPath)
    val segs = committedSegments(spark, indexPath)
    val dels = committedDeletes(spark, indexPath)
    if (segs.length > 1 || (dels.nonEmpty && segs.nonEmpty)) {
      val fs = fsOf(spark, indexPath)
      val (_, positions, analyzer) = segMeta(spark, segs)
      val live = liveLens(spark, segs, dels)
        .drop("_seg").localCheckpoint(true)
      // ONE agg over the checkpointed live ledger serves the
      // empty-index check below AND the merged stats moments — the
      // previous limit(1).count + agg-at-write shape paid two extra
      // jobs per compaction (r17-opt)
      val m = live.agg(count(lit(1)).cast("double").as("n"),
        coalesce(sum(col("len")), lit(0.0)).as("sum_len")).head()
      // an index whose every doc is tombstoned would compact to a
      // segment no reader can open (schema-less empty postings).
      // Logical reads of that state stay correct, so SKIP the
      // compaction instead of throwing: a CDC stream whose cadence
      // compaction lands right after a delete-everything batch must
      // not wedge on checkpoint replay — documents can still arrive
      // in the next batch.
      if (m.getDouble(0) == 0.0) {
        System.err.println(s"[graft] compact skipped: every document " +
          s"in $indexPath is tombstoned (build() afresh to reset, or " +
          "ingest more documents)")
        return
      }
      val name = s"seg-${java.util.UUID.randomUUID()}"
      val seg = s"$indexPath/segments/$name"
      val inputs =
        segs.map(s => "segments/" + new org.apache.hadoop.fs.Path(s).getName) ++
        dels.map(d => "deletes/" + new org.apache.hadoop.fs.Path(d).getName)
      Manifest.write(fs, manifestPath(indexPath),
        s"segments/$name" +: inputs)
      // r18 (the r17 ADVICE ask): a compaction rewrites every posting
      // anyway, so RECOMPUTE the term-bucket count from the live token
      // volume with the autoBuckets formula and re-bucket the merged
      // rows — before, an index whose first micro-batch was tiny kept
      // its 8 term buckets forever, the "too few buckets at scale"
      // half of the problem autoBuckets exists to fix. The new count
      // lands in the merged stats doc, which is where every search
      // and later append reads it; bucket ids never reach results.
      val tb = autoBuckets(m.getDouble(1))
      val mergedLive =
        (if (dels.isEmpty) mergedPostings(spark, segs, identity)
         else mergedLivePostings(spark, segs, dels, identity))
          .withColumn("bucket", termBucket(col("term"), tb))
      // postings and the lens ledger are independent reads (merged
      // postings vs the checkpointed live lens) — overlap them
      // (guide §2.6); stats stays last as the commit marker
      // lens ledger bucket count from the LIVE corpus size when the
      // caller passed 0 (auto) — one bucket per ~100k docs of 12 B
      // rows, floor 8: the probe-parallelism knob should track the
      // index, not a constant (guide §2)
      val lb =
        if (lensBuckets > 0) lensBuckets
        else math.min(256, math.max(8, (m.getDouble(0) / 100000.0).ceil.toInt))
      SegmentStore.inParallel(Seq(
        () => mergedLive
          // width = the recomputed bucket count (the r18 segment-write
          // rule): no empty tasks below it, no session constant
          .repartition(tb, col("bucket"))
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$seg/postings"),
        () => Bucketing.saveBucketedBatch(
          live.repartition(lb, col("id")),
          s"$seg/lens", Seq("id"), lb)))
      writeSegStats(spark, seg, m.getDouble(0), m.getDouble(1),
        tb, positions, analyzer, Seq(
          "postings" -> SegmentStore.writtenSchema(mergedLive, Seq("bucket")),
          "lens" -> SegmentStore.writtenSchema(live)))
      (segs ++ dels).foreach(s =>
        fs.delete(new org.apache.hadoop.fs.Path(s), true))
      Manifest.delete(fs, manifestPath(indexPath))
    }
  }

  /** Tombstone-adjusted corpus moments + the shared bucket count: ONE
    * driver-side read of the (one-row-per-segment/tombstone) stats
    * tables, feeding [[searchTopK]], [[termStats]], and [[stats]] so
    * the accounting cannot desynchronize between them.
    */
  private[operators] final case class LiveStats(n: Double, sumLen: Double,
                                     buckets: Int, analyzer: String) {
    /** Query-term analysis matching the chain the postings were built
      * with: lowercase always, plus the minimal stem under "english".
      * Idempotent (every stemmer output is a fixed point), so terms
      * that already went through resolution (fuzzy) re-analyze safely.
      */
    def analyzeTerm(t: String): String =
      graft.functions.EnglishMinimalStem.analyzeTerm(analyzer,
        t.toLowerCase(java.util.Locale.ROOT))
  }

  private[operators] def liveStats(spark: SparkSession, segs: Seq[String],
                        dels: Seq[String]): LiveStats = {
    val segStats = segs.map(readSegStats(spark, _))
    val delStats = dels.map(readDelStats(spark, _))
    // analyzer is uniform across segments (every writer inherits it)
    LiveStats(
      segStats.map(_.n).sum - delStats.map(_._1).sum,
      segStats.map(_.sumLen).sum - delStats.map(_._2).sum,
      segStats.head.buckets, segStats.head.analyzer)
  }

  /** [[liveStats]] for MANY indexes — since the stats sidecars are
    * driver-side docs (r17-opt) this is a plain loop: zero Spark jobs
    * for a wide [[FieldedIndex]] root's per-field corpus moments.
    */
  private[operators] def liveStatsBatch(
      spark: SparkSession,
      perIndex: Seq[(String, Seq[String], Seq[String])])
      : Map[String, LiveStats] = {
    require(perIndex.forall(_._2.nonEmpty),
      "liveStatsBatch over an index with no committed segments")
    perIndex.map { case (tag, segs, dels) =>
      tag -> liveStats(spark, segs, dels)
    }.toMap
  }

  /** The live postings of `terms` (already lowercased/distinct):
    * bucket IN (...) prunes partition DIRECTORIES of every segment at
    * planning time (spec-pinned), term IN (...) pushes to the parquet
    * reader, and tombstoned docs are subtracted when tombstones exist.
    */
  private[operators] def prunedLivePostings(spark: SparkSession, segs: Seq[String],
                                 dels: Seq[String], terms: Seq[String],
                                 buckets: Int): DataFrame = {
    val wanted = terms.map(bucketOf(_, buckets)).distinct
    val prune: DataFrame => DataFrame =
      _.filter(col("bucket").isin(wanted: _*))
        .filter(col("term").isin(terms: _*))
    if (dels.isEmpty) mergedPostings(spark, segs, prune)
    else mergedLivePostings(spark, segs, dels, prune)
  }

  /** Index observability — the ES indices-stats face: one row of live
    * corpus moments and structural counts. `n_docs`/`sum_len`/
    * `avg_len` are tombstone-adjusted (what scoring actually uses);
    * `segments`/`tombstone_batches` are the maintenance signals a
    * compaction cadence watches.
    */
  def stats(spark: SparkSession, indexPath: String): DataFrame = {
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    spark.range(1).select(
      lit(st.n.toLong).as("n_docs"),
      lit(st.sumLen).as("sum_len"),
      lit(if (st.n > 0) st.sumLen / st.n else 0.0).as("avg_len"),
      lit(segs.length).as("segments"),
      lit(dels.length).as("tombstone_batches"),
      lit(st.buckets).as("buckets"))
  }

  /** Per-term LIVE document frequency — the `_termvectors` df face:
    * (term, df) for each requested term with at least one live
    * posting, reading only the terms' buckets (same pruned shape as
    * [[searchTopK]], minus the scoring).
    */
  def termStats(spark: SparkSession, indexPath: String,
                terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    prunedLivePostings(spark, segs, dels,
        terms.map(st.analyzeTerm).distinct, st.buckets)
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
  }

  /** Index-backed BM25 top-k: (idColName, score) ordered by score
    * desc, ties by id — the same output contract, formula, and 6-dp
    * rounding as [[Ranking.bm25TopK]], reading only the query terms'
    * postings buckets of each committed segment.
    */
  def searchTopK(spark: SparkSession, indexPath: String,
                 queryTerms: Seq[String], k: Int,
                 idColName: String = "id",
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && k > 0)
    val segs = committedSegments(spark, indexPath)
    // fail LOUDLY on a never-built / crashed-before-first-commit
    // index: an empty result would read as "no matches"
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    // ONE driver-side read of the (one-per-segment) stats docs serves
    // n, avg len, AND the bucket count — the serving path runs no job
    // before the caller's action, and the corpus stats enter the plan as
    // literals instead of a crossJoin. Committed tombstone batches
    // subtract their (pre-charged, lens-exact) moments the same way,
    // and tombstoned docs drop out of the postings BEFORE df counts
    // rows — idf, tf, and the corpus stats all see only live docs.
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val terms = queryTerms.map(st.analyzeTerm).distinct
    rawTermScores(spark, segs, dels, st, terms, idColName, k1, b)
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** The (id, rounded score) frame behind [[searchTopK]] and
    * [[searchAfter]] — one pruned postings read, broadcast df,
    * per-doc Okapi sum with the single 6-dp rounding.
    */
  private def rawTermScores(spark: SparkSession, segs: Seq[String],
                            dels: Seq[String], st: LiveStats,
                            terms: Seq[String], idColName: String,
                            k1: Double, b: Double): DataFrame =
    rawTermContribs(spark, segs, dels, st, terms, k1, b)
      .groupBy(col("id").as(idColName))
      .agg(round(sum(col("_s")), 6).as("score"))

  /** Per-(doc, term) RAW Okapi contributions over the live postings —
    * (id, term, _s double), one bucket-pruned read + broadcast df.
    * [[rawTermScores]] sums them per doc;
    * [[FieldedIndex.queryStringSearchTopK]] keeps the term grain to
    * gate and score boolean clauses per field.
    */
  private[operators] def rawTermContribs(spark: SparkSession,
                                         segs: Seq[String],
                                         dels: Seq[String],
                                         st: LiveStats,
                                         terms: Seq[String],
                                         k1: Double,
                                         b: Double): DataFrame = {
    val n = st.n
    val avg = if (n > 0) st.sumLen / n else 1.0
    val p = prunedLivePostings(spark, segs, dels, terms, st.buckets)
    // postings rows are unique per (term, id) across segments (the
    // append contract): df = row count per term
    val dfreq = p.groupBy("term")
      .agg(count(lit(1)).cast("double").as("_df"))
    p.join(broadcast(dfreq), Seq("term"))
      .withColumn("_idf",
        log(lit(1.0) + (lit(n) - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_s",
        col("_idf") * col("tf") * (k1 + 1.0) /
          (col("tf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("len") / lit(avg))))
      .select(col("id"), col("term"), col("_s"))
  }

  /** Index-served search with a SEARCH-TIME synonym set
    * ([[graft.functions.Synonyms]] rule strings): each analyzed
    * query position expands to its rule group and scores as Lucene's
    * SynonymQuery — per-doc tf SUMS over member postings, df blends
    * as the member MAX (SynonymQuery.docFreq), idf + Okapi once per
    * group — reading only the member terms' postings buckets. Rule
    * entries fold through the INDEX's analysis chain (Lucene's
    * filter-ordering requirement: a synonym that analyzes
    * differently from the index is a silent df mismatch). Scale
    * shape: the group tf cells ride the SAME doc-keyed aggregation
    * the plain search pays (the structure is static — conditional
    * cells, not a second shuffle); member dfs are one tiny
    * query-sized job (postings rows are unique per (term, id)) and
    * the blended group dfs enter the score plan as literals, like
    * the serving path's corpus stats.
    */
  def searchTopKSynonyms(spark: SparkSession, indexPath: String,
                         queryTerms: Seq[String],
                         synonymRules: Seq[String], k: Int,
                         idColName: String = "id",
                         k1: Double = 1.2,
                         b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && k > 0)
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val syn = graft.functions.Synonyms.parse(synonymRules)
      .map { case (f, ts) =>
        st.analyzeTerm(f) -> ts.map(st.analyzeTerm).distinct.sorted
      }
    val groups = queryTerms.map(st.analyzeTerm).distinct
      .map(t => syn.getOrElse(t, Seq(t))).distinct
    val allTerms = groups.flatten.distinct
    val n = st.n
    val avg = if (n > 0) st.sumLen / n else 1.0
    val p = prunedLivePostings(spark, segs, dels, allTerms, st.buckets)
    val dfMap = p.groupBy("term")
      .agg(count(lit(1)).cast("double").as("_df"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gdf: Seq[Double] =
      groups.map(g => g.map(t => dfMap.getOrElse(t, 0.0)).max)
    import spark.implicits._
    val tg = groups.zipWithIndex.flatMap { case (g, gi) =>
      g.map(t => (t, gi))
    }.toDF("term", "_gid")
    val cells = groups.indices.map(gi =>
      sum(when(col("_gid") === gi, col("tf"))).as(s"_g${gi}_tf"))
    val perDoc = p.join(broadcast(tg), Seq("term"))
      .groupBy(col("id"))
      .agg(max(col("len")).as("_len"), cells: _*)
    val scoreCols = groups.indices.map { gi =>
      val tfc = col(s"_g${gi}_tf")
      val idf = math.log(1.0 + (n - gdf(gi) + 0.5) / (gdf(gi) + 0.5))
      when(tfc.isNotNull,
        lit(idf) * tfc * (k1 + 1.0) /
          (tfc + lit(k1) *
            (lit(1.0) - b + lit(b) * col("_len") / lit(avg))))
        .otherwise(lit(0.0))
    }
    perDoc
      .select(col("id").as(idColName),
        round(scoreCols.reduce(_ + _), 6).as("score"))
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** ES `search_after` pagination of [[searchTopK]]: the next `k`
    * docs STRICTLY AFTER the (score, id) cursor in the ranking's own
    * order (score desc, id asc). The cursor compares on the ROUNDED
    * score — the ranking's own 6-dp surface — so a cursor taken from
    * a previous page's last row tiles exactly: no overlap, no gap.
    * Deep pages re-read only the query terms' postings (the same
    * pruned read every page pays) and never materialize earlier
    * hits — the cursor predicate cuts them before the top-k heap,
    * which is the entire point of search_after vs from/size.
    */
  def searchAfter(spark: SparkSession, indexPath: String,
                  queryTerms: Seq[String], k: Int,
                  afterScore: Double, afterId: Any,
                  idColName: String = "id",
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty && k > 0)
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val terms = queryTerms.map(st.analyzeTerm).distinct
    rawTermScores(spark, segs, dels, st, terms, idColName, k1, b)
      .filter(col("score") < afterScore ||
        (col("score") === afterScore && col(idColName) > lit(afterId)))
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** Index-served BOOLEAN search — the bool/query_string subset the
    * postings can answer without a corpus scan: `must` / `should` /
    * `mustNot` TERM clauses (analyzed through the index's chain).
    * Matching follows ES's bool rules — every must term present, at
    * least `minimumShouldMatch` should terms (default: 1 when there
    * are no must clauses, else 0 — should becomes score-only), no
    * mustNot term. The score is the tombstone-adjusted Okapi BM25 sum
    * over the PRESENT must+should terms ([[searchTopK]]'s exact
    * formula and single 6-dp rounding) — matched should clauses add
    * score even when not required to match, and mustNot never scores,
    * both exactly ES.
    *
    * Plan shape: ONE bucket-pruned postings read covers all three
    * clause roles; the per-doc decision is a single groupBy(id) with
    * conditional aggregates (distinct-term presence counts per role +
    * the conditional score sum) — no joins beyond the broadcast df
    * table, no second corpus touch, O(query-term postings) total.
    *
    * A pure-negative query (no must, no should) is refused: matching
    * "every live doc except" cannot be answered from the query terms'
    * postings alone — it is a corpus scan wearing a bool costume, and
    * serving it here would silently hide that cost.
    */
  def booleanSearchTopK(spark: SparkSession, indexPath: String,
                        must: Seq[String], should: Seq[String],
                        mustNot: Seq[String], k: Int,
                        idColName: String = "id",
                        minimumShouldMatch: Int = -1,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, "k must be positive")
    require(must.nonEmpty || should.nonEmpty,
      "pure-negative bool (only must_not) is a corpus scan, not an " +
        "index lookup — refuse rather than silently scanning")
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val n = st.n
    val avg = if (n > 0) st.sumLen / n else 1.0
    val mustT = must.map(st.analyzeTerm).distinct
    val shouldT = should.map(st.analyzeTerm).distinct
      .filterNot(mustT.contains)
    val notT = mustNot.map(st.analyzeTerm).distinct
    require(notT.intersect(mustT ++ shouldT).isEmpty,
      s"terms ${notT.intersect(mustT ++ shouldT)} appear both " +
        "positively and in must_not — the query is unsatisfiable " +
        "or the must_not is dead; restate it")
    val msm =
      if (minimumShouldMatch >= 0) minimumShouldMatch
      else if (mustT.isEmpty) 1 else 0
    require(msm <= shouldT.size || shouldT.isEmpty,
      s"minimum_should_match $msm exceeds ${shouldT.size} should terms")
    val scoredT = mustT ++ shouldT
    val allT = scoredT ++ notT
    val p = prunedLivePostings(spark, segs, dels, allT, st.buckets)
    val dfreq = p.filter(col("term").isin(scoredT: _*))
      .groupBy("term").agg(count(lit(1)).cast("double").as("_df"))
    val contrib =
      when(col("term").isin(scoredT: _*),
        log(lit(1.0) + (lit(n) - col("_df") + 0.5) / (col("_df") + 0.5)) *
          col("tf") * (k1 + 1.0) /
          (col("tf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("len") / lit(avg))))
        .otherwise(lit(0.0))
    p.join(broadcast(dfreq), Seq("term"), "left")
      .groupBy(col("id").as(idColName))
      .agg(
        round(sum(contrib), 6).as("score"),
        countDistinct(when(col("term").isin(mustT: _*), col("term")))
          .as("_must"),
        countDistinct(when(col("term").isin(shouldT: _*), col("term")))
          .as("_should"),
        max(when(col("term").isin(notT: _*), 1).otherwise(0)).as("_not"))
      .filter(col("_must") === mustT.size.toLong &&
        col("_should") >= msm.toLong && col("_not") === 0)
      .select(col(idColName), col("score"))
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** [[booleanSearchTopK]] driven by a Lucene query string: the
    * simple_query_string grammar parsed and flattened to one bool
    * level of term clauses
    * ([[graft.functions.QueryStringParser.flatTermClauses]] — groups,
    * phrases, prefixes and other non-term leaves refuse there, with
    * the scan faces named as the home for them).
    */
  def queryStringSearchTopK(spark: SparkSession, indexPath: String,
                            query: String, k: Int,
                            idColName: String = "id",
                            defaultOperator: String = "or",
                            k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    val (m, s, mn) = graft.functions.QueryStringParser
      .flatTermClauses(query, defaultOperator)
    booleanSearchTopK(spark, indexPath, m, s, mn, k, idColName,
      k1 = k1, b = b)
  }

  /** `more_like_this` — ES/Lucene's MLT query served from the index:
    * find documents similar to a given text by selecting its most
    * significant terms and running them as a BM25 disjunction with a
    * minimum-should-match cut. eland users reach MLT only through the
    * raw-DSL passthrough (eland/query_compiler.py:490-491); this is
    * the in-engine equivalent, with Lucene MoreLikeThis's recipe made
    * engine-replayable:
    *
    *  1. analyze `likeText` with the index's chain; candidate terms
    *     need like-tf ≥ `minTermFreq` (Lucene's default 2),
    *  2. read the candidates' LIVE df from the index (bucket-pruned,
    *     O(candidate postings)); keep df ≥ `minDocFreq` (default 5),
    *  3. rank candidates by like-tf · idf (the index's BM25 idf),
    *     rounded half-up at 6 dp so cross-engine ln drift cannot flip
    *     the cut, ties term-asc; keep the top `maxQueryTerms`
    *     (default 25),
    *  4. score the selected terms as ordinary BM25 ([[searchTopK]]'s
    *     formula and rounding), keeping docs that match at least
    *     `minShouldMatchPct`% (floored, min 1) of the selected terms —
    *     ES's "30%" default,
    *  5. `excludeId` drops the like-document itself from the RESULT
    *     (ES's like-document exclusion) without touching df.
    *
    * Output (idColName, score), score desc, ties by id, top `k`. An
    * empty selection (nothing frequent/common enough) returns no rows
    * — ES's empty-hits, not an error.
    */
  def moreLikeThisTopK(spark: SparkSession, indexPath: String,
                       likeText: String, k: Int,
                       idColName: String = "id",
                       maxQueryTerms: Int = 25,
                       minTermFreq: Int = 2,
                       minDocFreq: Int = 5,
                       minShouldMatchPct: Int = 30,
                       excludeId: Option[Any] = None,
                       k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0 && maxQueryTerms > 0 && minTermFreq >= 1 &&
      minDocFreq >= 1 && minShouldMatchPct >= 0 &&
      minShouldMatchPct <= 100,
      "moreLikeThisTopK: k/maxQueryTerms >= 1, minTermFreq/minDocFreq " +
        ">= 1, minShouldMatchPct in [0, 100]")
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val n = st.n
    val avg = if (n > 0) st.sumLen / n else 1.0
    // 1. like-text term frequencies through the index's analysis chain
    // (tokensOf = the driver twin of TextAnalysis.tokens, so like-text
    // tf can never desynchronize from index postings)
    val likeTf = graft.functions.TextAnalysis.tokensOf(likeText)
      .map(t => graft.functions.EnglishMinimalStem
        .analyzeTerm(st.analyzer, t))
      .groupBy(identity).view.mapValues(_.length).toMap
      .filter(_._2 >= minTermFreq)
    val empty = {
      // typed empty result: id type from the postings schema (footer
      // read only; the lens dir may be bucketed on compacted segments)
      val idT = postingsOf(spark, segs.head).schema("id")
      spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          idT.copy(name = idColName),
          org.apache.spark.sql.types.StructField("score",
            org.apache.spark.sql.types.DoubleType))))
    }
    if (likeTf.isEmpty) return empty
    // 2. live df of the candidates — one bucket-pruned read, bounded
    // collect (≤ |like terms| rows)
    val dfMap = prunedLivePostings(spark, segs, dels,
        likeTf.keys.toSeq, st.buckets)
      .groupBy("term").agg(count(lit(1)).cast("double").as("_df"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 3. selection: like-tf · idf, 6-dp rounded, term-asc ties
    val selected = likeTf.toSeq
      .flatMap { case (t, tf) => dfMap.get(t).collect {
        case df if df >= minDocFreq =>
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          (t, math.floor(tf * idf * 1e6 + 0.5) / 1e6)
      } }
      .sortBy { case (t, s) => (-s, t) }
      .take(maxQueryTerms).map(_._1)
    if (selected.isEmpty) return empty
    val msm = math.max(1,
      math.floor(selected.size * minShouldMatchPct / 100.0).toInt)
    // 4./5. BM25 over the selected terms (searchTopK's formula and
    // rounding) + the distinct-matched-terms cut; the exclusion
    // filters RESULT rows after df is counted, so df matches ES's
    val p = prunedLivePostings(spark, segs, dels, selected, st.buckets)
    val dfreq = p.groupBy("term")
      .agg(count(lit(1)).cast("double").as("_df"))
    val scoredRows = p.join(broadcast(dfreq), Seq("term"))
    val resultRows = excludeId match {
      case Some(x) => scoredRows.filter(col("id") =!= lit(x))
      case None    => scoredRows
    }
    resultRows
      .withColumn("_idf",
        log(lit(1.0) + (lit(n) - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_s",
        col("_idf") * col("tf") * (k1 + 1.0) /
          (col("tf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("len") / lit(avg))))
      .groupBy(col("id").as(idColName))
      .agg(round(sum(col("_s")), 6).as("score"),
        count(lit(1)).as("_nt")) // postings unique per (term, id)
      .filter(col("_nt") >= msm)
      .drop("_nt")
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** CROSS-INDEX BM25 — ES's `index-*` multi-index search, with
    * GLOBAL statistics (ES's dfs_query_then_fetch — the semantics a
    * user actually wants; per-shard-stats drift is ES's default only
    * for latency reasons): corpus moments merge additively across the
    * indexes (exactly the multi-SEGMENT merge inside one index, one
    * level up), df per term counts live postings across all of them,
    * and every index prunes with its OWN bucket layout — indexes
    * built with different bucket counts search together.
    *
    * Contract (the cross-index face of the append contract): document
    * ids must be DISJOINT across the indexes — the same id in two
    * indexes would double its postings in df and score as one doc
    * with summed contributions. Analyzers must MATCH (enforced
    * loudly): mixed analysis chains would ask different questions of
    * different indexes. Output is [[searchTopK]]'s (idColName, score),
    * identical to one index built over the union corpus (idx10 proves
    * it against the flat-corpus oracle).
    */
  def searchTopKIndices(spark: SparkSession, indexPaths: Seq[String],
                        queryTerms: Seq[String], k: Int,
                        idColName: String = "id",
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(indexPaths.nonEmpty, "no index paths")
    // a repeated path would double its postings in df and score each
    // of its docs with summed contributions — the exact silent failure
    // the disjoint-id contract warns about, and the one case we CAN
    // detect for free
    require(indexPaths.distinct.size == indexPaths.size,
      s"duplicate index paths: ${indexPaths.mkString(", ")}")
    require(queryTerms.nonEmpty && k > 0)
    val parts = indexPaths.map { p =>
      val segs = committedSegments(spark, p)
      require(segs.nonEmpty,
        s"$p has no committed segments — build() first")
      val dels = committedDeletes(spark, p)
      (p, segs, dels, liveStats(spark, segs, dels))
    }
    val analyzers = parts.map(_._4.analyzer).distinct
    require(analyzers.size == 1,
      s"indexes mix analyzers $analyzers — cross-index search needs " +
        "one analysis chain (rebuild with a shared analyzer)")
    val st0 = parts.head._4
    val n = parts.map(_._4.n).sum
    val sumLen = parts.map(_._4.sumLen).sum
    val avg = if (n > 0) sumLen / n else 1.0
    val terms = queryTerms.map(st0.analyzeTerm).distinct
    // each index prunes with its own bucket count; rows are disjoint
    // across indexes (the id contract), so df = row count per term
    val p = parts.map { case (_, segs, dels, st) =>
      prunedLivePostings(spark, segs, dels, terms, st.buckets)
    }.reduce(_ unionByName _)
    val dfreq = p.groupBy("term")
      .agg(count(lit(1)).cast("double").as("_df"))
    p.join(broadcast(dfreq), Seq("term"))
      .withColumn("_idf",
        log(lit(1.0) + (lit(n) - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_s",
        col("_idf") * col("tf") * (k1 + 1.0) /
          (col("tf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("len") / lit(avg))))
      .groupBy(col("id").as(idColName))
      .agg(round(sum(col("_s")), 6).as("score"))
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** Serve a whole QUERY TABLE in one plan — the index's concurrent-
    * search face. [[searchTopK]] answers one query per driver call;
    * a query-serving workload has a frame of (query id, terms) rows
    * and wants them all answered together, the way the reference's
    * backing engine serves concurrent searches natively.
    *
    * Shape: the union of every query's term-bucket reads is ONE
    * pruned postings scan (each bucket directory is read once no
    * matter how many queries touch it), df/idf are computed once per
    * term (they are query-independent), the postings join against the
    * exploded (query, term) pairs fans each posting row out only to
    * the queries that asked for its term, and the per-query ranking
    * is the two-phase top-k of [[Similarity.rankTopKPerQuery]] — no
    * query's candidate set ever funnels through a single partition.
    *
    * The (query, term) side is bounded by the query frame (Σ|query
    * terms| rows), so it is collected ONCE — the call's only possible
    * Spark job, and none for a query frame built on the driver — and
    * re-enters the plan as a local relation: nothing stays persisted
    * after the call. When the workload's distinct-term
    * vocabulary is small (≤ `maxPushdownTerms`) the terms push into
    * the parquet scan exactly like [[searchTopK]]; beyond that the
    * scan prunes on the ≤ 256 wanted BUCKET ids ([[bucketOf]] on the
    * driver) and the term membership test joins instead — no
    * unbounded IN-list.
    *
    * Output: (qIdCol, rank, idColName, score) for rank ≤ k per query,
    * row-identical per query to [[searchTopK]] (same formula, 6-dp
    * rounding, ties by id — differential-pinned in the spec). Queries
    * with no matching term simply have no rows, ES's empty-hits.
    */
  def searchTopKBatch(queries: DataFrame, indexPath: String, k: Int,
                      qIdCol: String = "q_id", termsCol: String = "terms",
                      idColName: String = "id",
                      k1: Double = 1.2, b: Double = 0.75,
                      maxPushdownTerms: Int = 1024): DataFrame = {
    require(k > 0)
    // the postings side owns these names; a clashing query-id column
    // would silently alias into the score plan
    require(!Seq("term", "id", "tf", "len", "bucket", "score", "rank")
        .contains(qIdCol) && qIdCol != idColName,
      s"qIdCol '$qIdCol' collides with the postings/result columns — " +
        "rename the query-id column")
    val spark = queries.sparkSession
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val n = st.n
    val avg = if (n > 0) st.sumLen / n else 1.0
    // (q_id, term) pairs, analyzed with the index's chain (lowercase,
    // plus the stem under "english" — Column spelling of
    // LiveStats.analyzeTerm), de-duped within each query so a repeated
    // term — or two surface forms sharing a stem — cannot double its
    // score contribution
    def analyzed(t: Column): Column =
      if (st.analyzer == "english")
        graft.functions.EnglishMinimalStem.stem(lower(t))
      else lower(t)
    // bounded: Σ|query terms| rows, analyzed in a pure projection —
    // a query frame built on the driver folds into a local relation
    // and the collect runs no job — then exploded and de-duped here
    val perQuery = queries.select(col(qIdCol),
      transform(col(termsCol), analyzed(_)).as("_terms"))
    val qtRows = perQuery.collect().toSeq.flatMap(r =>
      Option(r.getSeq[String](1)).toSeq.flatten
        .map(t => org.apache.spark.sql.Row(r.get(0), t))).distinct
    val qt = spark.createDataFrame(java.util.Arrays.asList(qtRows: _*),
      perQuery.select(col(qIdCol), explode(col("_terms")).as("term")).schema)
    // a null term matches no posting
    val terms = qtRows.map(_.getString(1)).filter(_ != null).distinct.toSeq
    val p =
      if (terms.size <= maxPushdownTerms)
        prunedLivePostings(spark, segs, dels, terms, st.buckets)
      else {
        val wanted = terms.map(bucketOf(_, st.buckets)).distinct
        val prune: DataFrame => DataFrame =
          _.filter(col("bucket").isin(wanted: _*))
            .join(qt.select("term").distinct(), Seq("term"), "left_semi")
        if (dels.isEmpty) mergedPostings(spark, segs, prune)
        else mergedLivePostings(spark, segs, dels, prune)
      }
    val dfreq = p.groupBy("term")
      .agg(count(lit(1)).cast("double").as("_df"))
    val scored = p.join(broadcast(dfreq), Seq("term"))
      .join(qt, Seq("term"))
      .withColumn("_idf",
        log(lit(1.0) + (lit(n) - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_s",
        col("_idf") * col("tf") * (k1 + 1.0) /
          (col("tf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("len") / lit(avg))))
      .groupBy(col(qIdCol), col("id").as(idColName))
      .agg(round(sum(col("_s")), 6).as("score"))
    Similarity.rankTopKPerQuery(scored, k, qIdCol, idColName, "score")
      .select(col(qIdCol), col("rank"), col(idColName), col("score"))
  }

  /** Docs containing the exact consecutive token sequence `phrase` —
    * the index-served face of
    * [[graft.functions.EsMatch.matchPhrase]] (Lucene's positional
    * phrase query; the scan face re-tokenizes the corpus per query).
    * Requires an index built with `positions = true` — refused loudly
    * otherwise.
    *
    * Shape: each term's live postings read only their bucket
    * directories (plan-time pruning + term pushdown, exactly
    * [[searchTopK]]'s read), docs holding ALL the terms join on id
    * (postings rows are unique per (term, id) across segments — the
    * append contract), and adjacency tests as an array predicate over
    * the per-term position lists: a match is a start position p in
    * term 0's list with p+i in term i's list for every i. Work is
    * O(docs containing all the phrase's terms), never the corpus.
    * Output: one `idColName` row per matching doc.
    */
  def phraseSearch(spark: SparkSession, indexPath: String,
                   phrase: Seq[String],
                   idColName: String = "id"): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    require(indexPositions(spark, segs),
      s"$indexPath was built without positional postings — " +
        "build(positions = true) enables phraseSearch")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    // analyzeTerm's Locale.ROOT lowercase matches Spark's
    // locale-independent lower() that lowercased the index tokens (a
    // Turkish-locale JVM would otherwise map 'I' → 'ı' and silently
    // match nothing); under "english" the phrase terms stem like the
    // indexed positions did
    val terms = phrase.map(st.analyzeTerm)
    val frames = terms.zipWithIndex.map { case (t, i) =>
      prunedLivePostings(spark, segs, dels, Seq(t), st.buckets)
        .select(col("id"), col("pos").as(s"_pos$i"))
    }
    val joined = frames.reduce((a, b) => a.join(b, Seq("id")))
    val n = terms.length
    val pred =
      if (n == 1) lit(true)
      else exists(col("_pos0"), p =>
        (1 until n).map(i => array_contains(col(s"_pos$i"), p + i))
          .reduce(_ && _))
    joined.filter(pred).select(col("id").as(idColName))
  }

  /** SCORED phrase search — Lucene's PhraseQuery under BM25: the
    * phrase behaves as one synthetic term whose frequency is the
    * number of exact-adjacency occurrences and whose idf is the SUM
    * of the constituent terms' idfs (Lucene's multi-term idfExplain),
    * saturated by the standard Okapi tf/length factor. Same read
    * shape as [[phraseSearch]] plus one tiny per-term df aggregation;
    * corpus stats enter as driver literals from the one-row stats
    * tables (the [[searchTopK]] discipline). Output (idColName,
    * score) for the top `k` phrase-matching docs, 6-dp rounding, id
    * ties — ES's `match_phrase` ranking, engine-replayably.
    *
    * `slop` > 0 is ES's SLOPPY phrase (`match_phrase` with slop).
    * The MATCH SET is Lucene's exactly: a document matches iff phrase
    * slot i can be assigned a position pᵢ of term i (distinct
    * positions among slots sharing a term) with
    * max(pᵢ − i) − min(pᵢ − i) ≤ slop — which admits TRANSPOSED
    * terms once the budget covers the swap (doc "fox quick" matches
    * phrase "quick fox" at slop ≥ 2, ES's documented two-moves rule).
    * One documented adjudication remains, on the COUNT only: the
    * occurrence count is the number of ANCHORED matches — first-term
    * positions participating in at least one valid assignment, each
    * counting weight 1 — where Lucene's SloppyPhraseScorer instead
    * accumulates 1/(1 + matchLength) per match through a retrying
    * matcher whose weights are not engine-replayable. WHICH documents
    * match is Lucene-identical; only the tf magnitude is adjudicated.
    * `slop = 0` reduces to the exact-adjacency count (spec-pinned
    * identical to the default).
    */
  def phraseSearchTopK(spark: SparkSession, indexPath: String,
                       phrase: Seq[String], k: Int,
                       idColName: String = "id", k1: Double = 1.2,
                       b: Double = 0.75, slop: Int = 0): DataFrame = {
    require(k > 0, "k must be positive")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    rawPhraseScores(spark, indexPath, phrase, k1, b, slop = slop)
      .select(col("id").as(idColName), round(col("_fs"), 6).as("score"))
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** Index-served `match_phrase_prefix` — the third search-as-you-type
    * face (scan: [[graft.functions.EsMatch.matchPhrasePrefix]]; the
    * index already serves phrase (idx7/idx8) and bool_prefix (idx13)):
    * the query's full terms must occur CONSECUTIVELY and some token
    * starting with the LAST term must sit at the next position.
    *
    * Scoring, portable by the idx13 discipline: the full-terms part
    * earns the [[phraseSearchTopK]] phrase-BM25 (Σ constituent idfs ×
    * Okapi-saturated tf) where tf counts only COMPLETED occurrences —
    * a "quick brown f" hit needs a f-token after "quick brown" — and
    * the prefix clause contributes a CONSTANT 1.0 (Lucene rewrites
    * multi-term expansions constant-score; per-expansion statistics
    * are engine-internal). A one-term query (bare prefix box) returns
    * prefix-matching docs at 1.0, id order.
    *
    * Read shape: full terms ride the [[phraseSearch]] positional
    * frames (bucket-pruned, O(term postings)); the prefix resolves
    * through the vocabulary sidecar with the [[suggestCompletions]]
    * range-pruned postings read (never an expansion IN list) on the
    * SAME segment snapshot as the stats; positions join on id and the
    * completed-occurrence count is one array predicate.
    */
  def phrasePrefixSearchTopK(spark: SparkSession, indexPath: String,
                             query: String, k: Int,
                             idColName: String = "id",
                             k1: Double = 1.2, b: Double = 0.75,
                             maxCandidates: Int = 10000): DataFrame = {
    require(k > 0, "k must be positive")
    val qs = graft.functions.TextAnalysis.tokensOf(query)
    require(qs.nonEmpty, "query analyzes to no terms")
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    require(indexPositions(spark, segs),
      s"$indexPath was built without positional postings — " +
        "build(positions = true) enables phrase-prefix search")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val n = st.n
    val avg = if (n > 0) st.sumLen / n else 1.0
    val full = qs.init.map(st.analyzeTerm)
    val (p0, exts, _) = vocabPrefixCandidates(spark, indexPath,
      st.analyzeTerm(qs.last), maxCandidates, Some(segs))
    val idT = postingsOf(spark, segs.head).schema("id")
    def emptyResult = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        idT.copy(name = idColName),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, nullable = false))))
    if (exts.isEmpty) return emptyResult
    val wanted = exts.map(bucketOf(_, st.buckets)).distinct
    val prune: DataFrame => DataFrame =
      _.filter(col("bucket").isin(wanted: _*))
        .filter(col("term") >= p0 && col("term") < p0 + '￿')
        .filter(col("term").startsWith(p0))
    val cand =
      if (dels.isEmpty) mergedPostings(spark, segs, prune)
      else mergedLivePostings(spark, segs, dels, prune)
    // all prefix-token positions per doc (several candidate terms can
    // hit one doc); bounded by doc length
    val pp = cand.select(col("id"), explode(col("pos")).as("_pp"))
      .groupBy("id").agg(collect_set(col("_pp")).as("_ppos"))
    if (full.isEmpty)
      // bare prefix box: constant score, id order (ES's behavior)
      return pp.select(col("id").as(idColName), lit(1.0).as("score"))
        .orderBy(col(idColName)).limit(k)
    val all = prunedLivePostings(spark, segs, dels, full.distinct,
      st.buckets)
    val dfreq = all.groupBy("term")
      .agg(count(lit(1)).cast("double").as("_df"))
    val frames = full.zipWithIndex.map { case (t, i) =>
      val base = all.filter(col("term") === t)
      if (i == 0) base.select(col("id"), col("len"),
        col("pos").as("_pos0"))
      else base.select(col("id"), col("pos").as(s"_pos$i"))
    }
    val joined = frames.reduce((a, c) => a.join(c, Seq("id")))
      .join(pp, Seq("id"))
    val m = full.length
    val ptf = size(filter(col("_pos0"), p =>
      ((1 until m).map(i => array_contains(col(s"_pos$i"), p + i)) :+
        array_contains(col("_ppos"), p + m)).reduce(_ && _)))
    joined
      .crossJoin(broadcast(phraseIdfSum(dfreq, full, n)))
      .withColumn("_ptf", ptf.cast("double"))
      .filter(col("_ptf") > 0)
      .withColumn("score", round(
        col("_tidf") * col("_ptf") * (k1 + 1.0) /
          (col("_ptf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("len") / lit(avg)))
          + 1.0, 6))
      .select(col("id").as(idColName), col("score"))
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** [[phraseSearchTopK]]'s per-doc phrase-BM25 scores as RAW doubles
    * (no rounding, no cut): (id, _fs) for every phrase-matching live
    * doc — the per-field leg [[FieldedIndex.searchTopK]] combines
    * under `multi_match type: phrase` (rounding belongs to the FINAL
    * combined score there, the [[FieldedIndex]] discipline).
    */
  private[operators] def rawPhraseScores(spark: SparkSession,
                                         indexPath: String,
                                         phrase: Seq[String],
                                         k1: Double,
                                         b: Double,
                                         pre: Option[(Seq[String],
                                           Seq[String], LiveStats)] = None,
                                         slop: Int = 0)
      : DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val segs = pre.map(_._1).getOrElse(committedSegments(spark, indexPath))
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    require(indexPositions(spark, segs),
      s"$indexPath was built without positional postings — " +
        "build(positions = true) enables phrase scoring")
    val dels = pre.map(_._2).getOrElse(committedDeletes(spark, indexPath))
    val st = pre.map(_._3).getOrElse(liveStats(spark, segs, dels))
    val n = st.n
    val avg = if (n > 0) st.sumLen / n else 1.0
    val terms = phrase.map(st.analyzeTerm)
    val all = prunedLivePostings(spark, segs, dels, terms.distinct,
      st.buckets)
    // per-term document frequencies: postings rows are unique per
    // (term, id) across segments, so df = row count per term —
    // ≤ |phrase| rows, broadcast
    val dfreq = all.groupBy("term")
      .agg(count(lit(1)).cast("double").as("_df"))
    val frames = terms.zipWithIndex.map { case (t, i) =>
      val base = all.filter(col("term") === t)
      // len rides term 0's frame (identical on every frame)
      if (i == 0) base.select(col("id"), col("len"),
        col("pos").as("_pos0"))
      else base.select(col("id"), col("pos").as(s"_pos$i"))
    }
    val joined = frames.reduce((a, b) => a.join(b, Seq("id")))
    val ptf =
      if (terms.length == 1) size(col("_pos0"))
      else if (slop == 0) size(filter(col("_pos0"), p =>
        (1 until terms.length)
          .map(i => array_contains(col(s"_pos$i"), p + i))
          .reduce(_ && _)))
      else {
        // sloppy anchored count over Lucene's EXACT match set: an
        // assignment of phrase slot i to a document position pᵢ of
        // term i (distinct positions among slots sharing a term) such
        // that max(pᵢ − i) − min(pᵢ − i) ≤ slop. Transposed terms
        // match when the budget covers the swap (two adjacent terms
        // cost 2 — ES/Lucene's documented rule); an in-order chain is
        // the special case where the adjusted positions ascend, so
        // the old ordered (span − terms) ≤ slop reading is strictly
        // contained. The anchored COUNT is the adjudication: tf =
        // term-0 positions participating in ≥ 1 valid assignment,
        // weight 1 each — see phraseSearchTopK's note.
        val kTerms = terms.length
        def chain(i: Int, mn: Column, mx: Column,
                  used: List[(String, Column)]): Column =
          if (i == kTerms) (mx - mn) <= lit(slop)
          else exists(col(s"_pos$i"), q => {
            val adj = q - lit(i)
            // repeated phrase terms may not reuse one occurrence
            val distinctOk = used.collect {
              case (t, c) if t == terms(i) => q =!= c
            }.foldLeft(lit(true))(_ && _)
            distinctOk &&
              (greatest(mx, adj) - least(mn, adj)) <= lit(slop) &&
              chain(i + 1, least(mn, adj), greatest(mx, adj),
                (terms(i), q) :: used)
          })
        size(filter(col("_pos0"), p =>
          chain(1, p, p, List((terms.head, p)))))
      }
    joined
      .crossJoin(broadcast(phraseIdfSum(dfreq, terms, n)))
      .withColumn("_ptf", ptf.cast("double"))
      .filter(col("_ptf") > 0)
      .withColumn("_fs",
        col("_tidf") * col("_ptf") * (k1 + 1.0) /
          (col("_ptf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("len") / lit(avg))))
      .select(col("id"), col("_fs"))
  }

  /** The phrase idf as a one-row frame `_tidf`: Σ idf over `terms` IN
    * ORDER (a repeated term counts each time, like Lucene's term
    * array), folded left from 0.0 — the double sum a driver-side fold
    * of the same per-term idfs gives, bit for bit — but inside the
    * plan, so the call runs no job. A term without live postings
    * counts 0.0. `dfreq` is (term, _df), ≤ |terms| rows.
    */
  private def phraseIdfSum(dfreq: DataFrame, terms: Seq[String],
                           n: Double): DataFrame = {
    val distinct = terms.distinct
    val idf =
      log(lit(1.0) + (lit(n) - col("_df") + 0.5) / (col("_df") + 0.5))
    val perTerm = distinct.zipWithIndex.map { case (t, j) =>
      max(when(col("term") === t, idf)).as(s"_idf$j")
    }
    dfreq.agg(perTerm.head, perTerm.tail: _*)
      .select(terms.foldLeft(lit(0.0)) { (acc, t) =>
        acc + coalesce(col(s"_idf${distinct.indexOf(t)}"), lit(0.0))
      }.as("_tidf"))
  }

  // ---- fuzzy term resolution (SymSpell deletion neighborhood) ------
  // The brute fuzzy scan (f17's shape: levenshtein against EVERY
  // token of every document) is O(corpus) per query. The SymSpell
  // recipe (Garbe's symspell; the same trick as Bocek et al.'s
  // "fastss") precomputes, per vocabulary term, the term plus all
  // strings reachable by deleting ONE code point; two strings at edit
  // distance <= 1 ALWAYS share an entry between their neighborhoods
  // (substitution: delete the differing position from both;
  // insert/delete: one string IS in the other's neighborhood), so a
  // variant-keyed dictionary gives EXACT recall for distance 1 and a
  // query resolves in O(term length) lookups, never O(vocabulary).

  /** Build (or rebuild) the fuzzy term dictionary beside the index:
    * one committed parquet table `indexPath/fuzzy` of (variant, term)
    * rows derived from the LIVE term vocabulary — ~(avg term length
    * + 1) rows per term, strings only, never postings — plus a
    * `fuzzy_segments` fingerprint of the segment set the vocabulary
    * came from. [[fuzzySearchTopK]] requires the fingerprint to match
    * the committed segment set at query time and fails with a rebuild
    * hint otherwise: an appended segment's new vocabulary would
    * silently miss from fuzzy resolution (the one stale direction a
    * dictionary cannot detect from its own content), so like every
    * other stale state in this module it fails LOUDLY instead of
    * degrading recall. Deleted docs between builds only over-generate
    * candidates, which the postings read scores as nothing — but
    * tombstones don't change the segment set, so that safe direction
    * still passes the check; compaction renames segments and thus
    * requires a rebuild (it is offline maintenance anyway).
    *
    * Write order: dictionary first, fingerprint LAST — a crash
    * between the two leaves the OLD fingerprint beside a new
    * dictionary, which fails the staleness check (never the reverse
    * window, where a stale dictionary would pass a fresh check).
    */
  def buildFuzzyDictionary(spark: SparkSession, indexPath: String): Unit = {
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val terms = mergedPostings(spark, segs, identity)
      .select("term").distinct()
    // deletion neighborhood as pure Column ops over code points:
    // variant i = the term minus code point i, plus the term itself
    val cps = array_remove(split(col("term"), ""), "")
    terms
      .select(col("term"), explode(concat(array(col("term")),
        transform(sequence(lit(1), size(cps)), i =>
          concat_ws("", concat(slice(cps, lit(1), i - 1),
            slice(cps, i + 1, greatest(size(cps) - i, lit(0)))))))
      ).as("variant"))
      .distinct()
      .write.mode("overwrite").parquet(s"$indexPath/fuzzy")
    import spark.implicits._
    segNames(segs).toDF("segment")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/fuzzy_segments")
  }

  private def segNames(segs: Seq[String]): Seq[String] =
    segs.map(s => new org.apache.hadoop.fs.Path(s).getName).sorted

  /** The driver-side spelling of the same neighborhood (query side). */
  private def deletionVariants(term: String): Seq[String] = {
    val cps = term.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    term +: cps.indices.map(i =>
      (cps.take(i) ++ cps.drop(i + 1)).mkString)
  }

  /** Fuzzy [[searchTopK]]: every query term expands to the vocabulary
    * terms within edit distance 1 (typo tolerance — es match
    * `fuzziness: 1` semantics), resolved through the deletion
    * dictionary instead of a vocabulary scan: the dictionary read is
    * pruned by an IN filter over the query's own variants (O(term
    * length) strings), survivors verify with one levenshtein each
    * (the neighborhood over-generates; distance-1 recall is exact by
    * the pigeonhole above), and the resolved terms ride the ordinary
    * pruned-postings BM25. Each resolved term scores with its OWN
    * df/tf. A query resolving to nothing searches its literal terms
    * (matching nothing) rather than erroring — absence of neighbors
    * is a no-match, not a failure.
    */
  def fuzzySearchTopK(spark: SparkSession, indexPath: String,
                      queryTerms: Seq[String], k: Int,
                      idColName: String = "id",
                      k1: Double = 1.2, b: Double = 0.75,
                      maxCandidates: Int = 10000): DataFrame = {
    require(queryTerms.nonEmpty && k > 0)
    val (_, lowered, byQuery) =
      fuzzyResolve(spark, indexPath, queryTerms, maxCandidates)
    val resolved = byQuery.values.flatten.toSeq.distinct
    searchTopK(spark, indexPath,
      if (resolved.nonEmpty) resolved else lowered,
      k, idColName, k1, b)
  }

  /** Shared SymSpell resolution (staleness-gated): analyzed query
    * terms plus, per analyzed term, the vocabulary terms within edit
    * distance 1 (INCLUDING the term itself when it is in the
    * vocabulary — callers decide what to do with exact hits).
    */
  private def fuzzyResolve(spark: SparkSession, indexPath: String,
                           queryTerms: Seq[String], maxCandidates: Int)
  : (LiveStats, Seq[String], Map[String, Seq[String]]) = {
    val fs = fsOf(spark, indexPath)
    require(fs.exists(
      new org.apache.hadoop.fs.Path(s"$indexPath/fuzzy/_SUCCESS")),
      s"$indexPath has no committed fuzzy dictionary — " +
        "buildFuzzyDictionary() first")
    // staleness gate: the dictionary must have been built from
    // EXACTLY the committed segment set serving this query — an
    // append since the build would silently miss its new vocabulary
    require(fs.exists(
      new org.apache.hadoop.fs.Path(s"$indexPath/fuzzy_segments/_SUCCESS")),
      s"$indexPath/fuzzy has no segment fingerprint (built by an " +
        "older version, or the build crashed) — buildFuzzyDictionary() " +
        "again")
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val recorded = spark.read.parquet(s"$indexPath/fuzzy_segments")
      .collect().map(_.getString(0)).sorted.toSeq
    require(recorded == segNames(segs),
      s"$indexPath/fuzzy is STALE: it was built from segments " +
        s"$recorded but the index now has ${segNames(segs)} — " +
        "appended/compacted vocabulary would silently miss from fuzzy " +
        "resolution; buildFuzzyDictionary() again")
    // query terms run the index's analysis chain FIRST (the ES order:
    // fuzziness applies to analyzed terms) — the vocabulary the
    // dictionary was derived from is already analyzed
    val st = liveStats(spark, segs, committedDeletes(spark, indexPath))
    val lowered = queryTerms.map(st.analyzeTerm).distinct
    val qVariants = lowered.flatMap(t =>
      deletionVariants(t).map(_ -> t)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    // pruned dictionary read: IN over the query's variant strings —
    // a driver-sized list, so the filter pushes into the scan
    val cand = spark.read.parquet(s"$indexPath/fuzzy")
      .filter(col("variant").isInCollection(qVariants.keys.toSeq))
      .select("variant", "term").distinct()
      .limit(maxCandidates + 1)
      .collect()
    require(cand.length <= maxCandidates,
      s"fuzzy resolution exceeded $maxCandidates candidates — a " +
        "degenerate vocabulary (or a raised cap) is a deliberate choice")
    // verify: the neighborhood over-generates (shared variant does not
    // imply distance <= 1 — e.g. two different substitutions at the
    // same position); one levenshtein per candidate pair, driver-side
    // over the bounded set
    def lev(a: String, b: String): Int = {
      val (x, y) = (a.codePoints.toArray, b.codePoints.toArray)
      val d = Array.tabulate(y.length + 1)(identity)
      for (i <- 1 to x.length) {
        var prev = d(0); d(0) = i
        for (j <- 1 to y.length) {
          val t = d(j)
          d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
            prev + (if (x(i - 1) == y(j - 1)) 0 else 1))
          prev = t
        }
      }
      d(y.length)
    }
    val pairs = cand.iterator.flatMap { r =>
      val v = r.getString(0); val t = r.getString(1)
      qVariants.getOrElse(v, Nil).filter(q => lev(q, t) <= 1).map(_ -> t)
    }.toSeq.distinct
    (st, lowered,
      pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
  }

  /** ES's TERM SUGGESTER served from the fuzzy dictionary: vocabulary
    * terms within edit distance 1 of (the analyzed) `term`, with their
    * LIVE document frequencies — "did you mean". `mode` follows ES's
    * suggest_mode over doc frequencies:
    *
    *  - "missing" (the ES default): no suggestions when the term
    *    itself is in the live vocabulary,
    *  - "popular": only suggestions with df strictly greater than the
    *    input term's,
    *  - "always": every neighbor.
    *
    * Output (term, df, distance), ordered df desc then term asc, top
    * `k`; the input term itself is never suggested. Distance is the
    * true edit distance (always 1 here — the dictionary's exact-recall
    * radius; wider radii would need the brute scan, the documented
    * [[buildFuzzyDictionary]] trade). Same staleness gate as
    * [[fuzzySearchTopK]]. Cost: O(term length) dictionary lookups +
    * one bucket-pruned df read over the bounded candidate set.
    */
  def suggestTerms(spark: SparkSession, indexPath: String,
                   term: String, k: Int = 5, mode: String = "missing",
                   maxCandidates: Int = 10000): DataFrame = {
    require(k > 0, "k must be positive")
    require(Seq("missing", "popular", "always").contains(mode),
      s"unknown suggest mode '$mode' (missing, popular, always)")
    val (st, lowered, byQuery) =
      fuzzyResolve(spark, indexPath, Seq(term), maxCandidates)
    val analyzed = lowered.head
    val neighbors = byQuery.getOrElse(analyzed, Nil)
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Int)]
      .toDF("term", "df", "distance")
    if (neighbors.isEmpty) return empty
    // one bucket-pruned live-df read over the bounded candidate set
    val segs = committedSegments(spark, indexPath)
    val dels = committedDeletes(spark, indexPath)
    val dfs = prunedLivePostings(spark, segs, dels, neighbors, st.buckets)
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val selfDf = dfs.getOrElse(analyzed, 0L)
    if (mode == "missing" && selfDf > 0L) return empty
    val out = neighbors.filter(_ != analyzed)
      .flatMap(t => dfs.get(t).map(df => (t, df)))
      .filter { case (_, df) => mode != "popular" || df > selfDf }
      .map { case (t, df) => (t, df, 1) }
      .sortBy { case (t, df, _) => (-df, t) }
      .take(k)
    out.toDF("term", "df", "distance")
  }

  // ---- completion (prefix) suggester ------------------------------
  // The md5 term buckets scatter prefixes by design (uniform layout
  // for point lookups), so a prefix read cannot bucket-prune — the ES
  // completion suggester's role needs its own access path: a sorted
  // vocabulary SIDECAR, range-partitioned and sorted by term, so a
  // `term >= p AND term < p+1` range predicate pushes to parquet and
  // row-group min/max stats prune everything outside the prefix range
  // (the vocabulary is tiny next to postings — strings only, one row
  // per distinct term).

  /** Build (or rebuild) the sorted vocabulary sidecar at
    * `indexPath/vocab` for [[suggestCompletions]], with the same
    * build-from fingerprint and staleness direction as
    * [[buildFuzzyDictionary]]: an append since the build would
    * silently miss its new vocabulary, so queries refuse a mismatched
    * segment set loudly. The fingerprint is the `vocab_segments` doc
    * (written LAST, [[SegmentStore.writeDocDir]]): the segment names
    * plus the vocabulary's read schema, so a query reads both on the
    * driver.
    */
  def buildVocabulary(spark: SparkSession, indexPath: String): Unit = {
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val vocab = mergedPostings(spark, segs, identity)
      .select("term").distinct()
    vocab
      .repartitionByRange(8, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$indexPath/vocab")
    SegmentStore.writeDocDir(fsOf(spark, indexPath),
      s"$indexPath/vocab_segments", org.json4s.JObject(
        "segments" -> org.json4s.JArray(segNames(segs)
          .map(org.json4s.JString(_): org.json4s.JValue).toList),
        SegmentStore.schemaField(
          Seq("vocab" -> SegmentStore.writtenSchema(vocab)))))
  }

  /** ES's completion suggester from the live index: the top-`k`
    * vocabulary terms extending `prefix`, ranked by LIVE document
    * frequency (df desc, term asc) — popularity from the index that
    * serves the queries, not a frozen weight. The prefix is
    * lowercased but NOT stemmed (a prefix is not a term; under an
    * "english" index it completes against the stored, stemmed
    * vocabulary — ES's completion field is likewise analyzer-light).
    *
    * Cost: one range-pruned vocabulary read (bounded by
    * `maxCandidates`, loud beyond it — a one-letter prefix over a
    * degenerate vocabulary is a deliberate choice), then sg1's
    * bucket-pruned live-df read over the bounded candidate set.
    * Terms whose postings are fully tombstoned have no live df and
    * drop out, so suggestions never resurrect deleted-only terms.
    */
  /** The sidecar-read half shared by [[suggestCompletions]] and
    * [[boolPrefixSearchTopK]]: existence + fingerprint staleness
    * checks, the pushable range read, the loud candidate cap.
    * Returns (lowercased prefix, candidate terms, committed segments).
    */
  /** `preListedSegs`: callers that already listed the committed
    * segments (to compute corpus stats) pass that snapshot so ONE
    * listing serves the whole query — a commit landing between two
    * independent listings would otherwise make stats inconsistent
    * with the candidate set. The vocabulary fingerprint is checked
    * against whichever snapshot is used.
    */
  private def vocabPrefixCandidates(spark: SparkSession,
                                    indexPath: String, prefix: String,
                                    maxCandidates: Int,
                                    preListedSegs: Option[Seq[String]] = None)
      : (String, Seq[String], Seq[String]) = {
    val p = prefix.toLowerCase(java.util.Locale.ROOT)
    require(p.nonEmpty,
      "empty prefix would enumerate the whole vocabulary — give at " +
        "least one character")
    val fs = fsOf(spark, indexPath)
    require(fs.exists(
      new org.apache.hadoop.fs.Path(s"$indexPath/vocab/_SUCCESS")),
      s"$indexPath has no committed vocabulary sidecar — " +
        "buildVocabulary() first")
    val fpDir = s"$indexPath/vocab_segments"
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$fpDir/_SUCCESS")),
      s"$indexPath/vocab has no segment fingerprint (built by an " +
        "older version, or the build crashed) — buildVocabulary() again")
    val segs = preListedSegs.getOrElse {
      val listed = committedSegments(spark, indexPath)
      require(listed.nonEmpty,
        s"$indexPath has no committed segments — build() first")
      listed
    }
    val doc = SegmentStore.readDocDir(fs, fpDir)
    val recorded = ((doc \ "segments") match {
      case org.json4s.JArray(xs) =>
        xs.collect { case org.json4s.JString(x) => x }
      case other => sys.error(s"malformed vocab_segments doc: $other")
    }).sorted
    require(recorded == segNames(segs),
      s"$indexPath/vocab is STALE: it was built from segments " +
        s"$recorded but the index now has ${segNames(segs)} — " +
        "appended/compacted vocabulary would silently miss from " +
        "prefix resolution; buildVocabulary() again")
    // range bound for row-group pruning + the exact prefix test
    // (startsWith alone doesn't push as a range); any real char's
    // first UTF-16 unit sorts below the U+FFFF noncharacter, so the
    // upper bound never excludes a true extension of the prefix
    // ONE job: each scan partition keeps at most cap + 1 terms (a
    // global limit's incremental take scans partitions in rounds, a
    // job each); the sidecar is range-partitioned by term, so a
    // prefix's terms sit in one or two files and the driver receives
    // about cap + 1 terms at most
    val cand = spark.read
      .schema(SegmentStore.recordedSchema(doc, fpDir, "vocab"))
      .parquet(s"$indexPath/vocab")
      .filter(col("term") >= p && col("term") < p + '￿')
      .filter(col("term").startsWith(p))
      .select(col("term")).as(org.apache.spark.sql.Encoders.STRING)
      .mapPartitions(_.take(maxCandidates + 1))(
        org.apache.spark.sql.Encoders.STRING)
      .collect().take(maxCandidates + 1).toSeq
    require(cand.length <= maxCandidates,
      s"prefix '$prefix' matched more than $maxCandidates vocabulary " +
        "terms — lengthen the prefix or raise the cap deliberately")
    (p, cand, segs)
  }

  def suggestCompletions(spark: SparkSession, indexPath: String,
                         prefix: String, k: Int = 5,
                         maxCandidates: Int = 10000): DataFrame = {
    require(k > 0, "k must be positive")
    val (p, cand, segs) =
      vocabPrefixCandidates(spark, indexPath, prefix, maxCandidates)
    import spark.implicits._
    if (cand.isEmpty) return Seq.empty[(String, Long)].toDF("term", "df")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    // the vocabulary is fingerprint-matched to the live segments, so
    // the candidate set IS exactly "every postings term extending the
    // prefix" — the postings read reuses the same pushable RANGE
    // predicate instead of a candidate IN list (which at the 10k cap
    // would be a 10k-literal predicate bloating the plan); only the
    // bucket directory list (distinct md5 buckets of the candidates,
    // bounded by the index's bucket count) comes from the collected
    // candidates
    val wanted = cand.map(bucketOf(_, st.buckets)).distinct
    val prune: DataFrame => DataFrame =
      _.filter(col("bucket").isin(wanted: _*))
        .filter(col("term") >= p && col("term") < p + '￿')
        .filter(col("term").startsWith(p))
    (if (dels.isEmpty) mergedPostings(spark, segs, prune)
     else mergedLivePostings(spark, segs, dels, prune))
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
      .orderBy(col("df").desc, col("term"))
      .limit(k)
  }

  /** ES `_terms_enum` API: up to `size` index terms extending
    * `prefix`, in LEXICOGRAPHIC order (the API's contract — df plays
    * no part in terms_enum ranking), optionally strictly after
    * `searchAfter` (the API's pagination cursor — pages tile with no
    * overlap or gap). Served from the range-partitioned vocabulary
    * sidecar behind the staleness fingerprint; unlike ES — whose docs
    * warn the enum may leak terms living only in deleted documents —
    * the live-postings read drops tombstoned-only terms, so the enum
    * here is exact. The postings read prunes to the candidates'
    * buckets plus the same pushable term range the suggesters use.
    */
  def termsEnum(spark: SparkSession, indexPath: String, prefix: String,
                size: Int = 10,
                searchAfter: Option[String] = None): DataFrame = {
    require(size > 0, "size must be positive")
    val (p, cand0, segs) =
      vocabPrefixCandidates(spark, indexPath, prefix, 10000)
    import spark.implicits._
    val after = searchAfter.map(_.toLowerCase(java.util.Locale.ROOT))
    val cand = after.fold(cand0)(a => cand0.filter(_ > a))
    if (cand.isEmpty) return Seq.empty[String].toDF("term")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val wanted = cand.map(bucketOf(_, st.buckets)).distinct
    val prune: DataFrame => DataFrame = df0 => {
      val ranged = df0.filter(col("bucket").isin(wanted: _*))
        .filter(col("term") >= p && col("term") < p + '￿')
        .filter(col("term").startsWith(p))
      after.fold(ranged)(a => ranged.filter(col("term") > a))
    }
    (if (dels.isEmpty) mergedPostings(spark, segs, prune)
     else mergedLivePostings(spark, segs, dels, prune))
      .select("term").distinct()
      .orderBy(col("term"))
      .limit(size)
  }

  /** ES completion-suggester ENTRIES with per-entry `weight` and
    * `contexts` (the completion field type's two knobs the
    * df-ranked [[suggestCompletions]] lacks): a committed sidecar
    * table `indexPath/suggest` of (term, weight, contexts) rows.
    * Terms lowercase (the completion field's simple-analyzer fold —
    * whole phrases stay one entry, never tokenized); weights must be
    * non-negative (ES's contract — refused in-plan via raise_error,
    * never silently clamped); `contextsCol` may be an array of
    * category strings or a single string column (wrapped). The table
    * is range-partitioned and sorted by term so a prefix read prunes
    * to the matching row groups — the [[suggestCompletions]] range
    * discipline without the vocabulary's segment fingerprint (the
    * sidecar is its own source of truth; rebuilding it replaces it
    * atomically via overwrite).
    */
  def buildSuggestEntries(entries: DataFrame, termCol: String,
                          weightCol: String, indexPath: String,
                          contextsCol: Option[String] = None): Unit = {
    val w = col(weightCol).cast("long")
    val guarded = when(w.isNull || w < 0, raise_error(lit(
      "suggest entries need non-negative integer weights (ES's " +
        "completion weight contract) — clean the entries first"))
      .cast("long")).otherwise(w)
    val ctx = contextsCol.map { c =>
      entries.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType =>
          when(col(c).isNull, array().cast("array<string>"))
            .otherwise(array(col(c)))
        case _: org.apache.spark.sql.types.ArrayType =>
          coalesce(col(c).cast("array<string>"),
            array().cast("array<string>"))
        case other => throw new IllegalArgumentException(
          s"contexts column '$c' must be string or array<string>, " +
            s"got ${other.simpleString}")
      }
    }.getOrElse(array().cast("array<string>"))
    entries
      .select(lower(col(termCol).cast("string")).as("term"),
        guarded.as("weight"), ctx.as("contexts"))
      .filter(col("term").isNotNull && length(col("term")) > 0)
      .repartitionByRange(8, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$indexPath/suggest")
  }

  /** Serve the [[buildSuggestEntries]] sidecar: the top-`k`
    * completions of `prefix` by (weight desc, term asc) — ES's
    * completion ranking with `skip_duplicates` semantics (the same
    * term suggested by several entries keeps its highest weight; the
    * per-document duplicate stream is not a frame-shaped answer).
    * `contexts` filters to entries carrying ANY of the given context
    * values (ES's default OR across a context's values); empty = no
    * context filtering, entries without contexts always survive an
    * EMPTY filter but never a non-empty one (ES: a context query
    * matches only entries indexed with that context).
    *
    * Scale shape: a range-pruned sidecar read (term is the sort key,
    * so row groups outside the prefix never load), one keyed agg over
    * the prefix's entries, TakeOrderedAndProject.
    */
  def suggestWeighted(spark: SparkSession, indexPath: String,
                      prefix: String, k: Int = 5,
                      contexts: Seq[String] = Nil): DataFrame = {
    require(k > 0, "k must be positive")
    val p = prefix.toLowerCase(java.util.Locale.ROOT)
    require(p.nonEmpty, "prefix must be non-empty")
    require(contexts.distinct.size == contexts.size,
      s"duplicate contexts in $contexts")
    val fs = SegmentStore.fsOf(spark, indexPath)
    require(fs.exists(new org.apache.hadoop.fs.Path(
        s"$indexPath/suggest/_SUCCESS")),
      s"$indexPath has no suggest sidecar — buildSuggestEntries() first")
    val base = spark.read.parquet(s"$indexPath/suggest")
      .filter(col("term") >= p && col("term") < p + '￿')
      .filter(col("term").startsWith(p))
    val inCtx =
      if (contexts.isEmpty) base
      else base.filter(arrays_overlap(col("contexts"),
        typedLit(contexts)))
    inCtx.groupBy("term")
      .agg(max(col("weight")).as("weight"))
      .orderBy(col("weight").desc, col("term"))
      .limit(k)
  }

  /** ES `_explain`-style score breakdown from the live index: one row
    * per (doc, query term) with every BM25 component — tf, doc len,
    * live df, idf, and the per-term contribution whose per-doc sum is
    * EXACTLY [[searchTopK]]'s number before its final rounding
    * (contributions are 6-dp rounded here so they export stably; the
    * reconciliation in the spec compares against the unrounded sum).
    * `onlyIds` restricts the explanation to specific documents (the
    * usual `_explain` shape — ES explains one doc per call); the
    * filter pushes into the pruned postings read.
    */
  def explainScore(spark: SparkSession, indexPath: String,
                   queryTerms: Seq[String],
                   idColName: String = "id",
                   onlyIds: Option[Seq[Any]] = None,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "explain needs at least one term")
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val n = st.n
    val avg = if (n > 0) st.sumLen / n else 1.0
    val terms = queryTerms.map(st.analyzeTerm).distinct
    val posts0 = prunedLivePostings(spark, segs, dels, terms, st.buckets)
    val posts = onlyIds.fold(posts0)(ids =>
      posts0.filter(col("id").isin(ids: _*)))
    // df comes from the FULL live postings (restricting to onlyIds
    // must not change corpus statistics)
    val dfreq = posts0.groupBy("term")
      .agg(count(lit(1)).cast("double").as("df"))
    posts.join(broadcast(dfreq), Seq("term"))
      .withColumn("idf",
        log(lit(1.0) + (lit(n) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("score_contrib", round(
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") +
            lit(k1) * (lit(1.0) - b + lit(b) * col("len") / lit(avg))),
        6))
      .select(col("id").as(idColName), col("term"),
        col("tf").cast("double").as("tf"),
        col("len").cast("double").as("len"),
        col("df"), round(col("idf"), 6).as("idf"),
        col("score_contrib"))
  }

  /** ES `delete_by_query`: tombstone every LIVE document matching the
    * analyzed query terms (`operator` "or" = any term, "and" = all
    * terms), resolving ids through the bucket-pruned postings read —
    * never a corpus scan — then the ordinary [[deleteDocs]] contract
    * (lens-exact charges, stats-last commit). Returns the number of
    * documents tombstoned (0 = nothing matched, no batch written).
    */
  def deleteByQuery(spark: SparkSession, indexPath: String,
                    query: String, operator: String = "or"): Long = {
    require(operator == "or" || operator == "and",
      s"operator must be or | and, got '$operator'")
    val segs = committedSegments(spark, indexPath)
    require(segs.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs, dels)
    val terms = graft.functions.TextAnalysis.tokensOf(query)
      .map(st.analyzeTerm).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    val posts = prunedLivePostings(spark, segs, dels, terms, st.buckets)
    val ids =
      if (operator == "or") posts.select("id").distinct()
      else posts.groupBy("id")
        .agg(count(lit(1)).as("_t"))
        .filter(col("_t") === terms.size.toLong)
        .select("id")
    val matched = ids.persist()
    try {
      val nMatched = matched.count()
      if (nMatched > 0) deleteDocs(matched, indexPath)
      nMatched
    } finally { matched.unpersist(); () }
  }

  /** Index-served `match_bool_prefix` — the search-as-you-type query
    * from the live index, mirroring the scan face
    * [[graft.functions.EsMatch.matchBoolPrefix]]: every query term
    * but the LAST must occur as a full token (bool/AND semantics, no
    * adjacency — that is phrase_prefix), and the last term only has
    * to PREFIX some token. Scoring is Lucene's: the full terms
    * contribute their tombstone-adjusted Okapi BM25 sum (identical
    * formula and single 6-dp rounding as [[searchTopK]]) and the
    * prefix clause contributes a CONSTANT 1.0 — Lucene rewrites
    * multi-term prefix queries constant-score inside bool (no
    * per-expansion statistics exist), so the portable number IS the
    * constant. A one-term query (bare prefix box) ranks every
    * prefix-matching doc at 1.0 with id ties, ES's behavior.
    *
    * Prefix resolution reads the vocabulary sidecar (the
    * [[suggestCompletions]] staleness contract and loud candidate
    * cap — tombstones don't change the segment set, so deletes never
    * stale the vocabulary), and the prefix postings read reuses the
    * pushable RANGE predicate plus the candidates' bucket-directory
    * pruning, never an expansion IN list. Both legs are
    * O(query-term postings); the combine is one id-keyed join.
    */
  def boolPrefixSearchTopK(spark: SparkSession, indexPath: String,
                           query: String, k: Int,
                           idColName: String = "id",
                           k1: Double = 1.2, b: Double = 0.75,
                           maxCandidates: Int = 10000): DataFrame = {
    require(k > 0, "k must be positive")
    val qs = graft.functions.TextAnalysis.tokensOf(query)
    require(qs.nonEmpty, "query analyzes to no terms")
    val segs0 = committedSegments(spark, indexPath)
    require(segs0.nonEmpty,
      s"$indexPath has no committed segments — build() first")
    val dels = committedDeletes(spark, indexPath)
    val st = liveStats(spark, segs0, dels)
    // the scan face analyzes the LAST term through the full chain
    // too (the prefix is stemmed under "english") — mirror it
    val fullTerms = qs.init.map(st.analyzeTerm).distinct
    val (p, exts, segs) = vocabPrefixCandidates(spark, indexPath,
      st.analyzeTerm(qs.last), maxCandidates, Some(segs0))
    val idT = postingsOf(spark, segs.head).schema("id")
    def emptyResult = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        idT.copy(name = idColName),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType))))
    if (exts.isEmpty) return emptyResult
    val n = st.n
    val avg = if (n > 0) st.sumLen / n else 1.0
    val wanted = exts.map(bucketOf(_, st.buckets)).distinct
    val prune: DataFrame => DataFrame =
      _.filter(col("bucket").isin(wanted: _*))
        .filter(col("term") >= p && col("term") < p + '￿')
        .filter(col("term").startsWith(p))
    val preIds = (if (dels.isEmpty) mergedPostings(spark, segs, prune)
      else mergedLivePostings(spark, segs, dels, prune))
      .select("id").distinct()
    val scored =
      if (fullTerms.isEmpty) preIds.select(col("id"), lit(1.0).as("_sc"))
      else {
        val posts = prunedLivePostings(spark, segs, dels, fullTerms,
          st.buckets)
        val dfreq = posts.groupBy("term")
          .agg(count(lit(1)).cast("double").as("_df"))
        posts.join(broadcast(dfreq), Seq("term"))
          .withColumn("_idf", log(lit(1.0) +
            (lit(n) - col("_df") + 0.5) / (col("_df") + 0.5)))
          .withColumn("_s",
            col("_idf") * col("tf") * (k1 + 1.0) /
              (col("tf") +
                lit(k1) * (lit(1.0) - b + lit(b) * col("len") / lit(avg))))
          .groupBy("id")
          .agg(sum(col("_s")).as("_fs"), count(lit(1)).as("_hits"))
          // bool/AND: every full term must hit (the scan face's fold)
          .filter(col("_hits") === fullTerms.size.toLong)
          .join(preIds, Seq("id"))
          .select(col("id"), (col("_fs") + 1.0).as("_sc"))
      }
    scored
      .select(col("id").as(idColName), round(col("_sc"), 6).as("score"))
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }
}
