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

  /** The index as one call sees it: its committed
    * [[SegmentStore.Snapshot]], the tombstone-adjusted corpus moments
    * (n, sum_len) and the layout the commit docs record. Built from the
    * snapshot's docs on the driver — no Spark job — and shared by every
    * reader of the call, so the accounting cannot desynchronize between
    * them.
    */
  private[operators] final case class LiveIndex(snap: SegmentStore.Snapshot,
                                                n: Double, sumLen: Double,
                                                buckets: Int,
                                                positions: Boolean,
                                                analyzer: String) {
    /** Query-term analysis matching the chain the postings were built
      * with: lowercase always, plus the minimal stem under "english".
      * Idempotent (every stemmer output is a fixed point), so terms
      * that already went through resolution (fuzzy) re-analyze safely.
      */
    def analyzeTerm(t: String): String =
      graft.functions.EnglishMinimalStem.analyzeTerm(analyzer,
        t.toLowerCase(java.util.Locale.ROOT))

    /** The BM25 length norm's average doc length. */
    def avgLen: Double = InvertedIndex.avgLen(n, sumLen)

    /** The type of the postings' id column, from the recorded schema. */
    def idType: org.apache.spark.sql.types.StructField =
      snap.segs.head.schema("postings")("id")
  }

  /** Open the index at `indexPath` for one call (refusing a root with
    * no committed segment).
    */
  private[operators] def openLive(spark: SparkSession,
                                  indexPath: String): LiveIndex =
    liveOf(SegmentStore.open(spark, indexPath))

  /** Moments and layout of a non-empty snapshot. Every segment must
    * record its positions and analyzer; they are uniform across
    * segments because every writer inherits them from here.
    */
  private def liveOf(snap: SegmentStore.Snapshot): LiveIndex = {
    val layouts = snap.segs.map { s =>
      (s.doc \ "positions", s.doc \ "analyzer") match {
        case (org.json4s.JBool(positions), org.json4s.JString(analyzer)) =>
          (positions, analyzer)
        case _ => throw SegmentStore.olderLayout(s"${s.path}/stats",
          "no recorded positions/analyzer")
      }
    }
    LiveIndex(snap, snap.liveSum("n"), snap.liveSum("sum_len"),
      snap.segs.head.num("buckets").toInt,
      layouts.head._1, layouts.head._2)
  }

  /** (buckets, positions, analyzer) a new segment of the snapshot's
    * index is written with — the fresh-index defaults when it has no
    * committed segment yet.
    */
  private def layoutOr(snap: SegmentStore.Snapshot,
                       bucketsIfNew: Int): (Int, Boolean, String) =
    if (snap.segs.isEmpty) (bucketsIfNew, false, "standard")
    else {
      val l = liveOf(snap)
      (l.buckets, l.positions, l.analyzer)
    }

  /** The average doc length BM25 normalizes by; 1.0 on an empty live
    * corpus, where no posting survives to be scored.
    */
  private def avgLen(n: Double, sumLen: Double): Double =
    if (n > 0) sumLen / n else 1.0

  /** The Okapi BM25 idf of a term with live document frequency `df` in
    * a corpus of `n` live docs.
    */
  private def bm25Idf(n: Double, df: Column): Column =
    log(lit(1.0) + (lit(n) - df + 0.5) / (df + 0.5))

  /** The Okapi BM25 term score: `idf` times the saturated,
    * length-normalized term frequency `tf` of a doc of length `len`.
    */
  private def bm25(idf: Column, tf: Column, len: Column, avg: Double,
                   k1: Double, b: Double): Column =
    idf * tf * (k1 + 1.0) /
      (tf + lit(k1) * (lit(1.0) - b + lit(b) * len / lit(avg)))

  /** Live postings of the index under `prune` (see
    * [[SegmentStore.liveRows]]).
    */
  private def livePostings(spark: SparkSession, live: LiveIndex,
                           prune: DataFrame => DataFrame): DataFrame =
    SegmentStore.liveRows(spark, live.snap, "postings", prune)

  /** The per-segment prune of a prefix read: the candidates' bucket
    * dirs, plus a pushable range bound for row-group pruning and the
    * exact prefix test (startsWith alone doesn't push as a range); any
    * real char's first UTF-16 unit sorts below the U+FFFF
    * noncharacter, so the upper bound never excludes a true extension.
    */
  private def prefixPrune(live: LiveIndex, p: String,
                          cand: Seq[String]): DataFrame => DataFrame = {
    val wanted = cand.map(bucketOf(_, live.buckets)).distinct
    _.filter(col("bucket").isin(wanted: _*))
      .filter(col("term") >= p && col("term") < p + '\uffff')
      .filter(col("term").startsWith(p))
  }

  /** A typed empty (id, score) result: the id type from the recorded
    * postings schema.
    */
  private def emptyScores(spark: SparkSession, live: LiveIndex,
                          idColName: String,
                          scoreNullable: Boolean = true): DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(Seq(live.idType.copy(name = idColName),
        org.apache.spark.sql.types.StructField("score",
          org.apache.spark.sql.types.DoubleType, scoreNullable))))


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
  def deleteDocs(ids: DataFrame, indexPath: String): Unit =
    deleteDocsScoped(ids, SegmentStore.open(ids.sparkSession, indexPath))

  /** [[deleteDocs]] against the snapshot a call opened: its segments
    * are the tombstone's scope.
    */
  private def deleteDocsScoped(ids: DataFrame,
                               snap: SegmentStore.Snapshot): Unit = {
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
    val hitRow = liveLensFrames(spark, snap)
      .map(_.join(del, Seq("id"), "left_semi"))
      .reduce(_ unionByName _)
      .agg(count(lit(1)).cast("double").as("n"),
        count_distinct(col("id")).cast("double").as("d"),
        coalesce(sum(col("len")), lit(0.0)).as("sum_len")).head()
    require(hitRow.getDouble(0).toLong == nReq &&
        hitRow.getDouble(1).toLong == nReq,
      s"deleteDocs: $nReq ids requested but ${hitRow.getDouble(0).toLong} " +
        s"live rows over ${hitRow.getDouble(1).toLong} distinct ids " +
        s"matched in ${snap.root} — unknown/already-tombstoned ids (or " +
        "an id live in two segments) are contract violations")
    writeTombstone(spark, snap, del, hitRow.getDouble(0), hitRow.getDouble(2))
  }

  /** Commit one tombstone batch: ids, then scope, then stats LAST (the
    * marker). The SCOPE is the snapshot's segments, committed at the
    * caller's probe time (the only ones that can hold the ids) and
    * never a later segment — so a deleted id can be re-ingested (see
    * [[upsertDocs]]) and the new posting is not masked. Segment-name
    * reuse cannot dangle a scope: only ingestBatch writes predictable
    * names, and its ledger (cleared solely by build(), which also
    * clears tombstones) blocks any second ingest of a batch id.
    */
  private def writeTombstone(spark: SparkSession, scope: SegmentStore.Snapshot,
                             ids: DataFrame, n: Double, sumLen: Double): Unit =
    SegmentStore.writeTombstone(spark, scope, ids,
      Seq("n" -> n, "sum_len" -> sumLen))

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
  private def liveLensFrames(spark: SparkSession,
                             snap: SegmentStore.Snapshot): Seq[DataFrame] =
    SegmentStore.liveLedgerFrames(spark, snap, "lens")

  /** ES-style upsert: documents whose ids are LIVE are tombstoned
    * first (scoped to the current segments), then the whole batch
    * lands as one new segment — updated docs resurface with their new
    * content immediately, no compact() required, because tombstone
    * scopes never cover the new segment. Ids must be unique within
    * `docs`; genuinely-new ids skip the delete and just append.
    */
  def upsertDocs(docs: DataFrame, idCol: String, textCol: String,
                 indexPath: String): Unit = {
    val snap = SegmentStore.open(docs.sparkSession, indexPath)
    tombstoneLiveOf(docs, idCol, snap)
    appendTo(docs, idCol, textCol, snap)
  }

  /** The upsert paths' single-scan probe-and-tombstone: ONE lens read
    * finds the live versions of the incoming ids AND their (n,
    * sum_len) moments, charged directly — not a second scan through
    * deleteDocsScoped. No live match → no tombstone (pure inserts).
    */
  private def tombstoneLiveOf(docs: DataFrame, idCol: String,
                              scope: SegmentStore.Snapshot): Unit = {
    val spark = docs.sparkSession
    SegmentStore.labeled(spark, "idx tomb: live probe") {
      // pinned: the ids subtree feeds one semi-join PER lens frame below
      val ids = docs.select(col(idCol).as("id")).distinct()
        .localCheckpoint(true)
      // per-frame semi-join + union ≡ semi-join against the union, and
      // keeps a compacted segment's id-bucketed lens pre-partitioned
      // into its probe — the O(index) lens read of every upsert/CDC
      // batch never reshuffles (spec-pinned)
      val hits = liveLensFrames(spark, scope)
        .map(_.join(ids, Seq("id"), "left_semi"))
        .reduce(_ unionByName _)
        .localCheckpoint(true)
      val m = hits.agg(count(lit(1)).cast("double").as("n"),
        coalesce(sum(col("len")), lit(0.0)).as("sum_len")).head()
      if (m.getDouble(0) > 0)
        writeTombstone(spark, scope, hits.select("id").distinct(),
          m.getDouble(0), m.getDouble(1))
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
      val snap = SegmentStore.snapshot(spark, indexPath)
      val others = snap.copy(segs = snap.segs.filterNot(_.name == ownName))
      val (buckets, positions, analyzer) = layoutOr(snap, bucketsIfNew)
      if (others.segs.nonEmpty) tombstoneLiveOf(docs, idCol, others)
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
        val snap = SegmentStore.snapshot(spark, indexPath)
        val others = snap.copy(segs = snap.segs.filterNot(_.name == ownName))
        val (buckets, positions, analyzer) = layoutOr(snap, bucketsIfNew)
        // ONE tombstone covers both kinds of event: an upsert's stale
        // version and a delete's live version die the same way
        if (others.segs.nonEmpty) tombstoneLiveOf(evs, "id", others)
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
             indexPath: String): Unit =
    appendTo(docs, idCol, textCol,
      SegmentStore.open(docs.sparkSession, indexPath))

  private def appendTo(docs: DataFrame, idCol: String, textCol: String,
                       snap: SegmentStore.Snapshot): Unit = {
    val live = liveOf(snap)
    writeSegment(docs, idCol, textCol, snap.root, live.buckets,
      live.positions, live.analyzer)
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
      val (buckets, positions, analyzer) =
        layoutOr(SegmentStore.snapshot(spark, indexPath), bucketsIfNew)
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
    // marker-less crash leftovers go first (offline single-writer
    // contract): no reader consumes them, but every listing probes them
    SegmentStore.sweepUncommitted(fsOf(spark, indexPath), indexPath)
    val snap = SegmentStore.snapshot(spark, indexPath)
    val (segs, dels) = (snap.segs, snap.dels)
    if (segs.length > 1 || (dels.nonEmpty && segs.nonEmpty)) {
      val fs = fsOf(spark, indexPath)
      val meta = liveOf(snap)
      val live = liveLensFrames(spark, snap).reduce(_ unionByName _)
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
        segs.map("segments/" + _.name) ++ dels.map("deletes/" + _.name)
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
      val mergedLive = SegmentStore.liveRows(spark, snap, "postings")
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
        tb, meta.positions, meta.analyzer, Seq(
          "postings" -> SegmentStore.writtenSchema(mergedLive, Seq("bucket")),
          "lens" -> SegmentStore.writtenSchema(live)))
      (segs ++ dels).foreach(s =>
        fs.delete(new org.apache.hadoop.fs.Path(s.path), true))
      Manifest.delete(fs, manifestPath(indexPath))
    }
  }

  /** The live postings of `terms` (already lowercased/distinct):
    * bucket IN (...) prunes partition DIRECTORIES of every segment at
    * planning time (spec-pinned), term IN (...) pushes to the parquet
    * reader, and tombstoned docs are subtracted when tombstones exist.
    */
  private def prunedLivePostings(spark: SparkSession, live: LiveIndex,
                                 terms: Seq[String]): DataFrame = {
    val wanted = terms.map(bucketOf(_, live.buckets)).distinct
    livePostings(spark, live,
      _.filter(col("bucket").isin(wanted: _*))
        .filter(col("term").isin(terms: _*)))
  }

  /** Live document frequency `_df` (double) per term of `postings`:
    * postings rows are unique per (term, id) across segments (the
    * append contract), so df is the row count per term.
    */
  private def docFreqs(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).cast("double").as("_df"))

  /** Index observability — the ES indices-stats face: one row of live
    * corpus moments and structural counts. `n_docs`/`sum_len`/
    * `avg_len` are tombstone-adjusted (what scoring actually uses);
    * `segments`/`tombstone_batches` are the maintenance signals a
    * compaction cadence watches.
    */
  def stats(spark: SparkSession, indexPath: String): DataFrame = {
    val st = openLive(spark, indexPath)
    spark.range(1).select(
      lit(st.n.toLong).as("n_docs"),
      lit(st.sumLen).as("sum_len"),
      lit(if (st.n > 0) st.sumLen / st.n else 0.0).as("avg_len"),
      lit(st.snap.segs.length).as("segments"),
      lit(st.snap.dels.length).as("tombstone_batches"),
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
    val st = openLive(spark, indexPath)
    prunedLivePostings(spark, st, terms.map(st.analyzeTerm).distinct)
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
    // ONE snapshot's docs serve n, avg len, AND the bucket count — the
    // serving path runs no job before the caller's action, and the
    // corpus stats enter the plan as literals instead of a crossJoin.
    // Committed tombstone batches subtract their (pre-charged,
    // lens-exact) moments the same way, and tombstoned docs drop out of
    // the postings BEFORE df counts rows — idf, tf, and the corpus
    // stats all see only live docs.
    topK(spark, openLive(spark, indexPath), queryTerms, k, idColName, k1, b)
  }

  private def topK(spark: SparkSession, st: LiveIndex,
                   queryTerms: Seq[String], k: Int, idColName: String,
                   k1: Double, b: Double): DataFrame =
    rawTermScores(spark, st, queryTerms.map(st.analyzeTerm).distinct,
        idColName, k1, b)
      .orderBy(col("score").desc, col(idColName))
      .limit(k)

  /** The (id, rounded score) frame behind [[searchTopK]] and
    * [[searchAfter]] — one pruned postings read, broadcast df,
    * per-doc Okapi sum with the single 6-dp rounding.
    */
  private def rawTermScores(spark: SparkSession, st: LiveIndex,
                            terms: Seq[String], idColName: String,
                            k1: Double, b: Double): DataFrame =
    rawTermContribs(spark, st, terms, k1, b)
      .groupBy(col("id").as(idColName))
      .agg(round(sum(col("_s")), 6).as("score"))

  /** Per-(doc, term) RAW Okapi contributions over the live postings —
    * (id, term, _s double), one bucket-pruned read + broadcast df.
    * [[rawTermScores]] sums them per doc;
    * [[FieldedIndex.queryStringSearchTopK]] keeps the term grain to
    * gate and score boolean clauses per field.
    */
  private[operators] def rawTermContribs(spark: SparkSession,
                                         st: LiveIndex,
                                         terms: Seq[String],
                                         k1: Double,
                                         b: Double): DataFrame = {
    val p = prunedLivePostings(spark, st, terms)
    p.join(broadcast(docFreqs(p)), Seq("term"))
      .select(col("id"), col("term"), bm25(bm25Idf(st.n, col("_df")),
        col("tf"), col("len"), st.avgLen, k1, b).as("_s"))
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
    val st = openLive(spark, indexPath)
    val syn = graft.functions.Synonyms.parse(synonymRules)
      .map { case (f, ts) =>
        st.analyzeTerm(f) -> ts.map(st.analyzeTerm).distinct.sorted
      }
    val groups = queryTerms.map(st.analyzeTerm).distinct
      .map(t => syn.getOrElse(t, Seq(t))).distinct
    val allTerms = groups.flatten.distinct
    val n = st.n
    val p = prunedLivePostings(spark, st, allTerms)
    val dfMap = docFreqs(p)
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
      when(tfc.isNotNull, bm25(lit(idf), tfc, col("_len"), st.avgLen, k1, b))
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
    val st = openLive(spark, indexPath)
    rawTermScores(spark, st, queryTerms.map(st.analyzeTerm).distinct,
        idColName, k1, b)
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
    val st = openLive(spark, indexPath)
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
    val p = prunedLivePostings(spark, st, allT)
    val dfreq = docFreqs(p.filter(col("term").isin(scoredT: _*)))
    val contrib =
      when(col("term").isin(scoredT: _*), bm25(bm25Idf(st.n, col("_df")),
          col("tf"), col("len"), st.avgLen, k1, b))
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
    val st = openLive(spark, indexPath)
    val n = st.n
    // 1. like-text term frequencies through the index's analysis chain
    // (tokensOf = the driver twin of TextAnalysis.tokens, so like-text
    // tf can never desynchronize from index postings)
    val likeTf = graft.functions.TextAnalysis.tokensOf(likeText)
      .map(t => graft.functions.EnglishMinimalStem
        .analyzeTerm(st.analyzer, t))
      .groupBy(identity).view.mapValues(_.length).toMap
      .filter(_._2 >= minTermFreq)
    def empty = emptyScores(spark, st, idColName)
    if (likeTf.isEmpty) return empty
    // 2. live df of the candidates — one bucket-pruned read, bounded
    // collect (≤ |like terms| rows)
    val dfMap = docFreqs(prunedLivePostings(spark, st, likeTf.keys.toSeq))
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
    val p = prunedLivePostings(spark, st, selected)
    val scoredRows = p.join(broadcast(docFreqs(p)), Seq("term"))
    val resultRows = excludeId match {
      case Some(x) => scoredRows.filter(col("id") =!= lit(x))
      case None    => scoredRows
    }
    resultRows
      .withColumn("_s", bm25(bm25Idf(n, col("_df")), col("tf"), col("len"),
        st.avgLen, k1, b))
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
    val parts = indexPaths.map(openLive(spark, _))
    val analyzers = parts.map(_.analyzer).distinct
    require(analyzers.size == 1,
      s"indexes mix analyzers $analyzers — cross-index search needs " +
        "one analysis chain (rebuild with a shared analyzer)")
    val n = parts.map(_.n).sum
    val avg = avgLen(n, parts.map(_.sumLen).sum)
    val terms = queryTerms.map(parts.head.analyzeTerm).distinct
    // each index prunes with its own bucket count; rows are disjoint
    // across indexes (the id contract), so df = row count per term
    val p = parts.map(prunedLivePostings(spark, _, terms))
      .reduce(_ unionByName _)
    p.join(broadcast(docFreqs(p)), Seq("term"))
      .withColumn("_s", bm25(bm25Idf(n, col("_df")), col("tf"), col("len"),
        avg, k1, b))
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
    val st = openLive(spark, indexPath)
    // (q_id, term) pairs, analyzed with the index's chain (lowercase,
    // plus the stem under "english" — Column spelling of
    // LiveIndex.analyzeTerm), de-duped within each query so a repeated
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
      if (terms.size <= maxPushdownTerms) prunedLivePostings(spark, st, terms)
      else {
        val wanted = terms.map(bucketOf(_, st.buckets)).distinct
        livePostings(spark, st, _.filter(col("bucket").isin(wanted: _*))
          .join(qt.select("term").distinct(), Seq("term"), "left_semi"))
      }
    val scored = p.join(broadcast(docFreqs(p)), Seq("term"))
      .join(qt, Seq("term"))
      .withColumn("_s", bm25(bm25Idf(st.n, col("_df")), col("tf"),
        col("len"), st.avgLen, k1, b))
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
    val st = positional(openLive(spark, indexPath), "phraseSearch")
    // analyzeTerm's Locale.ROOT lowercase matches Spark's
    // locale-independent lower() that lowercased the index tokens (a
    // Turkish-locale JVM would otherwise map 'I' → 'ı' and silently
    // match nothing); under "english" the phrase terms stem like the
    // indexed positions did
    val terms = phrase.map(st.analyzeTerm)
    val frames = terms.zipWithIndex.map { case (t, i) =>
      prunedLivePostings(spark, st, Seq(t))
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
    rawPhraseScores(spark, openLive(spark, indexPath), phrase, k1, b, slop)
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
    val st = positional(openLive(spark, indexPath), "phrase-prefix search")
    val full = qs.init.map(st.analyzeTerm)
    val (p0, exts) = vocabPrefixCandidates(spark, st,
      st.analyzeTerm(qs.last), maxCandidates)
    if (exts.isEmpty)
      return emptyScores(spark, st, idColName, scoreNullable = false)
    val cand = livePostings(spark, st, prefixPrune(st, p0, exts))
    // all prefix-token positions per doc (several candidate terms can
    // hit one doc); bounded by doc length
    val pp = cand.select(col("id"), explode(col("pos")).as("_pp"))
      .groupBy("id").agg(collect_set(col("_pp")).as("_ppos"))
    if (full.isEmpty)
      // bare prefix box: constant score, id order (ES's behavior)
      return pp.select(col("id").as(idColName), lit(1.0).as("score"))
        .orderBy(col(idColName)).limit(k)
    val all = prunedLivePostings(spark, st, full.distinct)
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
      .crossJoin(broadcast(phraseIdfSum(docFreqs(all), full, st.n)))
      .withColumn("_ptf", ptf.cast("double"))
      .filter(col("_ptf") > 0)
      .withColumn("score", round(bm25(col("_tidf"), col("_ptf"), col("len"),
        st.avgLen, k1, b) + 1.0, 6))
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
                                         live: LiveIndex,
                                         phrase: Seq[String],
                                         k1: Double,
                                         b: Double,
                                         slop: Int = 0)
      : DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val st = positional(live, "phrase scoring")
    val terms = phrase.map(st.analyzeTerm)
    val all = prunedLivePostings(spark, st, terms.distinct)
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
    // per-term document frequencies: ≤ |phrase| rows, broadcast
    joined
      .crossJoin(broadcast(phraseIdfSum(docFreqs(all), terms, st.n)))
      .withColumn("_ptf", ptf.cast("double"))
      .filter(col("_ptf") > 0)
      .withColumn("_fs", bm25(col("_tidf"), col("_ptf"), col("len"),
        st.avgLen, k1, b))
      .select(col("id"), col("_fs"))
  }

  /** `live` when its index stores positional postings, else a refusal
    * naming the call that needs them.
    */
  private def positional(live: LiveIndex, what: String): LiveIndex = {
    require(live.positions,
      s"${live.snap.root} was built without positional postings — " +
        s"build(positions = true) enables $what")
    live
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
    val idf = bm25Idf(n, col("_df"))
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
    val snap = SegmentStore.open(spark, indexPath)
    val terms = SegmentStore.liveRows(spark, snap.withoutTombstones,
        "postings")
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
    segNames(snap).toDF("segment")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$indexPath/fuzzy_segments")
  }

  private def segNames(snap: SegmentStore.Snapshot): Seq[String] =
    snap.segs.map(_.name).sorted

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
    val st = openLive(spark, indexPath)
    val (lowered, byQuery) = fuzzyResolve(spark, st, queryTerms, maxCandidates)
    val resolved = byQuery.values.flatten.toSeq.distinct
    topK(spark, st, if (resolved.nonEmpty) resolved else lowered,
      k, idColName, k1, b)
  }

  /** Shared SymSpell resolution (staleness-gated): analyzed query
    * terms plus, per analyzed term, the vocabulary terms within edit
    * distance 1 (INCLUDING the term itself when it is in the
    * vocabulary — callers decide what to do with exact hits).
    */
  private def fuzzyResolve(spark: SparkSession, st: LiveIndex,
                           queryTerms: Seq[String], maxCandidates: Int)
  : (Seq[String], Map[String, Seq[String]]) = {
    val indexPath = st.snap.root
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
    val recorded = spark.read.parquet(s"$indexPath/fuzzy_segments")
      .collect().map(_.getString(0)).sorted.toSeq
    require(recorded == segNames(st.snap),
      s"$indexPath/fuzzy is STALE: it was built from segments " +
        s"$recorded but the index now has ${segNames(st.snap)} — " +
        "appended/compacted vocabulary would silently miss from fuzzy " +
        "resolution; buildFuzzyDictionary() again")
    // query terms run the index's analysis chain FIRST (the ES order:
    // fuzziness applies to analyzed terms) — the vocabulary the
    // dictionary was derived from is already analyzed
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
    (lowered, pairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap)
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
    val st = openLive(spark, indexPath)
    val (lowered, byQuery) = fuzzyResolve(spark, st, Seq(term), maxCandidates)
    val analyzed = lowered.head
    val neighbors = byQuery.getOrElse(analyzed, Nil)
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Int)]
      .toDF("term", "df", "distance")
    if (neighbors.isEmpty) return empty
    // one bucket-pruned live-df read over the bounded candidate set
    val dfs = prunedLivePostings(spark, st, neighbors)
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
    val snap = SegmentStore.open(spark, indexPath)
    val vocab = SegmentStore.liveRows(spark, snap.withoutTombstones,
        "postings")
      .select("term").distinct()
    vocab
      .repartitionByRange(8, col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$indexPath/vocab")
    SegmentStore.writeDocDir(fsOf(spark, indexPath),
      s"$indexPath/vocab_segments", org.json4s.JObject(
        "segments" -> org.json4s.JArray(segNames(snap)
          .map(org.json4s.JString(_): org.json4s.JValue).toList),
        SegmentStore.schemaField(
          Seq("vocab" -> SegmentStore.writtenSchema(vocab)))))
  }

  /** The sidecar-read half shared by the prefix faces
    * ([[suggestCompletions]], [[termsEnum]], [[boolPrefixSearchTopK]],
    * [[phrasePrefixSearchTopK]]): existence + fingerprint staleness
    * checks against the call's snapshot (the same segment set its stats
    * and postings come from), the pushable range read, the loud
    * candidate cap. Returns (lowercased prefix, candidate terms).
    */
  private def vocabPrefixCandidates(spark: SparkSession, st: LiveIndex,
                                    prefix: String, maxCandidates: Int)
      : (String, Seq[String]) = {
    val indexPath = st.snap.root
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
    val doc = SegmentStore.readDocDir(fs, fpDir)
    val recorded = ((doc \ "segments") match {
      case org.json4s.JArray(xs) =>
        xs.collect { case org.json4s.JString(x) => x }
      case other => sys.error(s"malformed vocab_segments doc: $other")
    }).sorted
    require(recorded == segNames(st.snap),
      s"$indexPath/vocab is STALE: it was built from segments " +
        s"$recorded but the index now has ${segNames(st.snap)} — " +
        "appended/compacted vocabulary would silently miss from " +
        "prefix resolution; buildVocabulary() again")
    // ONE job: each scan partition keeps at most cap + 1 terms (a
    // global limit's incremental take scans partitions in rounds, a
    // job each); the sidecar is range-partitioned by term, so a
    // prefix's terms sit in one or two files and the driver receives
    // about cap + 1 terms at most
    val cand = spark.read
      .schema(SegmentStore.recordedSchema(doc, fpDir, "vocab"))
      .parquet(s"$indexPath/vocab")
      .filter(col("term") >= p && col("term") < p + '\uffff')
      .filter(col("term").startsWith(p))
      .select(col("term")).as(org.apache.spark.sql.Encoders.STRING)
      .mapPartitions(_.take(maxCandidates + 1))(
        org.apache.spark.sql.Encoders.STRING)
      .collect().take(maxCandidates + 1).toSeq
    require(cand.length <= maxCandidates,
      s"prefix '$prefix' matched more than $maxCandidates vocabulary " +
        "terms — lengthen the prefix or raise the cap deliberately")
    (p, cand)
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
  def suggestCompletions(spark: SparkSession, indexPath: String,
                         prefix: String, k: Int = 5,
                         maxCandidates: Int = 10000): DataFrame = {
    require(k > 0, "k must be positive")
    val st = openLive(spark, indexPath)
    val (p, cand) = vocabPrefixCandidates(spark, st, prefix, maxCandidates)
    import spark.implicits._
    if (cand.isEmpty) return Seq.empty[(String, Long)].toDF("term", "df")
    // the vocabulary is fingerprint-matched to the live segments, so
    // the candidate set IS exactly "every postings term extending the
    // prefix" — the postings read reuses the same pushable RANGE
    // predicate instead of a candidate IN list (which at the 10k cap
    // would be a 10k-literal predicate bloating the plan); only the
    // bucket directory list (distinct md5 buckets of the candidates,
    // bounded by the index's bucket count) comes from the collected
    // candidates
    livePostings(spark, st, prefixPrune(st, p, cand))
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
    val st = openLive(spark, indexPath)
    val (p, cand0) = vocabPrefixCandidates(spark, st, prefix, 10000)
    import spark.implicits._
    val after = searchAfter.map(_.toLowerCase(java.util.Locale.ROOT))
    val cand = after.fold(cand0)(a => cand0.filter(_ > a))
    if (cand.isEmpty) return Seq.empty[String].toDF("term")
    val ranged = prefixPrune(st, p, cand)
    livePostings(spark, st, df0 => {
        val r = ranged(df0)
        after.fold(r)(a => r.filter(col("term") > a))
      })
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
    val st = openLive(spark, indexPath)
    val terms = queryTerms.map(st.analyzeTerm).distinct
    val posts0 = prunedLivePostings(spark, st, terms)
    val posts = onlyIds.fold(posts0)(ids =>
      posts0.filter(col("id").isin(ids: _*)))
    // df comes from the FULL live postings (restricting to onlyIds
    // must not change corpus statistics)
    val dfreq = docFreqs(posts0).withColumnRenamed("_df", "df")
    posts.join(broadcast(dfreq), Seq("term"))
      .withColumn("idf", bm25Idf(st.n, col("df")))
      .withColumn("score_contrib", round(bm25(col("idf"), col("tf"),
        col("len"), st.avgLen, k1, b), 6))
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
    val st = openLive(spark, indexPath)
    val terms = graft.functions.TextAnalysis.tokensOf(query)
      .map(st.analyzeTerm).distinct
    require(terms.nonEmpty, "query analyzes to no terms")
    val posts = prunedLivePostings(spark, st, terms)
    val ids =
      if (operator == "or") posts.select("id").distinct()
      else posts.groupBy("id")
        .agg(count(lit(1)).as("_t"))
        .filter(col("_t") === terms.size.toLong)
        .select("id")
    val matched = ids.persist()
    try {
      val nMatched = matched.count()
      if (nMatched > 0) deleteDocsScoped(matched, st.snap)
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
    val st = openLive(spark, indexPath)
    // the scan face analyzes the LAST term through the full chain
    // too (the prefix is stemmed under "english") — mirror it
    val fullTerms = qs.init.map(st.analyzeTerm).distinct
    val (p, exts) = vocabPrefixCandidates(spark, st,
      st.analyzeTerm(qs.last), maxCandidates)
    if (exts.isEmpty) return emptyScores(spark, st, idColName)
    val preIds = livePostings(spark, st, prefixPrune(st, p, exts))
      .select("id").distinct()
    val scored =
      if (fullTerms.isEmpty) preIds.select(col("id"), lit(1.0).as("_sc"))
      else {
        val posts = prunedLivePostings(spark, st, fullTerms)
        posts.join(broadcast(docFreqs(posts)), Seq("term"))
          .withColumn("_s", bm25(bm25Idf(st.n, col("_df")), col("tf"),
            col("len"), st.avgLen, k1, b))
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
