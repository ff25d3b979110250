package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{TextAnalysis, VectorOps}
import graft.plans.VectorExpressions

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the point of each variant):
  *  - exact: one hash-groupBy shuffle on a 16-byte digest — the only
  *    full-shuffle op, and it shuffles digests, not documents.
  *  - MinHash+LSH: per-row signature (no shuffle), then a shuffle on
  *    (band, bandHash) buckets only; candidate verification touches
  *    candidate pairs, never the full N². This is THE 100TB near-dup
  *    path: cost ~ O(N) + O(candidates).
  *  - SimHash: per-row 64-bit sketch; near-dup candidates via equal
  *    bucket prefix + hamming radius — same bucket-join shape.
  *  - n-gram Jaccard: exact verifier for candidate pairs (never run
  *    all-pairs at scale; here also exposed per-group for testing).
  *  - embedding cosine: see Similarity for the ANN path.
  */
object Dedup {

  /** Unpersist `staged` frames once the FIRST successful action whose
    * plan contains `result` completes — without forcing an eager job
    * here (an eager `count()` double-executed the whole pair pipeline
    * and cost dd4 +52% / dd2 +20% wall at sf0.1).
    *
    * Mechanism: a one-shot QueryExecutionListener watches completed
    * query executions; when one's analyzed plan contains `result`'s
    * plan (sameResult), that action has consumed `staged`, so it is
    * unpersisted and the listener removed. The API stays fully lazy;
    * repeated pipeline runs in a long-lived session do not accumulate
    * intermediate cache blocks.
    *
    * Callers whose result is read more than once pass it persisted
    * (`releaseAfter(out.persist(), Seq(staged))`): the first action
    * fills the result's cache through `staged`, and the caller owns
    * the returned frame's `unpersist()` (it is the small candidate-pair
    * table, LRU-evictable if they don't). For a result that feeds
    * exactly one terminal action (a gate's noop write, the oracle
    * write), the staged inputs die with that action; a SECOND action
    * recomputes the chain — the documented "persists live and die
    * inside one execution" contract. If a caller never executes
    * `result`, `staged` stays cached until LRU eviction — the lazy-API
    * trade, documented.
    */
  private[graft] def releaseAfter(result: DataFrame,
                                  staged: Seq[DataFrame]): DataFrame = {
    val spark = result.sparkSession
    val target = result.queryExecution.analyzed
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
      private def maybeRelease(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
        // stay ARMED on comparison errors: releasing early would strand
        // a persisted `result` uncached with `staged` gone, re-running
        // the whole staged pipeline per downstream read; an un-released
        // staged frame is merely LRU-evictable memory
        val touches =
          try qe.analyzed.exists(p => p.sameResult(target))
          catch { case _: Throwable => false }
        if (touches && released.compareAndSet(false, true)) {
          staged.foreach(_.unpersist(false))
          spark.listenerManager.unregister(this)
        }
      }
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        maybeRelease(qe)
      // a FAILED action may not have populated the downstream work —
      // keep the staged caches and the listener armed so the retry
      // still gets the barrier; the next successful action releases
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        ()
    }
    spark.listenerManager.register(listener)
    result
  }

  /** Exact duplicate statistics: group on md5 of the raw text. */
  def exactStats(docs: DataFrame, textCol: String): DataFrame =
    docs.agg(
      count(lit(1)).cast("long").as("n_docs"),
      countDistinct(md5(col(textCol))).cast("long").as("n_unique"))

  /** Exact dedup keeping the smallest id per duplicate group. */
  def exactKeepFirst(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = docs
      .groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as(idCol))
      .drop("h")
    docs.join(keep, Seq(idCol), "left_semi")
  }

  /** Keep-first over ANY derived key expression — [[exactKeepFirst]]
    * generalized: one group per distinct key, the smallest id
    * survives, null-key rows are all kept (no key, no group — the
    * null-source discipline). Same shape: a narrow (key, min id)
    * aggregate then a semi-join back; only ids and keys shuffle.
    *
    * Precondition (same contract as [[Packing.packByBudget]] /
    * [[Sampling.tokenBudgetMix]]): `idCol` must be UNIQUE across the
    * frame — the winner is re-selected by a semi-join on the id, so a
    * duplicated id resurrects every row sharing a winner's id
    * (including null-key rows unioned by value), silently defeating
    * the dedup.
    */
  def keepFirstByKey(docs: DataFrame, idCol: String,
                     key: org.apache.spark.sql.Column): DataFrame = {
    val keep = docs
      .filter(key.isNotNull)
      .groupBy(key.as("_kfk"))
      .agg(min(col(idCol)).as(idCol))
      .drop("_kfk")
    docs.filter(key.isNull)
      .unionByName(docs.join(keep, Seq(idCol), "left_semi"))
  }

  /** Keep-BEST over a derived key: within each duplicate group the
    * row maximizing `score` survives (ties toward the smallest id, so
    * the choice is total and replayable). The curation form of
    * [[keepFirstByKey]] — among URL- or content-duplicates you
    * usually want the longest / highest-quality fetch, not the
    * earliest id. Null-key rows are all kept (no key, no group).
    *
    * Same scale shape as keep-first: one narrow aggregate on (key →
    * best id) and a semi-join back on the id — scores and ids
    * shuffle, never the payload. The winner rides
    * [[graft.plans.ExtremumBy.idxmax]] (the native idxmax
    * DeclarativeAggregate): deterministic smallest-id tie-break, any
    * orderable id type, and NaN scores never win — exactly the traps
    * of the struct(score, -id) max() workaround that ExtremumBy
    * exists to replace. A group with NO orderable score at all (every
    * row NaN/null) still keeps its smallest id — a dedup operator
    * must never delete EVERY copy, so the idxmax null falls back to
    * min(id) inside the same aggregate.
    *
    * Precondition: `idCol` unique — see [[keepFirstByKey]]'s contract
    * note (the semi-join back on the id is what both operators hang
    * their correctness on).
    */
  def keepBestByKey(docs: DataFrame, idCol: String,
                    key: org.apache.spark.sql.Column,
                    score: org.apache.spark.sql.Column): DataFrame = {
    val keep = docs
      .filter(key.isNotNull)
      .groupBy(key.as("_kbk"))
      .agg(coalesce(graft.plans.ExtremumBy.idxmax(score, col(idCol)),
        min(col(idCol))).as(idCol))
      .drop("_kbk")
    docs.filter(key.isNull)
      .unionByName(docs.join(keep, Seq(idCol), "left_semi"))
  }

  /** Dedup by normalized URL — the CommonCrawl/WET curation pass that
    * runs BEFORE content dedup (same page fetched via http/https,
    * with/without www, trailing fragments, mixed-case hosts): rows
    * whose [[graft.functions.TextAnalysis.normalizeUrl]] keys match
    * keep only the smallest id. Null/absent URLs are kept (they have
    * no page identity to collide on).
    */
  def dedupByUrl(docs: DataFrame, idCol: String, urlCol: String,
                 stripWww: Boolean = true,
                 stripQuery: Boolean = false): DataFrame =
    keepFirstByKey(docs, idCol,
      graft.functions.TextAnalysis.normalizeUrl(col(urlCol), stripWww,
        stripQuery))

  /** Incremental exact dedup against a persistent digest registry —
    * the continuous-ingest face of [[exactKeepFirst]]: drop batch rows
    * whose content digest was registered by ANY earlier batch (or
    * duplicated within this batch, keep-first by id), then append the
    * survivors' digests to the registry and return the survivors.
    *
    * The registry holds 16-byte digests only, never documents, so the
    * anti-join ships digests — the same narrow-shuffle discipline as
    * the LSH band join. Survivors are materialized (localCheckpoint)
    * BEFORE their digests are appended: the returned frame must not
    * lazily re-read a registry that now contains its own digests (it
    * would anti-join itself to empty on the next action). The
    * checkpoint pins one batch — not the corpus — per call.
    *
    * Retry/delivery contract: RE-RUNNING a batch whose digest append
    * committed returns an EMPTY frame — its rows are registered (the
    * registry never double-registers or loses a digest) but were
    * delivered by the earlier run, i.e. delivery is at-most-once per
    * run while registration is exactly-once. Callers that must
    * re-obtain a delivered batch's survivors should keep the returned
    * frame (it is checkpointed) or persist it downstream before
    * retrying; a streaming driver gets this for free from its
    * checkpoint (see graft.streaming.CorpusStream).
    */
  def incrementalExactDedup(batch: DataFrame, idCol: String,
                            textCol: String,
                            registryPath: String): DataFrame = {
    val out = exactSurvivors(batch, idCol, textCol, registryPath)
    appendRegistryBatch(out.select(col("_digest").as("digest")),
      registryPath)
    out.drop("_digest")
  }

  /** The probe both exact-dedup variants share: checkpointed batch
    * survivors carrying their `_digest` column, registry untouched.
    */
  private def exactSurvivors(batch: DataFrame, idCol: String,
                             textCol: String,
                             registryPath: String): DataFrame =
    exactProbe(batch, idCol, textCol, registryPath).localCheckpoint(true)

  /** The un-materialized probe plan behind [[exactSurvivors]] —
    * read-only against the registry (no append, no checkpoint), split
    * out so DedupSpec can execute THE plan the ingest path runs and
    * pin its shape (bucketed registry scans must reach the anti-join
    * without an Exchange).
    */
  private[operators] def exactProbe(batch: DataFrame, idCol: String,
                                    textCol: String,
                                    registryPath: String): DataFrame = {
    val spark = batch.sparkSession
    val withDigest = batch.withColumn("_digest", md5(col(textCol)))
    val inBatchFirst = withDigest.join(
      withDigest.groupBy("_digest").agg(min(col(idCol)).as(idCol)),
      Seq("_digest", idCol), "left_semi")
    // probe COMMITTED batch dirs explicitly: a catch-all around read()
    // would turn a transient IO error into "registry empty" and
    // silently disable cross-batch dedup. Real read failures propagate.
    // (Duplicate digests — e.g. from a crashed compact() — are
    // harmless here: anti-join semantics are unchanged.)
    val fs = new org.apache.hadoop.fs.Path(registryPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // chained anti-joins ≡ one anti-join against the union, but keep
    // the BUCKETED compacted store as its own join so its
    // HashPartitioning survives into the plan (a union would erase
    // it): the big store probes Exchange-free, and the plain
    // post-compaction tail probes as a separate small (broadcast-able)
    // build side
    registryFrames(spark, fs, registryPath)
      .foldLeft(inBatchFirst) { (acc, reg) =>
        acc.join(reg, acc("_digest") === reg("digest"), "left_anti")
      }
  }

  /** The committed registry as join-ready frames: bucketed batch dirs
    * (compaction targets) each with their distribution metadata, then
    * the plain dirs as one union. Order puts the big bucketed store(s)
    * first so the chained probe cuts the batch down before the tail.
    */
  private def registryFrames(spark: org.apache.spark.sql.SparkSession,
                             fs: org.apache.hadoop.fs.FileSystem,
                             dir: String): Seq[DataFrame] = {
    val dirs = committedBatchDirs(fs, dir)
    val (bucketed, plain) =
      dirs.partition(d => Bucketing.isBucketedBatch(fs, d))
    bucketed.map(d => Bucketing.readBucketedBatch(spark, d)) ++
      (if (plain.nonEmpty) Seq(spark.read.parquet(plain: _*)) else Nil)
  }

  /** A store's registered-id sets as anti-join build sides, one frame
    * per layout: a bucketed compacted dir contributes its sibling
    * `ids-<uuid>` sidecar when present (pre-distincted, bucketed by
    * id — the Exchange-free shape) or its own distinct ids otherwise
    * (a distinct over an id-bucketed scan is itself Exchange-free;
    * over a (band,bh)-bucketed scan it shuffles — the documented
    * fallback for the sidecar's crash window); plain tail dirs
    * contribute one distinct over their union.
    */
  private def idFrames(spark: org.apache.spark.sql.SparkSession,
                       fs: org.apache.hadoop.fs.FileSystem,
                       dir: String): Seq[DataFrame] = {
    val dirs = committedBatchDirs(fs, dir)
    val (bucketed, plain) =
      dirs.partition(d => Bucketing.isBucketedBatch(fs, d))
    bucketed.map { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val sidecar =
        s"${p.getParent}/ids-${p.getName.stripPrefix("batch-")}"
      if (Bucketing.isBucketedBatch(fs, sidecar))
        Bucketing.readBucketedBatch(spark, sidecar)
      else Bucketing.readBucketedBatch(spark, d).select("id").distinct()
    } ++ (if (plain.nonEmpty)
      Seq(spark.read.parquet(plain: _*).select(col("id")).distinct())
    else Nil)
  }

  /** [[incrementalExactDedup]] with EXACTLY-ONCE delivery: survivors
    * are written to their own committed output directory `outDir`
    * BEFORE their digests register, closing the at-most-once gap of
    * the return-value contract (a crash after the registry append
    * loses nothing — the rows are already on disk).
    *
    * Why every crash window replays cleanly (single writer, one
    * `outDir` per batch id): survivors are a deterministic function of
    * (batch, committed registry state), and the registry only grows by
    * this batch's own append, so
    *  - crash mid-delivery: no `_SUCCESS`, digests unregistered — the
    *    retry recomputes the identical survivors and overwrites;
    *  - crash between delivery commit and registry append: the retry
    *    recomputes the identical survivors, SKIPS the committed
    *    delivery, and completes the append;
    *  - crash after the append: the retry's survivors dedup to empty,
    *    and the committed-delivery skip is what keeps that empty frame
    *    from clobbering the delivered rows.
    * Registration stays exactly-once as before. Read the delivered
    * output with [[graft.streaming.CorpusStream.deliveredOutput]]
    * (committed dirs only — a crashed delivery is invisible).
    */
  def incrementalExactDedupTo(batch: DataFrame, idCol: String,
                              textCol: String, registryPath: String,
                              outDir: String): DataFrame = {
    val spark = batch.sparkSession
    val out = exactSurvivors(batch, idCol, textCol, registryPath)
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$outDir/_SUCCESS")))
      out.drop("_digest").write.mode("overwrite").parquet(outDir)
    appendRegistryBatch(out.select(col("_digest").as("digest")),
      registryPath)
    out.drop("_digest")
  }

  /** Compact an append-grown digest registry: rewrite all committed
    * batch dirs as ONE batch, then delete the old dirs (and any
    * marker-less crash leftovers). Probe results are identical before
    * and after (spec-pinned). OFFLINE maintenance — run without
    * concurrent appends. Crash-safety: the compacted batch commits
    * BEFORE anything is deleted (an interrupted compact leaves
    * duplicate digests, which the anti-join ignores), and a
    * compaction manifest lets the next compact()/[[healExactRegistry]]
    * replay the interrupted delete instead of re-merging the
    * duplicated state.
    */
  def compactExactRegistry(spark: org.apache.spark.sql.SparkSession,
                           registryPath: String): Unit =
    compactDir(spark, registryPath, distinctCols = Seq("digest"))

  /** [[compactExactRegistry]] writing the compacted batch BUCKETED by
    * digest — the co-located-probe recipe the plain layout documents.
    * Why it matters at 100 TB: the per-batch anti-join cannot
    * broadcast its registry (the build side IS the billions of
    * digests), so with a plain layout every micro-batch pays a
    * sort-merge shuffle of the WHOLE registry. A bucketed compacted
    * store carries its HashPartitioning into the probe plan: only the
    * incoming batch shuffles (to the bucket count), the registry side
    * reads pre-partitioned, pre-sorted — Exchange-free at any registry
    * size, every batch (spec-pinned). Appends after the compaction
    * land as plain batch dirs and probe separately as the small
    * broadcast-able tail until the next compaction folds them in; a
    * session that lost the catalog entry re-registers it from the
    * dir's `_bucket_spec.json` ([[Bucketing.readBucketedBatch]]).
    * Same crash manifest, same offline single-writer contract.
    *
    * Pick `buckets` for the TARGET deployment's probe parallelism
    * (e.g. 2-4× total executor cores), not the compacting job's —
    * or leave the default 0 (r18) and the count derives from the
    * compacted registry's own row count (one bucket per ~1M rows,
    * floor 8, cap 256), so it tracks the registry instead of
    * freezing a constant tuned for one deployment.
    */
  def compactExactRegistryBucketed(spark: org.apache.spark.sql.SparkSession,
                                   registryPath: String,
                                   buckets: Int = 0): Unit =
    compactDir(spark, registryPath, distinctCols = Seq("digest"),
      bucketBy = Some(Seq("digest") -> buckets))

  /** Resolve a [[compactDir]] that crashed between committing its
    * merged batch dir and deleting the inputs — the window where the
    * registry transiently holds every row twice. For the exact
    * registry duplicates are anti-join-harmless, but the near-dup
    * registry PROBES would double every match against a duplicated
    * id, so a restarted stream must heal before its first probe
    * (graft.streaming.CorpusStream does). Same manifest replay as
    * [[InvertedIndex.heal]]: target committed → finish the deletes;
    * target uncommitted → drop it; then clear the manifest.
    */
  private def healDir(spark: org.apache.spark.sql.SparkSession,
                      dir: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Manifest.heal(fs, new org.apache.hadoop.fs.Path(s"$dir/compacting"),
      dir, d => new org.apache.hadoop.fs.Path(s"$d/_SUCCESS"))
  }

  def healExactRegistry(spark: org.apache.spark.sql.SparkSession,
                        registryPath: String): Unit =
    healDir(spark, registryPath)

  /** Shingles and bands heal independently — each store has its own
    * manifest, and replaying one does not touch the other.
    */
  def healNearDupRegistry(spark: org.apache.spark.sql.SparkSession,
                          registryPath: String): Unit = {
    healDir(spark, s"$registryPath/shingles")
    healDir(spark, s"$registryPath/bands")
  }

  private def compactDir(spark: org.apache.spark.sql.SparkSession,
                         dir: String, distinctCols: Seq[String],
                         bucketBy: Option[(Seq[String], Int)] = None,
                         idsSidecar: Boolean = false): Unit = {
    healDir(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = committedBatchDirs(fs, dir)
    if (old.nonEmpty) {
      val all = spark.read.parquet(old: _*)
      val compacted =
        if (distinctCols.nonEmpty) all.dropDuplicates(distinctCols) else all
      // size the output file count from the actual row count (~10M
      // 16-48 B rows ≈ 160-480 MB per file) — compaction is offline
      // maintenance, so the extra counting job is fine. repartition,
      // not coalesce: coalesce(1) would collapse the dropDuplicates
      // reduce stage of the WRITE job into one task over the whole
      // registry; the extra exchange keeps the agg parallel
      val rows = compacted.count()
      val files = math.max(1L, rows / 10000000L).toInt
      // manifest before the write: records which batch dir is the
      // compaction target and which are its inputs, so a crash
      // anywhere below is replayed to completion by healDir
      val target = s"batch-${java.util.UUID.randomUUID()}"
      Manifest.write(fs, new org.apache.hadoop.fs.Path(s"$dir/compacting"),
        target +: old.map(p => new org.apache.hadoop.fs.Path(p).getName))
      bucketBy match {
        case Some((keyCols, bReq)) =>
          // bucket count 0 = AUTO (r18, the guide-§2 "derive
          // partitioning from input size" rule the index ledgers
          // already follow): one bucket per ~1M narrow registry rows
          // (16-48 B each ⇒ 16-48 MB buckets), floor 8 so the probe
          // keeps real parallelism on small registries, cap 256.
          // Explicit counts are still honored — they are the "size
          // for the TARGET deployment's probe parallelism" knob.
          val buckets =
            if (bReq > 0) bReq
            else math.min(256, math.max(8, (rows / 1000000.0).ceil.toInt))
          // pre-partition on the bucket keys so each write task owns
          // whole buckets (1 file per bucket, not tasks×buckets)
          Bucketing.saveBucketedBatch(
            compacted.repartition(buckets, keyCols.map(col): _*),
            s"$dir/$target", keyCols, buckets)
          // optional SIBLING `ids-<uuid>` sidecar (same uuid as its
          // batch; a leading-underscore subdir would be invisible to
          // Spark's path listing, and batch-* reads skip ids-* by the
          // committedBatchDirs name filter): the store's distinct ids
          // bucketed by id, so the per-batch "already registered?"
          // anti-join reads a pre-partitioned, pre-distincted build
          // side instead of re-distincting the whole store. Written
          // after the batch commits — a crash between the two leaves
          // a committed batch whose probes fall back to the distinct
          // (correct, just slower) until the next compaction rewrites
          // both.
          if (idsSidecar)
            Bucketing.saveBucketedBatch(
              compacted.select(col("id")).distinct()
                .repartition(buckets, col("id")),
              s"$dir/ids-${target.stripPrefix("batch-")}",
              Seq("id"), buckets)
        case None =>
          compacted.repartition(files)
            .write.mode("overwrite").parquet(s"$dir/$target")
      }
      // commit first, delete second — plus marker-less crash leftovers
      // and superseded ids-* sidecars (their batch dirs are about to
      // be deleted; an orphan sidecar is never read but would pay
      // listing cost forever)
      val keepNone = old.toSet
      val keepSidecar = s"ids-${target.stripPrefix("batch-")}"
      fs.listStatus(new org.apache.hadoop.fs.Path(dir))
        .filter(_.isDirectory).map(_.getPath)
        .filter { p =>
          val n = p.getName
          keepNone.contains(p.toString) ||
            (n.startsWith("batch-") &&
              !fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) ||
            (n.startsWith("ids-") && n != keepSidecar)
        }
        .foreach(p => fs.delete(p, true))
      Manifest.delete(fs,
        new org.apache.hadoop.fs.Path(s"$dir/compacting"))
    }
  }

  /** Incremental MinHash-LSH near-dup against a persistent registry —
    * the near-dup sibling of [[incrementalExactDedup]] for continuous
    * ingest. The registry persists the LSH index (`bands/`: id, band,
    * bandHash — 24 B rows) and the verify-ready shingle-hash sets
    * (`shingles/`: id, sorted hashes); a new batch probes the band
    * index for candidates, verifies each candidate's exact Jaccard
    * with the codegen sorted-intersect kernel, and registers only its
    * clean rows. Returns the verified matches (idCol, reg_id,
    * jaccard ≥ threshold).
    *
    * Intra-batch duplicates are the caller's concern: run
    * [[exactKeepFirst]] / [[minhashLshPairs]] + [[connectedComponents]]
    * within the batch first (the proven composition), then this
    * against history.
    *
    * Scale shape: the cross-batch candidate join ships (id, band,
    * bandHash) only — minhashLshPairs' narrow-shuffle discipline
    * across batches; the verify join reads shingle sets per candidate
    * id. Matches are materialized before the registry append (the
    * [[incrementalExactDedup]] rule: the returned frame must not
    * lazily re-read a registry its own call just grew).
    */
  /** Registry storage layout: every append commits to its OWN
    * subdirectory `dir/batch-<uuid>/` with its own `_SUCCESS` marker,
    * and reads consume only subdirectories whose marker exists.
    *
    * Why not one flat dir with mode("append"): the `_SUCCESS` marker
    * of a flat dir persists from the PREVIOUS commit, so during (or
    * after a crash of) a later append the marker is stale-true — and
    * under FileOutputCommitter algorithm v2 a crashed append leaves
    * visible partial part-files that reads would then consume. The
    * per-batch layout is committer-version-independent: a batch's
    * files become readable exactly when ITS marker appears (an atomic
    * create), a crashed append leaves a marker-less dir every read
    * skips, and a retried append lands in a fresh uuid dir.
    *
    * 100 TB sizing: a corpus-scale digest registry is billions of
    * 16-byte rows — still only tens of GB, but probe cost is governed
    * by FILE COUNT and join layout, not bytes. Run [[compactExactRegistry]]
    * on a cadence (every N batches) so reads list a handful of dirs,
    * and when the anti-join shuffle itself becomes the bound, write
    * the compacted batch bucketed by digest (`Bucketing.saveBucketed`
    * on the digest column) and bucket incoming batches the same way —
    * the probe then co-locates without shuffling the registry side.
    * The near-dup registry's band store follows the same recipe keyed
    * on (band, bh).
    *
    * Writer contract: ONE writer per registry at a time (the
    * notRegistered retry guard makes retries idempotent, not
    * concurrent appends atomic) — concurrent ingest streams should
    * partition the id space into separate registries or serialize
    * batches, as graft.streaming.CorpusStream's single foreachBatch
    * driver does naturally.
    */
  private[graft] def committedBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Nil
    else {
      val entries = fs.listStatus(p)
      // a registry written by the pre-r6 flat layout (part-files +
      // _SUCCESS directly under the dir) must FAIL, not read as empty:
      // an empty read silently disables cross-batch dedup and
      // re-delivers every registered document
      if (entries.exists(e => !e.isDirectory &&
          e.getPath.getName.startsWith("part-")))
        throw new IllegalStateException(
          s"$dir holds a flat-layout registry (pre-batch-dir format); " +
            "migrate it by moving its part-files and _SUCCESS into a " +
            s"$dir/batch-0/ subdirectory")
      // batch-* only: sibling `ids-*` sidecars (bucketed compaction)
      // and any foreign dir must never read as registry rows
      entries.filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("batch-"))
        .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d, "_SUCCESS")))
        .map(_.toString).sorted.toSeq
    }
  }

  private def appendRegistryBatch(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite")
      .parquet(s"$dir/batch-${java.util.UUID.randomUUID()}")

  /** The banded LSH key explode shared by [[minhashLshPairs]] and
    * [[nearDupAgainstRegistry]]: (id, band, bh) rows from a `sig`
    * column, one per band, bh = xxhash64 of that band's signature rows.
    */
  private def bandKeyRows(df: DataFrame, bands: Int,
                          rowsPerBand: Int): DataFrame = df
    .select(col("id"), explode(bandStructs(bands, rowsPerBand)).as("bk"))
    .select(col("id"), col("bk.band").as("band"), col("bk.bh").as("bh"))

  private[operators] def bandStructs(bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rowsPerBand).map(r =>
          element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("bh"))
    }: _*)

  /** Exact-Jaccard from sorted shingle-hash columns sh_a/sh_b with
    * sizes n_a/n_b (shared by [[ngramJaccard]] and the registry
    * verify): |inter| via the codegen linear merge, |union| derived.
    */
  private def withJaccard(df: DataFrame): DataFrame = df
    .withColumn("_inter", graft.plans.VectorExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b")))
    .withColumn("jaccard",
      when(col("n_a") + col("n_b") - col("_inter") > 0,
        col("_inter").cast("double") /
          (col("n_a") + col("n_b") - col("_inter")))
        .otherwise(lit(0.0)))
    .drop("_inter")

  def nearDupAgainstRegistry(batch: DataFrame, idCol: String,
                             textCol: String, registryPath: String,
                             shingleN: Int = 3, bands: Int = 16,
                             rowsPerBand: Int = 4,
                             threshold: Double = 0.8): DataFrame =
    nearDupImpl(batch, idCol, textCol, registryPath, shingleN, bands,
      rowsPerBand, threshold, deliverTo = None)

  /** [[nearDupAgainstRegistry]] with EXACTLY-ONCE delivery of the
    * verified matches to the committed directory `outDir` — the
    * near-dup face of [[incrementalExactDedupTo]], same ordering and
    * same replay argument: matches are a deterministic function of
    * (batch, committed BAND registry), the band store is read before
    * any of this batch's appends land, and a committed delivery is
    * never rewritten — so a replayed batch can neither lose its match
    * rows (they were delivered before the registry grew) nor clobber
    * them with the empty frame a committed re-run produces.
    */
  def nearDupAgainstRegistryTo(batch: DataFrame, idCol: String,
                               textCol: String, registryPath: String,
                               outDir: String,
                               shingleN: Int = 3, bands: Int = 16,
                               rowsPerBand: Int = 4,
                               threshold: Double = 0.8): DataFrame =
    nearDupImpl(batch, idCol, textCol, registryPath, shingleN, bands,
      rowsPerBand, threshold, deliverTo = Some(outDir))

  private def nearDupImpl(batch: DataFrame, idCol: String,
                          textCol: String, registryPath: String,
                          shingleN: Int, bands: Int,
                          rowsPerBand: Int, threshold: Double,
                          deliverTo: Option[String]): DataFrame = {
    val spark = batch.sparkSession
    val perms = bands * rowsPerBand
    val staged = batch.select(col(idCol).as("id"),
        graft.plans.TokenMinHash(col(textCol), shingleN, perms).as("sig"),
        graft.plans.TokenShingleHashes(col(textCol), shingleN).as("sh"))
      .filter(col("sig").isNotNull)
      .persist()

    val fs = new org.apache.hadoop.fs.Path(registryPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shPath = s"$registryPath/shingles"
    val bandsPath = s"$registryPath/bands"
    // probe the bands dir (written LAST, per-batch-committed): a
    // band batch's commit implies its shingle append completed too, so
    // a half-written first batch re-registers instead of reading a
    // partial registry
    // each store reads as per-layout frames (bucketed compacted dirs
    // separate from the plain tail union — a union would erase the
    // bucketed scan's HashPartitioning, the exact-registry rule), and
    // each registry-side join runs once per frame. Frame rows are
    // disjoint by id across dirs (ids register exactly once), so a
    // union of per-frame join results ≡ the join against the union.
    val bandFrames = registryFrames(spark, fs, bandsPath)
    val (matches, clean) =
      if (bandFrames.isEmpty)
        (staged.select(col("id").as(idCol), col("id").as("reg_id"),
          lit(0.0).as("jaccard")).filter(lit(false)), staged)
      else {
        val shFrames = registryFrames(spark, fs, shPath)
        // retry discipline: ids the registry has already COMMITTED
        // are skipped entirely — they neither probe nor re-register.
        // A committed batch's re-run therefore emits nothing, rather
        // than every doc matching itself at jaccard 1.0 — or, worse,
        // intra-batch near-dup SIBLINGS that both registered cleanly
        // suddenly "matching" each other on the retry (a match row
        // no crash-free execution would ever produce). A registered
        // id can never appear as a candidate's probe side, so no
        // self-pair is even constructible. "Was this id already
        // ingested?" is [[registeredIds]]' job.
        // eagerly checkpointed so the registry-id scans behind the
        // anti-joins run ONCE per batch — `fresh` feeds four
        // downstream actions (probe, both verify inputs, and via
        // `clean` the two registry appends), and without pinning,
        // each would replay the O(registry-id-column) scan+distinct
        val fresh = idFrames(spark, fs, bandsPath)
          .foldLeft(staged) { (acc, ids) =>
            acc.join(ids, Seq("id"), "left_anti")
          }.localCheckpoint(true)
        val candRaw = bandFrames.map { rb =>
            bandKeyRows(fresh, bands, rowsPerBand)
              .join(rb.withColumnRenamed("id", "reg_id"), Seq("band", "bh"))
              .select("id", "reg_id")
          }.reduce(_ unionByName _).distinct()
        // >1 shingle frame replicates the candidate subtree per frame
        // in the verify union — pin it once (bounded: candidate pairs)
        val cand =
          if (shFrames.size > 1) candRaw.localCheckpoint(true) else candRaw
        val verified = withJaccard(shFrames.map { sh =>
            cand
              .join(fresh.select(col("id"), col("sh").as("sh_a"),
                size(col("sh")).as("n_a")), Seq("id"))
              .join(sh.select(col("id").as("reg_id"), col("sh").as("sh_b"),
                size(col("sh")).as("n_b")), Seq("reg_id"))
          }.reduce(_ unionByName _))
          .filter(col("jaccard") >= threshold)
          .select(col("id").as(idCol), col("reg_id"), col("jaccard"))
          .localCheckpoint(true)
        (verified,
          fresh.join(verified.select(col(idCol).as("id")).distinct(),
            Seq("id"), "left_anti"))
      }
    // retry-idempotent append: a re-run of a batch whose shingle
    // append committed but whose band append crashed must not append
    // its shingles a second time (duplicate registry rows would emit
    // every future match against those ids twice)
    def notRegistered(df: DataFrame, dir: String): DataFrame =
      idFrames(spark, fs, dir).foldLeft(df) { (acc, ids) =>
        acc.join(ids, Seq("id"), "left_anti")
      }
    // deliver BEFORE any append (the exactly-once ordering of
    // incrementalExactDedupTo): the matches frame is checkpointed, so
    // the write re-reads no registry, and a committed delivery is
    // skipped — a replayed batch's empty match set must not clobber it
    deliverTo.foreach { outDir =>
      val ofs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!ofs.exists(new org.apache.hadoop.fs.Path(s"$outDir/_SUCCESS")))
        matches.write.mode("overwrite").parquet(outDir)
    }
    // shingles BEFORE bands: a crash between the two appends leaves
    // orphan shingle rows (harmless — never probed), not orphan band
    // rows (whose candidates would vanish in the verify join, turning
    // future duplicates into silent false negatives)
    appendRegistryBatch(
      notRegistered(clean.select(col("id"), col("sh")), shPath), shPath)
    // no band-side guard: clean ⊆ fresh already excludes every
    // band-registered id, and under the single-writer contract the
    // band store cannot grow between the probe read and this append —
    // an anti-join here would provably remove nothing while scanning
    // the whole band store once more per batch
    appendRegistryBatch(bandKeyRows(clean, bands, rowsPerBand), bandsPath)
    staged.unpersist()
    matches
  }

  /** The ids the near-dup registry has fully registered (band batches
    * committed — which implies their shingles committed too): the
    * "already ingested?" probe that lets a caller distinguish a
    * re-sent document from a genuine near-dup of ANOTHER document
    * (matches never contain self-pairs).
    */
  def registeredIds(spark: org.apache.spark.sql.SparkSession,
                    registryPath: String): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(registryPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val frames = idFrames(spark, fs, s"$registryPath/bands")
    if (frames.isEmpty) spark.range(0).select(col("id"))
    else frames.reduce(_ unionByName _) // disjoint per-dir id sets
  }

  /** [[compactExactRegistry]] for the near-dup registry's two stores:
    * shingles first, then bands (the append-order rule — a crash
    * between the two leaves the band store un-compacted, never a band
    * row whose shingles are missing). Same offline contract; a crash
    * mid-compact leaves duplicate rows, and while the exact registry
    * shrugs those off, HERE a duplicated shingle row would double
    * every future match against that id — run
    * [[healNearDupRegistry]] (or compact again, which heals first)
    * before the next probe; the streaming driver does so on restart.
    */
  def compactNearDupRegistry(spark: org.apache.spark.sql.SparkSession,
                             registryPath: String): Unit = {
    compactDir(spark, s"$registryPath/shingles", distinctCols = Seq("id"))
    compactDir(spark, s"$registryPath/bands",
      distinctCols = Seq("id", "band", "bh"))
  }

  /** [[compactNearDupRegistry]] writing both stores BUCKETED — the
    * [[compactExactRegistryBucketed]] recipe applied to the near-dup
    * probe's three per-batch registry reads, which are otherwise the
    * dominant recurring shuffles of continuous near-dup ingest at
    * 100 TB:
    *
    *  - `bands` bucketed by (band, bh): the candidate join reads the
    *    compacted band store pre-partitioned on its join key — only
    *    the batch's (id, band, bh) rows shuffle, never the O(16×N)
    *    registry side.
    *  - an `ids-<uuid>` sidecar beside the compacted band batch
    *    (distinct ids, bucketed by id): the "skip already-registered
    *    ids" anti-join reads a pre-partitioned, pre-distincted build
    *    side instead of re-distincting the whole band store every
    *    batch.
    *  - `shingles` bucketed by id: the verify join ships candidate
    *    pairs to the registry's shingle-set partitions instead of
    *    shuffling the largest store (every doc's shingle array) per
    *    batch; the shingle-side registered-ids guard reads the same
    *    layout (distinct-on-id is Exchange-free on an id-bucketed
    *    scan).
    *
    * Probe results are layout-independent (spec-pinned, same as the
    * exact registry); post-compaction appends land plain and probe as
    * the small tail until the next compaction. Same offline
    * single-writer contract, same heal-first crash story.
    */
  def compactNearDupRegistryBucketed(spark: org.apache.spark.sql.SparkSession,
                                     registryPath: String,
                                     buckets: Int = 0): Unit = {
    compactDir(spark, s"$registryPath/shingles", distinctCols = Seq("id"),
      bucketBy = Some(Seq("id") -> buckets))
    compactDir(spark, s"$registryPath/bands",
      distinctCols = Seq("id", "band", "bh"),
      bucketBy = Some(Seq("band", "bh") -> buckets), idsSidecar = true)
  }

  /** Hot-bucket cap shared by the banded self-joins (minhash bands,
    * simhash chunks): a WINDOW count, not groupBy+semi-join — one
    * shuffle on the bucket key whose HashPartitioning the bucket
    * self-join then reuses (no extra exchange for either join side).
    * `maxBucketSize <= 0` disables.
    */
  private def capBuckets(banded: DataFrame, keys: Seq[String],
                         maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) banded
    else {
      import org.apache.spark.sql.expressions.Window
      banded.withColumn("_bsz",
        count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
        .filter(col("_bsz") <= maxBucketSize)
        .drop("_bsz")
    }

  /** Permutation min-hashes over an ALREADY-MATERIALIZED array of base
    * shingle hashes. The caller must materialize that array in its own
    * projection (see minhashLshPairs): higher-order-function lambdas
    * are interpreted, and any subexpression nested under the
    * per-permutation lambda is re-evaluated per permutation — putting
    * the full text→shingles→hash pipeline there measured 250s for 5000
    * docs at sf0.1 vs ~5s with the staged shape.
    */
  def minhashFromHashes(hs: Column, perms: Int): Column =
    array((0 until perms).map { k =>
      array_min(transform(hs, h => xxhash64(lit(k), h)))
    }: _*)

  /** Single-column convenience (prefer the staged dataframe shape in
    * pipelines — see minhashLshPairs).
    */
  def minhashSignature(text: Column, shingleN: Int, perms: Int): Column =
    minhashFromHashes(
      transform(TextAnalysis.shingles(text, shingleN), s => xxhash64(s)),
      perms)

  /** Prime modulus of the PORTABLE minhash family (2^31 - 1). Single
    * source of truth is the native kernel — the HOF reference here,
    * the kernel, and the DuckDB oracle SQL must stay byte-compatible.
    */
  val MinhashPrime: Long = graft.plans.TokenMinHashPortable.Prime

  /** Engine-portable base shingle hashes: the first 15 md5 hex chars
    * (60 bits) mod [[MinhashPrime]] — every engine with md5 replays
    * them (`('0x'||substr(md5(s),1,15))::BIGINT % 2147483647`). The
    * result array must be STAGED in its own projection before
    * [[minhashFromHashesPortable]], same rule as the xxhash64 path.
    */
  def portableShingleHashes(text: Column, shingleN: Int): Column =
    transform(TextAnalysis.shingles(text, shingleN),
      s => pmod(conv(substring(md5(s), 1, 15), 16, 10).cast("long"),
        lit(MinhashPrime)))

  /** First 8 md5 hex chars of `s` as a long — the plan-time constant
    * derivation both engines share (`('0x'||substr(md5(s),1,8))::
    * BIGINT` in SQL). Delegates to the kernel's implementation so the
    * HOF reference cannot drift from it.
    */
  private def md5Const(s: String): Long =
    graft.plans.TokenMinHashPortable.md5Head32(s)

  /** Permutation min-hashes over staged PORTABLE base hashes: the
    * classic universal family h_k(x) = (a_k·x + b_k) mod p over prime
    * p = [[MinhashPrime]], with per-permutation constants derived
    * from md5 of the permutation index — a_k = md5("mha:k") mod (p-2)
    * + 1, b_k = md5("mhb:k") mod p (first 8 hex chars each). The
    * constants fold at plan time here and are re-derivable by any
    * engine with md5, and a_k·x + b_k stays < 2^62, exact BIGINT —
    * so the whole signature, and therefore the banded LSH candidate
    * set, replays outside Spark. (Multipliers MUST span the full
    * field: small sequential multipliers — e.g. 2k+1 — make the
    * per-permutation argmins correlate and the Jaccard estimate
    * degenerate.) The xxhash64 family ([[minhashFromHashes]]) stays
    * the interior fast path.
    */
  def minhashFromHashesPortable(hs: Column, perms: Int): Column =
    array((0 until perms).map { k =>
      val a = md5Const(s"mha:$k") % (MinhashPrime - 2) + 1
      val b = md5Const(s"mhb:$k") % MinhashPrime
      array_min(transform(hs,
        h => pmod(h * lit(a) + lit(b), lit(MinhashPrime))))
    }: _*)

  /** Banded LSH candidate pairs with signature-estimated Jaccard.
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, filtered to
    * `threshold`. bands*rowsPerBand must equal the signature length.
    *
    * Shuffle layout (`shipSignatures`):
    *  - false (default, the 100 TB shape): the band explode carries
    *    (id, band, bandHash) ONLY — 3 narrow columns — through the
    *    bucket shuffle; distinct candidate pairs then re-join the
    *    cached signature table twice (by id_a / id_b) to estimate
    *    Jaccard once per pair. Shuffle bytes ~ bands × 24B/row instead
    *    of bands × signature (64×8B) per row, and the estimate is
    *    computed once per pair instead of once per band collision.
    *  - true: the classic layout that ships the signature with every
    *    band row — fewer joins, acceptable when N is small.
    *
    * `maxBucketSize` guards hot buckets: a bucket of B docs yields
    * B^2/2 candidate pairs, and at corpus scale the hottest buckets
    * are boilerplate/templates that the exact-dup pass already
    * handles. Buckets larger than the cap are skipped (recall trade,
    * documented; 0 disables the guard).
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.5,
                      maxBucketSize: Int = 0,
                      shipSignatures: Boolean = false,
                      portable: Boolean = false): DataFrame = {
    val perms = bands * rowsPerBand
    // The signature frame is the LSH "index": persist it — both sides
    // of the bucket self-join read it, and without the barrier Spark
    // recomputes the whole signature pipeline per side. The default
    // signature is the native codegen [[graft.plans.TokenMinHash]] —
    // one compiled pass per document (rolling token-hash window,
    // unboxed perms×shingles min loop), bit-identical to the staged
    // HOF pipeline it replaced (differential-tested in DedupSpec);
    // null signatures are the < shingleN-token docs the old size()
    // filter dropped. `portable = true` swaps in the md5 universal
    // family — the native codegen [[graft.plans.TokenMinHashPortable]],
    // bit-identical to the staged HOF reference
    // ([[portableShingleHashes]] + [[minhashFromHashesPortable]],
    // differential-tested in DedupSpec) — so signatures -> bands ->
    // candidate pairs replay in any engine with md5; everything
    // downstream of the signature is identical.
    val sigExpr =
      if (portable) graft.plans.TokenMinHashPortable(col(textCol), shingleN, perms)
      else graft.plans.TokenMinHash(col(textCol), shingleN, perms)
    val withSig = docs
      .select(col(idCol).as("id"), sigExpr.as("sig"))
      .filter(col("sig").isNotNull)
      .persist()
    val bandCols =
      if (shipSignatures) Seq(col("id"), col("sig")) else Seq(col("id"))
    val banded = withSig.select(bandCols :+
      explode(bandStructs(bands, rowsPerBand)).as("bk"): _*)
      .select(bandCols :+ col("bk.band") :+ col("bk.bh"): _*)
    val guarded = capBuckets(banded, Seq("band", "bh"), maxBucketSize)
    def estJaccard: Column =
      (aggregate(zip_with(col("sig_a"), col("sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / perms)
        .as("est_jaccard")
    val pairs =
      if (shipSignatures) {
        val l = guarded.select(col("band"), col("bh"),
          col("id").as("id_a"), col("sig").as("sig_a"))
        val r = guarded.select(col("band"), col("bh"),
          col("id").as("id_b"), col("sig").as("sig_b"))
        l.join(r, Seq("band", "bh"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), estJaccard)
          .groupBy("id_a", "id_b")             // pair may collide in >1 band
          .agg(max(col("est_jaccard")).as("est_jaccard"))
          .filter(col("est_jaccard") >= threshold)
      } else {
        val l = guarded.select(col("band"), col("bh"), col("id").as("id_a"))
        val r = guarded.select(col("band"), col("bh"), col("id").as("id_b"))
        l.join(r, Seq("band", "bh"))
          .filter(col("id_a") < col("id_b"))
          .select("id_a", "id_b")
          .distinct()                           // pair may collide in >1 band
          .join(withSig.select(col("id").as("id_a"), col("sig").as("sig_a")),
            Seq("id_a"))
          .join(withSig.select(col("id").as("id_b"), col("sig").as("sig_b")),
            Seq("id_b"))
          .select(col("id_a"), col("id_b"), estJaccard)
          .filter(col("est_jaccard") >= threshold)
      }
    releaseAfter(pairs.persist(), Seq(withSig))
  }

  /** SimHash near-duplicate pairs by hamming radius — the Manku et
    * al. (WWW'07, "Detecting near-duplicates for web crawling")
    * block-permutation recipe as a banded self-join: each document's
    * sketch is split into `bands` contiguous chunks, candidates are
    * pairs sharing ANY chunk value, and survivors are filtered to
    * hamming distance <= `maxHamming` over the full sketch. With
    * `maxHamming <= bands - 1` (enforced) the pigeonhole argument
    * makes recall EXACT, not probabilistic: a pair differing in at
    * most bands-1 bits cannot differ in every chunk, so it collides
    * in at least one — the output is precisely the set of pairs at
    * hamming <= maxHamming, independent of the blocking. Output:
    * (id_a, id_b, ham) with id_a < id_b; zero-token docs are excluded
    * (an all-zero sketch says nothing about content).
    *
    * `portable = true` sketches with
    * [[TextAnalysis.simhashPortable]] (60-bit, md5 token hashes) so
    * any engine with md5 replays sketch -> all-pairs hamming; the
    * default is the native codegen [[TextAnalysis.simhash64]] fast
    * path. Same banded layout either way: the shuffle carries
    * (id, band, chunk) triples — O(N x bands) narrow rows, never
    * all-pairs — and `maxBucketSize` caps degenerate chunk buckets
    * exactly like [[minhashLshPairs]] (boilerplate-heavy corpora put
    * thousands of docs in one chunk bucket; the cap trades recall for
    * those documented cases, 0 disables).
    */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     bands: Int = 4, maxHamming: Int = 3,
                     portable: Boolean = false,
                     maxBucketSize: Int = 0): DataFrame = {
    val sigBits = if (portable) 60 else 64
    val sketch =
      if (portable) TextAnalysis.simhashPortable(col(textCol))
      else TextAnalysis.simhash64(col(textCol))
    // the zero-token filter re-tokenizes (the sketch expressions take
    // the raw text, so token staging can't be shared) — accepted: one
    // regex pass per row is noise next to the sketch itself, and a
    // cheap trim()-style filter would diverge from the oracle on
    // whitespace-only documents (trim strips only 0x20)
    hammingNearDup(
      docs.filter(size(TextAnalysis.tokens(col(textCol))) > 0)
        .select(col(idCol).as("id"), sketch.as("sh")),
      "id", "sh", sigBits, bands, maxHamming, maxBucketSize)
  }

  /** Banded hamming-radius self-join over ANY precomputed fixed-width
    * bit signature — the blocking engine [[simhashNearDup]] (text
    * sketches) and [[imageNearDup]] (perceptual image hashes) share.
    * Input: one (id, signature) row per item, the signature occupying
    * the LOW `sigBits` bits of a long. The signature splits into
    * `bands` contiguous chunks; candidate pairs share at least one
    * chunk value, survivors are filtered to hamming <= `maxHamming`
    * over the full signature. `maxHamming <= bands - 1` is enforced,
    * so by pigeonhole the recall is EXACT (a pair differing in at most
    * bands-1 bits cannot differ in every chunk) — the output is
    * precisely the hamming ball, independent of the blocking. Output
    * (id_a, id_b, ham) with id_a < id_b.
    *
    * Scale shape: the shuffle carries (id, band, chunk) triples —
    * O(N x bands) narrow rows, never all-pairs — and `maxBucketSize`
    * caps degenerate chunk buckets (boilerplate-heavy corpora / logo
    * images put thousands of items in one bucket; the cap trades
    * recall for those documented cases, 0 disables).
    */
  /** Validated banding geometry (chunk width, chunk mask) for a
    * sigBits/bands split plus the pigeonhole-recall bound — ONE
    * definition shared by the self-join ([[hammingNearDup]]) and the
    * registry probe ([[perceptualDedupAgainstRegistry]]), so the two
    * can never disagree on the band layout. JVM shifts are mod 64: at
    * bands = 1 (chunk = 64) the naive (1L << 64) - 1 is 0 and every
    * item would silently collapse into bucket 0 — all-ones is the
    * correct full-width mask.
    */
  private def hammingBandGeometry(sigBits: Int, bands: Int,
                                  maxHamming: Int): (Int, Long) = {
    require(sigBits >= 1 && sigBits <= 64,
      s"signature width must be 1..64 bits (got $sigBits)")
    require(bands >= 1 && sigBits % bands == 0,
      s"bands must divide $sigBits (got $bands)")
    require(maxHamming >= 0 && maxHamming <= bands - 1,
      s"pigeonhole recall needs maxHamming <= bands - 1 " +
        s"(got $maxHamming with $bands bands)")
    val chunk = sigBits / bands
    (chunk, if (chunk >= 64) -1L else (1L << chunk) - 1)
  }

  /** The per-row (band, chunk-value) struct array over a signature
    * column, under [[hammingBandGeometry]]'s layout.
    */
  private def hammingBandStructs(h: org.apache.spark.sql.Column,
                                 bands: Int, chunk: Int,
                                 mask: Long): org.apache.spark.sql.Column =
    array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        shiftright(h, b * chunk).bitwiseAND(lit(mask)).as("bk"))): _*)

  def hammingNearDup(items: DataFrame, idCol: String, sigCol: String,
                     sigBits: Int, bands: Int, maxHamming: Int,
                     maxBucketSize: Int = 0): DataFrame = {
    val (chunk, mask) = hammingBandGeometry(sigBits, bands, maxHamming)
    val sigs = items.select(col(idCol).as("id"), col(sigCol).as("sh"))
      .persist()
    val banded = sigs.select(col("id"),
      explode(hammingBandStructs(col("sh"), bands, chunk, mask)).as("c"))
      .select(col("id"), col("c.band"), col("c.bk"))
    val guarded = capBuckets(banded, Seq("band", "bk"), maxBucketSize)
    val pairs = guarded.select(col("band"), col("bk"), col("id").as("id_a"))
      .join(guarded.select(col("band"), col("bk"), col("id").as("id_b")),
        Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()                               // pair may share >1 chunk
      .join(sigs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("ham"))
      .filter(col("ham") <= maxHamming)
    releaseAfter(pairs.persist(), Seq(sigs))
  }

  /** Perceptual near-duplicate IMAGE pairs — the multimodal leg of
    * corpus dedup: [[Multimodal.imageDHash]] sketches every decoded
    * image down to a (gridW-1)*gridH-bit difference hash (re-encoded,
    * resized, and brightness-shifted copies of the same picture hash
    * (near-)identically), then [[hammingNearDup]] blocks and verifies
    * exactly as for text SimHash. With the default 56-bit hash, 4
    * bands of 14 bits and maxHamming <= 3, recall over the hamming
    * ball is pigeonhole-EXACT. Output (id_a, id_b, ham), id_a < id_b.
    *
    * Input is any (media_id, blob) frame of decodable images; the
    * only per-image work is one decode + one 64-cell grid, so the
    * pipeline cost is the same order as [[Multimodal.extractFeatures]]
    * — and the pair discovery never leaves the banded-join shape that
    * holds at corpus scale.
    */
  def imageNearDup(media: DataFrame, bands: Int = 4, maxHamming: Int = 3,
                   gridW: Int = 8, gridH: Int = 8,
                   maxBucketSize: Int = 0): DataFrame =
    hammingNearDup(
      graft.operators.Multimodal.imageDHash(media, gridW, gridH),
      "media_id", "dhash", (gridW - 1) * gridH, bands, maxHamming,
      maxBucketSize)

  /** Perceptual-hash image dedup against a PERSISTENT registry — the
    * multimodal face of [[nearDupAgainstRegistry]], completing the
    * continuous-ingest story for media: flag batch images whose dHash
    * sits within `maxHamming` of ANY registered image (output: idCol,
    * reg_id, ham), then register the clean rows' hashes. Registry
    * layout: `registryPath/hashes/batch-*` committed dirs of
    * (id, dhash) rows — 16 bytes per image, never pixels; unlike the
    * text registry there is nothing else to precompute, because band
    * keys re-derive from the stored hash by shift/mask at probe time.
    *
    * Retry discipline is the exact/LSH registries': ids the registry
    * already COMMITTED neither probe nor re-register, so a committed
    * batch's re-run emits nothing (no self-matches at ham 0, no
    * sibling matches between rows that registered cleanly together).
    * Matches are checkpointed BEFORE the clean append lands, so the
    * returned frame never re-reads a registry containing this batch.
    * Per-batch cost: one decode+hash pass, narrow registry scans, a
    * banded join shipping (id, band, chunk) rows — O(batch + registry
    * x bands + candidates), never all-pairs.
    */
  def perceptualDedupAgainstRegistry(batch: DataFrame, idCol: String,
                                     registryPath: String,
                                     bands: Int = 4, maxHamming: Int = 3,
                                     gridW: Int = 8, gridH: Int = 8)
  : DataFrame =
    perceptualDedupImpl(batch, idCol, registryPath, bands, maxHamming,
      gridW, gridH, deliverTo = None)

  /** [[perceptualDedupAgainstRegistry]] with EXACTLY-ONCE delivery of
    * the verified matches to the committed directory `outDir` — the
    * perceptual face of [[nearDupAgainstRegistryTo]], same ordering
    * and same replay argument: matches are a deterministic function
    * of (batch, committed hash registry), they land in `outDir`
    * BEFORE the batch's clean hashes register, and a committed
    * delivery is never rewritten — so a crash between the match write
    * and the registry append can no longer lose the matches (the
    * plain variant's at-most-once window: a committed re-run probes
    * nothing and emits nothing).
    */
  def perceptualDedupAgainstRegistryTo(batch: DataFrame, idCol: String,
                                       registryPath: String,
                                       outDir: String,
                                       bands: Int = 4, maxHamming: Int = 3,
                                       gridW: Int = 8, gridH: Int = 8)
  : DataFrame =
    perceptualDedupImpl(batch, idCol, registryPath, bands, maxHamming,
      gridW, gridH, deliverTo = Some(outDir))

  private def perceptualDedupImpl(batch: DataFrame, idCol: String,
                                  registryPath: String,
                                  bands: Int, maxHamming: Int,
                                  gridW: Int, gridH: Int,
                                  deliverTo: Option[String]): DataFrame = {
    val sigBits = (gridW - 1) * gridH
    val (chunk, mask) = hammingBandGeometry(sigBits, bands, maxHamming)
    val spark = batch.sparkSession
    def bandCols(h: org.apache.spark.sql.Column) =
      hammingBandStructs(h, bands, chunk, mask)
    val staged = graft.operators.Multimodal.imageDHash(batch, gridW, gridH)
      .select(col("media_id").as("id"), col("dhash"))
      .persist()
    val fs = new org.apache.hadoop.fs.Path(registryPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hashPath = s"$registryPath/hashes"
    val regFrames = registryFrames(spark, fs, hashPath)
    val (matches, clean) =
      if (regFrames.isEmpty)
        (staged.limit(0).select(col("id").as(idCol),
          col("id").as("reg_id"), lit(0).as("ham")), staged)
      else {
        // committed ids neither probe nor re-register (retry guard);
        // checkpointed once — it feeds the probe AND the append
        val fresh = regFrames
          .foldLeft(staged) { (acc, reg) =>
            acc.join(reg.select("id"), Seq("id"), "left_anti")
          }.localCheckpoint(true)
        val probe = fresh
          .select(col("id"), col("dhash"),
            explode(bandCols(col("dhash"))).as("c"))
          .select(col("id"), col("dhash"), col("c.band"), col("c.bk"))
        val verified = regFrames.map { rf =>
            val reg = rf
              .select(col("id").as("reg_id"), col("dhash").as("_rh"))
              .select(col("reg_id"), col("_rh"),
                explode(bandCols(col("_rh"))).as("c"))
              .select(col("reg_id"), col("_rh"), col("c.band"), col("c.bk"))
            probe.join(reg, Seq("band", "bk"))
              .select(col("id"), col("dhash"), col("reg_id"), col("_rh"))
          }.reduce(_ unionByName _)
          .distinct()                       // a pair may share >1 band
          .select(col("id").as(idCol), col("reg_id"),
            bit_count(col("dhash").bitwiseXOR(col("_rh"))).as("ham"))
          .filter(col("ham") <= maxHamming)
          .localCheckpoint(true)
        (verified,
          fresh.join(verified.select(col(idCol).as("id")).distinct(),
            Seq("id"), "left_anti"))
      }
    // deliver BEFORE the registry append (the exactly-once ordering of
    // nearDupAgainstRegistryTo): the matches frame is checkpointed, so
    // the write re-reads no registry, and a committed delivery is
    // skipped — a replayed batch's empty match set must not clobber it
    deliverTo.foreach { outDir =>
      val ofs = new org.apache.hadoop.fs.Path(outDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!ofs.exists(new org.apache.hadoop.fs.Path(s"$outDir/_SUCCESS")))
        matches.write.mode("overwrite").parquet(outDir)
    }
    appendRegistryBatch(clean.select("id", "dhash"), hashPath)
    staged.unpersist()
    matches
  }

  /** Perceptual near-duplicate AUDIO pairs: every decoded track
    * sketches to [[Multimodal.audioFingerprint]]'s (nWindows-1)-bit
    * window-energy-difference signature, then [[hammingNearDup]]
    * blocks and verifies. Defaults: 63-bit fingerprint, 7 bands of 9
    * bits — radius <= 6 stays pigeonhole-exact. Output (id_a, id_b,
    * ham), id_a < id_b. An upsampled (sample-and-hold) copy scales
    * every window energy exactly, so it matches at hamming 0; an
    * attenuated copy near-0.
    */
  def audioNearDup(media: DataFrame, bands: Int = 7, maxHamming: Int = 3,
                   nWindows: Int = 64, maxBucketSize: Int = 0): DataFrame =
    hammingNearDup(
      graft.operators.Multimodal.audioFingerprint(media, nWindows),
      "media_id", "afp", nWindows - 1, bands, maxHamming, maxBucketSize)

  /** Perceptual near-duplicate VIDEO pairs over the per-frame dHash
    * sequence ([[Multimodal.videoFingerprint]]): candidates block on
    * FRAME 0's hash through the banded machinery; survivors must have
    * the same frame count and EVERY aligned frame pair within
    * `maxHamming` (output max_ham = the worst aligned frame). Recall
    * over that predicate is still pigeonhole-EXACT: a qualifying pair
    * has frame-0 hamming <= maxHamming <= bands-1, so it collides in a
    * frame-0 band — blocking on one frame loses nothing that the
    * verify would keep. Zero-frame videos carry no perceptual content
    * and are excluded. Output (id_a, id_b, max_ham), id_a < id_b.
    */
  def videoNearDup(media: DataFrame, bands: Int = 4, maxHamming: Int = 3,
                   gridW: Int = 8, gridH: Int = 8,
                   maxBucketSize: Int = 0): DataFrame = {
    val fp = graft.operators.Multimodal
      .videoFingerprint(media, gridW, gridH)
      .filter(col("n_frames") > 0)
      .persist()
    val cand = hammingNearDup(
      fp.select(col("media_id"), element_at(col("fhashes"), 1).as("h0")),
      "media_id", "h0", (gridW - 1) * gridH, bands, maxHamming,
      maxBucketSize)
    val pairs = cand.select("id_a", "id_b")
      .join(fp.select(col("media_id").as("id_a"),
        col("n_frames").as("_nfa"), col("fhashes").as("_fha")), Seq("id_a"))
      .join(fp.select(col("media_id").as("id_b"),
        col("n_frames").as("_nfb"), col("fhashes").as("_fhb")), Seq("id_b"))
      .filter(col("_nfa") === col("_nfb"))
      .select(col("id_a"), col("id_b"),
        array_max(zip_with(col("_fha"), col("_fhb"),
          (a, b) => bit_count(a.bitwiseXOR(b)))).as("max_ham"))
      .filter(col("max_ham") <= maxHamming)
    releaseAfter(pairs.persist(), Seq(fp))
  }

  /** Greedy near-dup drop list from candidate pairs: a doc is dropped
    * when it has ANY near-dup partner with a smaller id. O(N) output
    * regardless of clique sizes (a 10-doc clique yields 9 drops, not
    * 45 pairs downstream) — the standard reduction from pair
    * enumeration to a keep/drop decision.
    *
    * Caveat: pair-local, so a CHAIN a~b~c (where a~c was never
    * verified) drops both b and c even though c's only smaller partner
    * is b — which is itself dropped. When the dedup policy is "keep
    * exactly one representative per connected GROUP of near-dups", run
    * [[connectedComponents]] instead.
    */
  def nearDupDrops(pairs: DataFrame): DataFrame =
    pairs.select(col("id_b").as("drop_id")).distinct()

  /** Connected components over a near-dup pair graph — the final step
    * of corpus dedup: pairs → clusters → keep one representative per
    * cluster. Input: (id_a, id_b) candidate/verified pairs; output:
    * (id, component) for every id appearing in a pair, where
    * `component` is the smallest id reachable through the pair graph
    * (so the component label doubles as the kept representative).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — the
    * standard shuffle-friendly CC for graphs that don't fit one
    * machine. Each round is two groupBy-join passes over the edge
    * list; convergence is O(log n) rounds (in practice 2-3 for dedup
    * graphs, whose components are near-cliques of duplicates). No
    * collect_list anywhere — a hot node (boilerplate duplicated
    * millions of times) never materializes its neighbor list in one
    * task; min-aggregation and joins keep every stage streaming.
    *
    * Each round `localCheckpoint`s its edge frame — iterative Spark's
    * load-bearing move: `persist` alone caches DATA but keeps the
    * whole logical plan, and each star round references its
    * predecessor's plan several times, so analysis cost grows
    * EXPONENTIALLY in rounds (measured: a 60-node/25-round loop took
    * 17 min in planning). Checkpointing truncates the plan to a leaf
    * per round. Convergence is a count+xor fingerprint against the
    * previous round; the predecessor's checkpoint RDDs are unpersisted
    * as soon as the round rotates, so peak footprint is two edge
    * lists. (Local checkpoints live in executor storage: on a cluster
    * with executor loss, switch the caller to a reliable
    * `sparkContext.setCheckpointDir` + `Dataset.checkpoint` — same
    * algorithm, durable lineage cut.)
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    import org.apache.spark.sql.functions.{greatest => fGreatest, least => fLeast}

    // large-star: every node u links its LARGER neighbors to
    // m = min(neighbors(u) ∪ {u}); strictly-smaller targets keep the
    // invariant that edges always point downward after the pass
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), fLeast(col("mv"), col("u")).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // small-star: direct every edge (hi, lo); each hi links all its
    // smaller neighbors (and itself) to their minimum
    def smallStar(e: DataFrame): DataFrame = {
      val d = e.select(fGreatest(col("u"), col("v")).as("u"),
        fLeast(col("u"), col("v")).as("v"))
      val mins = d.groupBy("u").agg(min(col("v")).as("m"))
      val moved = d.join(mins, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      moved.unionByName(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    val sc = pairs.sparkSession.sparkContext
    // localCheckpoint registers its materialized RDD(s) with the
    // context; snapshotting persistent-RDD ids around each checkpoint
    // lets the loop free the PREVIOUS round's storage deterministically
    // (Dataset.unpersist doesn't know about checkpoint RDDs)
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    def release(ids: Set[Int]): Unit =
      sc.getPersistentRDDs.view.filterKeys(ids).values
        .foreach(_.unpersist(false))

    // the long cast below would turn non-numeric ids into NULLs and
    // silently drop every edge — refuse loudly instead
    Seq("id_a", "id_b").foreach(Checks.requireIntegral(pairs, _,
      "connectedComponents",
      "map string ids to longs first, e.g. xxhash64 or an ordinal"))
    var (cur, curIds) = checkpointTracked(pairs
      .select(col("id_a").cast("long").as("u"), col("id_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var prev: Option[(Long, Long)] = None
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val (next, nextIds) = checkpointTracked(smallStar(largeStar(cur)))
      // xor-fold fingerprint: overflow-free under ANSI mode (a SUM of
      // xxhash64 values can exceed Long range and abort the job)
      val row = next
        .agg(count(lit(1)).as("c"),
          coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"))
        .head()
      val sig = (row.getLong(0), row.getLong(1))
      converged = prev.contains(sig)
      prev = Some(sig)
      release(curIds)
      cur = next
      curIds = nextIds
      i += 1
    }
    // at the fixpoint the edge list is a union of stars (node → root);
    // labels = star edges plus each root labeling itself
    val labels = cur.select(col("u").as("id"), col("v").as("comp"))
      .unionByName(cur.select(col("v").as("id"), col("v").as("comp")))
      .groupBy("id").agg(min(col("comp")).as("component"))
    // materialize the O(nodes) label table eagerly so the final edge
    // list's storage can be freed before returning
    val (out, _) = checkpointTracked(labels)
    release(curIds)
    out
  }

  /** Drop list from component labels: every clustered doc except its
    * component representative (the min id). Exactly one survivor per
    * near-dup group, regardless of how the pairs chained.
    */
  def clusterDrops(components: DataFrame): DataFrame =
    components.filter(col("id") =!= col("component"))
      .select(col("id").as("drop_id"))

  /** Substring-level exact dedup: maximal shared token spans of length
    * ≥ `minTokens` across document pairs — the remove-duplicated-SPANS
    * modality production LLM pipelines run alongside MinHash (the
    * "50-token overlap" recipe of Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22). Whole-doc dedup
    * misses boilerplate/licence blocks/quoted passages duplicated
    * INSIDE otherwise-distinct documents; this finds them.
    *
    * Output: (id_a, id_b, a_start, b_start, span_len) with id_a <
    * id_b — one row per MAXIMAL shared run: token positions
    * a_start..a_start+span_len-1 of doc a equal positions
    * b_start..b_start+span_len-1 of doc b, span_len ≥ minTokens, and
    * the run extends no further on either side.
    *
    * Algorithm (the shuffle-friendly re-expression of the single-node
    * suffix-array recipe): a shared span of L ≥ K tokens is exactly a
    * run of L−K+1 consecutive equal K-token window hashes at a
    * constant position offset. So: positional window hashes per doc
    * (codegen [[graft.plans.TokenPositionalShingleHashes]], one
    * compiled rolling pass), posexplode to (id, pos, h) postings,
    * equi-join postings on h, then gaps-and-islands per (id_a, id_b,
    * diff = pos_b − pos_a): consecutive pos_a values collapse to one
    * maximal span via `pos_a − row_number()` island keys.
    *
    * Scale shape: the posting shuffle ships (h, id, pos) — 24 B rows,
    * never text (the minhashLshPairs discipline). A K-gram shared by m
    * docs yields m²/2 matches, so `maxPostings` caps posting-list
    * blowup the way maxBucketSize caps LSH buckets: grams hotter than
    * the cap are boilerplate the exact-dup pass already clusters —
    * skipping them trades bounded recall for survival (0 disables; at
    * corpus scale set it; the skip is deterministic). The islands
    * window partitions by (id_a, id_b, diff) — bounded by one PAIR's
    * overlap, never corpus-sized. Suffix arrays beat this on one
    * machine; this runs on a thousand.
    */
  def sharedSpans(docs: DataFrame, idCol: String, textCol: String,
                  minTokens: Int = 50, maxPostings: Int = 0): DataFrame = {
    require(minTokens >= 2, "minTokens must be at least 2")
    val posts = docs.select(col(idCol).as("id"),
      posexplode(graft.plans.TokenPositionalShingleHashes(
        col(textCol), minTokens)).as(Seq("pos", "h")))
    val guarded =
      if (maxPostings <= 0) posts
      else {
        // window count over h, not groupBy+semi-join: one shuffle on h
        // whose partitioning the posting self-join below reuses
        import org.apache.spark.sql.expressions.Window
        posts.withColumn("_pc", count(lit(1)).over(Window.partitionBy("h")))
          .filter(col("_pc") <= maxPostings)
          .drop("_pc")
      }
    val l = guarded.select(col("h"), col("id").as("id_a"), col("pos").as("pos_a"))
    val r = guarded.select(col("h"), col("id").as("id_b"), col("pos").as("pos_b"))
    val matched = l.join(r, Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("pos_a"),
        (col("pos_b") - col("pos_a")).as("_diff"))
    import org.apache.spark.sql.expressions.Window
    val islands = matched.withColumn("_isl",
      col("pos_a") - row_number().over(
        Window.partitionBy("id_a", "id_b", "_diff").orderBy("pos_a")))
    islands.groupBy("id_a", "id_b", "_diff", "_isl")
      .agg(min(col("pos_a")).cast("long").as("a_start"),
        (max(col("pos_a")) - min(col("pos_a")) + minTokens).cast("long")
          .as("span_len"))
      .select(col("id_a"), col("id_b"), col("a_start"),
        (col("a_start") + col("_diff")).cast("long").as("b_start"),
        col("span_len"))
  }

  /** The removal half of the span-dedup recipe: rewrite each document
    * with its duplicated spans removed, keeping the FIRST occurrence
    * (the smaller id keeps its copy — Lee et al. drop all but one).
    * Returns (idCol, n_tokens, n_tokens_clean, text_clean) for every
    * input doc; unaffected docs pass through with n_tokens_clean ==
    * n_tokens and their tokenized text.
    *
    * Shapes: drop positions explode O(duplicated tokens) rows from
    * [[sharedSpans]]' output; the rebuild anti-joins (id, pos) token
    * rows and re-assembles per doc with a collect_list bounded by ONE
    * document's tokens (the Chunking discipline — never corpus-sized
    * state). A doc that is entirely one duplicated span (an exact dup)
    * comes back with empty text, not a dropped row.
    */
  def removeSharedSpans(docs: DataFrame, idCol: String, textCol: String,
                        minTokens: Int = 50,
                        maxPostings: Int = 0): DataFrame = {
    val spans = sharedSpans(docs, idCol, textCol, minTokens, maxPostings)
    val dropPos = spans
      .select(col("id_b").as("id"),
        explode(sequence(col("b_start"),
          col("b_start") + col("span_len") - 1, lit(1L))).as("pos"))
      .distinct()
    val toks = docs.select(col(idCol).as("id"),
      posexplode(TextAnalysis.tokens(col(textCol))).as(Seq("pos", "tok")))
    val kept = toks.join(dropPos, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).cast("long").as("n_tokens_clean"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("text_clean"))
    docs.select(col(idCol).as("id"),
        TextAnalysis.tokenCount(col(textCol)).as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tokens"),
        coalesce(col("n_tokens_clean"), lit(0L)).as("n_tokens_clean"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** One-call corpus near-dedup — the full composition a curation
    * pipeline actually runs, as a single library face (the
    * `Serving.searchHybrid` discipline applied to dedup): exact
    * keep-first, banded-LSH candidates at `estThreshold`, exact
    * n-gram Jaccard verification at `threshold`, connected components
    * over the verified pairs, and ONE representative kept per
    * component — the member with the most tokens (ties: smallest id;
    * keep-the-longest is the standard near-dup policy, since the
    * longer member usually strictly contains the shorter). Returns
    * the SURVIVING rows of `docs`, all columns intact.
    *
    * Pure composition: every leg is individually oracle-gated
    * (exactKeepFirst/dd6, minhashLshPairs/dd2, ngramJaccard/dd4+dd7,
    * connectedComponents/dd9), so the facade inherits their contracts
    * and scale shapes — candidate pairs, never N², flow through every
    * stage — and adds no state of its own. The representative pick is
    * a window over components (near-cliques of duplicates, bounded),
    * never a corpus-wide sort.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
                  estThreshold: Double = 0.2, threshold: Double = 0.8,
                  maxBucketSize: Int = 0,
                  portable: Boolean = false): DataFrame = {
    // fail before any work: connectedComponents needs integral node
    // ids (a string id would cast to NULL and silently reduce the
    // facade to exact-only dedup)
    Checks.requireIntegral(docs, idCol, "dedupCorpus",
      "map string ids to longs first, e.g. xxhash64 or an ordinal")
    // STAGE the exact-dedup survivors (guide §5: cache when reused and
    // recomputation is expensive): this composition consumes `exact`
    // four times — LSH candidates, the Jaccard verify, the token-count
    // representative pick, and the final anti-join — and exactKeepFirst
    // itself reads its input twice, so unstaged the upstream chain
    // re-ran ~8x inside the one facade call (r17-opt). Released after
    // the first downstream action via the shared discipline.
    val exact = exactKeepFirst(docs, idCol, textCol).persist()
    val cand = minhashLshPairs(exact, idCol, textCol, shingleN, bands,
      rowsPerBand, estThreshold, maxBucketSize, portable = portable)
    val verified = ngramJaccard(exact, idCol, textCol,
        cand.select("id_a", "id_b"), shingleN)
      .filter(col("jaccard") >= threshold)
    val comps = connectedComponents(verified.select("id_a", "id_b"))
      .select(col("id").as("_dc_id"), col("component").as("_dc_comp"))
    val toks = exact.select(col(idCol).as("_dc_id"),
      TextAnalysis.tokenCount(col(textCol)).as("_dc_nt"))
    import org.apache.spark.sql.expressions.Window
    val losers = comps.join(toks, Seq("_dc_id"))
      .withColumn("_dc_rk", row_number().over(
        Window.partitionBy("_dc_comp")
          .orderBy(col("_dc_nt").desc, col("_dc_id"))))
      .filter(col("_dc_rk") > 1)
      .select(col("_dc_id").as(idCol))
    releaseAfter(exact.join(losers, Seq(idCol), "left_anti").persist(),
      Seq(exact))
  }

  /** C4/CCNet-style line-level boilerplate removal: a LINE occurring
    * in more than `maxDocFreq` DISTINCT documents is boilerplate
    * (navigation chrome, cookie banners, licence headers, signature
    * blocks) and is dropped from EVERY document; surviving lines keep
    * their order. Line identity is the md5 of the space-trimmed line —
    * engine-replayable, and the digest (16 bytes) is what shuffles,
    * not the line text. Whitespace-only lines are layout, not
    * content: they are never counted toward document frequency and
    * never removed. A null text reads as empty. Output: (id, n_lines,
    * n_lines_clean, text_clean) for every document (callers filter
    * `n_lines_clean =!= n_lines` for the changed subset).
    *
    * Scale shape: ONE scan of the corpus — the exploded (id, line_no,
    * line, digest) frame is persisted and feeds the frequency
    * aggregate, the anti-join, and the per-doc line counts (released
    * after the first action, the minhashLshPairs discipline). The
    * document-frequency aggregate is a partial-agg shuffle of 16-byte
    * digests, not line text. The boilerplate set (lines above the
    * cutoff) is bounded by total_lines / maxDocFreq, so on sane
    * cutoffs Spark broadcasts the anti-join under its own size
    * threshold — deliberately NOT a broadcast() hint: a degenerate
    * template corpus can make the hot set corpus-sized, where a
    * forced broadcast would kill the driver and the planner's
    * fallback shuffle join is the right plan. The per-doc rebuild
    * groups bounded per-document line lists, never corpus-sized
    * state.
    */
  def removeBoilerplateLines(docs: DataFrame, idCol: String, textCol: String,
                             maxDocFreq: Int): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1 (got $maxDocFreq)")
    val lines = docs
      .select(col(idCol).as("id"),
        // CRLF-safe like c4LineFilter: a trailing \r would otherwise
        // split line identity between the CRLF and LF spellings of
        // the SAME banner (md5(trim) does not strip \r) and leak \r
        // into text_clean
        posexplode(split(coalesce(col(textCol), lit("")), "\r?\n", -1))
          .as(Seq("line_no", "line")))
      .withColumn("lh", md5(trim(col("line"))))
      .withColumn("ws", trim(col("line")) === "")
      .persist()
    val hot = lines.filter(!col("ws"))
      .select(col("id"), col("lh")).distinct()
      .groupBy("lh").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("lh").as("hot_lh"))
    val kept = lines.join(hot, col("lh") === col("hot_lh"), "left_anti")
    val rebuilt = kept.groupBy("id").agg(
      count(lit(1)).cast("long").as("n_lines_clean"),
      array_join(
        transform(array_sort(collect_list(struct(col("line_no"), col("line")))),
          s => s.getField("line")), "\n").as("text_clean"))
    val out = lines
      .groupBy("id").agg(count(lit(1)).cast("long").as("n_lines"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id"), col("n_lines"),
        coalesce(col("n_lines_clean"), lit(0L)).as("n_lines_clean"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
    releaseAfter(out.persist(), Seq(lines))
  }

  /** C4's line-level cleanup rules (Raffel et al. JMLR'20 §2.2 — the
    * other half of the recipe next to [[removeBoilerplateLines]]'s
    * frequency rule): keep only lines that END IN TERMINAL
    * PUNCTUATION (. ! ? or a closing double quote) and carry at least
    * `minWords` words; the doc is rebuilt from the surviving lines in
    * their original order (all lines dropped → empty text_clean).
    * Unlike the frequency rule this needs NO corpus aggregation — the
    * whole filter is a per-row array expression (split → filter →
    * join), zero shuffle, the cheapest possible pass over 100 TB.
    * Output: (id, n_lines, n_lines_clean, text_clean).
    */
  def c4LineFilter(docs: DataFrame, idCol: String, textCol: String,
                   minWords: Int = 3): DataFrame = {
    require(minWords >= 1, s"minWords must be >= 1 (got $minWords)")
    // the arr1 rule: interpreted HOF subtrees are not CSE'd — stage
    // the line array (read 3x) and the kept array (read 2x)
    // CRLF-safe: split consumes the \r too — otherwise every Windows
    // line ends "…\r", Java's `$` would still match (it anchors before
    // a final line terminator) while engines with RE2 `$` would not,
    // and kept lines would carry \r into text_clean
    docs
      .select(col(idCol).as("id"),
        split(coalesce(col(textCol), lit("")), "\r?\n", -1).as("_ls"))
      .select(col("id"), col("_ls"),
        filter(col("_ls"), l =>
          trim(l).rlike("[.!?\"]$") &&
            size(filter(split(trim(l), "\\s+"), w => w =!= "")) >= minWords)
          .as("_keep"))
      .select(col("id"),
        size(col("_ls")).cast("long").as("n_lines"),
        size(col("_keep")).cast("long").as("n_lines_clean"),
        array_join(col("_keep"), "\n").as("text_clean"))
  }

  /** CCNet's WITHIN-document line dedup (the third of the line-level
    * cleanup rules, next to [[removeBoilerplateLines]]'s cross-doc
    * frequency rule and [[c4LineFilter]]'s punctuation rule): later
    * occurrences of a line already seen in the SAME document are
    * dropped — crawled pages repeat nav blocks, list items and quoted
    * chunks. Whitespace-only lines are exempt (they are paragraph
    * structure; deduping them would merge paragraphs). Line identity
    * is the exact line, untrimmed. A pure per-row array expression
    * like [[c4LineFilter]] — zero shuffle; the O(lines²) seen-scan is
    * bounded by ONE document's length, never the corpus. Output:
    * (id, n_lines, n_lines_kept, text_dedup).
    */
  def dedupLinesWithinDoc(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    docs
      .select(col(idCol).as("id"),
        split(coalesce(col(textCol), lit("")), "\r?\n", -1).as("_ls"))
      .select(col("id"), col("_ls"),
        filter(col("_ls"), (l, i) =>
          trim(l) === "" ||
            array_position(slice(col("_ls"), lit(1), i), l) === 0)
          .as("_keep"))
      .select(col("id"),
        size(col("_ls")).cast("long").as("n_lines"),
        size(col("_keep")).cast("long").as("n_lines_kept"),
        array_join(col("_keep"), "\n").as("text_dedup"))
  }

  /** Exact n-gram Jaccard similarity for candidate pairs generated by a
    * blocking key (e.g. LSH bucket or a metadata column). `pairs` must
    * have (id_a, id_b); texts are joined back by id.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    // distinct shingle sets as HASHES: long-array intersection beats
    // string-array intersection ~4x per pair, and the jaccard value is
    // identical barring a 2^-64 hash collision. |union| is derived as
    // |A|+|B|-|inter| (array_union per pair would double the work).
    // The per-doc set table is tiny relative to the pair table and is
    // read by both join sides -> persist.
    // sorted hash arrays via the native codegen TokenShingleHashes
    // (one pass per doc, differential-tested vs the HOF form); the
    // per-pair intersection is then a native codegen linear merge
    // (SortedIntersectCount) instead of an interpreted hash-set build
    val sh = docs.select(col(idCol).as("_jid"),
        graft.plans.TokenShingleHashes(col(textCol), shingleN).as("_jsh"))
      .select(col("_jid"), col("_jsh"), size(col("_jsh")).as("_jn"))
      .persist()
    val out = withJaccard(pairs
      .join(sh.select(col("_jid").as("id_a"), col("_jsh").as("sh_a"),
        col("_jn").as("n_a")), Seq("id_a"))
      .join(sh.select(col("_jid").as("id_b"), col("_jsh").as("sh_b"),
        col("_jn").as("n_b")), Seq("id_b")))
      .drop("sh_a", "sh_b", "n_a", "n_b")
    releaseAfter(out.persist(), Seq(sh))
  }

  /** Blocked all-pairs n-gram Jaccard: one self-join of the shingle-set
    * table on the block key, instead of building a pair list and
    * joining sets back twice. Use when candidates ARE "all pairs in a
    * block" (metadata blocking); use ngramJaccard when candidates come
    * from elsewhere (LSH).
    */
  def blockedNgramJaccard(docs: DataFrame, idCol: String, textCol: String,
                          blockCol: String, shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(blockCol).as("_blk"), col(idCol).as("_jid"),
        graft.plans.TokenShingleHashes(col(textCol), shingleN).as("_jsh"))
      .select(col("_blk"), col("_jid"), col("_jsh"),
        size(col("_jsh")).as("_jn"))
      .persist()
    val l = sh.select(col("_blk"), col("_jid").as("id_a"),
      col("_jsh").as("sh_a"), col("_jn").as("n_a"))
    val r = sh.select(col("_blk"), col("_jid").as("id_b"),
      col("_jsh").as("sh_b"), col("_jn").as("n_b"))
    val out = l.join(r, Seq("_blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("_inter",
        VectorExpressions.sortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        when(col("n_a") + col("n_b") - col("_inter") > 0,
          col("_inter").cast("double") /
            (col("n_a") + col("n_b") - col("_inter")))
          .otherwise(lit(0.0)))
      .select("id_a", "id_b", "jaccard")
    releaseAfter(out.persist(), Seq(sh))
  }

  /** Broder-style n-gram CONTAINMENT (Broder 1997, "On the resemblance
    * and containment of documents"): c(A,B) = |S(A) ∩ S(B)| / |S(A)|,
    * the fraction of A's shingles that also appear in B. Near-dup
    * Jaccard misses subset relationships — a paragraph quoted inside a
    * 100× longer page has j ≈ 0.01 but c ≈ 1.0 — and the standard
    * curation policy for those is keep-the-superset (drop A when
    * c(A,B) ≥ τ and |S(A)| ≤ |S(B)|). Emits BOTH directions
    * (`containment_a` = how much of A is inside B, `containment_b`
    * symmetric) for each candidate pair; docs with fewer than
    * `shingleN` tokens have no shingles and score 0.0 by definition.
    *
    * Candidates come from the caller (same contract as
    * [[ngramJaccard]]): NOT from minhash LSH — a low-jaccard subset
    * pair rarely collides there — but from metadata blocking
    * ([[blockedNgramContainment]]) or the [[sharedSpans]] postings
    * (a contained doc necessarily shares its token spans). Same
    * engine shape as the jaccard verify: per-doc sorted shingle-hash
    * sets built once by the codegen `TokenShingleHashes`, candidate
    * pairs re-join the persisted set table twice (id-only shuffles),
    * and the per-pair |inter| is the codegen sorted-merge count —
    * O(candidates), never all-pairs.
    */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       pairs: DataFrame, shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(idCol).as("_cid"),
        graft.plans.TokenShingleHashes(col(textCol), shingleN).as("_csh"))
      .select(col("_cid"), col("_csh"), size(col("_csh")).as("_cn"))
      .persist()
    val out = withContainment(pairs
      .join(sh.select(col("_cid").as("id_a"), col("_csh").as("sh_a"),
        col("_cn").as("n_a")), Seq("id_a"))
      .join(sh.select(col("_cid").as("id_b"), col("_csh").as("sh_b"),
        col("_cn").as("n_b")), Seq("id_b")))
      .drop("sh_a", "sh_b", "n_a", "n_b")
    releaseAfter(out.persist(), Seq(sh))
  }

  /** [[ngramContainment]] over all pairs within a metadata block —
    * the [[blockedNgramJaccard]] layout (one self-join of the shingle
    * table on the block key) emitting both containment directions.
    */
  def blockedNgramContainment(docs: DataFrame, idCol: String,
                              textCol: String, blockCol: String,
                              shingleN: Int = 3): DataFrame = {
    val sh = docs.select(col(blockCol).as("_blk"), col(idCol).as("_cid"),
        graft.plans.TokenShingleHashes(col(textCol), shingleN).as("_csh"))
      .select(col("_blk"), col("_cid"), col("_csh"),
        size(col("_csh")).as("_cn"))
      .persist()
    val l = sh.select(col("_blk"), col("_cid").as("id_a"),
      col("_csh").as("sh_a"), col("_cn").as("n_a"))
    val r = sh.select(col("_blk"), col("_cid").as("id_b"),
      col("_csh").as("sh_b"), col("_cn").as("n_b"))
    val out = withContainment(
      l.join(r, Seq("_blk")).filter(col("id_a") < col("id_b")))
      .select("id_a", "id_b", "containment_a", "containment_b")
    releaseAfter(out.persist(), Seq(sh))
  }

  /** Shared containment arithmetic over a joined pair frame carrying
    * (sh_a, n_a, sh_b, n_b): |inter| once via the codegen sorted
    * merge, then each direction's ratio (0.0 for an empty shingle
    * set — a doc shorter than the shingle width contains nothing).
    */
  private def withContainment(df: DataFrame): DataFrame = df
    .withColumn("_inter", graft.plans.VectorExpressions
      .sortedIntersectCount(col("sh_a"), col("sh_b")))
    .withColumn("containment_a",
      when(col("n_a") > 0, col("_inter").cast("double") / col("n_a"))
        .otherwise(lit(0.0)))
    .withColumn("containment_b",
      when(col("n_b") > 0, col("_inter").cast("double") / col("n_b"))
        .otherwise(lit(0.0)))
    .drop("_inter")

  /** Embedding near-dup pairs with multi-table hyperplane-LSH blocking
    * — the corpus-scale composition. dd5's metadata blocks are
    * all-pairs within a block (B²/2 on a hot block); here hyperplane
    * buckets bound block size by construction, and `tables`
    * independent plane sets drive recall: a pair at angle θ shares a
    * bucket in one table w.p. (1-θ/π)^planes, and misses ALL tables
    * w.p. (1-(1-θ/π)^planes)^tables — for near-dups (cos ≥ 0.999,
    * θ ≤ 0.045) at 6 planes × 4 tables that is < 1e-6, and on a fixed
    * corpus the deterministic hashes make recall exactly reproducible
    * (the dd8 gate proves it equal to the all-pairs DuckDB answer on
    * planted near-duplicates).
    *
    * Shuffle layout mirrors `minhashLshPairs`'s id-only shape: the
    * bucket self-join carries (table, bucket, id) — 20 B/row — through
    * the shuffle; distinct candidate pairs then re-join the persisted
    * (id, vector, norm) table twice, so each vector crosses the wire
    * O(tables) times instead of O(tables × bucket size), and the
    * cosine is computed once per distinct pair (a pair can collide in
    * several tables). `maxBucketSize` is the same hot-bucket guard as
    * minhashLshPairs (0 disables; the window count reuses the bucket
    * shuffle's partitioning).
    */
  def lshEmbeddingNearDup(embs: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, planes: Int = 6, tables: Int = 4,
                          maxBucketSize: Int = 0): DataFrame = {
    val e = embs.select(col(idCol).as("id"),
        VectorOps.asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(VectorOps.normSq(col("v"))))
      .persist()
    val bucketed = e.select(col("id"),
      explode(array((0 until tables).map { tb =>
        struct(lit(tb).as("t"),
          graft.plans.VectorExpressions.hyperplaneBits(col("v"), planes, tb).as("b"))
      }: _*)).as("bk"))
      .select(col("id"), col("bk.t"), col("bk.b"))
    val guarded =
      if (maxBucketSize <= 0) bucketed
      else {
        import org.apache.spark.sql.expressions.Window
        bucketed.withColumn("_bsz",
          count(lit(1)).over(Window.partitionBy("t", "b")))
          .filter(col("_bsz") <= maxBucketSize)
          .drop("_bsz")
      }
    val l = guarded.select(col("t"), col("b"), col("id").as("id_a"))
    val r = guarded.select(col("t"), col("b"), col("id").as("id_b"))
    val pairs = l.join(r, Seq("t", "b"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()                             // pair may collide in >1 table
      .join(e.select(col("id").as("id_a"), col("v").as("v_a"),
        col("nrm").as("n_a")), Seq("id_a"))
      .join(e.select(col("id").as("id_b"), col("v").as("v_b"),
        col("nrm").as("n_b")), Seq("id_b"))
      .withColumn("cos",
        VectorExpressions.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
    releaseAfter(pairs.persist(), Seq(e))
  }

  /** Embedding-cosine near-duplicate pairs within a blocking column
    * (all-pairs inside each block; use [[lshEmbeddingNearDup]] at
    * corpus scale).
    */
  def embeddingNearDup(embs: DataFrame, idCol: String, vecCol: String,
                       blockCol: Column, threshold: Double): DataFrame = {
    // cast + norm once per row, not once per pair
    val e = embs.select(col(idCol).as("id"),
      VectorOps.asDouble(col(vecCol)).as("v"), blockCol.as("blk"))
      .withColumn("nrm", sqrt(VectorOps.normSq(col("v"))))
    val l = e.select(col("blk"), col("id").as("id_a"), col("v").as("v_a"),
      col("nrm").as("n_a"))
    val r = e.select(col("blk"), col("id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"))
    l.join(r, Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos",
        VectorExpressions.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** SemDeDup-style semantic dedup (cluster-then-compare, the recipe
    * of Abbas et al. 2023): partition the embedding space with the
    * coarse k-means quantizer from [[Similarity.trainIvfCentroids]]
    * and compare pairs only WITHIN a cluster. Pairwise cost drops
    * from N² to Σ|cell|² — the property that makes embedding-level
    * dedup tractable at corpus scale; `nlist` is the cost/recall
    * dial (complementary to [[lshEmbeddingNearDup]]: k-means cells
    * adapt to the data's density, LSH buckets are data-independent).
    *
    * Scale shape: cell assignment is a broadcast expression — the
    * nlist×dim model folds into the plan, no model table and no
    * extra shuffle; the pairwise stage shuffles (id, vec) on the
    * cell id only; cosine is the codegen dot kernel. Emits
    * (id_a < id_b, cos ≥ threshold) candidate pairs.
    */
  def semanticDedupPairs(embs: DataFrame, idCol: String, vecCol: String,
                         centroids: Array[Array[Double]],
                         threshold: Double): DataFrame =
    embeddingNearDup(embs, idCol, vecCol,
      Similarity.ivfCell(VectorOps.asDouble(col(vecCol)), centroids),
      threshold)

  /** The removal face of [[semanticDedupPairs]]: survivors after
    * dropping every row whose pair-graph component (via
    * [[connectedComponents]], which labels each node with its
    * component's MINIMUM id) contains a smaller id — deterministic
    * keep-first semantics over long-castable ids, like
    * [[exactKeepFirst]].
    */
  def semanticDedupKeep(embs: DataFrame, idCol: String, vecCol: String,
                        centroids: Array[Array[Double]],
                        threshold: Double): DataFrame = {
    // fail before the Σ|cell|² pairwise work, not after it
    Checks.requireIntegral(embs, idCol, "semanticDedupKeep",
      "map string ids to longs first, e.g. xxhash64 or an ordinal")
    val pairs = semanticDedupPairs(embs, idCol, vecCol, centroids, threshold)
    val drop = connectedComponents(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    embs.join(drop, Seq(idCol), "left_anti")
  }
}
