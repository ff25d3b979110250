package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.json4s.JValue

/** The segment-store discipline shared by the persistent indexes
  * ([[InvertedIndex]], [[VectorIndex]]): immutable segments committed
  * by a stats-last marker, segment-scoped tombstone batches, an
  * exactly-once ingest ledger, and manifest-healed compaction.
  *
  * Everything here is layout mechanics — what counts as committed,
  * how tombstones apply, how a crashed compaction replays. The
  * indexes own their payloads (postings vs vectors), their scoring,
  * and their stats arithmetic; this module owns the directories, so
  * the two stores cannot drift on the crash-safety contract.
  *
  * Layout under an index root:
  * {{{
  *   segments/<name>/...      payload dirs + stats/ (marker: stats/_SUCCESS)
  *   deletes/batch-<uuid>/    ids/ + stats/ (marker: stats/_SUCCESS)
  *   ingested/batch-<id>      exactly-once ledger markers
  *   compacting               manifest of an in-flight compaction
  * }}}
  *
  * The commit doc (`stats/doc.json`) of a segment or tombstone batch
  * carries, next to its moments, a `schema` object: for every payload
  * dir the write produced (`postings`, `lens`, `vectors`, `ids`,
  * `codes`), the schema a plain `spark.read.parquet` of that dir
  * infers — nullable, partition columns last. Every payload read goes
  * through [[readPayload]], which hands that schema to the reader, so
  * opening a directory costs no schema-inference job: a search call
  * builds its whole plan on the driver and runs no Spark job before
  * the caller's action (the bounded query-side collects of the batch
  * and vector searches aside). That doc is the only on-disk form: a
  * dir committed without one (a parquet sidecar), or whose doc records
  * no `schema`, was written by an older graft layout and is refused
  * with an `IllegalStateException` naming it — rebuild with `build()`.
  */
private[graft] object SegmentStore {

  def fsOf(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed segment dirs (stats marker present), sorted. */
  def committedSegments(spark: SparkSession, indexPath: String): Seq[String] =
    committedUnder(spark, s"$indexPath/segments")

  /** Committed tombstone batch dirs — same stats-last commit marker as
    * segments, so a crashed delete is invisible to every reader.
    */
  def committedDeletes(spark: SparkSession, indexPath: String): Seq[String] =
    committedUnder(spark, s"$indexPath/deletes")

  def committedUnder(spark: SparkSession, root: String): Seq[String] = {
    val fs = fsOf(spark, root)
    val p = new org.apache.hadoop.fs.Path(root)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(d => fs.exists(
        new org.apache.hadoop.fs.Path(d, "stats/_SUCCESS")))
      .map(_.toString).sorted.toSeq
  }

  /** Drop marker-less crash leftovers (a segment whose append died
    * before its stats commit, a tombstone batch whose delete died
    * likewise): no reader consumes them, but left alone they
    * accumulate forever on a long-lived index and every committed-dir
    * listing stat-probes them. Safe only under the compaction's
    * offline single-writer contract — nothing is mid-write while this
    * runs.
    */
  def sweepUncommitted(fs: org.apache.hadoop.fs.FileSystem,
                       indexPath: String): Unit =
    Seq("segments", "deletes").foreach { sub =>
      val root = new org.apache.hadoop.fs.Path(s"$indexPath/$sub")
      if (fs.exists(root))
        fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
          .filterNot(p => fs.exists(
            new org.apache.hadoop.fs.Path(p, "stats/_SUCCESS")))
          .foreach(p => fs.delete(p, true))
    }

  // ---- one-row metadata sidecars (r17-opt) ---------------------------
  //
  // Stats tables, tombstone scopes, and quantizer models are a handful
  // of scalars per directory, read back driver-side by every consumer.
  // Writing/reading them as Spark parquet jobs cost a scheduler
  // round-trip PER PROBE — at micro-batch cadence that was most of the
  // index-lifecycle gates' job count, and on a real cluster it is pure
  // overhead too (one row never needs executors). They are a single
  // JSON document + the same `_SUCCESS` marker, written and read with
  // plain FS calls; the marker file is still created LAST, so every
  // commit-discipline reader (committedUnder, heal, the crash specs)
  // sees exactly the layout it always did. A committed dir with no
  // doc (a parquet sidecar of an older layout) is refused.

  /** Write `json` as `dir/doc.json` and then `dir/_SUCCESS` — the
    * marker lands strictly last, like the parquet committer's.
    */
  def writeDocDir(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                  json: org.json4s.JObject): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    fs.delete(d, true)
    fs.mkdirs(d)
    val out = fs.create(new org.apache.hadoop.fs.Path(d, "doc.json"), true)
    try out.write(org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(json))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.create(new org.apache.hadoop.fs.Path(d, "_SUCCESS"), true).close()
  }

  /** The refusal of a store dir in an older graft layout. */
  def olderLayout(dir: String, what: String): IllegalStateException =
    new IllegalStateException(s"$dir was written by an older graft " +
      s"layout ($what) — rebuild the index with build()")

  /** The parsed `doc.json` of a [[writeDocDir]] directory. A dir with
    * `_SUCCESS` but no doc is an older layout's parquet sidecar and is
    * refused ([[olderLayout]]); a dir with neither was never committed
    * and fails with `absent`. The marker is probed only on that failure
    * path, so a read costs one existence check.
    */
  def readDocDir(fs: org.apache.hadoop.fs.FileSystem, dir: String,
                 absent: => String): JValue = {
    val f = new org.apache.hadoop.fs.Path(s"$dir/doc.json")
    if (!fs.exists(f)) {
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")))
        throw olderLayout(dir, "no doc.json commit doc")
      throw new IllegalArgumentException(absent)
    }
    val in = fs.open(f)
    val bytes = try {
      val buf = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      var n = in.read(tmp)
      while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
      buf.toByteArray
    } finally in.close()
    org.json4s.jackson.JsonMethods.parse(
      new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }

  /** [[readDocDir]] of a dir a commit listing returned. */
  def readDocDir(fs: org.apache.hadoop.fs.FileSystem, dir: String): JValue =
    readDocDir(fs, dir, s"$dir has no commit doc")

  /** The schema `spark.read.parquet` infers for what writing `df` with
    * `partitionCols` leaves on disk: every field nullable (Spark's read
    * side makes them so) and the partition columns moved last, where
    * partition discovery appends them. Known at write time, so the
    * commit doc records it without a job.
    */
  def writtenSchema(df: DataFrame,
                    partitionCols: Seq[String] = Nil): StructType = {
    val s = nullable(df.schema).asInstanceOf[StructType]
    StructType(s.filterNot(f => partitionCols.contains(f.name)) ++
      partitionCols.map(s(_)))
  }

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** The commit doc's `schema` field: payload sub-dir → schema. */
  def schemaField(schemas: Seq[(String, StructType)]): (String, JValue) =
    "schema" -> org.json4s.JObject(schemas.map { case (sub, st) =>
      sub -> org.json4s.jackson.JsonMethods.parse(st.json)
    }.toList)

  /** The schema the commit doc of `dir` records for payload `sub`; a
    * doc without one is an older layout and is refused.
    */
  def recordedSchema(doc: JValue, dir: String, sub: String): StructType =
    (doc \ "schema" \ sub) match {
      case o: org.json4s.JObject =>
        org.apache.spark.sql.types.DataType.fromJson(
          org.json4s.jackson.JsonMethods.compact(
            org.json4s.jackson.JsonMethods.render(o)))
          .asInstanceOf[StructType]
      case _ => throw olderLayout(dir, s"no recorded schema for '$sub'")
    }

  /** Read payload `sub` of a committed segment or tombstone batch `dir`
    * with the schema its commit doc records — no inference job.
    */
  def readPayload(spark: SparkSession, dir: String, sub: String): DataFrame = {
    val stats = s"$dir/stats"
    spark.read.schema(recordedSchema(readDocDir(fsOf(spark, dir), stats),
      stats, sub)).parquet(s"$dir/$sub")
  }

  /** Numeric field of a doc (JSON numbers parse as int or double). */
  def docDouble(doc: org.json4s.JValue, field: String): Double =
    (doc \ field) match {
      case org.json4s.JDouble(v) => v
      case org.json4s.JInt(v) => v.toDouble
      case org.json4s.JLong(v) => v.toDouble
      case org.json4s.JDecimal(v) => v.toDouble
      case other => sys.error(s"stats doc field '$field' is not numeric: $other")
    }

  /** (id, _seg) applicability pairs of the committed tombstones: a
    * row means "id is dead IN that segment". Bounded between
    * compactions — always broadcast, never shuffled against payloads.
    * The scope and the ids schema ride the stats doc (one driver-side
    * read).
    */
  def tombstonePairs(spark: SparkSession, dels: Seq[String]): DataFrame =
    dels.map { d =>
      val stats = s"$d/stats"
      val doc = readDocDir(fsOf(spark, d), stats)
      val scope = (doc \ "scope") match {
        case org.json4s.JArray(xs) =>
          xs.collect { case org.json4s.JString(s) => Tuple1(s) }
        case _ => throw olderLayout(stats, "no recorded scope")
      }
      spark.read.schema(recordedSchema(doc, stats, "ids")).parquet(s"$d/ids")
        .crossJoin(spark.createDataFrame(scope).toDF("_seg"))
    }.reduce(_ unionByName _)

  /** Commit one tombstone batch: the ids parquet first, then the stats
    * doc LAST (the marker) carrying the index's charge accounting
    * (`statsFields` — the inverted index records (n, sum_len); the
    * vector index records n) plus the scope: the segments committed at
    * the caller's probe time (the only ones that can hold the ids) and
    * never a later segment — so a deleted id can be re-ingested (the
    * upsert model) and the new payload is not masked.
    */
  def writeTombstone(spark: SparkSession, indexPath: String,
                     segs: Seq[String], ids: DataFrame,
                     statsFields: Seq[(String, Double)]): Unit = {
    val dir = s"$indexPath/deletes/batch-${java.util.UUID.randomUUID()}"
    labeled(spark, "tomb: ids write")(
      ids.write.mode("overwrite").parquet(s"$dir/ids"))
    writeDocDir(fsOf(spark, dir), s"$dir/stats", org.json4s.JObject(
      statsFields.map { case (k, v) =>
        k -> (org.json4s.JDouble(v): org.json4s.JValue)
      }.toList :+
        ("scope" -> (org.json4s.JArray(
          segs.map(s => org.json4s.JString(
            new org.apache.hadoop.fs.Path(s).getName): org.json4s.JValue)
            .toList): org.json4s.JValue)) :+
        schemaField(Seq("ids" -> writtenSchema(ids)))))
  }

  /** Per-segment ledger rows (`<seg>/<sub>` — the inverted index's
    * `lens`, the vector index's `ids`) tagged with their segment name,
    * minus the tombstones applicable to each segment: exactly the live
    * corpus bookkeeping — ONE FRAME PER SEGMENT, so a compacted
    * segment's id-bucketed ledger keeps its HashPartitioning into
    * whatever join the caller builds (a union would erase it). The
    * broadcast tombstone anti-join preserves the child's partitioning.
    * Callers that join these frames must join per frame and union the
    * RESULTS; semi-joins distribute over the left union, so that
    * rewrite is always sound.
    */
  def liveLedgerFrames(spark: SparkSession, segs: Seq[String],
                       dels: Seq[String], sub: String): Seq[DataFrame] = {
    val fs = fsOf(spark, segs.head)
    val tomb =
      if (dels.isEmpty) None
      else Some(org.apache.spark.sql.functions.broadcast(
        tombstonePairs(spark, dels)))
    segs.map { s =>
      val path = s"$s/$sub"
      val base =
        if (Bucketing.isBucketedBatch(fs, path))
          Bucketing.readBucketedBatch(spark, path)
        else readPayload(spark, s, sub)
      val tagged = base.withColumn("_seg",
        org.apache.spark.sql.functions.lit(
          new org.apache.hadoop.fs.Path(s).getName))
      tomb.map(t => tagged.join(t, Seq("id", "_seg"), "left_anti"))
        .getOrElse(tagged)
    }
  }

  /** Label every Spark job `body` submits (guide §1.5) so the UI and
    * the job-level profiler attribute index-lifecycle time to phases
    * instead of one opaque foreachBatch call site. Thread-local;
    * restores the previous description on exit.
    */
  def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  /** Run independent Spark write jobs concurrently and wait for all —
    * the guide-§2.6 overlap: a segment's payload and ledger writes read
    * the same persisted staged frame and land in different directories,
    * so running them serially leaves the cluster idle through each
    * job's tail. EVERY task is awaited to settlement before this
    * returns (r18, the r17 ADVICE ask): rethrowing on the first failure
    * while a sibling write still ran would let a streaming replay of
    * the same batchId rewrite segment dirs concurrently with the
    * orphaned writer. Only then does the first failure propagate; the
    * caller still writes its commit marker (stats) strictly AFTER this
    * returns, so the stats-last discipline is untouched. An interrupt
    * of the waiting caller settles the siblings too: the pool is shut
    * down with `shutdownNow()` (which interrupts every task) and
    * awaited to termination before the interrupt propagates. The tasks
    * run on a small dedicated pool per call, not the global
    * ExecutionContext, so nested calls (a per-field
    * [[FieldedIndex]] op whose segment write overlaps its own jobs)
    * never wait on a shared pool's thread cap.
    */
  def inParallel(tasks: Seq[() => Unit]): Unit =
    if (tasks.length <= 1) tasks.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        tasks.length)
      try {
        val futures = tasks
          .map(t => pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
            override def call(): Option[Throwable] =
              try { t(); None } catch { case e: Throwable => Some(e) }
          }))
        val settled =
          try futures.map(_.get()) // settle ALL tasks, failures included
          catch {
            case ie: InterruptedException =>
              pool.shutdownNow()
              // the caller is interrupted already: a second interrupt
              // must not cut the wait short
              while (!pool.isTerminated)
                try pool.awaitTermination(1, java.util.concurrent.TimeUnit.SECONDS)
                catch { case _: InterruptedException => () }
              throw ie
          }
        settled.flatten.headOption.foreach(e => throw e)
      } finally {
        pool.shutdown()
        ()
      }
    }

  def manifestPath(indexPath: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$indexPath/compacting")

  /** Resolve a compaction that crashed between committing its merged
    * segment and deleting the inputs (see [[Manifest]]): merged
    * committed → finish the input deletes; merged uncommitted → drop
    * the partial merged dir — then clear the manifest. Idempotent.
    * Entries are index-relative ("segments/seg-x", "deletes/batch-y")
    * so one manifest covers segment inputs AND the tombstone dirs a
    * compaction applies physically; the commit marker of both kinds
    * is their stats table.
    */
  def heal(spark: SparkSession, indexPath: String): Unit =
    Manifest.heal(fsOf(spark, indexPath), manifestPath(indexPath),
      indexPath,
      d => new org.apache.hadoop.fs.Path(s"$d/stats/_SUCCESS"))

  /** The exactly-once ingest ledger marker for `batchId`. */
  def ingestMarker(indexPath: String, batchId: Long): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$indexPath/ingested/batch-$batchId")
}
