package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** FIELDED persistent inverted index — the multi-field face of
  * [[InvertedIndex]], serving ES's `multi_match` from postings the way
  * the reference's backing engine does (every mapped text field is
  * indexed; `multi_match` with per-field boosts is one index query —
  * eland/query_compiler.py:419-488 builds exactly that DSL).
  *
  * Layout — field-major subtrees under ONE index root:
  * {{{
  *   root/_fields_meta      doc: fields, analyzer, buckets, positions
  *                          ([[SegmentStore.writeDocDir]]) — written
  *                          LAST, the root's build commit marker; read
  *                          on the driver
  *   root/fields/<field>    a full [[InvertedIndex]] per field
  *                          (segments/seg-…, deletes/batch-…)
  * }}}
  *
  * Why per-field subtrees rather than a `field` column inside shared
  * segments (the adjudicated layout choice):
  *
  *  - Lucene itself keys every term dictionary and posting list by
  *    field — a field IS a separate physical index sharing doc ids.
  *    Field-major directories make that the partition layout: a
  *    field-scoped query prunes other fields' postings at the
  *    DIRECTORY level before bucket pruning even starts, and nothing
  *    about a field's stats can bleed into another's.
  *  - Every per-field subtree inherits the hardened single-field
  *    lifecycle VERBATIM — stats-last segment commits, lens-exact
  *    tombstone charging, scoped deletes, manifest compaction, fuzzy
  *    dictionaries — instead of re-deriving each invariant for a
  *    field-tagged schema. Per-field corpus moments (n, sum_len, df)
  *    fall out of the existing one-row stats tables: BM25 needs
  *    PER-FIELD avg length and df, never blended ones.
  *  - At 100 TB the shape is unchanged: build is one corpus-count
  *    shuffle per field (the same postings data a field-column layout
  *    would shuffle, partitioned the same way), search reads only the
  *    query terms' buckets of the requested fields, and the combine
  *    shuffles (id, score) pairs only.
  *
  * Search scoring is row-identical to the scan-side
  * [[graft.functions.EsScoredQuery]] `multi_match`: per-field Okapi
  * BM25 over that field's live stats as RAW doubles (no per-field
  * rounding — the single-field [[InvertedIndex.searchTopK]] rounds
  * because its per-field sum IS the final score), combined as
  * best_fields (`dis_max`: best + tie_breaker × (others' sum)) or
  * most_fields (sum over matching fields), per-field boosts multiplied
  * in, and 6-dp rounding applied ONCE to the final score — exactly
  * where the scan path rounds. Differential-pinned in
  * FieldedIndexSpec.
  *
  * Lifecycle ops apply per field CONCURRENTLY ([[perField]] — the
  * subtrees are independent single-writer domains). They inherit the
  * single-writer contract per subtree, and a crash mid-op leaves each
  * field either committed or invisible — the per-field contracts then
  * fail LOUDLY on a blind retry (append's new-ids check, deleteDocs'
  * live-ids check), never silently skew stats; [[heal]] sweeps the
  * uncommitted halves, then resume against the fields that miss the
  * batch.
  */
object FieldedIndex {

  private def fieldDir(root: String, f: String) = s"$root/fields/$f"
  private def metaPath(root: String) = s"$root/_fields_meta"

  /** Run one lifecycle op per field CONCURRENTLY: the subtrees are
    * independent single-writer domains (no shared files, no shared
    * stats), and Spark's scheduler interleaves their jobs — a
    * two-field build costs about one field's wall-clock instead of
    * two. [[SegmentStore.inParallel]] settles every field's op, on
    * failure and on interrupt, before the first failure propagates, so
    * a crash still leaves each subtree either committed or invisible
    * and no field is still writing when the call returns.
    */
  private def perField[T](items: Seq[T])(f: T => Unit): Unit =
    SegmentStore.inParallel(items.map(i => () => f(i)))

  /** Field names must be path-safe: they become directory names. */
  private def requirePathSafe(f: String): Unit =
    require(f.matches("[A-Za-z0-9_]+"),
      s"field name '$f' is not path-safe ([A-Za-z0-9_]+) — rename the " +
        "column before indexing")

  /** The indexed fields, in build order — from the root commit
    * marker; refuses loudly on a never-built / crashed-before-commit
    * root.
    */
  def fields(spark: SparkSession, root: String): Seq[String] = {
    val fs = SegmentStore.fsOf(spark, root)
    require(fs.exists(new org.apache.hadoop.fs.Path(
        s"${metaPath(root)}/_SUCCESS")),
      s"$root has no _fields_meta — build() a fielded index first")
    (SegmentStore.readDocDir(fs, metaPath(root)) \ "fields") match {
      case org.json4s.JArray(xs) =>
        xs.collect { case org.json4s.JString(f) => f }
      case other => sys.error(s"malformed _fields_meta doc: $other")
    }
  }

  /** Create a FRESH fielded index at `root`: one [[InvertedIndex]]
    * subtree per field over the SAME documents (so per-field n is the
    * corpus count and doc ids line up across fields), then the meta
    * marker LAST — a crashed build leaves no marker and every reader
    * refuses. `docs` is persisted across the per-field builds so the
    * source is scanned once, not once per field.
    */
  def build(docs: DataFrame, idCol: String, fieldCols: Seq[String],
            root: String, buckets: Int = 0, positions: Boolean = false,
            analyzer: String = "standard"): Unit = {
    require(fieldCols.nonEmpty, "at least one field column")
    require(fieldCols.distinct == fieldCols,
      s"duplicate field columns in $fieldCols")
    fieldCols.foreach(requirePathSafe)
    val spark = docs.sparkSession
    val fs = SegmentStore.fsOf(spark, root)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    val staged = docs
      .select((idCol +: fieldCols).map(col): _*).persist()
    try {
      staged.count() // materialize once before the concurrent builds
      perField(fieldCols)(f => InvertedIndex.build(staged, idCol, f,
        fieldDir(root, f), buckets, positions, analyzer))
      SegmentStore.writeDocDir(fs, metaPath(root), org.json4s.JObject(
        "fields" -> org.json4s.JArray(fieldCols
          .map(org.json4s.JString(_): org.json4s.JValue).toList),
        "analyzer" -> org.json4s.JString(analyzer),
        "buckets" -> org.json4s.JInt(buckets),
        "positions" -> org.json4s.JBool(positions)))
    } finally {
      staged.unpersist()
      ()
    }
  }

  /** Append NEW documents to every field subtree ([[InvertedIndex
    * .append]]'s new-ids contract, per field). One source scan.
    */
  def append(docs: DataFrame, idCol: String, root: String): Unit = {
    val spark = docs.sparkSession
    val fs = fields(spark, root)
    val staged = docs.select((idCol +: fs).map(col): _*).persist()
    try {
      staged.count() // materialize once before the concurrent appends
      perField(fs)(f =>
        InvertedIndex.append(staged, idCol, f, fieldDir(root, f)))
    } finally {
      staged.unpersist()
      ()
    }
  }

  /** Tombstone documents in every field subtree. Ids must be live
    * (per-field lens-ledger check — all fields index the same doc
    * set, so one contract violation means all would violate).
    */
  def deleteDocs(ids: DataFrame, root: String): Unit =
    perField(fields(ids.sparkSession, root))(f =>
      InvertedIndex.deleteDocs(ids, fieldDir(root, f)))

  /** ES-style update: tombstone live versions + append, per field. */
  def upsertDocs(docs: DataFrame, idCol: String, root: String): Unit = {
    val spark = docs.sparkSession
    val fs = fields(spark, root)
    val staged = docs.select((idCol +: fs).map(col): _*).persist()
    try {
      staged.count() // materialize once before the concurrent upserts
      perField(fs)(f =>
        InvertedIndex.upsertDocs(staged, idCol, f, fieldDir(root, f)))
    } finally {
      staged.unpersist()
      ()
    }
  }

  /** Merge each field subtree's segments and apply its tombstones. */
  def compact(spark: SparkSession, root: String): Unit =
    perField(fields(spark, root))(f =>
      InvertedIndex.compact(spark, fieldDir(root, f)))

  /** One-call recovery after a crashed lifecycle op: finish or roll
    * back each field subtree's manifest state ([[InvertedIndex.heal]]
    * per field, in meta order) — the single-writer crash story for
    * the whole root.
    */
  def heal(spark: SparkSession, root: String): Unit =
    fields(spark, root).foreach(f =>
      InvertedIndex.heal(spark, fieldDir(root, f)))

  /** Observability: [[InvertedIndex.stats]] per field, field-tagged. */
  def stats(spark: SparkSession, root: String): DataFrame =
    fields(spark, root).map(f =>
        InvertedIndex.stats(spark, fieldDir(root, f))
          .withColumn("field", lit(f)))
      .reduce(_ unionByName _)

  /** Index-served `multi_match`: (idColName, score), score desc, ties
    * by id, top `k`.
    *
    *  - `fieldBoosts` — (field, boost) pairs, ES's `fields:
    *    ["title^2", "body"]`; every field must be indexed here.
    *  - `mode` — "best_fields" (ES default; `dis_max` of the
    *    per-field match scores with `tieBreaker`), "most_fields"
    *    (their sum), or "phrase" (`dis_max` of the per-field
    *    match_phrase scores — needs `positions = true` at build;
    *    order and repeats of the query terms preserved). `tieBreaker`
    *    refuses under most_fields, where ES ignores it silently.
    *  - `operator` — "or" (default) or "and" (a field matches only
    *    when ALL query terms hit it — the score stays the matched-term
    *    sum either way, exactly the scan path).
    *
    * Scale shape: per field, one bucket-pruned postings read
    * (O(query-term postings), never the corpus) aggregated to (id,
    * raw score); the union of those id-keyed rows shuffles once to
    * combine. No per-field top-k truncation before the combine — a
    * dis_max over truncated lists would drop docs whose best field
    * ranked below the cut, so the cut happens only after scores are
    * final.
    */
  def searchTopK(spark: SparkSession, root: String, query: String,
                 fieldBoosts: Seq[(String, Double)], k: Int,
                 mode: String = "best_fields", tieBreaker: Double = 0.0,
                 operator: String = "or", idColName: String = "id",
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be >= 1, got $k")
    scoredTopK(spark, root, query, fieldBoosts, mode, tieBreaker,
      operator, idColName, k1, b)
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** ES `search_after` pagination of [[searchTopK]] — the fielded
    * face of [[InvertedIndex.searchAfter]], sharing its cursor
    * contract verbatim: the next `k` docs STRICTLY AFTER the
    * (score, id) cursor in the ranking's own order (score desc, id
    * asc), compared on the ROUNDED final score — the ranking's 6-dp
    * surface — so a cursor taken from a previous page's last row
    * tiles exactly: no overlap, no gap. Deep pages re-read only the
    * query terms' postings per touched field (the same pruned reads
    * every page pays); the cursor predicate cuts earlier hits before
    * the top-k heap.
    */
  def searchAfterTopK(spark: SparkSession, root: String, query: String,
                      fieldBoosts: Seq[(String, Double)], k: Int,
                      afterScore: Double, afterId: Any,
                      mode: String = "best_fields",
                      tieBreaker: Double = 0.0,
                      operator: String = "or", idColName: String = "id",
                      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k > 0, s"k must be >= 1, got $k")
    scoredTopK(spark, root, query, fieldBoosts, mode, tieBreaker,
      operator, idColName, k1, b)
      .filter(col("score") < afterScore ||
        (col("score") === afterScore && col(idColName) > lit(afterId)))
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** The full (idColName, rounded score) frame behind [[searchTopK]]
    * and [[searchAfterTopK]] — per-field raw BM25 legs combined under
    * the mode, single 6-dp rounding, no cut.
    */
  private def scoredTopK(spark: SparkSession, root: String,
                         query: String,
                         fieldBoosts: Seq[(String, Double)],
                         mode: String, tieBreaker: Double,
                         operator: String, idColName: String,
                         k1: Double, b: Double): DataFrame = {
    require(fieldBoosts.nonEmpty, "at least one (field, boost) pair")
    require(Set("best_fields", "most_fields", "phrase")(mode),
      s"mode must be best_fields | most_fields | phrase, got '$mode'")
    require(mode != "most_fields" || tieBreaker == 0.0,
      "tie_breaker applies to best_fields/phrase only (ES ignores it " +
        "elsewhere — refused here instead of silently dropped)")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0,
      s"tie_breaker must be in [0, 1], got $tieBreaker")
    require(operator == "or" || operator == "and",
      s"operator must be or | and, got '$operator'")
    require(mode != "phrase" || operator == "or",
      "operator does not apply to multi_match type phrase")
    val known = fields(spark, root)
    fieldBoosts.foreach { case (f, bo) =>
      require(known.contains(f),
        s"field '$f' is not indexed at $root (fields: " +
          s"${known.mkString(", ")})")
      require(bo > 0, s"boost for '$f' must be > 0, got $bo")
    }
    require(fieldBoosts.map(_._1).distinct.size == fieldBoosts.size,
      s"duplicate fields in $fieldBoosts")
    val phraseTerms = graft.functions.TextAnalysis.tokensOf(query)
    // each field's subtree is opened once (its snapshot and corpus
    // moments are driver-side doc reads) — building the frame runs no
    // job, however wide the index
    val perField = fieldBoosts.map { case (f, boost) =>
      val live = InvertedIndex.openLive(spark, fieldDir(root, f))
      (if (mode == "phrase" && phraseTerms.nonEmpty)
         // order/repeats preserved (a phrase is a term ARRAY, not a
         // bag); each field's leg is the raw phrase-BM25 of idx8
         InvertedIndex.rawPhraseScores(spark, live, phraseTerms, k1, b)
       // an empty-analysis query falls through to the typed empty
       // frame rawFieldScores builds (ES's empty hits), any mode
       else rawFieldScores(spark, live, query, operator == "and", k1, b))
        .select(col("id"), (col("_fs") * boost).as("_s"))
    }
    val combined = perField.reduce(_ unionByName _)
      .groupBy("id")
      .agg(max(col("_s")).as("_best"), sum(col("_s")).as("_tot"))
    val score = mode match {
      // phrase IS dis_max over the per-field match_phrase scores
      case "best_fields" | "phrase" =>
        col("_best") + lit(tieBreaker) * (col("_tot") - col("_best"))
      case "most_fields" => col("_tot")
    }
    combined
      .select(col("id").as(idColName), round(score, 6).as("score"))
  }

  /** Field-scoped Lucene query strings served from the FIELDED
    * index — the Kibana search bar against postings:
    * `title:alpha beta -join` parses through
    * [[graft.functions.QueryStringParser.flatFieldedTermClauses]]
    * (the one-bool-level contract, loud refusals for deeper shapes)
    * and each clause resolves to per-field BM25 legs. Unscoped
    * clauses spread over `defaultFieldBoosts` and combine dis_max —
    * Lucene's multi-field term rewrite; scoped clauses read their own
    * field subtree (directory-pruned before bucket pruning even
    * starts) at that field's boost (1.0 when unlisted). ES bool
    * gating: every must clause present in at least one of its legs,
    * at least one should clause when there is no must, no mustNot
    * leg present — and mustNot never scores. Score = Σ over present
    * positive clauses of each clause's BEST leg, single 6-dp round.
    *
    * Plan shape: driver-side stats for every touched field (one
    * [[InvertedIndex.openLive]] each), one bucket-pruned postings
    * read per touched field covering only that field's terms, a
    * broadcast clause-leg table, then two bounded aggregations
    * (per-(doc, clause) dis_max; per-doc gate + sum). The corpus is
    * never scanned.
    */
  def queryStringSearchTopK(spark: SparkSession, root: String,
                            query: String,
                            defaultFieldBoosts: Seq[(String, Double)],
                            k: Int, idColName: String = "id",
                            defaultOperator: String = "or",
                            k1: Double = 1.2, b: Double = 0.75)
      : DataFrame = {
    require(k > 0, s"k must be >= 1, got $k")
    val (must, should, mustNot) = graft.functions.QueryStringParser
      .flatFieldedTermClauses(query, defaultOperator)
    require(must.nonEmpty || should.nonEmpty,
      "pure-negative query strings are a corpus scan, not an index " +
        "lookup — refused (the booleanSearchTopK discipline)")
    val known = fields(spark, root)
    val dfb = defaultFieldBoosts
    require(dfb.map(_._1).distinct.size == dfb.size,
      s"duplicate default fields in $dfb")
    dfb.foreach { case (f, bo) =>
      require(known.contains(f), s"default field '$f' is not indexed " +
        s"at $root (fields: ${known.mkString(", ")})")
      require(bo > 0, s"boost for '$f' must be > 0, got $bo")
    }
    val clauses = (must.map(('+', _)) ++ should.map((' ', _)) ++
      mustNot.map(('-', _)))
    clauses.collect { case (_, (Some(f), _)) => f }.distinct.foreach {
      f => require(known.contains(f),
        s"scoped field '$f' is not indexed at $root " +
          s"(fields: ${known.mkString(", ")})")
    }
    val anyUnscoped = clauses.exists(_._2._1.isEmpty)
    require(!anyUnscoped || dfb.nonEmpty,
      "unscoped clauses need default fields — pass defaultFieldBoosts" +
        " or scope every clause (field:term)")
    val touched = (clauses.collect { case (_, (Some(f), _)) => f } ++
      (if (anyUnscoped) dfb.map(_._1) else Nil)).distinct
    val liveByField = touched.map(f =>
      f -> InvertedIndex.openLive(spark, fieldDir(root, f))).toMap
    val boostOf = dfb.toMap
    // clause → legs, analyzed + deduped per role; a (field, term) leg
    // on both sides of the sign is unsatisfiable or dead — refuse
    def analyzed(t: String): String =
      liveByField(touched.head).analyzeTerm(t)
    val legRows: Seq[(Int, String, String, String, Double)] =
      clauses.zipWithIndex.flatMap { case ((role, (fOpt, t)), i) =>
        val at = analyzed(t)
        val legs = fOpt.map(Seq(_)).getOrElse(dfb.map(_._1))
        legs.map(f => (i, role.toString, f, at,
          boostOf.getOrElse(f, 1.0)))
      }.distinct
    val posLegs = legRows.filter(_._2 != "-").map(r => (r._3, r._4)).toSet
    val negLegs = legRows.filter(_._2 == "-").map(r => (r._3, r._4)).toSet
    require(posLegs.intersect(negLegs).isEmpty,
      s"legs ${posLegs.intersect(negLegs)} appear both positively " +
        "and under must_not — the query is unsatisfiable or the " +
        "negation is dead; restate it")
    val nMust = clauses.count(_._1 == '+')
    val msm = if (nMust == 0) 1 else 0
    import spark.implicits._
    val legsDf = broadcast(legRows
      .toDF("_cid", "_role", "_field", "term", "_boost"))
    val contribs = touched.map { f =>
      val terms = legRows.filter(_._3 == f).map(_._4).distinct
      InvertedIndex.rawTermContribs(spark, liveByField(f), terms, k1, b)
        .withColumn("_field", lit(f))
    }.reduce(_ unionByName _)
    val perClause = contribs.join(legsDf, Seq("_field", "term"))
      .groupBy(col("id"), col("_cid"), col("_role"))
      .agg(max(col("_s") * col("_boost")).as("_v")) // dis_max legs
    perClause.groupBy(col("id").as(idColName))
      .agg(
        sum(when(col("_role") === "+", 1).otherwise(0)).as("_must"),
        sum(when(col("_role") === " ", 1).otherwise(0)).as("_should"),
        max(when(col("_role") === "-", 1).otherwise(0)).as("_not"),
        round(sum(when(col("_role") =!= "-", col("_v"))
          .otherwise(lit(0.0))), 6).as("score"))
      .filter(col("_must") === nMust.toLong &&
        col("_should") >= msm.toLong && col("_not") === 0)
      .select(col(idColName), col("score"))
      .orderBy(col("score").desc, col(idColName))
      .limit(k)
  }

  /** One field's per-doc RAW match score over its live postings:
    * (id, _fs double) — the per-doc sum of
    * [[InvertedIndex.rawTermContribs]] without the 6-dp rounding (which
    * belongs to the FINAL combined score here, exactly like the scan
    * path's single `round(_score, 6)`).
    */
  private def rawFieldScores(spark: SparkSession,
                             live: InvertedIndex.LiveIndex, query: String,
                             requireAll: Boolean, k1: Double,
                             b: Double): DataFrame = {
    val terms = graft.functions.TextAnalysis.tokensOf(query)
      .map(live.analyzeTerm).distinct
    if (terms.isEmpty)
      // a query that analyzes to zero terms matches nothing (ES's
      // empty-match) — typed empty frame, id type from the recorded
      // postings schema
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(live.idType,
          org.apache.spark.sql.types.StructField("_fs",
            org.apache.spark.sql.types.DoubleType))))
    val scored = InvertedIndex.rawTermContribs(spark, live, terms, k1, b)
      .groupBy("id")
      .agg(sum(col("_s")).as("_fs"), count(lit(1)).as("_hits"))
    (if (requireAll) scored.filter(col("_hits") === terms.size.toLong)
     else scored).drop("_hits")
  }
}
