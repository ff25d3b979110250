package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling for training-data pipelines.
  *
  * The facade's `sample` (eland's seeded `function_score.random_score`,
  * eland/filter.py:193-202) orders by xxhash64, which no other engine
  * reproduces — so its gate is rows-only. These operators derive the
  * per-row randomness from md5 instead: md5 is bit-identical in every
  * engine (Spark, DuckDB, Postgres, …), which makes every sampling
  * decision *reproducible outside Spark* — the property a data-curation
  * pipeline needs for audits ("why is this row in the training set?")
  * and for cross-engine verification. The driver's DuckDB oracle
  * replays the identical decision.
  *
  * Scale shapes:
  *  - [[deterministicSample]]: per-partition top-n + driver merge
  *    (TakeOrderedAndProject) — no global sort, no shuffle of the data.
  *  - [[stratifiedSample]]: one shuffle on the stratum key; each
  *    stratum sorts locally. A pathological hot stratum inherits the
  *    usual window-skew remedies (AQE, or pre-filtering with
  *    [[weightedMix]] to cut the stratum down first).
  *  - [[weightedMix]]: pure per-row filter — zero shuffle, the shape
  *    you want for reweighting sources in a 100 TB corpus.
  */
object Sampling {

  /** Portable per-row hash key: md5("<seed>:<id>"). Lexicographic order
    * on the hex string is uniform over rows and identical across
    * engines.
    */
  def hashKey(id: Column, seed: Long): Column =
    md5(concat(lit(seed.toString), lit(":"), id.cast("string")))

  /** Portable per-row uniform draw in [0,1): the first 8 hex chars of
    * [[hashKey]] as a 32-bit integer over 2^32. DuckDB replays it as
    * `('0x' || substr(md5(s),1,8))::BIGINT / 4294967296.0`.
    */
  def hashFrac(id: Column, seed: Long): Column =
    conv(substring(hashKey(id, seed), 1, 8), 16, 10).cast("long") /
      lit(4294967296.0)

  /** Deterministic seeded exact-n sample: the n rows with the smallest
    * portable hash keys. Equivalent to a seeded uniform sample without
    * replacement, but replayable row-for-row by any engine with md5.
    * Plan shape: TakeOrderedAndProject (per-partition top-n, driver
    * merge of n*partitions keys) — never a global sort.
    */
  def deterministicSample(df: DataFrame, idCol: String, n: Int,
                          seed: Long): DataFrame =
    df.orderBy(hashKey(col(idCol), seed)).limit(n)

  /** Deterministic global shuffle: a reproducible random permutation
    * of the whole dataset (training-data ordering), keyed by the same
    * portable md5 draw as [[deterministicSample]] — re-runs, other
    * engines, and auditors all reproduce the exact order. Emits a
    * contiguous 0-based `ordinal` column. `idCol` must be unique and
    * NON-NULL: the ordinal join is an inner equi-join on the id, so a
    * null id has no join partner and its row would silently vanish
    * (nulls never compare equal) — filter or synthesize ids first.
    * The id is carried through in its NATIVE type (string/int/decimal
    * keys all work; no lossy casts anywhere).
    *
    * Scale shape: the naive `row_number().over(Window.orderBy(key))`
    * is a single-partition sort — fatal at scale (the same trap
    * [[graft.operators.Packing]] documents). This uses the two-phase
    * distributed prefix sum instead: range-partition + sort on the
    * 16-byte keys (the one shuffle any global permutation costs),
    * per-partition COUNTS to the driver (O(partitions) state),
    * offsets broadcast back, each partition numbers locally; ordinals
    * then hash-join back onto the full rows by id.
    */
  def deterministicShuffle(df: DataFrame, idCol: String,
                           seed: Long): DataFrame =
    ordinalByKey(df, idCol, hashKey(col(idCol), seed))

  /** The two-phase distributed prefix sum behind
    * [[deterministicShuffle]] and the ordered shard exports: assign a
    * contiguous 0-based `ordinal` following ANY total order expressed
    * as a sortable key column (compose ties into the key — e.g.
    * `struct(score, id)` — ordinals are assigned by the key alone).
    */
  private[operators] def ordinalByKey(df: DataFrame, idCol: String,
                                      key: Column): DataFrame = {
    val spark = df.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions
    val idField = df.schema(idCol)
    val keyed = df
      .select(key.as("_k"), col(idCol).as("_id"))
      .repartitionByRange(nPart, col("_k"))
      .sortWithinPartitions("_k")
      .persist()
    val counts = keyed.toDF().rdd.mapPartitionsWithIndex { (p, it) =>
      Iterator((p, it.size.toLong))
    }.collect().toMap
    val offsets = new Array[Long](nPart + 1)
    var p = 0
    while (p < nPart) {
      offsets(p + 1) = offsets(p) + counts.getOrElse(p, 0L)
      p += 1
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id", idField.dataType,
        idField.nullable),
      org.apache.spark.sql.types.StructField("ordinal",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val ordinals = keyed.mapPartitions { it =>
      var o = bc.value(org.apache.spark.TaskContext.getPartitionId())
      it.map { r =>
        val out = org.apache.spark.sql.Row(r.get(1), o); o += 1; out
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    val out = df.join(ordinals, col(idCol) === col("_id"))
      .drop("_id")
    Dedup.releaseAfter(out.persist(), Seq(keyed))
  }

  /** Exact n-per-stratum sample: within each stratum, keep the
    * `nPerStratum` smallest hash keys. The training-data "balanced
    * subset" primitive (cap each source/language/label at a quota).
    * One shuffle on the stratum column.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       nPerStratum: Int, seed: Long): DataFrame = {
    val w = Window.partitionBy(col(strataCol))
      .orderBy(hashKey(col(idCol), seed))
    df.withColumn("_sr", row_number().over(w))
      .filter(col("_sr") <= nPerStratum)
      .drop("_sr")
  }

  /** Weighted source mixing: keep a row of source s with probability
    * `fractions(s)` (sources absent from the map default to
    * `defaultFraction`). The decision is a pure per-row threshold test
    * on [[hashFrac]] — zero shuffle, linear scan, exactly the shape a
    * corpus-reweighting pass over 100 TB needs. Deterministic given
    * (id, seed), so re-runs and downstream audits see the same subset.
    */
  def weightedMix(df: DataFrame, idCol: String, sourceCol: String,
                  fractions: Map[String, Double], seed: Long,
                  defaultFraction: Double = 0.0): DataFrame = {
    val frac = fractions.toSeq.sortBy(_._1).foldLeft(lit(defaultFraction)) {
      case (els, (s, f)) => when(col(sourceCol) === s, lit(f)).otherwise(els)
    }
    df.filter(hashFrac(col(idCol), seed) < frac)
  }

  /** Temperature-scaled source keep-fractions — the T5/mT5
    * alpha-sampling recipe (Raffel et al. JMLR'20 §3.4.3, Xue et al.
    * NAACL'21): sampling share q_s ∝ p_s^tau flattens the source
    * distribution (tau < 1 upweights small sources, tau = 1 is
    * proportional, tau = 0 uniform). Realized as per-row KEEP
    * fractions f_s = maxKeep · p_s^(tau-1) / max_t p_t^(tau-1), so
    * the smallest source keeps `maxKeep` of its rows and larger
    * sources are down-sampled toward the tempered share. Fractions
    * are 6-dp floor-half-up rounded (the decay-gate discipline: libm
    * pow drift cannot leak into the keep decision) and computed from
    * ONE O(sources) count aggregate — driver state is the source
    * list, never rows.
    */
  def temperatureFractions(df: DataFrame, sourceCol: String,
                           tau: Double, maxKeep: Double = 1.0)
      : Map[String, Double] = {
    require(tau >= 0 && tau <= 1, "temperatureFractions: tau in [0,1]")
    require(maxKeep > 0 && maxKeep <= 1,
      "temperatureFractions: maxKeep in (0,1]")
    // null sources are EXCLUDED from the recipe: they'd anchor the
    // max-normalization (a small null group would silently under-keep
    // every real source) yet weightedMix's equality test can never
    // match them anyway — they fall to its defaultFraction (0)
    val counts = df.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).cast("string").as("_s"))
      .count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    if (counts.isEmpty) return Map.empty
    val total = counts.values.sum
    val raw = counts.map { case (s, n) =>
      s -> math.pow(n / total, tau - 1.0)
    }
    val mx = raw.values.max
    raw.map { case (s, v) =>
      s -> math.floor(v / mx * maxKeep * 1e6 + 0.5) / 1e6
    }
  }

  /** [[weightedMix]] with [[temperatureFractions]] — one tiny count
    * aggregate, then the same zero-shuffle per-row threshold scan.
    */
  def temperatureMix(df: DataFrame, idCol: String, sourceCol: String,
                     tau: Double, seed: Long,
                     maxKeep: Double = 1.0): DataFrame =
    weightedMix(df, idCol, sourceCol,
      temperatureFractions(df, sourceCol, tau, maxKeep), seed)

  /** Epoch-weighted mixing with UPSAMPLING — mixture weights above 1
    * mean repetition, the way over-sampled sources are actually
    * specified ("2.5 epochs of wiki, 0.3 of web"): every row of
    * source s is emitted floor(w_s) times in full, plus one PARTIAL
    * epoch kept with probability frac(w_s) by an independent portable
    * per-(id, epoch) draw — so an integer weight is exactly that many
    * copies, 0 drops the source, and expectation is w_s everywhere.
    * The output carries a 0-based `epoch` column so downstream
    * shuffle/packing interleaves copies instead of concatenating
    * them. Deterministic given (id, seed); re-runs and other engines
    * reproduce the exact multiset ([[weightedMix]]'s contract,
    * extended above 1.0).
    *
    * Scale shape: weight-0 rows are cut before the Generate, each
    * surviving row explodes by ceil(ITS OWN weight) epochs, then a
    * per-row threshold test — zero shuffle, generated volume within
    * one partial epoch of the OUTPUT (which is what an upsampler must
    * write anyway).
    */
  def epochMix(df: DataFrame, idCol: String, sourceCol: String,
               weights: Map[String, Double], seed: Long,
               defaultWeight: Double = 0.0): DataFrame = {
    require(weights.values.forall(_ >= 0) && defaultWeight >= 0,
      "epochMix: weights must be non-negative")
    val w = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (els, (s, f)) => when(col(sourceCol) === s, lit(f)).otherwise(els)
    }
    // per-ROW explosion factor (ceil of the row's own weight), not the
    // global max: a dominant 0.3-weight source must not generate (and
    // then filter away) the 5.0-weight source's copies, and weight-0
    // sources are cut before the Generate entirely
    df.withColumn("_w", w)
      .filter(col("_w") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0L), ceil(col("_w")).cast("long") - 1L)))
      .filter(col("epoch") < floor(col("_w")) ||
        (col("epoch") === floor(col("_w")) &&
          hashFrac(concat(col(idCol).cast("string"), lit("#"),
            col("epoch").cast("string")), seed)
            < col("_w") - floor(col("_w"))))
      .drop("_w")
  }

  /** Token-budget source mixing — the mixture recipe stated in TOKENS,
    * the way LLM data recipes are actually written ("300B tokens of
    * web, 50B of code"), not keep-probabilities: for each source,
    * documents are drawn in the deterministic portable-md5 priority
    * order ([[hashKey]]) until the source's token budget is spent. A
    * document is kept iff the tokens of all higher-priority documents
    * of its source total strictly less than the budget — so the first
    * document crossing the budget IS kept (budgets are targets;
    * overshoot is bounded by one document), and a 0 budget drops the
    * source entirely. Sources absent from `budgets` get
    * `defaultBudget`. Re-runs and other engines reproduce the exact
    * subset (the [[deterministicSample]] determinism contract).
    *
    * Scale shape: the naive
    * `sum(tk).over(Window.partitionBy(source).orderBy(key))` moves
    * each source's ENTIRE slice into one task — fatal when one source
    * is half the corpus. This is [[graft.operators.Packing]]'s
    * two-phase distributed prefix sum generalized per source:
    * range-partition + sort by (source, key) — the one shuffle any
    * per-source ordering costs — then per-(partition, source) token
    * totals to the driver (O(partitions × sources) state; recipes
    * have tens of sources), offsets broadcast back, each partition
    * streamed once with a running per-source sum; kept ids hash-join
    * back onto the full rows. `idCol` must be unique and NON-NULL
    * (the [[deterministicShuffle]] join contract). The result is
    * byte-identical to the per-source window, which is what the
    * DuckDB oracle recomputes.
    */
  def tokenBudgetMix(df: DataFrame, idCol: String, sourceCol: String,
                     tokenCol: String, budgets: Map[String, Long],
                     seed: Long, defaultBudget: Long = 0L,
                     partitions: Int = 0): DataFrame = {
    require(budgets.values.forall(_ >= 0L) && defaultBudget >= 0L,
      "tokenBudgetMix: budgets must be non-negative")
    val spark = df.sparkSession
    val nPart =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val idField = df.schema(idCol)
    val keyed = df.select(
        col(sourceCol).cast("string").as("_src"),
        hashKey(col(idCol), seed).as("_k"),
        col(idCol).as("_id"),
        coalesce(col(tokenCol).cast("long"), lit(0L)).as("_tk"))
      .repartitionByRange(nPart, col("_src"), col("_k"))
      .sortWithinPartitions("_src", "_k")
      .persist()
    // pass 1: per-(partition, source) token totals — O(parts × sources)
    val totals = keyed.toDF().rdd.mapPartitionsWithIndex { (p, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      it.foreach { r =>
        val s = r.getString(0)
        m.update(s, m.getOrElse(s, 0L) + r.getLong(3))
      }
      m.iterator.map { case (s, t) => ((p, s), t) }
    }.collect()
    // offsets(p, s) = tokens of source s in all EARLIER partitions —
    // range partitioning on (_src, _k) makes partition order = key
    // order within every source, and prefix sums are associative, so
    // the kept set is independent of where the range bounds fall
    val offsets: Map[(Int, String), Long] = totals.groupBy(_._1._2)
      .iterator.flatMap { case (s, arr) =>
        var cum = 0L
        arr.sortBy(_._1._1).map { case ((p, _), t) =>
          val o = ((p, s), cum); cum += t; o
        }
      }.toMap
    val bcOff = spark.sparkContext.broadcast(offsets)
    val bcBud = spark.sparkContext.broadcast(budgets)
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_id", idField.dataType,
        idField.nullable)))
    val kept = keyed.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var cur: String = null
      var started = false
      var cum = 0L
      it.flatMap { r =>
        val s = r.getString(0)
        if (!started || s != cur) {
          started = true; cur = s
          cum = bcOff.value.getOrElse((pid, s), 0L)
        }
        val before = cum
        cum += r.getLong(3)
        if (before < bcBud.value.getOrElse(s, defaultBudget))
          Some(org.apache.spark.sql.Row(r.get(2)))
        else None
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    val out = df.join(kept, col(idCol) === col("_id"), "left_semi")
    Dedup.releaseAfter(out.persist(), Seq(keyed))
  }

  /** Export the dataset as fixed-size TRAINING SHARDS in a
    * reproducible random order — the webdataset-style layout a
    * training job consumes: `outDir/data/shard=N/` parquet plus a
    * committed `outDir/manifest/` table (shard, rows, min_ordinal,
    * max_ordinal). Rows get the [[deterministicShuffle]] ordinal
    * (portable md5 permutation), shard = ordinal / rowsPerShard;
    * consumers restore the exact global order by reading shards in
    * number order and sorting each by `ordinal` (shard files are
    * shard-complete but internally unordered, like any parquet).
    *
    * Scale shape: the permutation costs deterministicShuffle's one
    * range shuffle + id join; the export adds ONE shard-aligned
    * shuffle so each shard lands contiguously (bounded by
    * rowsPerShard per task, one file per shard instead of
    * tasks × shards fragments). The manifest is computed from the
    * COMMITTED files (read-back, O(shards) rows), so it can never
    * describe data that did not land; it is written last as the
    * export's commit marker — a consumer that requires the manifest
    * cannot see a partial export.
    */
  def exportShards(df: DataFrame, idCol: String, rowsPerShard: Int,
                   seed: Long, outDir: String): DataFrame = {
    // validate BEFORE the prefix sum — ordinalByKey runs an eager
    // shuffle and persists staging state
    require(rowsPerShard > 0, "rowsPerShard must be positive")
    writeShards(deterministicShuffle(df, idCol, seed), rowsPerShard,
      outDir)
  }

  /** Curriculum-ordered shard export: same layout and manifest
    * contract as [[exportShards]], but ordinals follow
    * (`orderCol` asc, id asc) instead of the random permutation — the
    * easy-to-hard training-order recipe (sort by length, quality
    * score, perplexity…). Same cost: the prefix sum's one range
    * shuffle (now on the score key) + the shard-aligned write.
    */
  def exportShardsOrdered(df: DataFrame, idCol: String, orderCol: String,
                          rowsPerShard: Int, outDir: String): DataFrame = {
    require(rowsPerShard > 0, "rowsPerShard must be positive")
    writeShards(
      ordinalByKey(df, idCol, struct(col(orderCol), col(idCol))),
      rowsPerShard, outDir)
  }

  private def writeShards(withOrdinal: DataFrame, rowsPerShard: Int,
                          outDir: String): DataFrame = {
    // rowsPerShard already validated by both public entry points,
    // BEFORE their eager prefix-sum arguments run
    val spark = withOrdinal.sparkSession
    // an empty input would write a data dir with zero part files and
    // then fail the manifest read-back AFTER retracting the previous
    // manifest — refuse loudly while the old export is still intact
    require(!withOrdinal.isEmpty,
      "shard export of an empty dataset — nothing to shard, and the " +
        "previous export (if any) is left untouched")
    // re-export over a previous export: retract the old commit marker
    // BEFORE touching data, so a crash mid-rewrite leaves NO manifest
    // (consumer refuses) instead of the old manifest blessing a
    // partial mix of two exports
    val manifestPath = new org.apache.hadoop.fs.Path(s"$outDir/manifest")
    val fs = manifestPath.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(manifestPath, true)
    // integral `div`, not `/`: Spark's `/` is double division, whose
    // truncation drifts from the integer quotient past 2^53 — `div`
    // matches the oracle's `//` exactly at any ordinal
    val sharded = withOrdinal
      .withColumn("shard",
        expr(s"ordinal div CAST(${rowsPerShard.toLong} AS BIGINT)"))
    sharded.repartition(col("shard"))
      .write.mode("overwrite")
      // static overwrite regardless of session config: dynamic mode
      // would keep stale shard dirs from a previous larger export
      .option("partitionOverwriteMode", "static")
      .partitionBy("shard")
      .parquet(s"$outDir/data")
    // manifest from the COMMITTED files WITHOUT a second pass over
    // the exported data: the per-shard (count, min/max ordinal)
    // aggregate pushes down to parquet FOOTER stats on the DSv2 read
    // path — O(files) footer reads, zero data pages (plan-pinned in
    // SamplingSpec). Still a read-back of what actually landed, so
    // the manifest can never describe data that did not commit; and
    // if pushdown ever declines, the identical aggregate runs over
    // the (shard, ordinal)-pruned rows — slower, never different.
    // Materialized INSIDE the conf window (collect is O(shards)):
    // pushdown is decided at execution, which must see these confs.
    val conf = spark.conf
    val prevAgg = conf.getOption("spark.sql.parquet.aggregatePushdown")
    val prevV1 = conf.getOption("spark.sql.sources.useV1SourceList")
    val manifestRows =
      try {
        conf.set("spark.sql.parquet.aggregatePushdown", "true")
        conf.set("spark.sql.sources.useV1SourceList",
          prevV1.getOrElse("").split(",").map(_.trim).filter(_.nonEmpty)
            .filterNot(_ == "parquet").mkString(","))
        spark.read.parquet(s"$outDir/data")
          .groupBy("shard")
          .agg(count(lit(1)).as("rows"),
            min(col("ordinal")).as("min_ordinal"),
            max(col("ordinal")).as("max_ordinal"))
          .select(col("shard").cast("long"), col("rows"),
            col("min_ordinal"), col("max_ordinal"))
          .collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getLong(3)))
      } finally {
        prevAgg.fold(conf.unset("spark.sql.parquet.aggregatePushdown"))(
          conf.set("spark.sql.parquet.aggregatePushdown", _))
        prevV1.fold(conf.unset("spark.sql.sources.useV1SourceList"))(
          conf.set("spark.sql.sources.useV1SourceList", _))
      }
    // the sharded frame (ordinalByKey's persisted output) has served
    // its two consumers (emptiness gate + data write) — release it
    // here instead of leaving it to LRU eviction (r18)
    withOrdinal.unpersist(false)
    val manifestDf = spark.createDataFrame(manifestRows)
      .toDF("shard", "rows", "min_ordinal", "max_ordinal")
    manifestDf.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/manifest")
    // return the exact rows just committed instead of re-reading the
    // manifest dir (r18: drops a listing + parquet read job per
    // export); they ARE the committed-file read-back — the write
    // above either landed them or threw
    manifestDf
  }

  /** Leakage-safe train/val/test split: the split decision hashes the
    * GROUP key, so every row of a group (a dup-cluster, a domain, a
    * source) lands in the same split — the guard against near-duplicate
    * leakage across train/test that a row-level split cannot give.
    * `splits` are (name, fraction) with fractions summing to 1;
    * assignment is the portable [[hashFrac]] draw against cumulative
    * bounds, so any engine with md5 reproduces the full assignment.
    * Pure per-row expression — zero shuffle at any scale.
    */
  /** RLHF preference-pair construction: per group (a prompt and its
    * candidate responses), pair the BEST-scoring row with the WORST —
    * (group, chosen_id, rejected_id, margin) — the standard
    * reward-model / DPO data-prep shape. One aggregate pass with the
    * native [[graft.plans.ExtremumBy]] idxmax/idxmin (ties → smallest
    * id, deterministic), never a window; groups whose margin is below
    * `minMargin` (ties included — chosen must beat rejected) drop,
    * and null-keyed or null-scored rows are excluded up front.
    */
  def preferencePairs(df: DataFrame, groupCol: String, idCol: String,
                      scoreCol: String,
                      minMargin: Double = 0.0): DataFrame = {
    require(minMargin >= 0.0, s"minMargin must be >= 0, got $minMargin")
    val v = col(scoreCol).cast("double")
    df.filter(col(groupCol).isNotNull && v.isNotNull)
      .groupBy(groupCol)
      .agg(
        graft.plans.ExtremumBy.idxmax(v, col(idCol)).as("chosen_id"),
        graft.plans.ExtremumBy.idxmin(v, col(idCol)).as("rejected_id"),
        (max(v) - min(v)).as("margin"))
      .filter(col("margin") > 0.0 && col("margin") >= minMargin)
      .orderBy(groupCol)
  }

  def groupSplit(df: DataFrame, groupCol: String,
                 splits: Seq[(String, Double)], seed: Long): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "groupSplit: fractions must be non-negative and sum to 1")
    val u = hashFrac(col(groupCol), seed)
    val uppers = splits.init.scanLeft(0.0)(_ + _._2).tail
    val assign = splits.init.zip(uppers)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), ub), els) => when(u < lit(ub), lit(name)).otherwise(els)
      }
    df.withColumn("split", assign)
  }
}
