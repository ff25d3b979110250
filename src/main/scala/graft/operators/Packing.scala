package graft.operators

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequence packing for LLM training pipelines: assign documents, in a
  * deterministic global order, to fixed token-budget bins ("which
  * context window does this document land in?").
  *
  * Semantics: documents are laid out in `idCol` order; a document's bin
  * is `floor(tokens_before_it / budget)` — the streaming layout where
  * bin capacity is `budget` and a document that straddles a boundary
  * counts toward the bin it starts in. This is the PARALLEL packing
  * discipline: unlike greedy first-fit (inherently sequential — each
  * decision depends on every earlier bin's fill), the prefix-sum layout
  * is a pure function of the running total, so it distributes.
  *
  * Scale shape — the naive Spark spelling
  * `sum(tokens).over(Window.orderBy(id))` moves the ENTIRE dataset into
  * one partition (an unpartitioned window is a single-task sort): fatal
  * at 100 TB. This implementation is the classic two-phase distributed
  * prefix sum instead:
  *   1. range-partition + sort by id (one shuffle, the same one any
  *      global ordering costs), then one cheap pass computing each
  *      partition's token TOTAL (k values to the driver, k = #partitions);
  *   2. broadcast the k partial-sum offsets and stream each partition
  *      once more, adding its offset to a local running sum.
  * Every partition works independently in both passes; driver state is
  * O(partitions), not O(rows). The result is byte-identical to the
  * single-partition window (prefix sums are associative), which is what
  * the DuckDB oracle recomputes.
  */
object Packing {

  /** (idCol, n_tokens, cum_before, bin) for every row of `df`, where
    * `cum_before` is the sum of `tokenCol` over all rows with smaller
    * `idCol` and `bin = cum_before / budget` (integer division).
    * `idCol` must be unique (it defines the layout order).
    */
  def packByBudget(df: DataFrame, idCol: String, tokenCol: String,
                   budget: Long, partitions: Int = 0): DataFrame =
    packImpl(df, idCol, tokenCol, carry = Seq.empty, budget, partitions,
      requirePositiveTokens = false)
      .select(col("_pk_id").as(idCol), col("n_tokens"),
        col("cum_before"), col("bin"))

  /** The shared two-phase prefix-sum pass: range-partition + sort by
    * the (long-cast) id, per-partition token totals to the driver
    * (O(partitions) state), offsets broadcast back, one streaming
    * numbering pass. `carry` columns RIDE the range shuffle so
    * downstream consumers need no second corpus join. Output columns:
    * (_pk_id, n_tokens, carry..., cum_before, bin).
    *
    * `requirePositiveTokens` turns pass 1 into a loud gate: consumers
    * whose per-bin state is budget-bounded ONLY when every row costs
    * ≥ 1 token (the list-aggregating [[packSequences]]) must refuse a
    * zero/negative-token row instead of silently piling unbounded
    * rows into one bin.
    */
  private def packImpl(df: DataFrame, idCol: String, tokenCol: String,
                       carry: Seq[String], budget: Long, partitions: Int,
                       requirePositiveTokens: Boolean): DataFrame = {
    require(budget > 0, "packByBudget: budget must be positive")
    val spark = df.sparkSession
    val nPart =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    val sorted = df
      .select(col(idCol).cast("long").as("_pk_id") +:
        coalesce(col(tokenCol).cast("long"), lit(0L)).as("n_tokens") +:
        carry.map(col): _*)
      .repartitionByRange(nPart, col("_pk_id"))
      .sortWithinPartitions("_pk_id")
      .persist()
    // pass 1: per-partition totals (and min token when gated) —
    // O(partitions) values to the driver
    val totals = sorted.toDF().rdd.mapPartitionsWithIndex { (p, it) =>
      var s = 0L
      var mn = Long.MaxValue
      it.foreach { r =>
        val tk = r.getLong(1); s += tk; if (tk < mn) mn = tk
      }
      Iterator((p, (s, mn)))
    }.collect().toMap
    if (requirePositiveTokens) {
      val bad = totals.values.map(_._2).foldLeft(Long.MaxValue)(_ min _)
      require(bad == Long.MaxValue || bad >= 1L,
        s"packSequences: a row has $bad tokens — per-bin state is " +
          "budget-bounded only when every row costs >= 1 token; filter " +
          "empty documents first")
    }
    // offsets(p) = tokens in all partitions before p (range partitioning
    // makes partition order = id order)
    val offsets = new Array[Long](nPart + 1)
    var p = 0
    while (p < nPart) {
      offsets(p + 1) = offsets(p) + totals.get(p).map(_._1).getOrElse(0L)
      p += 1
    }
    val bc = spark.sparkContext.broadcast(offsets)
    val outSchema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("cum_before",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("bin",
          org.apache.spark.sql.types.LongType, nullable = false)))
    val out = sorted.mapPartitions { it =>
      var cum = bc.value(TaskContext.getPartitionId())
      it.map { r =>
        val before = cum
        cum += r.getLong(1)
        org.apache.spark.sql.Row.fromSeq(
          r.toSeq ++ Seq(before, before / budget))
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    Dedup.releaseAfter(out.persist(), Seq(sorted))
  }

  /** Materialize the packed TRAINING SEQUENCES [[packByBudget]] lays
    * out — the artifact a dataloader actually reads: one row per bin
    * with the member docs in layout order — (bin, n_docs,
    * total_tokens, doc_ids, packed_text), where `packed_text` joins
    * the member texts with `sep` (the document-boundary marker a
    * tokenizer inserts, "\n<|doc|>\n" by default).
    *
    * The per-bin list aggregation is SAFE here by construction: a bin
    * holds at most `budget` tokens plus one straddling document, so
    * per-group state is budget-bounded, not corpus-bounded — and the
    * precondition that makes it true (every document costs ≥ 1 token)
    * is ENFORCED loudly in the prefix-sum's pass 1, not assumed.
    * Exactly one extra shuffle beyond packByBudget's range shuffle:
    * the text RIDES the prefix-sum pass as a carry column (no second
    * corpus join), then regroups once on the bin id.
    */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
                    textCol: String, budget: Long,
                    sep: String = "\n<|doc|>\n"): DataFrame = {
    // NULL text coalesces to "" here: array_join SKIPS null elements,
    // so a tokens>=1/null-text doc would otherwise appear in doc_ids
    // while contributing neither a segment nor a separator — silently
    // misaligning doc_ids with separator-split segments. An empty
    // segment keeps the alignment invariant.
    val packed = packImpl(
      docs.select(col(idCol), col(tokenCol),
        coalesce(col(textCol), lit("")).as("_pk_text")),
      idCol, tokenCol, carry = Seq("_pk_text"), budget, partitions = 0,
      requirePositiveTokens = true)
    packed
      .groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("total_tokens"),
        array_sort(collect_list(struct(col("_pk_id").as("_i"),
          col("_pk_text").as("_t")))).as("_m"))
      .select(col("bin"), col("n_docs"), col("total_tokens"),
        transform(col("_m"), m => m.getField("_i")).as("doc_ids"),
        array_join(transform(col("_m"), m => m.getField("_t")), sep)
          .as("packed_text"))
  }

  /** Per-bin packing summary: how many documents and tokens landed in
    * each budget window, and the fill ratio. The waste diagnostic for
    * choosing a budget (fill << 1 means the corpus has documents larger
    * than the window).
    */
  /** Length-bucketed BATCH assignment — the group_by_length training
    * recipe: rows order by token length desc (ties by id) through the
    * distributed prefix-sum ordinal ([[Sampling.ordinalByKey]] —
    * never a one-partition window), and every `batchSize` consecutive
    * rows share a `batch_id`, so each batch pads to a near-uniform
    * max length instead of the corpus max. Null lengths drop (they
    * cannot batch). [[batchPaddingStats]] reports the waste.
    */
  def lengthBucketedBatches(df: DataFrame, idCol: String,
                            lenCol: String, batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    Sampling.ordinalByKey(df.filter(col(lenCol).isNotNull), idCol,
        struct((-col(lenCol).cast("long")).as("_nl"),
          col(idCol).as("_i")))
      .withColumn("batch_id", (col("ordinal") / batchSize).cast("long"))
      .drop("ordinal")
  }

  /** Per-batch padding accounting for [[lengthBucketedBatches]]:
    * rows, max/sum token length, and the padding fraction
    * (rows·max − sum) / (rows·max) a fixed-shape batch wastes. The
    * corpus-order baseline comparison is the caller's one-liner.
    */
  def batchPaddingStats(batched: DataFrame, lenCol: String): DataFrame =
    batched.groupBy("batch_id")
      .agg(count(lit(1)).cast("long").as("rows"),
        max(col(lenCol).cast("long")).as("max_len"),
        sum(col(lenCol).cast("long")).as("sum_len"))
      .withColumn("padding_frac",
        (col("rows") * col("max_len") - col("sum_len")).cast("double") /
          (col("rows") * col("max_len")))
      .orderBy("batch_id")

  def binStats(packed: DataFrame, budget: Long): DataFrame =
    packed.groupBy("bin")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum("n_tokens").cast("long").as("total_tokens"))
      .withColumn("fill",
        least(col("total_tokens").cast("double") / budget, lit(1.0)))
}
