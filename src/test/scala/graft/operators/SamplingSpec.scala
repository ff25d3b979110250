package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ids = spark.range(1000).toDF("id")
    .withColumn("src", concat(lit("s"), pmod(col("id"), lit(4)).cast("string")))

  test("deterministicSample: exact n, repeatable, seed-sensitive") {
    val a = Sampling.deterministicSample(ids, "id", 100, 42)
      .select("id").collect().map(_.getLong(0)).toSet
    val b = Sampling.deterministicSample(ids, "id", 100, 42)
      .select("id").collect().map(_.getLong(0)).toSet
    val c = Sampling.deterministicSample(ids, "id", 100, 43)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(a.size == 100)
    assert(a == b)
    assert(a != c)
  }

  test("deterministicSample pins the md5 key format (seed:id)") {
    val manual = ids
      .withColumn("k", md5(concat(lit("42:"), col("id").cast("string"))))
      .orderBy("k").limit(10).select("id").collect().map(_.getLong(0)).toSeq
    val got = Sampling.deterministicSample(ids, "id", 10, 42)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(got == manual)
  }

  test("stratifiedSample: exact quota per stratum; small strata kept whole") {
    val counts = Sampling.stratifiedSample(ids, "id", "src", 25, 7)
      .groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.size == 4)
    assert(counts.values.forall(_ == 25L))
    val tiny = ids.filter(col("id") < 3)
    assert(Sampling.stratifiedSample(tiny, "id", "src", 10, 7).count() == 3)
  }

  test("stratified picks differ across strata (not the same rank cut)") {
    val out = Sampling.stratifiedSample(ids, "id", "src", 25, 7)
      .select("id").collect().map(_.getLong(0) % 4).toSet
    assert(out.size == 4)
  }

  test("weightedMix: only mapped sources above default, nested thresholds") {
    val half = Sampling.weightedMix(ids, "id", "src",
      Map("s0" -> 0.5), seed = 11, defaultFraction = 0.0)
    assert(half.select("src").distinct()
      .collect().map(_.getString(0)).toSeq == Seq("s0"))
    val n = half.count()
    assert(n > 80 && n < 170, s"expected ~125 of 250, got $n")
    val full = Sampling.weightedMix(ids, "id", "src",
      Map("s0" -> 1.0), seed = 11, defaultFraction = 0.0)
    assert(full.count() == 250)
    // same seed => thresholds nest: the 0.5 subset is inside the 1.0 set
    val h = half.select("id").collect().map(_.getLong(0)).toSet
    val f = full.select("id").collect().map(_.getLong(0)).toSet
    assert(h.subsetOf(f))
  }

  test("tokenBudgetMix equals the per-source window; boundary doc kept; " +
    "zero budget drops the source") {
    val docs = ids.withColumn("n_tok", pmod(col("id") * 7, lit(50)) + 1)
    val budgets = Map("s0" -> 300L, "s1" -> 0L, "s2" -> 1000000L)
    val got = Sampling.tokenBudgetMix(docs, "id", "src", "n_tok",
      budgets, seed = 5, defaultBudget = 40L)
    // reference: the single-partition window spelling
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("src")
      .orderBy(Sampling.hashKey(col("id"), 5))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ref = docs
      .withColumn("cb", coalesce(sum("n_tok").over(w), lit(0L)))
      .filter(col("cb") < when(col("src") === "s0", 300L)
        .when(col("src") === "s1", 0L)
        .when(col("src") === "s2", 1000000L).otherwise(40L))
    val gotIds = got.select("id").collect().map(_.getLong(0)).toSet
    assert(gotIds == ref.select("id").collect().map(_.getLong(0)).toSet)
    // zero budget: no s1 rows; huge budget: ALL s2 rows survive
    val bySrc = got.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!bySrc.contains("s1") && bySrc("s2") == 250L)
    // budget is a target: the doc CROSSING it is kept, so kept tokens
    // reach >= budget (strictly more unless the cut is exact)
    val s0tok = got.filter(col("src") === "s0")
      .agg(sum("n_tok")).collect()(0).getLong(0)
    assert(s0tok >= 300L && s0tok < 300L + 50L)
    // all original columns intact + repeatable
    assert(got.columns.toSeq == docs.columns.toSeq)
    assert(Sampling.tokenBudgetMix(docs, "id", "src", "n_tok", budgets,
      seed = 5, defaultBudget = 40L)
      .select("id").collect().map(_.getLong(0)).toSet == gotIds)
  }

  test("epochMix: integer weights are exact copies, fractional epochs " +
    "draw independently, zero drops") {
    val got = Sampling.epochMix(ids, "id", "src",
      Map("s0" -> 2.0, "s1" -> 0.5, "s2" -> 1.4), seed = 3)
    val bySrcEpoch = got.groupBy("src", "epoch").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // s0: exactly 2 full epochs (0 and 1), no partial epoch 2
    assert(bySrcEpoch((("s0"), 0L)) == 250L)
    assert(bySrcEpoch(("s0", 1L)) == 250L)
    assert(!bySrcEpoch.contains(("s0", 2L)))
    // s1: only a partial epoch 0, ~half kept
    assert(!bySrcEpoch.contains(("s1", 1L)))
    val p = bySrcEpoch(("s1", 0L))
    assert(p > 85L && p < 165L, s"0.5 partial kept $p of 250")
    // s2: full epoch 0 + ~0.4 partial epoch 1
    assert(bySrcEpoch(("s2", 0L)) == 250L)
    val q = bySrcEpoch(("s2", 1L))
    assert(q > 60L && q < 140L, s"0.4 partial kept $q of 250")
    // s3 absent from the map: dropped entirely
    assert(!bySrcEpoch.keys.exists(_._1 == "s3"))
    // partial draws are per-(id, epoch): s2's epoch-1 subset is NOT
    // the prefix rule of s1's epoch-0 subset under another seed shape
    val again = Sampling.epochMix(ids, "id", "src",
      Map("s0" -> 2.0, "s1" -> 0.5, "s2" -> 1.4), seed = 3)
    assert(again.collect().length == got.collect().length)
  }

  test("temperatureFractions: smallest source keeps maxKeep, fractions " +
    "shrink with size, tau=1 keeps everything") {
    // 600/300/100 split
    val df = spark.range(1000).toDF("id").withColumn("src",
      when(pmod(col("id"), lit(10)) < 6, "g0")
        .when(pmod(col("id"), lit(10)) < 9, "g1").otherwise("g2"))
    val f = Sampling.temperatureFractions(df, "src", tau = 0.3)
    assert(f("g2") == 1.0)
    assert(f("g1") > f("g0") && f("g0") > 0)
    // hand arithmetic mirrors the op exactly: raw ratio of the two
    // pow results (NOT pow of the ratio — different double), 6dp
    val e = 0.3 - 1.0
    val exp = math.floor(
      math.pow(0.6, e) / math.pow(0.1, e) * 1e6 + 0.5) / 1e6
    assert(f("g0") == exp)
    assert(Sampling.temperatureFractions(df, "src", tau = 1.0)
      .values.forall(_ == 1.0))
    // the mix realizes the fractions approximately
    val kept = Sampling.temperatureMix(df, "id", "src", 0.3, seed = 2)
      .groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("g2") == 100L)  // keep-all of the smallest source
    assert(math.abs(kept("g0") - 600 * f("g0")) < 60)
    assert(math.abs(kept("g1") - 300 * f("g1")) < 45)
    // null sources neither anchor the normalization nor survive the
    // mix (they fall to weightedMix's default 0)
    val withNull = df.withColumn("src",
      when(col("id") < 50, lit(null).cast("string")).otherwise(col("src")))
    val f2 = Sampling.temperatureFractions(withNull, "src", tau = 0.3)
    assert(!f2.contains(null) && f2.values.max == 1.0)
    assert(Sampling.temperatureMix(withNull, "id", "src", 0.3, seed = 2)
      .filter(col("src").isNull).count() == 0)
    // empty input: empty fractions, empty mix, no crash
    val empty = df.filter(col("id") < 0)
    assert(Sampling.temperatureFractions(empty, "src", tau = 0.3).isEmpty)
    assert(Sampling.temperatureMix(empty, "id", "src", 0.3, seed = 2)
      .count() == 0)
  }

  test("hashFrac is uniform-ish over [0,1)") {
    val m = ids.select(avg(Sampling.hashFrac(col("id"), 5)).as("m"))
      .head().getDouble(0)
    assert(m > 0.45 && m < 0.55, s"mean hashFrac $m far from 0.5")
  }

  test("deterministicShuffle: a contiguous permutation matching the key order") {
    val df = spark.range(1000).select(col("id").as("k"),
      (col("id") * 3).as("payload"))
    val out = Sampling.deterministicShuffle(df, "k", seed = 5)
    // every row kept, ordinals are exactly 0..n-1
    assert(out.count() == 1000)
    assert(out.agg(min("ordinal"), max("ordinal"),
      countDistinct("ordinal")).collect()(0).toSeq == Seq(0L, 999L, 1000L))
    // ordinal order == md5 key order (the single-partition reference)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(Sampling.hashKey(col("k"), 5))
    val ref = df.withColumn("ref", row_number().over(w).cast("long") - 1)
    val diff = out.join(ref.select("k", "ref"), Seq("k"))
      .filter(col("ordinal") =!= col("ref"))
    assert(diff.count() == 0)
    // payload columns ride along
    assert(out.filter(col("payload") =!= col("k") * 3).count() == 0)
  }

  test("deterministicShuffle carries non-long id types natively") {
    import spark.implicits._
    // string keys: the old long-cast join would null every key and
    // silently drop all rows
    val df = Seq("alpha", "beta", "gamma", "delta", "epsilon")
      .toDF("name").withColumn("payload", length(col("name")))
    val out = Sampling.deterministicShuffle(df, "name", seed = 9)
    assert(out.count() == 5)
    assert(out.agg(countDistinct("ordinal"), min("ordinal"), max("ordinal"))
      .collect()(0).toSeq == Seq(5L, 0L, 4L))
    // id values survive untouched in their native type
    assert(out.select("name").as[String].collect().sorted.toSeq
      == Seq("alpha", "beta", "delta", "epsilon", "gamma"))
  }

  test("groupSplit is group-atomic, total, and ratio-plausible") {
    import spark.implicits._
    // 200 groups of 5 rows each
    val df = (0L until 1000L).map(i => (i, s"g${i / 5}")).toDF("id", "grp")
    val out = Sampling.groupSplit(df, "grp",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 3)
    // every row assigned, exactly one split per group
    assert(out.filter(col("split").isNull).count() == 0)
    val perGroup = out.groupBy("grp")
      .agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(perGroup == 0, "a group was torn across splits")
    // ratios in the right neighborhood (200 groups, binomial noise)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > 650 && counts("train") < 950, counts.toString)
    assert(counts.getOrElse("val", 0L) + counts.getOrElse("test", 0L) ==
      1000 - counts("train"))
    // deterministic: same seed => identical assignment
    val again = Sampling.groupSplit(df, "grp",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 3)
    assert(out.except(again).count() == 0 && again.except(out).count() == 0)
  }

  test("exportShards: complete shards, consistent manifest," +
    " reproducible order") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-shards")
      .toString
    val df = (0L until 257L).map(i => (i, s"payload-$i")).toDF("id", "txt")
    val manifest = Sampling.exportShards(df, "id", rowsPerShard = 50,
      seed = 5, dir)
    val m = manifest.orderBy("shard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // 257 rows at 50/shard -> shards 0..5, last has 7 rows; ordinals
    // within a shard are exactly its contiguous range
    assert(m.map(_._1).toSeq === (0L to 5L))
    assert(m.map(_._2).toSeq === Seq(50L, 50L, 50L, 50L, 50L, 7L))
    m.foreach { case (s, rows, lo, hi) =>
      assert(lo == s * 50 && hi == lo + rows - 1, s"shard $s")
    }
    // the data round-trips completely and the permutation is the
    // portable md5 order
    val back = spark.read.parquet(s"$dir/data")
    assert(back.count() == 257)
    assert(back.select("id").distinct().count() == 257)
    val viaShuffle = Sampling.deterministicShuffle(df, "id", seed = 5)
      .select("id", "ordinal").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    back.select("id", "ordinal").collect().foreach { r =>
      assert(viaShuffle(r.getLong(0)) == r.getLong(1))
    }
    // re-export of a SMALLER dataset over the same dir: no stale
    // shards from the first export may survive, and the manifest must
    // describe exactly the new data
    val small = (0L until 60L).map(i => (i, s"p$i")).toDF("id", "txt")
    val m2 = Sampling.exportShards(small, "id", rowsPerShard = 50,
      seed = 5, dir)
    assert(m2.orderBy("shard").collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSeq === Seq((0L, 50L), (1L, 10L)))
    assert(spark.read.parquet(s"$dir/data").count() == 60)
  }

  test("exportShardsOrdered follows (score, id) order exactly") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cur")
      .toString
    // scores with ties: ids 0..99, score = id % 10 -> order is
    // (score, id): 0,10,20,...,90,1,11,21,...
    val df = (0L until 100L).map(i => (i, i % 10)).toDF("id", "score")
    Sampling.exportShardsOrdered(df, "id", "score", rowsPerShard = 25,
      dir)
    val back = spark.read.parquet(s"$dir/data")
      .select("id", "ordinal", "shard")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2)))
      .toMap
    val expected = (0L until 100L).sortBy(i => (i % 10, i)).zipWithIndex
    expected.foreach { case (id, ord) =>
      assert(back(id) == (ord.toLong, ord / 25),
        s"id $id: got ${back(id)}, want ($ord, ${ord / 25})")
    }
  }

  test("an empty export refuses loudly and leaves the previous " +
    "manifest intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-empty")
      .toString
    val df = (0L until 40L).map(i => (i, s"d$i")).toDF("id", "payload")
    Sampling.exportShards(df, "id", rowsPerShard = 10, seed = 3, dir)
    val before = spark.read.parquet(s"$dir/manifest")
      .orderBy("shard").collect().toSeq
    val ex = intercept[IllegalArgumentException] {
      Sampling.exportShards(df.filter(lit(false)), "id",
        rowsPerShard = 10, seed = 3, dir)
    }
    assert(ex.getMessage.contains("empty"))
    assert(spark.read.parquet(s"$dir/manifest")
      .orderBy("shard").collect().toSeq == before,
      "the failed empty export disturbed the committed manifest")
  }

  test("the manifest derives from parquet FOOTER stats, not a second " +
    "data pass") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-footer")
      .toString
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = { captured.add(qe.executedPlan.toString); () }
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val df = (0L until 60L).map(i => (i, s"d$i")).toDF("id", "payload")
      Sampling.exportShards(df, "id", rowsPerShard = 20, seed = 5, dir)
      // QueryExecutionListener delivery is async — drain the bus like
      // the other listener-pinned specs
      org.apache.spark.TestJobs.drainListenerBus(spark)
      val pushed = captured.toArray(Array.empty[String]).exists(p =>
        p.contains("PushedAggregation") && p.contains("MIN(ordinal)") &&
          p.contains("MAX(ordinal)") && p.contains("COUNT(*)"))
      assert(pushed,
        "no plan with a pushed-down manifest aggregate observed:\n" +
          captured.toArray(Array.empty[String]).mkString("\n----\n")
            .take(4000))
    } finally spark.listenerManager.unregister(listener)
    // and the manifest is still exactly right
    val m = spark.read.parquet(s"$dir/manifest").orderBy("shard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(m == Seq((0L, 20L, 0L, 19L), (1L, 20L, 20L, 39L),
      (2L, 20L, 40L, 59L)))
  }

  test("preference pairs: best-vs-worst per group, ties to smallest " +
      "id, flat groups drop, minMargin cuts") {
    import spark.implicits._
    val df = Seq(
      ("p1", 1L, 5.0), ("p1", 2L, 9.0), ("p1", 3L, 9.0), ("p1", 4L, 1.0),
      ("p2", 5L, 3.0), ("p2", 6L, 3.0),          // flat — drops
      ("p3", 7L, 2.0), ("p3", 8L, 2.5),          // margin 0.5
      (null.asInstanceOf[String], 9L, 7.0)        // null group drops
    ).toDF("grp", "id", "score")
    val out = Sampling.preferencePairs(df, "grp", "id", "score")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // p1: chosen = id 2 (9.0 tie → smallest id), rejected = id 4
    assert(out == Seq(("p1", 2L, 4L, 8.0), ("p3", 8L, 7L, 0.5)))
    // minMargin cuts the small-margin group
    assert(Sampling.preferencePairs(df, "grp", "id", "score",
      minMargin = 1.0).collect().map(_.getString(0)).toSeq == Seq("p1"))
    intercept[IllegalArgumentException](
      Sampling.preferencePairs(df, "grp", "id", "score",
        minMargin = -1))
  }
}
