package perfbench

import scala.collection.mutable

/** Seeded input generator. Every op sequence, corpus tail and ingest
  * batch a run uses comes from here, as a pure function of the seed and
  * of the (read-only) source tables handed in — the program under test
  * only ever sees the generated inputs.
  */
object Gen {

  /** One call into graft: its kind and parameters (values are Int,
    * Long, Double, String or Seqs of those).
    */
  final case class Op(kind: String, params: Map[String, Any])

  /** A document version as a writer hands it to the stores. */
  final case class Doc(id: Long, text: String, title: String,
                       vec: Seq[Float])

  /** An ingest batch: new docs (some of them near-duplicates of live
    * docs), updated versions of live docs, and deleted ids.
    */
  final case class Batch(fresh: Seq[Doc], updates: Seq[Doc],
                         deletes: Seq[Long])

  final case class SearchPlan(base: Seq[Doc], tail: Batch, ops: Seq[Op])

  // ---- frame-analytics ---------------------------------------------

  val frameKinds: Seq[String] = Seq(
    "filter_head", "describe", "aggregate", "groupby", "value_counts",
    "hist", "quantile", "dsl_terms_agg", "dsl_histogram",
    "dsl_auto_date_histogram", "dsl_composite_page", "dsl_matrix_stats",
    "ingest_noop")

  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "error", "purchase", "signup",
    "view")

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  /** `n` rounds of ops; each round holds every kind once, in a fixed
    * order, so that the short runs of different seeds see the same mix
    * of kinds and differ only in the seeded parameters. The equal weight
    * of the kinds is an assumption, not taken from a measured session.
    */
  def rounds(kinds: Seq[String], n: Int): Seq[String] =
    Seq.fill(n)(kinds).flatten

  /** Each kind has `FrameVariants` seeded parameter sets; in round `r`
    * the `k`-th kind uses set `(r + k) % FrameVariants`, so every round
    * mixes cheap and costly sets. Once each set has run, every op finds
    * its generated code compiled: an op then pays the per-call work
    * (facade, DSL, planning, job launch) and the scan, not a fresh JIT
    * warm-up of a new generated class per literal, which made short runs
    * erratic. The cost of compiling code for a new literal, which a
    * session of new queries pays, is therefore not measured. Set `j` draws its selectivity from stratum `j` (a cheap and
    * a costly set per kind), so that seeds differ in what they ask but
    * not in how much work a round holds.
    */
  val FrameVariants = 2

  def frameOps(seed: Long, nRounds: Int): Seq[Op] = {
    val rng = new scala.util.Random(seed)
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def subset[T](xs: Seq[T], k: Int): Seq[T] =
      rng.shuffle(xs).take(k).sorted(Ordering.by[T, String](_.toString))
    def draw(kind: String, j: Int): Op = {
      // uniform in the j-th of FrameVariants equal strata of [0, 1)
      def u() = (j + rng.nextDouble()) / FrameVariants
      val p: Map[String, Any] = kind match {
        case "filter_head" => Map(
          "min_price" -> r2(1000 + u() * 480000),
          "n" -> pick(Seq(5, 10, 20)))
        case "describe" => Map(
          "ship_from" -> s"${1995 + rng.nextInt(6)}-0${1 + rng.nextInt(9)}-01",
          "ship_days" -> (60 + (u() * 300).toInt))
        case "aggregate" => Map("status" -> pick(Seq("F", "O")))
        case "groupby" => Map("max_qty" -> (5 + (u() * 46).toInt))
        case "value_counts" => Map(
          "column" -> Seq("event_type", "user_id")(j),
          "n" -> (5 + rng.nextInt(16)),
          "min_value" -> r2(rng.nextDouble() * 300))
        case "hist" => Map(
          "bins" -> (5 + rng.nextInt(26)),
          "max_discount" -> pick(Seq(Seq(0.02, 0.04), Seq(0.08, 0.1))(j)))
        case "quantile" => Map(
          "flag" -> Seq(pick(Seq("A", "R")), "N")(j),
          "qs" -> subset(Seq(0.05, 0.1, 0.25, 0.5, 0.75, 0.9, 0.95), 3))
        case "dsl_terms_agg" =>
          val lo = 1 + rng.nextInt(36)
          Map("qty_lo" -> lo, "qty_hi" -> (lo + 5 + (u() * 10).toInt),
            "flags" -> Seq(Seq("A", "R"), pick(Seq(Seq("A", "N"), Seq("N", "R"))))(j),
            "size" -> (5 + rng.nextInt(11)))
        case "dsl_histogram" => Map(
          "max_discount" -> Seq(pick(Seq(0.02, 0.05)), 0.08)(j),
          "interval" -> pick(Seq(2500.0, 5000.0, 10000.0)))
        case "dsl_auto_date_histogram" => Map(
          "types" -> subset(eventTypes, 1 + j),
          "buckets" -> (8 + rng.nextInt(60)))
        case "dsl_composite_page" =>
          val after =
            if (j == 0) Seq.empty[String]
            else Seq(pick(priorities), pick(Seq("F", "O", "P")))
          Map("min_price" -> r2(1000 + u() * 300000),
            "size" -> (3 + rng.nextInt(8)), "after" -> after)
        case "dsl_matrix_stats" => Map("status" -> pick(Seq("F", "O")))
        case "ingest_noop" => Map("priority" -> pick(priorities))
      }
      Op(kind, p)
    }
    val variants = frameKinds.map(k =>
      k -> (0 until FrameVariants).map(draw(k, _))).toMap
    (0 until nRounds).flatMap(r => frameKinds.zipWithIndex.map {
      case (k, i) => variants(k)((r + i) % FrameVariants) })
  }

  // ---- shared text helpers -----------------------------------------

  def tokens(text: String): Seq[String] =
    text.toLowerCase(java.util.Locale.ROOT).split("\\s+").toSeq
      .filter(_.nonEmpty)

  def titleOf(text: String): String = tokens(text).take(5).mkString(" ")

  /** Zipf(s) sampler over ranks 0..n-1 by inverse CDF. */
  final class Zipf(n: Int, s: Double, rng: scala.util.Random) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Terms ranked by document frequency (desc, then term). */
  def termsByDf(texts: Iterable[String]): IndexedSeq[String] = {
    val df = mutable.HashMap.empty[String, Int]
    texts.foreach(t => tokens(t).distinct.foreach(w =>
      df(w) = df.getOrElse(w, 0) + 1))
    df.toIndexedSeq.sortBy { case (w, c) => (-c, w) }.map(_._1)
  }

  /** Near-duplicates get ids from here up, above every table id. */
  val NearDupIds = 1000000L

  private def noisy(v: Seq[Float], rng: scala.util.Random,
                    sigma: Double): Seq[Float] =
    v.map(x => (x + rng.nextGaussian() * sigma).toFloat)

  // ---- index-search ------------------------------------------------

  val searchKinds: Seq[String] = Seq("hybrid", "bm25", "fielded_phrase",
    "knn", "fielded_best", "bool_prefix", "fielded_most", "bool")

  /** `source` is the documents table (id, text) and `vecs` the
    * embeddings (vec_id = position). The corpus is the first
    * `vecs.size` documents, each paired with the embedding of the same
    * id: 85% of them form the build, the rest arrive in the tail batch
    * with 10 near-duplicates of built docs (one token replaced), 40
    * updates and 30 deletes of built docs. Query terms and phrases are
    * Zipf(1.1)-skewed over the DF-ranked vocabulary and bigrams, and
    * each round holds every search kind once. The split, the tail's
    * shape, the exponent and the equal mix are assumptions, not derived
    * from a measured query log or session.
    */
  def searchPlan(seed: Long, source: IndexedSeq[(Long, String)],
                 vecs: IndexedSeq[Seq[Float]], nRounds: Int): SearchPlan = {
    val rng = new scala.util.Random(seed)
    val pool = source.take(vecs.size)
    def doc(id: Long, text: String, v: Seq[Float]) =
      Doc(id, text, titleOf(text), v)
    val shuffled = rng.shuffle(pool.indices.toIndexedSeq)
    val nBase = pool.size * 85 / 100
    val base = shuffled.take(nBase).sorted.map { i =>
      doc(pool(i)._1, pool(i)._2, vecs(i)) }
    val held = shuffled.drop(nBase).map(i =>
      doc(pool(i)._1, pool(i)._2, vecs(i)))
    val extra = source.drop(vecs.size) // texts for updated versions
    val picked = rng.shuffle(base.indices.toIndexedSeq).take(80)
    val dups = picked.take(10).zipWithIndex.map { case (b, j) =>
      val toks = tokens(base(b).text).toIndexedSeq
      val at = rng.nextInt(toks.size)
      doc(NearDupIds + j, toks.updated(at, toks((at + 1) % toks.size))
        .mkString(" "), base(b).vec)
    }
    val upd = picked.slice(10, 50).map(b => base(b).id).sorted.map { id =>
      doc(id, extra(rng.nextInt(extra.size))._2, vecs(rng.nextInt(vecs.size)))
    }
    val tail = Batch(held ++ dups, upd, picked.drop(50).map(b => base(b).id).sorted)
    val terms = termsByDf(base.map(_.text))
    val zt = new Zipf(terms.size, 1.1, rng)
    def zterm(): String = terms(zt.next())
    def zterms(k: Int): Seq[String] =
      Iterator.continually(zterm()).distinct.take(k).toSeq
    // phrases: adjacent token pairs of the build corpus, ranked by
    // frequency, drawn with the same skew
    val bigrams = base.flatMap(d => tokens(d.text).sliding(2)
        .filter(_.size == 2).map(_.mkString(" ")))
      .groupBy(identity).view.mapValues(_.size).toIndexedSeq
      .sortBy { case (b, c) => (-c, b) }.map(_._1).take(400)
    val zb = new Zipf(bigrams.size, 1.1, rng)
    val ops = rounds(searchKinds, nRounds).map { kind =>
      val qvec = () => noisy(vecs(rng.nextInt(vecs.size)), rng, 0.05)
      val p: Map[String, Any] = kind match {
        case "bm25" => Map("terms" -> zterms(1 + rng.nextInt(3)))
        case "bool" =>
          val t = zterms(4)
          Map("must" -> t.take(1), "should" -> t.slice(1, 3),
            "must_not" -> t.drop(3))
        case "fielded_phrase" =>
          Map("phrase" -> bigrams(zb.next()))
        case "bool_prefix" =>
          val p = zterm()
          Map("query" -> s"${zterms(1).head} ${p.take(2 + rng.nextInt(2))}")
        case "fielded_best" | "fielded_most" =>
          Map("query" -> zterms(1 + rng.nextInt(3)).mkString(" "))
        case "knn" => Map("vec" -> qvec())
        case "hybrid" =>
          Map("terms" -> zterms(1 + rng.nextInt(3)), "vec" -> qvec())
      }
      Op(kind, p)
    }
    SearchPlan(base, tail, ops)
  }

  // ---- determinism -------------------------------------------------

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Hash of everything a run feeds the program, by canonical text. */
  def fingerprint(frame: Seq[Op], search: SearchPlan): String =
    sha256(Seq(frame.mkString("\n"), search.base.mkString("\n"),
      search.tail.toString, search.ops.mkString("\n")).mkString("\u0000"))
}
