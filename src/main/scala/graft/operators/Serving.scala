package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one-call face of the persistent serving stack — the
  * composition a retrieval user actually runs (the reference's
  * backing engine exposes it as a single search request with
  * `rank: {rrf: ...}` fusing a lexical query with a `knn` clause;
  * eland rides that wire format): a whole query frame answered from
  * BOTH persistent indexes and fused per query.
  *
  * Everything here is composition — the legs are the gated
  * [[InvertedIndex.searchTopKBatch]] and [[VectorIndex.searchTopK]]
  * faces, the fusion is [[Ranking.rrfFusePerQuery]] — so the facade
  * inherits their contracts verbatim (segment/tombstone correctness,
  * plan-time cell/bucket pruning, broadcast query frames, bounded
  * driver state) and adds none of its own state.
  */
object Serving {

  /** ES `retriever` tree (8.14+, the modern search-request surface):
    * a JSON tree of retrievers composed by rank fusion, evaluated
    * against a documents frame (the `standard` legs) and a vectors
    * frame (the `knn` legs, same id space). Supported nodes:
    *
    *  - `standard {query}` — the scored scan ([[graft.functions.
    *    EsScoredQuery]]; every DSL leaf the scan faces support),
    *    ranked (_score desc, id asc), cut to the node window
    *  - `knn {query_vector, k, num_candidates?, similarity?,
    *    filter?}` — exact cosine over the vectors frame (the
    *    exact-configuration contract: IVF candidate pruning is
    *    [[graft.operators.VectorIndex]]'s own face; `num_candidates`
    *    is accepted and irrelevant under exact scoring), optional
    *    min-cosine on the rounded score (the vx5 rule), optional
    *    metadata `filter` (any DSL predicate) resolved against the
    *    docs frame and semi-joined BEFORE scoring (the vx4 placement)
    *  - `pinned {ids, retriever}` — given-order pins with replayable
    *    sentinel scores, organic fill-after (see the case comment)
    *  - `rule {match_criteria, rules, retriever}` — ES 8.15 query
    *    rules with INLINE rulesets: criteria (always/exact/contains/
    *    prefix/suffix/lt/lte/gt/gte vs the request metadata) gate
    *    pin/exclude actions over the child; exclusions land before
    *    ranks assign, pins ride the pinned machinery (case comment)
    *  - `rrf {retrievers, rank_constant = 60, rank_window_size}` —
    *    recursive reciprocal-rank fusion ([[Ranking.rrfFuse]])
    *  - `linear {retrievers: [{retriever, weight = 1, normalizer =
    *    "none"}], rank_window_size}` — weighted score fusion;
    *    normalizers `none`, `minmax` (per-leg (s−min)/(max−min),
    *    constant legs contribute 1), `l2_norm` (s / √Σs²) — per-leg
    *    stats ride 1-row broadcast crossJoins (the in-plan-stats
    *    discipline)
    *
    * Output (rank, id, score): the root's top `k` under (score desc,
    * id asc). Every ranking level is total-ordered, so the whole
    * tree replays on any engine.
    *
    * Scale shape: each leaf is one scan-ranked sort-limit
    * (TakeOrderedAndProject); fusion unions ≤ window rows per child
    * and aggregates on the id key; rank windows only ever run over
    * already-cut ≤ window frames.
    */
  /** `reranker` enables the `text_similarity_reranker` node (ES
    * 8.15): `{retriever, field, inference_text, rank_window_size}` —
    * the child's top window re-scores as scorer(inference_text,
    * doc field) and re-ranks. ES calls a deployed cross-encoder
    * here; the engine-side seam takes the scoring FUNCTION (the
    * [[graft.ml.Inference]] discipline — plumbing real, model
    * pluggable) and refuses by absence when none is given. The
    * child's ids broadcast onto the docs frame to fetch the field —
    * the corpus never shuffles for a ≤ window candidate set.
    */
  /** `encoderFactory` backs the `semantic` retriever node (ES 8.18
    * `semantic` query over a semantic_text field): the node embeds
    * its query text driver-side with this encoder — the emb4 seam,
    * so the vectors frame must carry embeddings from the SAME
    * encoder (ES enforces the same via the field's inference_id; a
    * node carrying an explicit `inference_id` refuses rather than
    * silently ignoring a server-side model reference).
    */
  def retrieverSearch(docs: DataFrame, idCol: String,
                      vectors: DataFrame, vecIdCol: String,
                      vecCol: String, json: String, k: Int,
                      rankWindowSize: Int = 100,
                      reranker: Option[(String, Column) => Column] =
                        None,
                      encoderFactory: () => graft.ml.TextEncoder =
                        graft.ml.Inference.hashEncoder(8)): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    require(k >= 1, s"k must be >= 1, got $k")
    require(rankWindowSize >= k,
      s"rank_window_size ($rankWindowSize) must be >= k ($k)")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("_id").asc)
    def ranked(scored: DataFrame, window: Int): DataFrame =
      scored.orderBy(col("score").desc, col("_id").asc).limit(window)
        .withColumn("rank", row_number().over(w).cast("long"))
    def intOf(v: JValue, what: String, default: Int): Int = v match {
      case JInt(n)  => n.toInt
      case JLong(n) => n.toInt
      case JNothing => default
      case other => throw new IllegalArgumentException(
        s"$what must be an integer, got $other")
    }
    def eval(node: JValue, window: Int): DataFrame = {
      require(window >= 1, s"rank_window_size must be >= 1")
      val (kind, body) = node match {
        case JObject(List((kk, b))) => (kk, b)
        case other => throw new IllegalArgumentException(
          s"a retriever must be a single-key object, got $other")
      }
      kind match {
        case "standard" =>
          val q = (body \ "query") match {
            case JNothing => throw new IllegalArgumentException(
              "standard retriever needs a query")
            case x => x
          }
          val scored = graft.functions.EsScoredQuery.scoredFrame(
            docs, idCol, JsonMethods.compact(JsonMethods.render(q)))
          ranked(scored.select(col(idCol).as("_id"),
            col("_score").as("score")), window)
        case "knn" =>
          val qv = (body \ "query_vector") match {
            case JArray(vs) if vs.nonEmpty => vs.map {
              case JInt(n)     => n.toDouble
              case JLong(n)    => n.toDouble
              case JDouble(d)  => d
              case JDecimal(d) => d.toDouble
              case other => throw new IllegalArgumentException(
                s"query_vector entries must be numbers, got $other")
            }
            case other => throw new IllegalArgumentException(
              s"knn retriever needs a non-empty query_vector, got $other")
          }
          val kk = intOf(body \ "k", "knn k", window)
          intOf(body \ "num_candidates", "num_candidates", 0) // exact
          val minSim = (body \ "similarity") match {
            case JNothing    => None
            case JDouble(d)  => Some(d)
            case JInt(n)     => Some(n.toDouble)
            case JDecimal(d) => Some(d.toDouble)
            case other => throw new IllegalArgumentException(
              s"knn similarity must be a number, got $other")
          }
          val cos = round(graft.plans.VectorExpressions.cosine(
            graft.functions.VectorOps.asDouble(col(vecCol)),
            typedLit(qv)), 6)
          val scored1 = vectors.select(col(vecIdCol).as("_id"),
            cos.as("score"))
          // ES knn.filter: the metadata predicate resolves against
          // the DOCS frame and restricts candidates via a semi join
          // BEFORE scoring matters (the vx4 placement — filtered
          // vectors never rank)
          val scored0 = (body \ "filter") match {
            case JNothing => scored1
            case f =>
              val pred = graft.functions.EsQueryDsl.toColumn(
                JsonMethods.compact(JsonMethods.render(f)), idCol)
              scored1.join(
                docs.filter(pred).select(col(idCol).as("_id")),
                Seq("_id"), "left_semi")
          }
          val scored = minSim.fold(scored0)(s =>
            scored0.filter(col("score") >= s))
          ranked(scored, math.min(kk, window))
        case "rrf" =>
          val children = subRetrievers(body \ "retrievers", "rrf")
          val rc = intOf(body \ "rank_constant", "rank_constant", 60)
          val cw = intOf(body \ "rank_window_size", "rank_window_size",
            window)
          val legs = children.map(c =>
            eval(c, cw).select(col("_id"), col("rank")))
          val fused = Ranking.rrfFuse(legs, "_id", "rank", cw, rc)
          ranked(fused.select(col("_id"),
            col("rrf_score").as("score")), window)
        case "linear" =>
          val subs = (body \ "retrievers") match {
            case JArray(rs) if rs.nonEmpty => rs
            case other => throw new IllegalArgumentException(
              s"linear retriever needs a retrievers array, got $other")
          }
          val cw = intOf(body \ "rank_window_size", "rank_window_size",
            window)
          val contribs = subs.map { s =>
            val inner = (s \ "retriever") match {
              case JNothing => throw new IllegalArgumentException(
                "each linear entry needs a retriever")
              case x => x
            }
            val weight = (s \ "weight") match {
              case JNothing    => 1.0
              case JDouble(d)  => d
              case JInt(n)     => n.toDouble
              case JDecimal(d) => d.toDouble
              case other => throw new IllegalArgumentException(
                s"weight must be a number, got $other")
            }
            require(weight >= 0, s"weight must be >= 0, got $weight")
            val normalizer = (s \ "normalizer") match {
              case JNothing    => "none"
              case JString(nm) => nm
              case other => throw new IllegalArgumentException(
                s"normalizer must be a string, got $other")
            }
            val leg = eval(inner, cw)
              .select(col("_id"), col("score").cast("double").as("_s"))
            normalizer match {
              case "none" =>
                leg.select(col("_id"), (col("_s") * weight).as("_c"))
              case "minmax" =>
                val mm = leg.agg(min(col("_s")).as("_mn"),
                  max(col("_s")).as("_mx"))
                leg.crossJoin(broadcast(mm)).select(col("_id"),
                  (when(col("_mx") === col("_mn"), lit(1.0))
                    .otherwise((col("_s") - col("_mn")) /
                      (col("_mx") - col("_mn"))) * weight).as("_c"))
              case "l2_norm" =>
                val nn = leg.agg(sqrt(sum(col("_s") * col("_s")))
                  .as("_l2"))
                leg.crossJoin(broadcast(nn)).select(col("_id"),
                  (when(col("_l2") === 0.0, lit(0.0))
                    .otherwise(col("_s") / col("_l2")) * weight)
                    .as("_c"))
              case other => throw new IllegalArgumentException(
                s"normalizer '$other' not supported " +
                  "(none, minmax, l2_norm)")
            }
          }
          val fused = contribs.reduce(_ unionByName _)
            .groupBy("_id")
            .agg(round(sum(col("_c")), 6).as("score"))
          ranked(fused, window)
        // `pinned` retriever (ES 8.16): the given ids rank first, in
        // the GIVEN order (only those present in the docs frame — the
        // f37 pinned-query rule), the organic child fills after with
        // pinned ids excluded. Pinned rows carry the sentinel score
        // 1e9 − position (ES uses descending near-MAX_VALUE
        // sentinels; a replayable integer ladder is the portable
        // spelling — organic BM25/cosine scores never reach 1e9).
        case "pinned" =>
          val ids: Seq[Any] = (body \ "ids") match {
            case JArray(vs) if vs.nonEmpty => vs.map {
              case JInt(n)    => n.toLong
              case JLong(n)   => n
              case JString(v) => v
              case other => throw new IllegalArgumentException(
                s"pinned ids must be numbers or strings, got $other")
            }
            case other => throw new IllegalArgumentException(
              s"pinned retriever needs a non-empty ids array, got $other")
          }
          require(ids.distinct.size == ids.size,
            s"duplicate pinned ids in $ids")
          val inner = (body \ "retriever") match {
            case JNothing => throw new IllegalArgumentException(
              "pinned retriever needs an organic retriever")
            case x => x
          }
          val cw = intOf(body \ "rank_window_size", "rank_window_size",
            window)
          pinOver(ids, eval(inner, cw), window)
        // `rule` retriever (ES 8.15 query rules): criteria evaluated
        // against the request's match_criteria metadata pick which
        // stored rules fire; matched pin rules promote their ids (in
        // rule order, first listing wins), matched exclude rules drop
        // theirs. Exclusions apply BEFORE ranks assign (the child's
        // survivors re-rank densely), pins ride the same sentinel
        // ladder as the pinned retriever, and an id both pinned and
        // excluded is EXCLUDED (the conservative reading —
        // spec-pinned). Rules are passed INLINE as `rules` — this
        // engine has no cluster state to store rulesets in, so
        // `ruleset_ids` refuses by absence naming the inline form.
        // Rule evaluation is driver-side (criteria are literals);
        // everything frame-side is the pinned machinery.
        case "rule" =>
          if ((body \ "ruleset_ids") != JNothing)
            throw new IllegalArgumentException(
              "rule retriever: ruleset_ids reference cluster-stored " +
                "rulesets (engine-internal state) — pass the rules " +
                "INLINE as rules: [{type, criteria, ids}]")
          val mc: Map[String, String] = (body \ "match_criteria") match {
            case JObject(fs) if fs.nonEmpty => fs.map {
              case (k, JString(v))  => k -> v
              case (k, JInt(n))     => k -> n.toString
              case (k, JLong(n))    => k -> n.toString
              case (k, JDouble(d))  => k -> d.toString
              case (k, JDecimal(d)) => k -> d.toString
              case (k, other) => throw new IllegalArgumentException(
                s"match_criteria['$k'] must be a scalar, got $other")
            }.toMap
            case other => throw new IllegalArgumentException(
              s"rule retriever needs a non-empty match_criteria " +
                s"object, got $other")
          }
          val inner = (body \ "retriever") match {
            case JNothing => throw new IllegalArgumentException(
              "rule retriever needs a child retriever")
            case x => x
          }
          def critMatches(c: JValue): Boolean = {
            val ctype = (c \ "type") match {
              case JString(t) => t
              case other => throw new IllegalArgumentException(
                s"rule criterion needs a string type, got $other")
            }
            if (ctype == "always") return true
            val meta = (c \ "metadata") match {
              case JString(m) => m
              case other => throw new IllegalArgumentException(
                s"rule criterion '$ctype' needs a metadata key, " +
                  s"got $other")
            }
            val values: Seq[String] = (c \ "values") match {
              case JArray(vs) if vs.nonEmpty => vs.map {
                case JString(v)  => v
                case JInt(n)     => n.toString
                case JLong(n)    => n.toString
                case JDouble(d)  => d.toString
                case JDecimal(d) => d.toString
                case other => throw new IllegalArgumentException(
                  s"rule criterion values must be scalars, got $other")
              }
              case other => throw new IllegalArgumentException(
                s"rule criterion '$ctype' needs a non-empty values " +
                  s"array, got $other")
            }
            // a missing metadata key matches nothing (ES's rule)
            mc.get(meta) match {
              case None => false
              case Some(actual) =>
                def num(s: String): Option[Double] =
                  scala.util.Try(s.toDouble).toOption
                ctype match {
                  case "exact" => values.exists(v =>
                    (num(actual), num(v)) match {
                      case (Some(a), Some(b)) => a == b
                      case _                  => actual == v
                    })
                  case "contains" => values.exists(actual.contains)
                  case "prefix"   => values.exists(actual.startsWith)
                  case "suffix"   => values.exists(actual.endsWith)
                  case "lt" | "lte" | "gt" | "gte" =>
                    val a = num(actual).getOrElse(
                      throw new IllegalArgumentException(
                        s"rule criterion '$ctype' on non-numeric " +
                          s"metadata value '$actual'"))
                    values.exists { v =>
                      val b = num(v).getOrElse(
                        throw new IllegalArgumentException(
                          s"rule criterion '$ctype' on non-numeric " +
                            s"criterion value '$v'"))
                      ctype match {
                        case "lt"  => a < b
                        case "lte" => a <= b
                        case "gt"  => a > b
                        case "gte" => a >= b
                      }
                    }
                  case other => throw new IllegalArgumentException(
                    s"rule criterion type '$other' not supported " +
                      "(always, exact, contains, prefix, suffix, " +
                      "lt, lte, gt, gte)")
                }
            }
          }
          val parsedRules: Seq[(String, Seq[JValue], Seq[Any])] =
            (body \ "rules") match {
              case JArray(rs) if rs.nonEmpty => rs.map { r =>
                val rtype = (r \ "type") match {
                  case JString(t) if t == "pinned" || t == "exclude" => t
                  case other => throw new IllegalArgumentException(
                    s"rule type must be pinned | exclude, got $other")
                }
                val crits = (r \ "criteria") match {
                  case JArray(cs) if cs.nonEmpty => cs
                  case other => throw new IllegalArgumentException(
                    s"each rule needs a non-empty criteria array, " +
                      s"got $other")
                }
                val rids: Seq[Any] = (r \ "ids") match {
                  case JArray(vs) if vs.nonEmpty => vs.map {
                    case JInt(n)    => n.toLong
                    case JLong(n)   => n
                    case JString(v) => v
                    case other => throw new IllegalArgumentException(
                      s"rule ids must be numbers or strings, got $other")
                  }
                  case other => throw new IllegalArgumentException(
                    s"each rule needs a non-empty ids array, got $other")
                }
                (rtype, crits, rids)
              }
              case other => throw new IllegalArgumentException(
                s"rule retriever needs a non-empty rules array " +
                  s"(inline rulesets), got $other")
            }
          val cw = intOf(body \ "rank_window_size", "rank_window_size",
            window)
          // ALL criteria of a rule must match for it to fire (ES)
          val fired = parsedRules.filter(_._2.forall(critMatches))
          val excluded = fired.filter(_._1 == "exclude")
            .flatMap(_._3).distinct
          val pins0 = fired.filter(_._1 == "pinned")
            .flatMap(_._3).distinct
          val exSet = excluded.map(_.toString).toSet
          val pins = pins0.filterNot(p => exSet(p.toString))
          val child = eval(inner, cw)
          // exclusions vanish BEFORE ranks assign — survivors
          // re-rank densely at the child window
          val cleaned =
            if (excluded.isEmpty) child
            else ranked(child.filter(!col("_id").cast("string")
                .isin(excluded.map(_.toString): _*))
              .select(col("_id"), col("score")), cw)
          if (pins.isEmpty)
            ranked(cleaned.select(col("_id"), col("score")), window)
          else pinOver(pins, cleaned, window)
        case "text_similarity_reranker" =>
          val inner = (body \ "retriever") match {
            case JNothing => throw new IllegalArgumentException(
              "text_similarity_reranker needs a retriever")
            case x => x
          }
          val fieldName = (body \ "field") match {
            case JString(f) => f
            case other => throw new IllegalArgumentException(
              s"text_similarity_reranker needs a field, got $other")
          }
          val infText = (body \ "inference_text") match {
            case JString(t) => t
            case other => throw new IllegalArgumentException(
              s"text_similarity_reranker needs inference_text, got $other")
          }
          val cw = intOf(body \ "rank_window_size", "rank_window_size",
            window)
          val score = reranker.getOrElse(
            throw new IllegalArgumentException(
              "text_similarity_reranker needs a scorer — pass " +
                "reranker = Some((inferenceText, docField) => score) " +
                "(the inference seam; ES calls a deployed " +
                "cross-encoder here, which this engine cannot " +
                "synthesize)"))
          val child = eval(inner, cw).select(col("_id"))
          val fetched = docs
            .select(col(idCol).as("_id"), col(fieldName))
            .join(broadcast(child), Seq("_id"))
          ranked(fetched.select(col("_id"),
            score(infText, col(fieldName)).cast("double").as("score")),
            window)
        case "semantic" =>
          // ES 8.18 `semantic` retriever: the query text embeds
          // driver-side through the encoder seam and scores by exact
          // cosine against the vectors frame — the query-time half of
          // the semantic_text stack (sx1 is the index-served form;
          // this is the tree leg). Scores are raw 6-dp cosine, the
          // same surface as the knn leg, so rrf/linear fusion
          // composes identically.
          val qt = (body \ "query") match {
            case JString(t) if t.nonEmpty => t
            case other => throw new IllegalArgumentException(
              s"semantic retriever needs non-empty query text, " +
                s"got $other")
          }
          require((body \ "inference_id") == JNothing,
            "semantic retriever: inference_id names a server-side " +
              "deployed model — pass the encoder via encoderFactory " +
              "instead (refused rather than silently ignored)")
          val kk = intOf(body \ "k", "semantic k", window)
          val qv: Seq[Double] = {
            val enc = encoderFactory()
            try enc.encodeBatch(Array(qt)).head.toSeq.map(_.toDouble)
            finally enc.close()
          }
          val cos = round(graft.plans.VectorExpressions.cosine(
            graft.functions.VectorOps.asDouble(col(vecCol)),
            typedLit(qv)), 6)
          ranked(vectors.select(col(vecIdCol).as("_id"),
            cos.as("score")), math.min(kk, window))
        case "rescorer" =>
          // ES 8.18 `rescorer` retriever: re-rank the child's top
          // window_size with a second query under Lucene's
          // QueryRescorer combine rules — the retriever-tree face of
          // [[graft.functions.EsScoredQuery.rescoredFrame]], with the
          // child's retriever scores standing in for the base query.
          // The rescore leg scores against FULL-corpus statistics
          // (Lucene's rescorer never re-scopes df/N/avg_len to the
          // window), then a broadcast semi-join keeps only windowed
          // docs; every combine re-rounds at 6 dp (the fusion
          // discipline). Docs inside the child window but beyond
          // window_size keep their child scores.
          val inner = (body \ "retriever") match {
            case JNothing => throw new IllegalArgumentException(
              "rescorer needs a retriever")
            case x => x
          }
          val rescore = (body \ "rescore") match {
            case JObject(_) => body \ "rescore"
            case other => throw new IllegalArgumentException(
              s"rescorer needs a rescore object, got $other")
          }
          val cw = intOf(body \ "rank_window_size", "rank_window_size",
            window)
          val ws = intOf(rescore \ "window_size", "window_size", cw)
          require(ws <= cw,
            s"rescore window_size ($ws) must be <= the child window " +
              s"($cw) — ES rescores only retrieved docs")
          val rq = (rescore \ "query" \ "rescore_query") match {
            case JNothing => throw new IllegalArgumentException(
              "rescorer needs rescore.query.rescore_query")
            case x => x
          }
          def wOf(key: String): Double =
            (rescore \ "query" \ key) match {
              case JNothing    => 1.0
              case JDouble(d)  => d
              case JDecimal(d) => d.toDouble
              case JInt(n)     => n.toDouble
              case JLong(n)    => n.toDouble
              case other => throw new IllegalArgumentException(
                s"$key must be a number, got $other")
            }
          val qw = wOf("query_weight")
          val rw = wOf("rescore_query_weight")
          val mode = (rescore \ "query" \ "score_mode") match {
            case JNothing   => "total"
            case JString(m) => m
            case other => throw new IllegalArgumentException(
              s"score_mode must be a string, got $other")
          }
          val child = eval(inner, cw)
          val winIds = child.filter(col("rank") <= ws).select(col("_id"))
          val re = graft.functions.EsScoredQuery.scoredFrame(
              docs, idCol, JsonMethods.compact(JsonMethods.render(rq)))
            .select(col(idCol).as("_id"), col("_score").as("_rescore"))
            .join(broadcast(winIds), Seq("_id"), "left_semi")
          val p = lit(qw) * col("score")
          val s = lit(rw) * col("_rescore")
          val combined = mode match {
            case "total"    => p + s
            case "multiply" => p * s
            case "avg"      => (p + s) / 2.0
            case "max"      => greatest(p, s)
            case "min"      => least(p, s)
            case other => throw new IllegalArgumentException(
              s"score_mode '$other' not supported " +
                "(total, multiply, avg, max, min)")
          }
          val rescored = child
            .join(broadcast(winIds.withColumn("_in_win", lit(true))),
              Seq("_id"), "left")
            .join(broadcast(re), Seq("_id"), "left")
            .withColumn("score", round(
              when(col("_in_win").isNull, col("score"))
                .when(col("_rescore").isNull, p)
                .otherwise(combined), 6))
          ranked(rescored.select(col("_id"), col("score")), window)
        case other => throw new IllegalArgumentException(
          s"retriever '$other' not supported (standard, knn, rrf, " +
            "linear, pinned, rule, text_similarity_reranker, " +
            "rescorer, semantic)")
      }
    }
    // the shared pin machinery (pinned + rule retrievers): the given
    // ids rank first in GIVEN order (only those present in the docs
    // frame — the f37 rule) with the replayable sentinel scores
    // 1e9 − position; the already-ranked organic frame fills after
    // with pinned ids excluded
    def pinOver(ids: Seq[Any], organicRanked: DataFrame,
                window: Int): DataFrame = {
      val spark = docs.sparkSession
      import spark.implicits._
      val pinnedKeys = ids.zipWithIndex
        .map { case (v, i) => (v.toString, i) }.toDF("_pk", "_pos")
      val present = docs
        .select(col(idCol).as("_id"),
          col(idCol).cast("string").as("_pk"))
        .join(broadcast(pinnedKeys), Seq("_pk"))
        .select(col("_id"), col("_pos"))
      val organic = organicRanked
        .join(broadcast(present.select(col("_id"))), Seq("_id"),
          "left_anti")
        .orderBy(col("rank").asc)
        .limit(window)
      val pinnedRows = present
        .select(col("_id"),
          (lit(1.0e9) - col("_pos")).as("score"), col("_pos"))
      // re-rank: pinned by position, organic after by its own rank
      val unioned = pinnedRows
        .select(col("_id"), col("score"),
          col("_pos").cast("long").as("_ord"))
        .unionByName(organic.select(col("_id"), col("score"),
          (col("rank") + ids.size).as("_ord")))
      unioned
        .orderBy(col("_ord").asc).limit(window)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("_ord").asc)).cast("long"))
        .select(col("_id"), col("score"), col("rank"))
    }
    def subRetrievers(v: JValue, what: String): Seq[JValue] = v match {
      case JArray(rs) if rs.size >= 2 => rs
      case JArray(rs) => throw new IllegalArgumentException(
        s"$what needs at least two retrievers, got ${rs.size}")
      case other => throw new IllegalArgumentException(
        s"$what needs a retrievers array, got $other")
    }
    eval(JsonMethods.parse(json), rankWindowSize)
      .filter(col("rank") <= k)
      .select(col("rank"), col("_id").as("id"), col("score"))
      .orderBy("rank")
  }

  /** The RAG ingestion-and-query path as ONE call: chunk the corpus
    * ([[Chunking.chunkByTokens]]), embed every chunk through the
    * PLUGGABLE encoder seam ([[graft.ml.Inference.embedText]] — the
    * emb4 contract: the deterministic stub gates the plumbing, a
    * real model factory drops in without changing anything else),
    * embed the query text with the SAME encoder driver-side, and
    * return the top-`k` chunks by exact cosine under the total order
    * (score desc, id asc, chunk_no asc).
    *
    * Output: (rank, idCol, chunk_no, chunk_text, score).
    *
    * Scale shape: chunk + embed are one scan (mapPartitions,
    * per-partition model load, `batchSize`-sliced); the query embeds
    * in ONE driver-side encodeBatch call and rides as a literal; the
    * chunk metadata re-joins the embeddings on the synthetic chunk
    * key (one chunk-keyed shuffle — embedText's seam carries only
    * (id, embedding) by contract); the cut is sort-limit. This is
    * the ad-hoc/one-shot path — a persistent corpus should pair
    * [[graft.operators.VectorIndex.build]] over the chunk embeddings
    * with [[graft.operators.VectorIndex.searchTopK]] instead.
    */
  def semanticSearchText(docs: DataFrame, idCol: String,
                         textCol: String, queryText: String, k: Int,
                         chunkSize: Int = 64, stride: Int = 32,
                         encoderFactory: () => graft.ml.TextEncoder =
                           graft.ml.Inference.hashEncoder(8),
                         batchSize: Int = 32): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(queryText != null && queryText.nonEmpty,
      "queryText must be non-empty")
    val chunks = Chunking.chunkByTokens(docs, idCol, textCol,
        chunkSize, stride)
      .withColumn("_cid", concat(col(idCol).cast("string"), lit("#"),
        col("chunk_no").cast("string")))
    val emb = graft.ml.Inference.embedText(
      chunks.select(col("_cid"), col("chunk_text")),
      "_cid", "chunk_text", encoderFactory, batchSize)
    val qv: Seq[Double] = {
      val enc = encoderFactory()
      try enc.encodeBatch(Array(queryText)).head.toSeq.map(_.toDouble)
      finally enc.close()
    }
    val scored = chunks.join(emb, Seq("_cid"))
      .select(col(idCol), col("chunk_no"), col("chunk_text"),
        round(graft.plans.VectorExpressions.cosine(
          graft.functions.VectorOps.asDouble(col("embedding")),
          typedLit(qv)), 6).as("score"))
    scored
      .orderBy(col("score").desc, col(idCol).asc, col("chunk_no").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("score").desc, col(idCol).asc, col("chunk_no").asc))
        .cast("long"))
      .select(col("rank"), col(idCol), col("chunk_no"),
        col("chunk_text"), col("score"))
  }

  /** The PERSISTENT twin of [[semanticSearchText]] — ES
    * `semantic_text`'s index-time half as one call: chunk the corpus
    * ([[Chunking.chunkByTokens]]), embed every chunk through the
    * pluggable encoder seam ([[graft.ml.Inference.embedText]], the
    * emb4 contract), and build a cell-partitioned [[VectorIndex]]
    * over the chunk embeddings at `indexPath`, with a committed
    * `chunks` sidecar table carrying (chunk key, id, chunk_no,
    * chunk_text) so searches can return text without touching the
    * corpus. The ad-hoc rag1 path re-embeds per query; this builds
    * once and serves many queries from pruned cell directories.
    *
    * Chunk key: ids must be INTEGRAL — the key packs
    * (id << 20) | chunk_no into one long, so the index's (score, id)
    * tie order IS (score, id, chunk_no), replayable on any engine.
    * Docs longer than 2^20 chunks or ids ≥ 2^43 refuse in-plan
    * (packing would collide or overflow — loudly, never silently).
    *
    * Scale shape: chunk + embed are one scan (mapPartitions,
    * per-partition model load); the sidecar write is that scan's
    * projection; the index build is [[VectorIndex.build]]'s one
    * cell-keyed shuffle. Nothing collects driver-side.
    */
  def buildSemanticIndex(docs: DataFrame, idCol: String,
                         textCol: String, indexPath: String,
                         chunkSize: Int = 64, stride: Int = 32,
                         encoderFactory: () => graft.ml.TextEncoder =
                           graft.ml.Inference.hashEncoder(8),
                         batchSize: Int = 32, nlist: Int = 16): Unit = {
    val integral = docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    require(integral,
      s"buildSemanticIndex needs an integral id column ('$idCol' is " +
        s"${docs.schema(idCol).dataType.simpleString}) — the chunk " +
        "key packs (id << 20) | chunk_no; for other id types compose " +
        "Chunking + Inference.embedText + VectorIndex.build directly")
    val idL = col(idCol).cast("long")
    val guard = when(col("chunk_no") >= (1L << 20) ||
        idL >= (1L << 43) || idL < 0,
      raise_error(lit("buildSemanticIndex: chunk key would overflow " +
        "(chunk_no >= 2^20 or id >= 2^43 or id < 0)")).cast("long"))
      .otherwise(shiftleft(idL, 20) + col("chunk_no"))
    val chunks = Chunking.chunkByTokens(docs, idCol, textCol,
        chunkSize, stride)
      .withColumn("_cid", guard)
    chunks.select(col("_cid"), col(idCol), col("chunk_no"),
        col("chunk_text"))
      .write.mode("overwrite").parquet(s"$indexPath/chunks")
    val emb = graft.ml.Inference.embedText(
      chunks.select(col("_cid"), col("chunk_text")),
      "_cid", "chunk_text", encoderFactory, batchSize)
    VectorIndex.build(emb, "_cid", "embedding", indexPath, nlist)
  }

  /** Query the [[buildSemanticIndex]] stack: embed `queryText` with
    * the SAME encoder driver-side (one encodeBatch call — the query
    * rides as a literal), search the persistent index (probed cells
    * pruned at plan time; `nprobe` ≥ nlist degrades to exact), and
    * return (rank, id, chunk_no, chunk_text, score) — the
    * [[semanticSearchText]] output surface served from the index.
    * The ≤ k hits broadcast onto the chunks sidecar; the corpus is
    * never touched.
    */
  def semanticSearchIndex(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String, queryText: String, k: Int,
                          nprobe: Int = 2,
                          encoderFactory: () => graft.ml.TextEncoder =
                            graft.ml.Inference.hashEncoder(8))
      : DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(queryText != null && queryText.nonEmpty,
      "queryText must be non-empty")
    val qv: Seq[Double] = {
      val enc = encoderFactory()
      try enc.encodeBatch(Array(queryText)).head.toSeq.map(_.toDouble)
      finally enc.close()
    }
    import spark.implicits._
    val queries = Seq((0L, qv)).toDF("q_id", "vec")
    val hits = VectorIndex.searchTopK(queries, indexPath, k, nprobe,
      idColName = "_cid")
    val meta = spark.read.parquet(s"$indexPath/chunks")
    val idName = meta.columns
      .filterNot(Set("_cid", "chunk_no", "chunk_text")).head
    broadcast(hits.select(col("rank"), col("_cid"), col("cos")))
      .join(meta, Seq("_cid"))
      .select(col("rank"), col(idName), col("chunk_no"),
        col("chunk_text"), col("cos").as("score"))
      .orderBy("rank")
  }

  /** Hybrid retrieval over the persistent stack: each query row
    * carries a lexical bag (`termsCol`, array of terms) and an
    * embedding (`vecCol`); the inverted index at `textIndexPath`
    * answers the lexical leg (BM25 top-`perLegK` per query, every
    * touched bucket directory read once for the whole frame), the IVF
    * index at `vectorIndexPath` answers the semantic leg (cosine
    * top-`perLegK`, probed cells pruned at plan time), and the two
    * rankings fuse per query via reciprocal-rank fusion. Output
    * (qIdCol, rank, idColName, rrf_score) for rank ≤ k per query.
    *
    * Both legs must be present and non-null on every row — a
    * lexical-only or vector-only workload should call the leg's own
    * search face directly rather than fuse against nothing.
    *
    * Scale shape: two index searches (each reads only pruned
    * directories; the corpus never shuffles — query frames broadcast
    * onto the pruned scans) + a fusion over ≤ 2 × |queries| × perLegK
    * rows. `nprobe` is the semantic leg's usual recall dial. Building
    * the frame runs at most two Spark jobs, each leg's one bounded
    * query-side collect (none for a query frame built on the driver),
    * and leaves nothing persisted.
    *
    * `fusion` picks the combiner: `"rrf"` (rank-based — scales never
    * need normalizing; the default, ES's hybrid default) fuses via
    * [[Ranking.rrfFusePerQuery]] and returns `rrf_score`;
    * `"linear"` (the ES `linear` retriever — score magnitudes
    * matter) min-max normalizes each leg per query and returns
    * Σ legWeightsᵢ × normᵢ as `lin_score` via
    * [[Ranking.linearFusePerQuery]] — `legWeights` is (lexical,
    * semantic).
    */
  def searchHybrid(queries: DataFrame, textIndexPath: String,
                   vectorIndexPath: String, k: Int, perLegK: Int = 30,
                   rrfK: Int = 60, nprobe: Int = 2,
                   qIdCol: String = "q_id", termsCol: String = "terms",
                   vecCol: String = "vec", idColName: String = "id",
                   roundTo: Int = 6, fusion: String = "rrf",
                   legWeights: Seq[Double] = Seq(0.5, 0.5)): DataFrame = {
    require(k > 0, "k must be positive")
    require(perLegK >= k,
      s"perLegK ($perLegK) should be >= k ($k): a doc outside both " +
        "legs' top-perLegK cannot enter the fused top-k")
    require(Set("rrf", "linear")(fusion),
      s"fusion '$fusion' not supported (rrf, linear)")
    require(legWeights.size == 2,
      s"legWeights needs (lexical, semantic), got ${legWeights.size}")
    val resultCols = Seq("rank", "rrf_score", "lin_score")
    require(qIdCol != idColName && !resultCols.contains(qIdCol)
        && !resultCols.contains(idColName),
      "qIdCol/idColName collide with the result columns " +
        "(rank, rrf_score, lin_score)")
    val lex = InvertedIndex.searchTopKBatch(
      queries.select(col(qIdCol), col(termsCol)), textIndexPath, perLegK,
      qIdCol = qIdCol, termsCol = termsCol, idColName = idColName)
    val sem = VectorIndex.searchTopK(
      queries.select(col(qIdCol), col(vecCol)), vectorIndexPath, perLegK,
      nprobe, qIdCol = qIdCol, vecCol = vecCol, idColName = idColName,
      roundTo = roundTo)
    fusion match {
      case "rrf" =>
        Ranking.rrfFusePerQuery(
          Seq(lex.select(col(qIdCol), col(idColName), col("rank")),
            sem.select(col(qIdCol), col(idColName), col("rank"))),
          qIdCol, idColName, "rank", k, rrfK)
      case "linear" =>
        Ranking.linearFusePerQuery(
          Seq(lex.select(col(qIdCol), col(idColName), col("score")),
            sem.select(col(qIdCol), col(idColName),
              col("cos").as("score"))),
          qIdCol, idColName, "score", legWeights, k)
    }
  }

  /** One-call retrieve-then-rerank: first-stage candidates come from
    * the persistent inverted index's batched BM25 (`fetchK` per
    * query), and [[Ranking.maxSimRerank]] rescores ONLY those by
    * late interaction — the ColBERT serving shape as a library face
    * (the mv2 composition). `queries` carries (qIdCol, termsCol);
    * `docTokenVecs` (idColName, vecCol) one row per document token;
    * `queryTokenVecs` (qIdCol, qPosCol, vecCol) one row per query
    * token. Output (qIdCol, rank, idColName, maxsim) for rank ≤ k.
    *
    * Scale shape: the index answers the frame reading only the query
    * terms' buckets; the candidate set broadcasts onto the doc-token
    * table (filtered map-side — the corpus-scale table never
    * shuffles to find candidates); the quadratic token×token work is
    * bounded by |queries| × fetchK × tokens-per-doc × query tokens.
    */
  def searchMaxSim(queries: DataFrame, textIndexPath: String,
                   docTokenVecs: DataFrame, queryTokenVecs: DataFrame,
                   k: Int, fetchK: Int = 30,
                   qIdCol: String = "q_id", termsCol: String = "terms",
                   qPosCol: String = "qpos", vecCol: String = "vec",
                   idColName: String = "id",
                   roundTo: Int = 6): DataFrame = {
    require(k > 0, "k must be positive")
    require(fetchK >= k, s"fetchK ($fetchK) must be >= k ($k)")
    val cands = InvertedIndex.searchTopKBatch(
        queries.select(col(qIdCol), col(termsCol)), textIndexPath, fetchK,
        qIdCol = qIdCol, termsCol = termsCol, idColName = idColName)
      .select(col(qIdCol), col(idColName))
    Ranking.maxSimRerank(docTokenVecs, queryTokenVecs, cands,
      idColName, qIdCol, qPosCol, vecCol, k, roundTo)
  }
}
