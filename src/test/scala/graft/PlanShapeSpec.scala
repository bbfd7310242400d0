package graft

import org.apache.spark.sql.DataFrame

/** Physical-plan shape guards for the scale-critical queries: the properties
  * that make them survive a 100 TB input must hold in the PLAN, not just in
  * intent — a regression that silently introduces a cartesian product or
  * drops a broadcast would still pass value-level tests at test scale.
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  /** Blocked/bucketed pair generation must be an equi-keyed join, never a
    * cartesian product (the reference's driver-side pairup collapsed at
    * scale for exactly this reason). */
  test("candidate/dedup/ANN joins plan without CartesianProduct") {
    for (q <- Seq("q_pairs_blocked", "q_minhash_dedup", "q_simhash_dedup",
                  "q_ann_lsh", "q_billmatch", "q_asof_join", "q_jaccard_pairs",
                  "q_winnow_neardup", "q_edit_distance", "q_decontaminate",
                  "q_semdedup", "q_substring_dedup", "q_dedup_quality",
                  "q_boilerplate", "q_rrf_fusion", "q_dedup_incremental",
                  "q_rare_bigram")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
  }

  /** ANN per-probe top-k must be the bounded TopKScored partial
    * aggregation, not a window: a Window node here means every scored
    * candidate row rides the exchange again (the corpus-scale shuffle the
    * r9 rewrite removed). The centroid-routing window inside q_ann_ivf is
    * probes x k (config-scale) and allowed; the scoring side is what must
    * not regress — q_cosine_topk and q_ann_lsh plans carry NO window at
    * all, and every ANN plan must show a partial ObjectHashAggregate. */
  test("ANN top-k is partial aggregation, not a corpus-scale window") {
    for (q <- Seq("q_cosine_topk", "q_ann_lsh")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q ranks through a window again")
      assert(p.contains("ObjectHashAggregate"),
        s"$q lost the TopKScored partial aggregation")
    }
    assert(planOf("q_ann_ivf").contains("ObjectHashAggregate"),
      "q_ann_ivf lost the TopKScored partial aggregation")
    // exact prefix-filtered set-similarity join: equi-join, no cartesian
    val pj = planOf("q_allpairs_jaccard")
    assert(!pj.contains("CartesianProduct"),
      "q_allpairs_jaccard plans a cartesian product")
  }

  /** Winnowing fingerprint extraction must stay inside whole-stage codegen
    * (WinnowPack is an interpreted-fallback-prone custom expression; a
    * regression here costs the map-side of the whole dedup family). */
  test("q_winnow fingerprint pass stays in whole-stage codegen") {
    val df = SparkEntry.queries("q_winnow")(spark, dir)
    df.collect() // AQE only materializes codegen stages in the FINAL plan
    val p = df.queryExecution.executedPlan.toString
    // codegen stages render as "*(n) Op" in the simple plan string; the
    // Generate(graft_winnow) node must carry the marker
    assert("""\*\(\d+\) Generate explode\(graft_winnow""".r.findFirstIn(p).isDefined,
      s"q_winnow fingerprint pass not whole-stage-codegen'd:\n$p")
  }

  /** The MinHash sketch must hold no higher-order function: CollapseProject
    * inlines the projection chain beneath it into a lambda body, where
    * nothing is shared. With the band hashes a per-band lambda, every row
    * was tokenized, shingled, hashed and signed once per band, interpreted.
    * nearDupPairs persists its sketch, so the cached plan is walked too. */
  test("MinHash sketch and nearDupPairs plan no lambda over the signature") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, HigherOrderFunction, LambdaFunction}
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    def exprs(p: QueryPlan[_]): Seq[Expression] =
      p.expressions ++ (p.children ++ p.innerChildren).flatMap {
        case q: QueryPlan[_] => exprs(q)
        case _ => Nil
      }
    val docs = graft.io.Tables.documents(spark, dir)
    val sketch = graft.dedup.MinHashDedup.sketch(docs)
    try {
      for ((name, df) <- Seq("sketch" -> sketch,
          "nearDupPairs" -> graft.dedup.MinHashDedup.nearDupPairs(docs))) {
        val all = exprs(df.queryExecution.optimizedPlan)
        assert(all.exists(_.exists(_.isInstanceOf[graft.expressions.MinHashSignature])),
          s"$name: the walk never reached the signature")
        val hofs = all.flatMap(_.collect { case h: HigherOrderFunction => h.prettyName })
        assert(hofs.isEmpty, s"$name plans higher-order functions: ${hofs.distinct}")
        val signedInLambda = all.flatMap(_.collect { case l: LambdaFunction => l })
          .flatMap(_.collect { case s: graft.expressions.MinHashSignature => s })
        assert(signedInLambda.isEmpty, s"$name computes a signature inside a lambda")
      }
    } finally sketch.unpersist() // the cache entry nearDupPairs registered
  }

  /** The featurization kernels lowercase their raw input in their own scan.
    * A `Lower` in front of them costs a cold JVM the class init of
    * CollationAwareUTF8String: ICU title case for all 1.1M code points,
    * with every other task thread blocked on it. */
  test("featurization kernels plan no Lower") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Lower}
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import graft.expressions.{CleanTokenBuckets, CleanTokenTf, TrigramHits}
    // q_minhash_lsh persists its hashed sets: the cached plan is an
    // adaptive plan under an InMemoryRelation's inner children
    def exprs(p: QueryPlan[_]): Seq[Expression] =
      p.expressions ++ (p.children ++ p.innerChildren).flatMap {
        case a: AdaptiveSparkPlanExec => exprs(a.inputPlan)
        case q: QueryPlan[_] => exprs(q)
        case _ => Nil
      }
    val docs = graft.io.Tables.documents(spark, dir)
    val plans = Seq(
      "features(useIdf = true)" -> graft.text.FeaturePipeline.features(docs,
        graft.text.FeatureConfig(numTextFeatures = 64)),
      "features(useIdf = false)" -> graft.text.FeaturePipeline.features(docs,
        graft.text.FeatureConfig(numTextFeatures = 64, useIdf = false)),
      "q_minhash_lsh" -> SparkEntry.queries("q_minhash_lsh")(spark, dir),
      "langIdNgram" -> docs.select(graft.text.TextOps.langIdNgram(col("text"))))
    for ((name, df) <- plans) {
      val all = exprs(df.queryExecution.optimizedPlan)
      assert(all.exists(_.exists {
        case _: CleanTokenBuckets | _: CleanTokenTf | _: TrigramHits => true
        case _ => false
      }), s"$name: the walk never reached a featurization kernel")
      val lowers = all.flatMap(_.collect { case l: Lower => l })
      assert(lowers.isEmpty, s"$name plans lower(): ${lowers.distinct}")
    }
  }

  /** Probe/dim sides sized in config must be broadcast, keeping the corpus
    * side shuffle-free where designed. */
  test("broadcast where intended") {
    for (q <- Seq("q_join_agg", "q_cosine_topk", "q_decontaminate",
                  "q_tfidf_topterms", "q_bm25", "q_boilerplate",
                  "q_source_mix")) {
      val p = planOf(q)
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin") ||
        p.contains("BroadcastNestedLoopJoin"), s"$q plans no broadcast")
    }
  }

  /** The BPE encode join must build on the VOCAB side (BuildRight — enc is
    * the join's right side). Left to statistics, Spark broadcast the exploded
    * token stream instead (BuildLeft over the Generate): both a Generate and
    * a post-aggregate frame have fiction for size estimates, and the corpus
    * side won — 2.5M token rows to the driver, 5× slower at 10× replication
    * (SCALEPROBE r10). The explicit broadcast(enc) hint pins the build side;
    * this guard keeps it pinned. */
  test("q_bpe_encode broadcasts the vocab, never the token stream") {
    // the q_bpe_encode JOIN SHAPE with stub merges: planOf on the real query
    // would execute Bpe.learn (8 driver-collect jobs + a caller-owned persist
    // in the shared test session) just to render a plan string (ADVICE r10);
    // the broadcast hint under guard is on the encode join, which this
    // reconstructs verbatim from PipelineQueries.scala (value-level coverage
    // of the production query is the [sql] gate's)
    import org.apache.spark.sql.functions._
    val docs = graft.io.Tables.spread(graft.io.Tables.documents(spark, dir))
    val words = graft.text.Bpe.wordCounts(docs)
    val merges = Seq(graft.text.Bpe.Merge(1, "e", "s", 1L))
    val df = docs
      .select(col("doc_id"),
        explode(graft.text.TextOps.tokens(col("text"))).as("word"))
      .join(broadcast(graft.text.Bpe.encodeWords(words, merges)), "word")
      .groupBy("doc_id").agg(sum("w_toks").as("n_tokens"))
    val p = df.queryExecution.executedPlan.toString
    // scope the build-side assertion to the token-stream⋈enc join node — a
    // blanket !contains("BuildLeft") would trip on any unrelated join AQE
    // ever adds to the plan
    val joinLines = p.linesIterator
      .filter(_.contains("BroadcastHashJoin [word")).toSeq
    assert(joinLines.nonEmpty, s"BPE encode join is not broadcast:\n$p")
    assert(joinLines.forall(_.contains("BuildRight")),
      s"BPE encode join builds on the corpus/Generate side:\n${joinLines.mkString("\n")}")
  }

  /** BPE pair extraction runs in every merge round of Bpe.learn: a split
    * under the pair lambda re-splits the word for each adjacent pair, twice
    * (quadratic in word length, interpreted). */
  test("Bpe.pairsOf splits each word outside the pair lambda") {
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, StringSplit}
    import org.apache.spark.sql.functions._
    val seg = spark.range(1).select(
      graft.text.Bpe.initialSeg(concat(lit("word"), col("id").cast("string"))).as("seg"))
    val plan = seg.select(explode(graft.text.Bpe.pairsOf(col("seg"))))
      .queryExecution.optimizedPlan
    val all = plan.flatMap(_.expressions)
    assert(all.exists(_.exists(_.isInstanceOf[StringSplit])),
      s"the walk never reached the split:\n$plan")
    val splitInLambda = all.flatMap(_.collect { case l: LambdaFunction => l })
      .filter(_.exists(_.isInstanceOf[StringSplit]))
    assert(splitInLambda.isEmpty, s"pairsOf splits inside a lambda:\n$plan")
  }

  /** Retrieval metrics must come from bounded aggregations: a Window node
    * here means the rank runs as a #query-terms-task global sort again (3
    * tasks at any corpus size — the r10 ladder's worst superlinear segment
    * before the rewrite). */
  test("q_retrieval_eval plans no window") {
    val p = planOf("q_retrieval_eval")
    assert(!p.contains("Window"), "retrieval rank regressed to a window sort")
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      "top-10 partial aggregation missing")
  }

  /** Same class: per-term postings (Zipf-hot partitions) and per-lang samples
    * (a #langs-task sort) must stay bounded aggregations, never windows. */
  test("q_inverted_index / q_sample_pergroup plan no window") {
    for (q <- Seq("q_inverted_index", "q_sample_pergroup")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q regressed to a window sort")
    }
  }

  /** The subtraction-shaped dedup scores must keep their aggregation-only
    * hash paths: an Expand node is the countDistinct marker (the two-phase
    * distinct expand both rewrites removed), and q_substring_dedup's only
    * join is the small per-doc left join — the window-hash stream itself
    * must never ride one (it was the ladder's largest intermediate). */
  test("q_substring_dedup / q_rare_bigram plan no distinct expand") {
    for (q <- Seq("q_substring_dedup", "q_rare_bigram")) {
      val p = planOf(q)
      assert(!p.contains("Expand"), s"$q regressed to a countDistinct expand")
      assert(!p.contains("Window"), s"$q plans a window")
    }
  }

  /** The per-source running sums run on the two-phase PrefixScan; a Window
    * node here means the scan regressed to the #sources-task form. */
  test("q_seq_packing / q_token_budget plan no per-source window") {
    for (q <- Seq("q_seq_packing", "q_token_budget")) {
      val p = planOf(q)
      assert(!p.contains("Window"), s"$q regressed to a window scan")
    }
  }

  /** Aggregation queries must keep partial (map-side) aggregation — two
    * HashAggregate levels around the exchange. */
  test("partial aggregation present in q1_agg") {
    val p = planOf("q1_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregation")
  }

  /** TPC-H shapes: top-K must plan as TakeOrderedAndProject (per-partition
    * heap, no global sort materialization) and the star joins must never
    * degrade to a cartesian product. */
  test("TPC-H joins: TakeOrdered top-K, no cartesian product") {
    for (q <- Seq("q_tpch_q3", "q_tpch_q10", "q_tpch_q21")) {
      val p = planOf(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q lost the top-K heap plan")
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
    }
    for (q <- Seq("q_tpch_q5", "q_tpch_q17"))
      assert(!planOf(q).contains("CartesianProduct"),
        s"$q plans a cartesian product")
  }

  /** The skyline rewrite must join survivors back by broadcast — the whole
    * point is that the frontier is tiny relative to the input. */
  test("q_skyline joins the frontier back via broadcast") {
    val p = planOf("q_skyline")
    assert(p.contains("BroadcastHashJoin"), s"q_skyline frontier join not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "q_skyline plans a cartesian product")
  }

  /** The CMS gate's scale contract: top-20 via per-partition heap (never a
    * global-window sort), the sketch built with map-side partials (two
    * ObjectHashAggregate levels — one 64 KB buffer per partition shuffles),
    * and the probe against a broadcast sketch. */
  test("q_cms_topk: TakeOrdered top-K, partial sketch agg, broadcast probe") {
    val p = planOf("q_cms_topk")
    assert(p.contains("TakeOrderedAndProject"), s"q_cms_topk lost the top-K heap plan:\n$p")
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"q_cms_topk sketch lacks map-side partial aggregation:\n$p")
    assert(p.contains("BroadcastExchange"), s"q_cms_topk sketch probe not broadcast:\n$p")
  }

  /** The KMV family's scale contract: the sketch/sample is built by a
    * MERGEABLE bounded aggregator — partial ObjectHashAggregate on the map
    * side (one ≤k-entry buffer per partition crosses the shuffle, never the
    * key stream) and NO per-group sort anywhere (the window-rank form the
    * DuckDB oracle uses would plan a Sort; the engine must not). */
  test("q_kmv_distinct / q_sample_bottomk: partial sketch agg, no sort") {
    for (q <- Seq("q_kmv_distinct", "q_sample_bottomk")) {
      val df = SparkEntry.queries(q)(spark, dir)
      val p = df.queryExecution.executedPlan.toString
      assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"$q sketch lacks map-side partial aggregation:\n$p")
      // the only Sort allowed is the final presentation orderBy — never one
      // feeding the aggregate (a window-rank regression would add it below)
      val agg = df.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      assert(agg.nonEmpty, s"$q lost its aggregate")
      agg.foreach { a =>
        val sortsBelow = a.collect {
          case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s
        }
        assert(sortsBelow.isEmpty, s"$q sorts below the sketch aggregate:\n$p")
      }
    }
  }

  /** Filter + projection must reach the parquet scan (pushdown/pruning). */
  test("filter pushdown and column pruning reach the scan") {
    val df = SparkEntry.queries("q_filter_project")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: ["), "no pushed filters on the scan")
    val scanSchema = "ReadSchema: ([^\\n]+)".r.findFirstMatchIn(p).map(_.group(1))
    assert(scanSchema.exists(!_.contains("l_comment")), s"scan not pruned: $scanSchema")
  }
}
