package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** Benchmark main (driver contract): runs the headline queries on
  * SPARK_GRAFT_SF_DIR at local[32] and prints ONE JSON line
  * {"metric":...,"value":N,"unit":"sec","queries":{name:sec,...},"sf":...}.
  * The line is kept under the harness's ~2000-char stdout tail window (the
  * r9 artifact regressed to parsed:null when extra per-query maps pushed it
  * past that); the full in-set/isolated/normalized evidence goes to the
  * BENCH_DETAIL.json sidecar (SPARK_GRAFT_BENCH_DETAIL to relocate).
  *
  * The headline set spans every module (relational, text, events/streaming,
  * vectors/ANN, ML, graph, dedup, aggregators) — one representative per
  * operator family rather than all ~65 registry entries, so the per-round
  * bench finishes in minutes while still exercising each physical plan shape.
  * Set SPARK_GRAFT_BENCH_QUERIES=name1,name2 (or "all") to override.
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q1_agg",            // hash aggregate over lineitem
    "q_join_agg",        // broadcast multi-join + agg
    "q_pairs_blocked",   // blocked self-join (J2)
    "q_latest_per_key",  // window dedup
    "q_window_tumbling", // event-time window agg
    "q_sessionize",      // lag-based sessions
    "q_stream_tumbling", // same agg through Structured Streaming
    "q_wordcount",       // explode + agg
    "q_ngram_count",     // n-gram explode + agg
    "q_stemmed_wordcount", // Porter-stem + agg
    "q_dedup_exact",     // content-hash dedup
    "q_minhash_dedup",   // MinHash banded LSH near-dup
    "q_minhash_lsh",     // estimator-parity LSH self-join (r9: banded shape —
                         // joined the headline set once the rewrite made it
                         // bench-affordable; tracks the J3/M11 path per round)
    "q_simhash_dedup",   // SimHash near-dup
    "q_vector_sum",      // typed Aggregator
    "q_kmv_distinct",    // mergeable sketch family representative (r6)
    "q_cosine_topk",     // brute-force ANN baseline
    "q_ann_lsh",         // bucketed ANN
    "q_tfidf_features",  // ML feature pipeline
    "q_kmeans_blocks",   // k-means blocking fit
    "q_billmatch",       // flagship end-to-end pipeline (pinned-label [sql] form, r11)
    "q_pagerank",        // iterative graph
    "q_triangles",       // superstep triangle count
    // r7 widening (VERDICT r6 #4): the heaviest ladder entries join the
    // per-round gate so extension-surface regressions are caught by BENCH,
    // not only by ad-hoc scale runs. r6 ladder times are the floor.
    "q_substring_dedup", // suffix-hash exact-substring dedup (heaviest dedup)
    "q_boilerplate",     // cross-doc repeated-line removal
    "q_winnow_neardup",  // winnowing fingerprint near-dup
    "q_range_join_keyed",// keyed point-in-interval join (production form)
    "q_corpus_build",    // composed end-to-end corpus pipeline
    "q_stream_upsert",   // streaming dedup/upsert replay
    "q_hll_merge",       // HLL register-merge rollup
    "q_quantile_sketch", // mergeable bottom-k quantile sketch
    "q_ewma",            // canonical ring-buffer EWMA (promoted r7)
    "q_jpeg_decode",     // baseline-JPEG pixel decode (batched codec path)
    // r10 widening: the new operator families join the per-round gate
    "q_cosine_join_exact",   // exact cosine threshold join (metric ring prune)
    "q_stream_ann_ingest",   // streaming IVF ingest + search
    "q_bpe_encode")          // BPE tokenizer training + corpus encode

  // Fixed measurement policy (no env knobs): base passes, extra reps a
  // query may get from the spread guard, the child JVMs' family size and
  // timeout, and the cross-round band window.
  private val defaultReps = 3
  private val extraReps = 2
  private val familySize = 4
  private val childTimeoutSec = 900
  private val bandRounds = 5

  /** One timed execution with its engine profile, or None when the query
    * throws: a failed query is never banked as a (fast) time. */
  private def timeOnce(spark: SparkSession, sfDir: String, name: String,
                       fn: (SparkSession, String) => DataFrame,
                       metrics: QueryMetrics): Option[(Double, QueryProfile)] = {
    // Untimed GC between measured queries: the r7-widened set interleaves
    // multi-GB-churn queries (winnowing, stream upsert, k-means fits), and
    // carried GC debt was observed inflating UNCHANGED queries 2-4x vs
    // their isolated times (q_billmatch 0.53 s isolated vs 1.66 s mid-set).
    // Collecting outside the timed region measures each operator against a
    // quiesced heap without changing what the engine executes.
    System.gc()
    metrics.reset()
    val t0 = System.nanoTime()
    try {
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      Some((dt, metrics.snapshot()))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}")
      None
    }
  }

  /** Stall-robust best-of-reps. This VM stalls in minutes-long bursts
    * (BENCH_r03 recorded 37 s for a 0.6 s query); consecutive best-of-3 per
    * query lets one burst swallow all three reps. Two defenses, neither of
    * which changes what is measured (the min is still a time the engine
    * actually achieved):
    *  1. INTERLEAVE: reps run as full passes over every query (pass 1 of all,
    *     pass 2 of all, ...), so a query's reps are separated by minutes of
    *     other work — a burst pollutes one pass of many queries, not every
    *     rep of one.
    *  2. SPREAD GUARD: after the base passes, any query whose reps disagree
    *     by >2× (evidence a burst hit some rep) gets up to `extraReps` extra
    *     reps; extra reps can only lower a best-of estimate, never inflate it.
    * reps=1 is single-shot (no guard).
    * A query that fails on any rep is never re-run: it is dropped from the
    * timed results and named in the second list (work order). The third
    * result is each timed query's profile from its best rep. */
  private[graft] def runAll(spark: SparkSession, sfDir: String,
                            work: Seq[(String, (SparkSession, String) => DataFrame)],
                            reps: Int)
      : (Seq[(String, Double)], Seq[String], Map[String, QueryProfile]) = {
    val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val best = scala.collection.mutable.Map.empty[String, QueryProfile]
    val failed = scala.collection.mutable.Set.empty[String]
    val metrics = QueryMetrics.attach(spark)
    def rep(name: String, fn: (SparkSession, String) => DataFrame,
            label: String): Unit =
      timeOnce(spark, sfDir, name, fn, metrics) match {
        case Some((dt, profile)) =>
          if (times(name).forall(dt < _)) best(name) = profile
          times(name) = times(name) :+ dt
          System.err.println(f"[bench] $label%-6s $name%-22s $dt%8.2f s")
        case None => failed += name
      }
    try {
      for (pass <- 1 to math.max(1, reps); (name, fn) <- work if !failed(name))
        rep(name, fn, s"pass $pass")
      if (reps > 1) for ((name, fn) <- work) {
        def maxOverMin = times(name).max / times(name).min
        var budget = extraReps
        while (budget > 0 && !failed(name) && maxOverMin > 2.0) {
          rep(name, fn, f"guard (spread $maxOverMin%.1fx)")
          budget -= 1
        }
      }
    } finally metrics.detach()
    val timed = work.map(_._1).filterNot(failed).map { name =>
      val dt = times(name).min
      System.err.println(f"[bench] $name%-22s $dt%8.2f s (best of ${times(name).size})")
      name -> dt
    }
    (timed, work.map(_._1).filter(failed), best.toMap.filter(p => !failed(p._1)))
  }

  // ------------------------------------------------------ fresh-JVM phase

  /** Isolated re-measurement in fresh child JVMs (VERDICT r7 #1). The r6/r7
    * rounds proved accumulated JVM pressure inflates in-set times 1.5-4x
    * without any plan change (q_substring_dedup 29.6 s in-sweep vs 9.8 s
    * clean-JVM; SCALE.md r7 note), and an in-process
    * System.gc() between queries demonstrably did not cure it. So after the
    * in-set passes, the headline set is re-run in SMALL FAMILIES (consecutive
    * chunks of `familySize` queries) each in its OWN child JVM — same
    * classpath, same JVM flags, same reps/guard logic (the child is this very
    * main, gated by SPARK_GRAFT_BENCH_CHILD). Families keep the headline
    * order; `childTimeoutSec` bounds a child. A child failure degrades to
    * the in-set number for its queries — it can weaken evidence, never
    * block the driver-contract JSON line. */
  private def runIsolated(names: Seq[String]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val out = scala.collection.mutable.Map.empty[String, Double]
    for (family <- names.grouped(familySize)) {
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")
      System.err.println(s"[bench] isolated JVM: ${family.mkString(",")}")
      val buf = new StringBuilder
      try {
        val logger = scala.sys.process.ProcessLogger(
          line => buf.append(line).append('\n'),
          line => System.err.println(s"[bench-child] $line"))
        val proc = scala.sys.process.Process(cmd, new java.io.File("."),
          "SPARK_GRAFT_BENCH_CHILD" -> "1",
          "SPARK_GRAFT_BENCH_QUERIES" -> family.mkString(",")).run(logger)
        val deadline = System.nanoTime() + childTimeoutSec * 1000000000L
        var alive = proc.isAlive()
        while (alive && System.nanoTime() < deadline) {
          Thread.sleep(500); alive = proc.isAlive()
        }
        if (alive) {
          System.err.println(s"[bench] isolated child TIMED OUT (${childTimeoutSec}s), killing")
          proc.destroy()
        } else if (proc.exitValue() != 0)
          System.err.println(s"[bench] isolated child exit ${proc.exitValue()}")
        out ++= parseQueriesJson(buf.toString)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] isolated child failed: ${e.getMessage}")
      }
    }
    out.toMap
  }

  /** Pull the {"queries":{name:sec,...}} map out of a child's JSON line —
    * a 20-line hand parse beats a JSON dependency this repo can't add. */
  private[graft] def parseQueriesJson(text: String): Map[String, Double] = {
    val line = text.linesIterator
      .filter(l => l.startsWith("{\"metric\"") && l.contains("\"queries\""))
      .toSeq.lastOption.getOrElse(return Map.empty)
    val start = line.indexOf("\"queries\":{")
    if (start < 0) return Map.empty
    val body = line.substring(start + "\"queries\":{".length,
      line.indexOf('}', start))
    val Pair = """"([A-Za-z0-9_]+)":([0-9.]+)""".r
    Pair.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  private def jsonMap(m: Seq[(String, Double)]): String =
    m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")

  /** Cross-round noise bands (VERDICT r11 #5): per query, the [min, max]
    * envelope of the canonical seconds across the LAST `bandRounds`
    * committed BENCH_r*.json artifacts in `dir` at the same scale factor
    * (highest round numbers win). Sub-second headline rows swing ±40% with
    * host epoch while nothing in their code changes (r10→r11: q_cosine_topk
    * 0.78→1.10 matching its r07 value exactly) — the band makes that
    * classifiable at BANK time instead of leaving every future reader to
    * re-derive it from round archaeology. WINDOWED, not all-rounds (VERDICT r12 #2): early
    * rounds were 10-70× slower on several queries (q_triangles r-early max
    * 36.99 vs current 0.51), so an all-rounds envelope made the SLOW side
    * of those bands unreachable — a genuine 5× regression would sit inside
    * the band and never flag. A recent-rounds window keeps both sides
    * live. Tolerates both artifact shapes — the raw contract line and the
    * driver's pretty-printed wrapper, whose "tail" echo holds an ESCAPED
    * copy of the contract line (`\"queries\"` still contains the substring
    * `"queries"`, so the anchor must skip backslash-preceded matches
    * rather than take the first, ADVICE r12) — and a malformed round file
    * contributes nothing. Only artifacts at the SAME scale factor as
    * `sfDir` contribute: an sf0.01 dev run compared against the rounds'
    * sf0.1 envelopes would flag the whole headline set as out-of-band
    * noise (r12 review finding); the round window is taken AFTER the sf
    * filter so an off-sf round cannot consume a window slot. */
  private[graft] def loadRoundBands(dir: java.io.File = new java.io.File("."),
                                    sfDir: String = "sf0.1")
      : Map[String, (Double, Double)] = {
    // "0.1" from either "/root/testdata/sf0.1" or the wrapper's bare "0.1"
    def sfNorm(s: String): Option[String] = "[0-9.]+$".r.findFirstIn(s.trim)
    // first occurrence NOT preceded by a backslash (the tail echo is escaped)
    def unescapedIndexOf(txt: String, key: String): Int = {
      var at = txt.indexOf(key)
      while (at > 0 && txt.charAt(at - 1) == '\\') at = txt.indexOf(key, at + 1)
      at
    }
    val wantSf = sfNorm(sfDir)
    val SfField = """"sf"\s*:\s*"?([^",}\s]+)"?""".r
    val RoundName = """BENCH_r(\d+)\.json""".r
    val files = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      .flatMap(f => f.getName match {
        case RoundName(n) => Some((n.toInt, f))
        case _            => None
      })
    val Pair = """"([A-Za-z0-9_]+)"\s*:\s*([0-9][0-9.]*)""".r
    val maps: Seq[(Int, Map[String, Double])] = files.toSeq.flatMap { case (round, f) =>
      try {
        val txt = new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val artifactSf = SfField.findFirstMatchIn(txt).map(_.group(1))
          .flatMap(sfNorm)
        val at = unescapedIndexOf(txt, "\"queries\"")
        if (at < 0 || wantSf.isEmpty || artifactSf != wantSf) None
        else {
          val open = txt.indexOf('{', at)
          val close = txt.indexOf('}', open)
          if (open < 0 || close < 0) None
          else {
            val m = Pair.findAllMatchIn(txt.substring(open + 1, close))
              .map(mm => mm.group(1) -> mm.group(2).toDouble).toMap
            if (m.isEmpty) None else Some(round -> m)
          }
        }
      } catch { case _: Throwable => None }
    }
    maps.sortBy(-_._1).take(bandRounds).flatMap(_._2)
      .groupBy(_._1).map { case (k, vs) =>
        val ds = vs.map(_._2)
        k -> (ds.min, ds.max)
      }
  }

  private def jsonBands(bands: Map[String, (Double, Double)],
                        names: Seq[String]): String =
    names.flatMap(n => bands.get(n).map { case (lo, hi) =>
      "\"" + n + "\":[" + f"$lo%.3f" + "," + f"$hi%.3f" + "]"
    }).mkString("{", ",", "}")

  /** Names whose fresh measurement left its historical band (with 5%
    * slack), flagged on stderr at bank time (VERDICT r11 #8) — an epoch
    * outlier is caught when it is MEASURED, not judged a round later. The
    * band is evidence context, never a gate: a real regression must still
    * land in the artifact. */
  private[graft] def flagOutOfBand(canonical: Seq[(String, Double)],
                                   bands: Map[String, (Double, Double)]): Seq[String] =
    canonical.flatMap { case (k, v) =>
      bands.get(k).collect {
        case (lo, hi) if v > hi * 1.05 || v < lo * 0.95 =>
          System.err.println(
            f"[bench] OUT-OF-BAND $k%-22s $v%8.2f s vs rounds envelope " +
              f"[$lo%.2f, $hi%.2f] — classify (epoch vs engine) before banking")
          k
      }
    }

  /** The harness that collects BENCH_r{N}.json keeps only the LAST ~2000
    * characters of stdout and parses the {"metric":...} line out of that
    * window. Round 9's line carried four per-query maps (~2.3 KB), so the
    * window started MID-LINE and the artifact came back parsed:null even
    * with rc=0. The contract line therefore stays compact (one canonical
    * per-query map); the full evidence (in-set vs fresh-JVM-isolated vs
    * host-normalized seconds) goes to this sidecar file, committed per round. */
  private def writeDetail(json: String): Unit = try {
    val p = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "BENCH_DETAIL.json"))
    java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
    System.err.println(s"[bench] detail written to ${p.toAbsolutePath}")
  } catch { case e: Throwable =>
    System.err.println(s"[bench] detail write failed (continuing): ${e.getMessage}")
  }

  /** `,"key":["a","b"]` — or nothing for an empty list, so the field is
    * additive. */
  private[graft] def nameListField(key: String, names: Seq[String]): String =
    if (names.isEmpty) ""
    else names.map("\"" + _ + "\"").mkString(s""","$key":[""", ",", "]")

  /** The isolate-mode driver-contract line: compact on purpose — one
    * canonical per-query map, the `isolated_failed` / `failed` name lists
    * (`failureFields`, pre-rendered) and scalars. BenchSpec asserts the worst-case
    * rendering of the full headline set fits the tail-window budget. */
  private[graft] def contractLine(total: Double, canonical: Seq[(String, Double)],
      failureFields: String, familySize: Int, calib: Double,
      sfDir: String): String =
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${jsonMap(canonical)}%s$failureFields%s,"isolation":"fresh-jvm-family-$familySize","calib":$calib%.3f,"sf":"$sfDir%s"}"""

  /** Guard the driver-contract budget at print time: if a future headline-set
    * widening pushes the line past the harness tail window, shout on stderr —
    * the artifact would silently regress to parsed:null otherwise. */
  private def printContract(line: String): Unit = {
    if (line.length > 1900)
      System.err.println(s"[bench] WARNING: contract line ${line.length} chars " +
        "exceeds the ~2000-char harness tail window — trim the headline set " +
        "or move fields to BENCH_DETAIL.json")
    println(line)
  }

  /** One rep of the host-speed calibration job (r8). BENCH artifacts are
    * compared ACROSS rounds, but the rounds run in different host epochs —
    * the r8 A/B (SCALE.md r8 note: the exact r6 commit re-run interleaved
    * with HEAD on identical data produced identical times, both ~1.7x the r6
    * artifact) proved the r6->r7 "regression" was host throughput, not
    * engine code. This fixed pure-CPU, shuffle-free, data-independent job
    * (xxhash64 fold over range, whole-stage codegen'd, 32 partitions) gives
    * every artifact a denominator: divide per-query times by calib to
    * compare engine work across host epochs. ~1-2 s per rep. The fold sums
    * DOUBLES: summing raw xxhash64 longs over 4e8 uniform values overflows
    * Long essentially surely, and under Spark 4's default ANSI mode that is
    * a SparkArithmeticException — exactly the crash that zeroed BENCH_r08
    * (VERDICT r8 #1). Cast-to-double keeps the measured work (the hash)
    * identical while making the reduction overflow-proof. */
  private def calibRep(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, sum, xxhash64}
    val t0 = System.nanoTime()
    spark.range(0L, 400000000L, 1L, 32)
      .select(sum(xxhash64(col("id")).cast("double"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    val names = sys.env.get("SPARK_GRAFT_BENCH_QUERIES") match {
      case Some("all") => SparkEntry.queries.keys.toSeq.sorted
      case Some(list)  => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None        => headline
    }
    // JVM/codegen/datasource/ML warmup so the first measured query isn't
    // charged for class loading: the parquet reader is ~1 s and the ML
    // pipeline stack (featurization kernels, IDF fit, the driver k-means
    // fit) seconds of pure first-touch cost. Toy data only — nothing the
    // queries read is cached.
    // Guarded: a warmup failure must never stop the measured queries or the
    // driver-contract JSON line (the same failure in a measured query is
    // caught by timeOnce and named as failed).
    try {
    spark.range(1000000L).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    locally {
      import spark.implicits._
      val toy = Seq((0L, "alpha beta gamma delta"), (1L, "beta gamma delta epsilon"),
        (2L, "gamma delta epsilon zeta"), (3L, "delta epsilon zeta eta"))
        .toDF("doc_id", "text")
      val feats = graft.text.FeaturePipeline.features(toy,
        graft.text.FeatureConfig(numTextFeatures = 64))
      graft.cluster.Clustering.kmeans(feats, k = 2, maxIter = 2)._2.count()
      // streaming engine first-touch (state store, offset log, memory sink)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(java.sql.Timestamp, Double)]
      ms.addData((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0))
      graft.streaming.Streaming.replayToTable(
        graft.streaming.Streaming.tumblingAgg(
          ms.toDF().toDF("ts", "value").withColumn("event_type", lit("w"))),
        "bench_warmup_stream").count()
    }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed (continuing): ${e.getMessage}")
    }
    val isChild = sys.env.contains("SPARK_GRAFT_BENCH_CHILD")
    // Best-of-3 calibration, guarded like warmup: an environment failure in
    // calibration must never cost the measured queries or the JSON line
    // (calib degrades to 0.0 = "no denominator this round").
    val calib: Double =
      if (isChild) 0.0
      else try {
        (1 to 3).map { _ =>
          val dt = calibRep(spark)
          System.err.println(f"[bench] calib rep $dt%.2f s")
          dt
        }.min
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calibration failed (continuing, calib=0): ${e.getMessage}")
        0.0
      }
    val work = names.flatMap { name =>
      SparkEntry.queries.get(name) match {
        case Some(q) => Some(name -> q)
        case None =>
          System.err.println(s"[bench] unknown query: $name (skipped)")
          None
      }
    }
    val (results, failed, profiles) = runAll(spark, sfDir, work, defaultReps)
    // failed queries carry no time; name them so a consumer can tell a
    // failure from a query that was never in the set
    val failedField = nameListField("failed", failed)
    if (isChild) {
      printContract(f"""{"metric":"total","value":${results.map(_._2).sum}%.3f,"unit":"sec","queries":${jsonMap(results)}%s$failedField%s,"sf":"$sfDir%s"}""")
      spark.stop()
      return
    }
    // Fresh-JVM phase: the parent's session idles while child JVMs re-measure
    // each family against a clean heap. Canonical per-query time = min of
    // in-set and isolated — both are times the engine actually achieved; the
    // raw maps are emitted alongside so a regression can be separated from
    // measurement-environment drift without re-running anything.
    val iso = runIsolated(results.map(_._1))
    val canonical = results.map { case (k, v) =>
      k -> math.min(v, iso.getOrElse(k, v))
    }
    val total = canonical.map(_._2).sum
    val isoSeq = results.flatMap { case (k, _) => iso.get(k).map(k -> _) }
    // Queries whose fresh-JVM re-measurement never landed (child OOM/timeout/
    // parse miss) fall back to in-set numbers; name them in the artifact so a
    // cross-round consumer can tell a genuine isolated measurement from a
    // degraded one (ADVICE r8) instead of trusting the isolation label alone.
    val isoFailedField = nameListField("isolated_failed",
      results.map(_._1).filterNot(iso.contains))
    // Host-epoch-normalized seconds (sec / calib) make the next throughput
    // epoch shift self-evident (VERDICT r8 #8) — but the raw maps live in the
    // sidecar, NOT the contract line, which must fit the harness tail window.
    val normField =
      if (calib <= 0.0) ""
      else s""","queries_normalized":${jsonMap(canonical.map { case (k, v) => k -> v / calib })}"""
    // bands + out-of-band flags ride the SIDECAR only — the contract line
    // must stay inside the harness tail window
    val bands = loadRoundBands(sfDir = sfDir)
    val oob = flagOutOfBand(canonical, bands)
    val oobField = oob.map("\"" + _ + "\"")
      .mkString(""","out_of_band":[""", ",", "]")
    // engine profiles of the in-set best reps (children report times only)
    val profilesJson = results.flatMap { case (k, _) =>
      profiles.get(k).map("\"" + k + "\":" + _.json) }.mkString("{", ",", "}")
    writeDetail(
      s"""{"queries":${jsonMap(canonical)},"queries_in_set":${jsonMap(results)},"queries_isolated":${jsonMap(isoSeq)}$isoFailedField$failedField$normField,"bands":${jsonBands(bands, canonical.map(_._1))}$oobField,"profiles":$profilesJson,"isolation":"fresh-jvm-family-$familySize","calib":$calib,"sf":"$sfDir"}""")
    printContract(contractLine(total, canonical, isoFailedField + failedField,
      familySize, calib, sfDir))
    spark.stop()
  }
}
