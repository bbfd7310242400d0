package graft.queries

import graft.QueryDef
import graft.functions.Aggregators
import graft.io.Tables
import graft.text.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus analytics & retrieval operators: staged conversion funnel, blocked
  * edit-distance join, exact TF-IDF top-terms, BM25-shaped keyword retrieval,
  * robust statistics (MAD), ordered group-concat, per-stratum deterministic
  * sampling, and (r6) the KMV sketch/sample family — SQL-replayable distinct
  * and set-operation estimates, mergeable bottom-k uniform samples, sampled
  * and GK-sketch quantiles, ES-weighted sampling. All fully oracle-checked;
  * transcendental-free formulations (rational idf instead of log-idf,
  * max-of-uniforms instead of u^(1/w)) keep doubles bit-identical across
  * engines — the gate compares floats with `==`.
  */
object AnalyticsQueries {

  val defs: Map[String, QueryDef] = Map(

    // ----- extension: staged conversion funnel — first view, first click
    // AFTER that view, first purchase AFTER that click, per user. Three keyed
    // aggregations + two equi-joins: each stage shuffles (user_id, ts) pairs
    // only, never the event payload; at 100 TB the event scan is pruned to
    // the three types before any exchange.
    "q_funnel" -> QueryDef.sql("""
      WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
                 WHERE event_type = 'view' GROUP BY user_id),
      c AS (SELECT e.user_id, MIN(e.ts) AS t_click FROM events e
            JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
            WHERE e.event_type = 'click' GROUP BY e.user_id),
      p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase FROM events e
            JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
            WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
      FROM v LEFT JOIN c ON v.user_id = c.user_id
             LEFT JOIN p ON v.user_id = p.user_id
      ORDER BY v.user_id""") { (s, d) =>
      val ev = Tables.events(s, d)
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val c = ev.filter(col("event_type") === "click").as("e")
        .join(v.as("v"), col("e.user_id") === col("v.user_id") && col("e.ts") > col("v.t_view"))
        .groupBy(col("e.user_id").as("user_id")).agg(min("e.ts").as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").as("e")
        .join(c.as("c"), col("e.user_id") === col("c.user_id") && col("e.ts") > col("c.t_click"))
        .groupBy(col("e.user_id").as("user_id")).agg(min("e.ts").as("t_purchase"))
      v.join(c, Seq("user_id"), "left")
        .join(p, Seq("user_id"), "left")
        .select("user_id", "t_view", "t_click", "t_purchase")
        .orderBy("user_id")
    },

    // ----- extension: blocked edit-distance join — Levenshtein over 25-char
    // prefixes, blocked by lang so the quadratic kernel runs per block (the
    // same blocking discipline as the candidate join J2). Integer distance →
    // engine-neutral. Built-in levenshtein on both engines (codegen'd in
    // Spark; no UDF).
    "q_edit_distance" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, lang, substr(text, 1, 25) AS s FROM documents)
      SELECT a.doc_id AS d1, b.doc_id AS d2, levenshtein(a.s, b.s) AS dist
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE levenshtein(a.s, b.s) <= 11
      ORDER BY d1, d2""") { (s, d) =>
      // r14 (guide §2.5): `lang` has a handful of values, and the per-lang
      // quadratic Levenshtein kernel is byte-light but CPU-dense — AQE
      // coalesced the few-hundred-KB lang shuffle to ONE partition and the
      // whole join ran as a single 37 s CPU task (event-log profiled). A
      // deterministic sub-block fan-out re-parallelizes it: one side hashed
      // into S buckets by doc id, the other exploded across all S, join on
      // (lang, bucket) — every pair meets exactly once, same pair set, S-way
      // parallel. xxhash64(doc_id), never rand() (retry-safe, §2.5).
      // S scales with the executor slots (values are per-pair scalars, so
      // the result is S-independent); never a constant tuned for one host.
      // The explode rides the streamed probe side a and the broadcast side b
      // is hashed, so the broadcast stays one copy of the table at any S.
      val S = s.sparkContext.defaultParallelism
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), substring(col("text"), 1, 25).as("s"))
      // spread: the single-file fixture otherwise pins the broadcast-join
      // probe side to ONE scan partition — the fan-out key alone cannot
      // re-parallelize a map-side join (no-op on any well-split table)
      val a = Tables.spread(t)
        .withColumn("__bk", explode(sequence(lit(0L), lit(S.toLong - 1))))
        .alias("a")
      val b = broadcast(t.withColumn("__bk",
          pmod(xxhash64(col("doc_id")), lit(S.toLong)))).alias("b")
      a.join(b, col("a.lang") === col("b.lang") &&
          col("a.__bk") === col("b.__bk") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
          levenshtein(col("a.s"), col("b.s")).as("dist"))
        .filter(col("dist") <= 11)
        .orderBy("d1", "d2")
    },

    // ----- M5/M7 oracle-checked form: exact TF-IDF top terms per document
    // with RATIONAL idf (tf·N/df — the log is monotone, so top-k by rational
    // idf ranks like log-idf for single-term scores, and the product stays
    // exact integer arithmetic until one final division). The HashingTF+IDF
    // pipeline variant is q_tfidf_features (model-dependent, rows-only).
    "q_tfidf_topterms" -> QueryDef.sql("""
      WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS t
                   FROM documents),
      tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t),
      df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY t),
      n AS (SELECT COUNT(*) AS n FROM documents),
      sc AS (SELECT doc_id, t AS term, CAST(tf * n AS DOUBLE) / df AS score
             FROM tf JOIN df USING (t) CROSS JOIN n),
      r AS (SELECT doc_id, term, score,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
            FROM sc)
      SELECT doc_id, term, score, rn FROM r WHERE rn <= 3
      ORDER BY doc_id, rn""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      // df from the tf frame (one row per (doc, term)), not a countDistinct
      // over the raw token stream: identical values, no distinct expand, and
      // Catalyst reuses tf's exchange so occurrences aggregate exactly once
      val df = tf.groupBy("t").agg(count(lit(1)).as("df"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), asc("term"))
      tf.join(broadcast(df), "t")
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("t").as("term"),
          ((col("tf") * col("n")).cast("double") / col("df")).as("score"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy("doc_id", "rn")
    },

    // ----- extension: BM25-shaped keyword retrieval — Robertson k1/b term
    // saturation and length normalization with RATIONAL idf
    // ((N-df+0.5)/(df+0.5); the standard form takes its log, which is
    // monotone but not bit-replayable across libm implementations). Per-term
    // scores combine in a FIXED expression order, so every double op is
    // IEEE-identical in both engines. The query-term tf columns come from one
    // conditional aggregation — the document never rides the shuffle.
    "q_bm25" -> QueryDef.sql("""
      WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS t
                   FROM documents),
      len AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      avgl AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM len),
      ndocs AS (SELECT COUNT(*) AS n FROM documents),
      tfq AS (SELECT doc_id,
                     COUNT(*) FILTER (WHERE t = 'join') AS tf1,
                     COUNT(*) FILTER (WHERE t = 'hash') AS tf2,
                     COUNT(*) FILTER (WHERE t = 'scan') AS tf3
              FROM tok GROUP BY doc_id),
      dfq AS (SELECT COUNT(DISTINCT CASE WHEN t = 'join' THEN doc_id END) AS df1,
                     COUNT(DISTINCT CASE WHEN t = 'hash' THEN doc_id END) AS df2,
                     COUNT(DISTINCT CASE WHEN t = 'scan' THEN doc_id END) AS df3
              FROM tok),
      -- every constant is CAST to DOUBLE before arithmetic: DuckDB decimal
      -- literals would otherwise do exact-decimal math (tf*2.2 in DECIMAL
      -- then a late coercion), landing on a different double than Spark's
      -- all-double path
      sc AS (SELECT f.doc_id,
                    ((CAST(n - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5)) * ((CAST(tf1 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (tf1 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (dl / avgdl))))
                  + ((CAST(n - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5)) * ((CAST(tf2 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (tf2 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (dl / avgdl))))
                  + ((CAST(n - df3 AS DOUBLE) + 0.5) / (CAST(df3 AS DOUBLE) + 0.5)) * ((CAST(tf3 AS DOUBLE) * CAST(2.2 AS DOUBLE)) / (tf3 + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) * (dl / avgdl)))) AS score
             FROM tfq f JOIN len USING (doc_id) CROSS JOIN avgl CROSS JOIN ndocs CROSS JOIN dfq)
      SELECT doc_id, score FROM sc
      ORDER BY score DESC, doc_id LIMIT 20""") { (s, d) =>
      val terms = Seq("join", "hash", "scan")
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      val len = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
      val avgl = len.agg((sum("dl").cast("double") / count(lit(1))).as("avgdl"))
      val ndocs = Tables.documents(s, d).agg(count(lit(1)).as("n"))
      val tfq = tok.groupBy("doc_id").agg(
        count(when(col("t") === terms(0), 1)).as("tf1"),
        count(when(col("t") === terms(1), 1)).as("tf2"),
        count(when(col("t") === terms(2), 1)).as("tf3"))
      val dfq = tok.agg(
        countDistinct(when(col("t") === terms(0), col("doc_id"))).as("df1"),
        countDistinct(when(col("t") === terms(1), col("doc_id"))).as("df2"),
        countDistinct(when(col("t") === terms(2), col("doc_id"))).as("df3"))
      def termScore(tf: String, df: String) =
        ((col("n") - col(df) + 0.5) / (col(df) + 0.5)) *
          ((col(tf) * 2.2) / (col(tf) + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
      tfq.join(len, "doc_id")
        .crossJoin(broadcast(avgl))
        .crossJoin(broadcast(ndocs))
        .crossJoin(broadcast(dfq))
        .select(col("doc_id"),
          (termScore("tf1", "df1") + termScore("tf2", "df2") + termScore("tf3", "df3")).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20)
    },

    // ----- A7 extension: median absolute deviation — the robust
    // spread statistic (two exact interpolated medians; single rounding on
    // both sides, same discipline as q_quantiles).
    "q_mad" -> QueryDef.sql("""
      WITH m AS (SELECT MEDIAN(value) AS med FROM events)
      SELECT ROUND(MAX(med), 6) AS med,
             ROUND(MEDIAN(ABS(value - med)), 6) AS mad
      FROM events CROSS JOIN m""") { (s, d) =>
      val ev = Tables.events(s, d)
      val m = ev.agg(percentile(col("value"), lit(0.5)).as("med"))
      ev.crossJoin(broadcast(m))
        .agg(round(max(col("med")), 6).as("med"),
          round(percentile(abs(col("value") - col("med")), lit(0.5)), 6).as("mad"))
    },

    // ----- A-family extension: ordered group-concat (string_agg/listagg) —
    // deterministic via full sort of the group's values on both engines.
    "q_string_agg" -> QueryDef.sql("""
      SELECT user_id, string_agg(event_type, ',' ORDER BY event_type) AS types
      FROM events WHERE event_id < 500 GROUP BY user_id ORDER BY user_id""") { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 500)
        .groupBy("user_id")
        .agg(array_join(array_sort(collect_list("event_type")), ",").as("types"))
        .orderBy("user_id")
    },

    // ----- A-family extension: per-group OLS regression (value on
    // hour-of-day) from exact order-independent sums: Σx/Σx² in integers,
    // Σy/Σxy through the decimal-cast discipline, then one fixed-order
    // double expression for slope/intercept. The whole fit is ONE map-side-
    // combined aggregation — the canonical 100 TB "fit a line per key" shape.
    "q_regression" -> QueryDef.sql("""
      WITH e AS (SELECT event_type, hour(ts) AS x, value AS y FROM events),
      g AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(x*x) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(30,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x*y AS DECIMAL(30,2))) AS DOUBLE) AS sxy
            FROM e GROUP BY event_type),
      sl AS (SELECT event_type, n, sy, sx,
                    (n*sxy - sx*sy) / (n*sxx - sx*sx) AS slope
             FROM g)
      SELECT event_type, n, ROUND(slope, 6) AS slope,
             ROUND((sy - slope*sx) / n, 6) AS intercept
      FROM sl ORDER BY event_type""") { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).as("x"), col("value").as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("long")).as("sx"),
          sum((col("x") * col("x")).cast("long")).as("sxx"),
          sum(col("y").cast(DecimalType(30, 2))).cast("double").as("sy"),
          sum((col("x") * col("y")).cast(DecimalType(30, 2))).cast("double").as("sxy"))
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")))
        .select(col("event_type"), col("n"), round(col("slope"), 6).as("slope"),
          round((col("sy") - col("slope") * col("sx")) / col("n"), 6).as("intercept"))
        .orderBy("event_type")
    },

    // ----- extension: Markov transition counts — per-user event sequences
    // via lag() with a deterministic (ts, event_id) tie-break, rolled up to
    // the global (prev → next) transition matrix. One window pass + one
    // aggregation; the window shuffle carries (user_id, type, ts) only.
    "q_transitions" -> QueryDef.sql("""
      WITH s AS (SELECT event_type,
                        LAG(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS prev
                 FROM events)
      SELECT prev AS p_type, event_type AS n_type, COUNT(*) AS n
      FROM s WHERE prev IS NOT NULL
      GROUP BY p_type, n_type ORDER BY p_type, n_type""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .select(col("event_type"), lag("event_type", 1).over(w).as("prev"))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev").as("p_type"), col("event_type").as("n_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy("p_type", "n_type")
    },

    // ----- extension: z-score anomaly ranking — per-type mean/stddev from
    // exact decimal power sums (the q_stats_moments discipline), then the
    // top-20 most anomalous events. Population stddev; sqrt is IEEE
    // exact-rounded so the doubles match bit-for-bit.
    "q_zscore" -> QueryDef.sql("""
      WITH g AS (SELECT event_type, COUNT(*) AS n,
                        CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) AS s1,
                        CAST(SUM(CAST(value*value AS DECIMAL(30,4))) AS DOUBLE) AS s2
                 FROM events GROUP BY event_type),
      m AS (SELECT event_type, s1/n AS mean, SQRT(s2/n - (s1/n)*(s1/n)) AS sd FROM g),
      z AS (SELECT e.event_id, e.event_type,
                   (e.value - m.mean) / m.sd AS z
            FROM events e JOIN m ON e.event_type = m.event_type)
      SELECT event_id, event_type, ROUND(z, 6) AS z
      FROM z ORDER BY ABS(z) DESC, event_id LIMIT 20""") { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      val ev = Tables.events(s, d)
      val m = ev.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(30, 2))).cast("double").as("s1"),
          sum((col("value") * col("value")).cast(DecimalType(30, 4))).cast("double").as("s2"))
        .select(col("event_type"), (col("s1") / col("n")).as("mean"),
          sqrt(col("s2") / col("n") - (col("s1") / col("n")) * (col("s1") / col("n"))).as("sd"))
      ev.join(broadcast(m), "event_type")
        .select(col("event_id"), col("event_type"),
          ((col("value") - col("mean")) / col("sd")).as("z"))
        .orderBy(abs(col("z")).desc, col("event_id"))
        .limit(20)
        .select(col("event_id"), col("event_type"), round(col("z"), 6).as("z"))
    },

    // ----- extension: Gini impurity of each user's event-type mix — the
    // log-free diversity measure (1 − Σ pᵢ²; entropy's ln is not
    // bit-replayable across engines, the rational form is). Fixed summation
    // order via one conditional-count pivot.
    "q_gini" -> QueryDef.sql("""
      WITH g AS (SELECT user_id, COUNT(*) AS n,
                        COUNT(*) FILTER (WHERE event_type = 'click') AS c1,
                        COUNT(*) FILTER (WHERE event_type = 'error') AS c2,
                        COUNT(*) FILTER (WHERE event_type = 'purchase') AS c3,
                        COUNT(*) FILTER (WHERE event_type = 'signup') AS c4,
                        COUNT(*) FILTER (WHERE event_type = 'view') AS c5
                 FROM events GROUP BY user_id)
      SELECT user_id,
             ROUND(1 - ((CAST(c1 AS DOUBLE)/n)*(CAST(c1 AS DOUBLE)/n)
                      + (CAST(c2 AS DOUBLE)/n)*(CAST(c2 AS DOUBLE)/n)
                      + (CAST(c3 AS DOUBLE)/n)*(CAST(c3 AS DOUBLE)/n)
                      + (CAST(c4 AS DOUBLE)/n)*(CAST(c4 AS DOUBLE)/n)
                      + (CAST(c5 AS DOUBLE)/n)*(CAST(c5 AS DOUBLE)/n)), 6) AS gini
      FROM g ORDER BY user_id""") { (s, d) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = count(lit(1)).as("n") +:
        types.zipWithIndex.map { case (t, i) =>
          count(when(col("event_type") === t, 1)).as(s"c${i + 1}")
        }
      def p(i: Int) = col(s"c$i").cast("double") / col("n")
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("user_id"),
          round(lit(1) - (1 to 5).map(i => p(i) * p(i)).reduce(_ + _), 6).as("gini"))
        .orderBy("user_id")
    },

    // ----- extension: cohort retention — users cohorted by first-seen week,
    // activity bucketed by weeks-since-first-seen, retention = active/cohort
    // size. Two keyed aggregations + one broadcast join of the (tiny) cohort-
    // size table; week arithmetic is integer day-diffs (no engine-specific
    // week-truncation semantics). The canonical product-analytics matrix.
    "q_cohort_retention" -> QueryDef.sql("""
      WITH f AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0
                 FROM events GROUP BY user_id),
      a AS (SELECT e.user_id,
                   CAST(FLOOR(date_diff('day', DATE '2024-01-01', f.d0) / 7.0) AS BIGINT) AS cohort_week,
                   CAST(FLOOR(date_diff('day', f.d0, CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS week_offset
            FROM events e JOIN f ON e.user_id = f.user_id),
      r AS (SELECT cohort_week, week_offset, COUNT(DISTINCT user_id) AS active
            FROM a GROUP BY cohort_week, week_offset),
      c AS (SELECT CAST(FLOOR(date_diff('day', DATE '2024-01-01', d0) / 7.0) AS BIGINT) AS cohort_week,
                   COUNT(*) AS cohort_size
            FROM f GROUP BY 1)
      SELECT r.cohort_week, r.week_offset, r.active, c.cohort_size,
             ROUND(CAST(r.active AS DOUBLE) / c.cohort_size, 6) AS retention
      FROM r JOIN c ON r.cohort_week = c.cohort_week
      ORDER BY r.cohort_week, r.week_offset""") { (s, d) =>
      val ev = Tables.events(s, d)
      val f = ev.groupBy("user_id").agg(min(to_date(col("ts"))).as("d0"))
      def cohortWeek(d0: org.apache.spark.sql.Column) =
        floor(datediff(d0, lit("2024-01-01").cast("date")) / 7.0).cast("long")
      val a = ev.join(f, "user_id")
        .select(col("user_id"), cohortWeek(col("d0")).as("cohort_week"),
          floor(datediff(to_date(col("ts")), col("d0")) / 7.0).cast("long").as("week_offset"))
      val r = a.groupBy("cohort_week", "week_offset")
        .agg(countDistinct("user_id").as("active"))
      val c = f.groupBy(cohortWeek(col("d0")).as("cohort_week"))
        .agg(count(lit(1)).as("cohort_size"))
      r.join(broadcast(c), "cohort_week")
        .select(col("cohort_week"), col("week_offset"), col("active"), col("cohort_size"),
          round(col("active").cast("double") / col("cohort_size"), 6).as("retention"))
        .orderBy("cohort_week", "week_offset")
    },

    // ----- extension: 2-D skyline (Pareto frontier: minimize price, maximize
    // size). The oracle is the O(n²) NOT EXISTS dominance definition; the
    // Spark plan is the scale rewrite — per-price max (map-side combinable),
    // a running-max sweep over DISTINCT prices only, then one equi-join back.
    // The hash match proves the sweep IS the dominance semantics. At 100 TB
    // the sweep input is |distinct prices|, not |rows|; if even that is huge,
    // the same sweep composes hierarchically (coarse-bucket prune first).
    "q_skyline" -> QueryDef.sql("""
      SELECT p.p_partkey, p.p_retailprice, p.p_size
      FROM part p
      WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      ORDER BY p_partkey""") { (s, d) =>
      graft.operators.Skyline.pareto2d(
          Tables.part(s, d).select("p_partkey", "p_retailprice", "p_size"),
          minCol = "p_retailprice", maxCol = "p_size")
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    },

    // ----- A8 extension: per-group covariance + Pearson correlation from
    // exact power sums (integer x = hour, decimal-cast y sums), one map-side-
    // combined aggregation, fixed-order double arithmetic — the engine-neutral
    // form of covar_pop/corr (Spark's builtins are streaming-update and
    // order-dependent in the last ulp).
    "q_covar" -> QueryDef.sql("""
      WITH g AS (SELECT event_type, COUNT(*) AS n,
                        SUM(x) AS sx, SUM(x*x) AS sxx,
                        CAST(SUM(CAST(y AS DECIMAL(30,2))) AS DOUBLE) AS sy,
                        CAST(SUM(CAST(y*y AS DECIMAL(30,4))) AS DOUBLE) AS syy,
                        CAST(SUM(CAST(x*y AS DECIMAL(30,2))) AS DOUBLE) AS sxy
                 FROM (SELECT event_type, hour(ts) AS x, value AS y FROM events)
                 GROUP BY event_type)
      SELECT event_type, n,
             ROUND((sxy - sx*sy/n) / n, 6) AS covar,
             ROUND((n*sxy - sx*sy) /
                   (SQRT(CAST(n*sxx - sx*sx AS DOUBLE)) * SQRT(n*syy - sy*sy)), 6) AS corr
      FROM g ORDER BY event_type""") { (s, d) =>
      import org.apache.spark.sql.types.DecimalType
      Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).as("x"), col("value").as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("long")).as("sx"),
          sum((col("x") * col("x")).cast("long")).as("sxx"),
          sum(col("y").cast(DecimalType(30, 2))).cast("double").as("sy"),
          sum((col("y") * col("y")).cast(DecimalType(30, 4))).cast("double").as("syy"),
          sum((col("x") * col("y")).cast(DecimalType(30, 2))).cast("double").as("sxy"))
        .select(col("event_type"), col("n"),
          round((col("sxy") - col("sx") * col("sy") / col("n")) / col("n"), 6).as("covar"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr"))
        .orderBy("event_type")
    },

    // ----- extension: inverted index build — term → document frequency +
    // the first-k posting list (the retrieval-index construction primitive;
    // complements q_bm25's scoring side). df comes from the full posting set;
    // only the k survivors ride the final string build.
    "q_inverted_index" -> QueryDef.sql("""
      WITH tok0 AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS t
                    FROM documents),
      tok AS (SELECT DISTINCT doc_id, t FROM tok0),
      r AS (SELECT t, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY t ORDER BY doc_id) AS rn
            FROM tok),
      dfreq AS (SELECT t, COUNT(*) AS df FROM tok GROUP BY t)
      SELECT dfreq.t AS term, dfreq.df,
             string_agg(CAST(r.doc_id AS VARCHAR), ',' ORDER BY r.doc_id) AS postings
      FROM dfreq JOIN r ON r.t = dfreq.t AND r.rn <= 5
      GROUP BY dfreq.t, dfreq.df ORDER BY term""") { (s, d) =>
      // per-doc token dedup is map-side (array_distinct before the explode):
      // the posting set is a per-row set, so no (doc_id, t) exchange is
      // needed to deduplicate it (r10 — the q_winnow_neardup rationale).
      // The first-5 postings come from a BOUNDED topK partial aggregation
      // (score = −doc_id ⇒ doc_id-ascending; exact, ids ≪ 2^53), not a
      // per-term ROW_NUMBER window: under Zipf the hottest term's window
      // partition is corpus-sized and sorts on ONE task, while the topK
      // buffer is 5 entries per partition regardless of df (r10 rewrite).
      // One aggregation also subsumes the old dfreq+survivors rejoin.
      Tables.documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(TextOps.tokens(col("text")))).as("t"))
        .groupBy(col("t").as("term"))
        .agg(count(lit(1)).as("df"),
          Aggregators.topK(5)((-col("doc_id")).cast("double"), col("doc_id"))
            .as("top"))
        .select(col("term"), col("df"),
          array_join(transform(col("top"), _.cast("string")), ",").as("postings"))
        .orderBy("term")
    },

    // ----- extension: SCD2 change history — collapse each user's event-type
    // sequence into validity intervals (valid_from/valid_to, open-ended
    // current row), the slowly-changing-dimension build every warehouse runs.
    // Two window passes over (user_id, ts, event_id) only; (us, event_id)
    // ordering makes simultaneous events deterministic; the open interval's
    // valid_to is a -1 sentinel (NULL handling differs across compare
    // stacks, the sentinel hashes identically everywhere).
    "q_scd2" -> QueryDef.sql("""
      WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
      c AS (SELECT user_id, event_type, event_id, us,
                   LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
            FROM e),
      ch AS (SELECT user_id, event_type, event_id, us FROM c
             WHERE prev IS NULL OR event_type <> prev),
      v AS (SELECT user_id, event_type, event_id AS change_event_id, us AS valid_from,
                   LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS vt
            FROM ch)
      SELECT user_id, event_type, change_event_id, valid_from,
             COALESCE(vt, -1) AS valid_to, (vt IS NULL) AS is_current
      FROM v ORDER BY user_id, valid_from, change_event_id""") { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNull || col("event_type") =!= col("prev"))
        .withColumn("vt", lead("us", 1).over(w))
        .select(col("user_id"), col("event_type"),
          col("event_id").as("change_event_id"), col("us").as("valid_from"),
          coalesce(col("vt"), lit(-1L)).as("valid_to"),
          col("vt").isNull.as("is_current"))
        .orderBy("user_id", "valid_from", "change_event_id")
    },

    // ----- extension: POINT-IN-TIME SNAPSHOT — reconstruct every user's
    // state as of an instant T from the SCD2 validity history (q_scd2's
    // plan): the time-travel read that makes a change history useful. T is
    // data-derived (midpoint of the event time range — integer arithmetic,
    // engine-exact) and broadcast as a one-row scalar frame; the interval
    // probe is a filter, not a join, so the snapshot costs one window pass
    // + one broadcast. At 100 TB the SCD2 table is the persisted artifact
    // and this query is a filter over it.
    "q_asof_snapshot" -> QueryDef.sql("""
      WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events),
      t AS (SELECT CAST((MIN(us) + MAX(us)) // 2 AS BIGINT) AS t0 FROM e),
      c AS (SELECT user_id, event_type, event_id, us,
                   LAG(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev
            FROM e),
      ch AS (SELECT user_id, event_type, event_id, us FROM c
             WHERE prev IS NULL OR event_type <> prev),
      v AS (SELECT user_id, event_type, event_id AS change_event_id, us AS valid_from,
                   LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS vt
            FROM ch)
      SELECT v.user_id, v.event_type, v.change_event_id, v.valid_from
      FROM v CROSS JOIN t
      WHERE v.valid_from <= t.t0 AND (v.vt IS NULL OR v.vt > t.t0)
      ORDER BY v.user_id""") { (s, d) =>
      val e = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("us"))
      val t0 = e.agg(((min("us") + max("us")) / 2).cast("long").as("t0"))
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      e.withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNull || col("event_type") =!= col("prev"))
        .withColumn("vt", lead("us", 1).over(w))
        .crossJoin(broadcast(t0))
        .filter(col("us") <= col("t0") &&
          (col("vt").isNull || col("vt") > col("t0")))
        .select(col("user_id"), col("event_type"),
          col("event_id").as("change_event_id"), col("us").as("valid_from"))
        .orderBy("user_id")
    },

    // ----- extension: RETRIEVAL EVAL HARNESS — rank-quality metrics for the
    // lexical retrieval stack (first relevant rank = the integer core of MRR,
    // hits@10 = precision@10 numerator, per query): ranking is tf-desc with
    // doc_id tie-break, relevance is an independent metadata label
    // (lang = 'en'), so the metric measures the ranking rather than itself.
    // Integer-exact end to end (ranks and counts, no reciprocal floats).
    // Scale shape: postings groupBy + one per-query window over ranked docs
    // only (docs containing the term), then a metadata equi-join.
    "q_retrieval_eval" -> QueryDef.sql("""
      WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS t
                   FROM documents),
      tf AS (SELECT q.q, doc_id, COUNT(*) AS tf
             FROM tok JOIN (VALUES ('join'), ('hash'), ('scan')) q(q) ON tok.t = q.q
             GROUP BY q.q, doc_id),
      r AS (SELECT q, doc_id, tf,
                   ROW_NUMBER() OVER (PARTITION BY q ORDER BY tf DESC, doc_id) AS rnk
            FROM tf),
      j AS (SELECT r.q, r.rnk, (d.lang = 'en') AS rel
            FROM r JOIN documents d ON d.doc_id = r.doc_id)
      SELECT q, COUNT(*) AS n_ranked,
             COALESCE(MIN(CASE WHEN rel THEN rnk END), 0) AS first_rel_rank,
             COUNT(*) FILTER (WHERE rel AND rnk <= 10) AS hits_at_10,
             COUNT(*) FILTER (WHERE rel) AS n_rel
      FROM j GROUP BY q ORDER BY q""") { (s, d) =>
      // No corpus-wide window (rewritten r10): ROW_NUMBER partitioned by the
      // 3 query terms ran the rank as a 3-TASK global sort — the ladder
      // showed the superlinear wall (1.5 s at 50×, 4.7 s at 100×: each
      // term's partition sorts the whole match set on one core). Every
      // reported metric is recoverable from BOUNDED aggregations instead:
      //  - hits@10: TopKScored(10) partial aggregation, (tf desc, doc_id
      //    asc) = its (score desc, id asc); the relevance bit rides the id's
      //    PARITY (id = 2·doc_id + rel — order-preserving since doc_ids are
      //    distinct within a term), so no post-join on the winners.
      //  - first_rel_rank: 1 + |rows strictly better than the best relevant
      //    row| — a struct-min ((−tf, doc_id) lexicographic) in the same
      //    aggregation, then one counting pass against the 3-row broadcast.
      //    Total order (doc_id tiebreak) ⇒ rank arithmetic is exact.
      // Two 32-way aggregation passes replace one 3-way sort; nothing
      // rank-materialized ever rides an exchange.
      val terms = Seq("join", "hash", "scan")
      val docsT = Tables.documents(s, d)
      val enriched = docsT
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
        .filter(col("t").isin(terms: _*))
        .groupBy(col("t").as("q"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .join(docsT.select(col("doc_id"),
          (col("lang") === "en").as("rel")), "doc_id")
      val key = struct((-col("tf")).as("ntf"), col("doc_id").as("bid"))
      val best = enriched.groupBy("q").agg(
        count(lit(1)).as("n_ranked"),
        count(when(col("rel"), 1)).as("n_rel"),
        min(when(col("rel"), key)).as("best"),
        Aggregators.topKScored(10)(col("tf").cast("double"),
          (col("doc_id") * 2 + when(col("rel"), 1).otherwise(0))
            .cast("long")).as("top10"))
      val better = enriched
        .join(broadcast(best.select(col("q"), col("best"))), "q")
        .filter(col("best").isNotNull && key < col("best"))
        .groupBy("q").agg(count(lit(1)).as("n_better"))
      best.join(better, Seq("q"), "left")
        .select(col("q"), col("n_ranked"),
          when(col("best").isNull, lit(0L))
            .otherwise(coalesce(col("n_better"), lit(0L)) + 1L)
            .as("first_rel_rank"),
          // pmod, not %: Spark's % returns -1 for negative ids, which would
          // silently drop relevant rows if doc_ids ever went negative
          // (ADVICE r10); the 2·doc_id+rel encoding itself stays
          // order-preserving for any integer doc_id
          size(filter(col("top10"), x => pmod(x.getField("_2"), lit(2)) === 1))
            .cast("long").as("hits_at_10"),
          col("n_rel"))
        .orderBy("q")
    },

    // ----- O5 extension: deterministic k-per-stratum sample — md5 hash-race
    // within each group (the reservoir-sample shape with replayable
    // randomness; complements q_sample_stratified's per-stratum rates).
    "q_sample_pergroup" -> QueryDef.sql("""
      WITH r AS (SELECT doc_id, lang,
                        ROW_NUMBER() OVER (PARTITION BY lang
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                 FROM documents)
      SELECT doc_id, lang, rn FROM r WHERE rn <= 3 ORDER BY lang, rn""") { (s, d) =>
      // bounded bottomKByKey aggregation, not a per-lang ROW_NUMBER window:
      // with a handful of languages the window is a #langs-task global sort
      // of the corpus; the bottom-k buffer is 3 (md5, id) pairs per
      // partition. Full-md5 string ordering — identical to the window's
      // ORDER BY — so the sample is exact, not hash-prefix-approximate.
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(Aggregators.bottomKByKey(3)(
          md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
          .as("bot"))
        .select(col("lang"), posexplode(col("bot")).as(Seq("pos", "p")))
        .select(col("p").getField("_2").as("doc_id"), col("lang"),
          (col("pos") + 1).cast("long").as("rn"))
        .orderBy("lang", "rn")
    },

    // ----- extension: DATA-QUALITY CHECK SUITE (Deequ shape) — the
    // pre-training contract gate: completeness, key uniqueness, value
    // bounds, domain membership, and a cross-column consistency rule, ALL
    // measured in ONE aggregation pass (conditional counts over a single
    // scan; the wide row is unpivoted to (check, metric, passed) rows with
    // stack()). At 100 TB this runs as one map-side-combined agg — no
    // per-check scans, no driver loop; `passed` is integer arithmetic so
    // the verdict is engine-exact. Metric semantics: violation COUNT for
    // every check (0 = clean), so no float ratios ride the gate.
    "q_data_checks" -> QueryDef.sql("""
      WITH m AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(*) - COUNT(text) AS null_text,
               COUNT(*) - COUNT(DISTINCT doc_id) AS dup_ids,
               COALESCE(SUM(CASE WHEN n_chars < 1 THEN 1 END), 0) AS under_min,
               COALESCE(SUM(CASE WHEN n_chars > 1000000 THEN 1 END), 0) AS over_max,
               COALESCE(SUM(CASE WHEN lang NOT IN ('en','de','fr','es','zz')
                                 THEN 1 END), 0) AS bad_lang,
               COALESCE(SUM(CASE WHEN n_chars <> LENGTH(text) THEN 1 END), 0)
                 AS len_mismatch
        FROM documents)
      SELECT chk AS check_name, CAST(violations AS BIGINT) AS violations,
             violations = 0 AS passed
      FROM (
        SELECT 'text_complete' AS chk, null_text AS violations FROM m
        UNION ALL SELECT 'doc_id_unique', dup_ids FROM m
        UNION ALL SELECT 'n_chars_min', under_min FROM m
        UNION ALL SELECT 'n_chars_max', over_max FROM m
        UNION ALL SELECT 'lang_domain', bad_lang FROM m
        UNION ALL SELECT 'n_chars_consistent', len_mismatch FROM m)
      ORDER BY check_name""") { (s, d) =>
      val m = Tables.documents(s, d).agg(
        (count(lit(1)) - count(col("text"))).as("null_text"),
        (count(lit(1)) - count_distinct(col("doc_id"))).as("dup_ids"),
        coalesce(sum(when(col("n_chars") < 1, 1L)), lit(0L)).as("under_min"),
        coalesce(sum(when(col("n_chars") > 1000000, 1L)), lit(0L)).as("over_max"),
        coalesce(sum(when(!col("lang").isin("en", "de", "fr", "es", "zz"), 1L)),
          lit(0L)).as("bad_lang"),
        coalesce(sum(when(col("n_chars") =!= length(col("text")), 1L)),
          lit(0L)).as("len_mismatch"))
      m.select(expr("""stack(6,
          'text_complete', null_text,
          'doc_id_unique', dup_ids,
          'n_chars_min', under_min,
          'n_chars_max', over_max,
          'lang_domain', bad_lang,
          'n_chars_consistent', len_mismatch) AS (check_name, violations)"""))
        .withColumn("passed", col("violations") === 0)
        .orderBy("check_name")
    },

    // ----- extension: KMV distinct-count sketch (functions.Kmv) — the
    // order-statistics sibling of the HLL gate (q_approx_distinct). Unlike
    // HLL, the KMV hash is the engine's SQL-replayable permutation, so the
    // ESTIMATE ITSELF hash-matches: the oracle recomputes the k-th smallest
    // hash with a window rank and applies the same (k−1)·P/h₍k₎ formula.
    // A drifted sketch, a lost buffer merge, or a changed hash reddens the
    // hash directly — no error-band indirection (the within_bound flag is
    // the same deterministic arithmetic on both sides, reported for
    // visibility, not slack). k = 64 < the ~150 distinct users per type, so
    // the ESTIMATOR branch is exercised, not the exact-small-set branch.
    "q_kmv_distinct" -> QueryDef.sql("""
      SELECT event_type, n_exact, est,
             (ABS(est - n_exact) * SQRT(62.0) <= 3.0 * n_exact) AS within_bound
      FROM (
        SELECT event_type, MAX(nd) AS n_exact,
               CASE WHEN MAX(nd) < 64 THEN CAST(MAX(nd) AS DOUBLE)
                    ELSE ROUND(63.0 * 2147483647 /
                               MAX(CASE WHEN rn = 64 THEN h END), 4) END AS est
        FROM (
          SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
                 COUNT(*) OVER (PARTITION BY event_type) AS nd
          FROM (SELECT DISTINCT event_type,
                       (1103515245 * (user_id % 2147483647) + 12345)
                         % 2147483647 AS h
                FROM events) hs) r
        GROUP BY event_type) e
      ORDER BY event_type""") { (s, d) =>
      import graft.functions.Kmv
      val k = 64
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(Kmv.kmv(k)(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type"), col("n_exact"),
          Kmv.estimate(col("sk"), k).as("est"))
        .withColumn("within_bound",
          abs(col("est") - col("n_exact")) * sqrt(lit(62.0)) <=
            lit(3.0) * col("n_exact"))
        .orderBy("event_type")
    },

    // ----- extension: KMV set-operation estimates — union, intersection and
    // Jaccard cardinalities of two key sets from their MERGED sketches (the
    // k smallest of K(A) ∪ K(B) IS the union's sketch; Beyer et al. 2007
    // §5), no re-scan of either side. The 100 TB shape: per-slice sketches
    // answer "how many users did A and B share?" from 2 KB of state. Every
    // estimate is replayed exactly in SQL → full hash match.
    "q_kmv_setops" -> QueryDef.sql("""
      WITH ha AS (SELECT DISTINCT (1103515245 * (user_id % 2147483647) + 12345)
                         % 2147483647 AS h
                  FROM events WHERE event_type = 'click'),
      hb AS (SELECT DISTINCT (1103515245 * (user_id % 2147483647) + 12345)
                    % 2147483647 AS h
             FROM events WHERE event_type = 'purchase'),
      ka AS (SELECT h FROM ha ORDER BY h LIMIT 64),
      kb AS (SELECT h FROM hb ORDER BY h LIMIT 64),
      ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) u
             ORDER BY h LIMIT 64),
      st AS (SELECT (SELECT COUNT(*) FROM ku) AS m,
                    (SELECT MAX(h) FROM ku) AS hk,
                    (SELECT COUNT(*) FROM ku
                     WHERE h IN (SELECT h FROM ka)
                       AND h IN (SELECT h FROM kb)) AS common),
      ex AS (SELECT
               COUNT(DISTINCT CASE WHEN event_type = 'click' THEN user_id END) AS n_a,
               COUNT(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END) AS n_b,
               COUNT(DISTINCT user_id) AS n_union
             FROM events WHERE event_type IN ('click', 'purchase'))
      SELECT n_a, n_b, n_union, n_a + n_b - n_union AS n_inter,
             CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
                  ELSE ROUND(63.0 * 2147483647 / hk, 4) END AS union_est,
             ROUND(CAST(common AS DOUBLE) / CAST(m AS DOUBLE), 6) AS jacc_est,
             ROUND((CAST(common AS DOUBLE) / CAST(m AS DOUBLE)) *
                   (CASE WHEN m < 64 THEN CAST(m AS DOUBLE)
                         ELSE 63.0 * 2147483647 / hk END), 4) AS inter_est
      FROM st, ex""") { (s, d) =>
      import graft.functions.Kmv
      val k = 64
      val ev = Tables.events(s, d)
      val a = ev.filter(col("event_type") === "click")
        .agg(Kmv.kmv(k)(col("user_id")).as("ska"))
      val b = ev.filter(col("event_type") === "purchase")
        .agg(Kmv.kmv(k)(col("user_id")).as("skb"))
      val ex = ev.filter(col("event_type").isin("click", "purchase"))
        .agg(
          countDistinct(when(col("event_type") === "click", col("user_id")))
            .as("n_a"),
          countDistinct(when(col("event_type") === "purchase", col("user_id")))
            .as("n_b"),
          countDistinct(col("user_id")).as("n_union"))
      a.crossJoin(b).crossJoin(ex)
        .withColumn("u", Kmv.unionSketch(col("ska"), col("skb"), k))
        .select(col("n_a"), col("n_b"), col("n_union"),
          (col("n_a") + col("n_b") - col("n_union")).as("n_inter"),
          Kmv.estimate(col("u"), k).as("union_est"),
          round(Kmv.jaccardRaw(col("u"), col("ska"), col("skb")), 6)
            .as("jacc_est"),
          round(Kmv.jaccardRaw(col("u"), col("ska"), col("skb")) *
            Kmv.estimateRaw(col("u"), k), 4).as("inter_est"))
    },

    // ----- extension: deterministic bottom-k uniform sample — the k rows
    // with the smallest key hash are a uniform without-replacement sample
    // (the hash is a fixed permutation of the key space), maintained by a
    // MERGEABLE bounded aggregator (functions.Kmv.BottomK): the map side
    // emits one ≤k-row partial per partition, no per-group sort, and daily
    // samples merge into exactly the month's sample. The oracle replays the
    // same sample as a window rank — full hash match, rank order included.
    "q_sample_bottomk" -> QueryDef.sql("""
      SELECT event_type, rn, event_id FROM (
        SELECT event_type, event_id,
               ROW_NUMBER() OVER (PARTITION BY event_type
                 ORDER BY (1103515245 * (event_id % 2147483647) + 12345)
                          % 2147483647) AS rn
        FROM events) t
      WHERE rn <= 16 ORDER BY event_type, rn""") { (s, d) =>
      import graft.functions.Kmv
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(Kmv.bottomK(16)(col("event_id"), col("event_id").cast("double"))
          .as("samp"))
        .select(col("event_type"), posexplode(col("samp")).as(Seq("pos", "ev")))
        .select(col("event_type"), (col("pos") + 1).cast("long").as("rn"),
          col("ev").cast("long").as("event_id"))
        .orderBy("event_type", "rn")
    },

    // ----- extension: 64-bit-domain KMV (VERDICT r7 #8) — the same sketch
    // and bottom-k sample on keys DELIBERATELY pushed past 2³¹
    // (o_orderkey · 4294967311 > 2³² for every order), where the mod-P
    // multiplicative hash's collision precondition would bite.
    // ANSI bound (SCALE.md r9 audit): the product overflows Long only at
    // o_orderkey ≥ 2.1e9 ≈ sf 350; gate max is ~6e5. A corpus regen past
    // that would fail LOUD (ANSI exception), not silently wrap. hash64 is
    // the splitmix64 finalizer — a bijection on the full long domain, so no
    // two distinct keys ever collide — and the oracle replays it stage by
    // stage in HUGEINT-emulated unsigned arithmetic (Kmv.splitmix64SqlCtes,
    // the bills-source pattern), then re-derives the SAME bottom-16 sample
    // (window rank over the replayed hash) and the SAME distinct estimate
    // ((k−1)·2⁶⁴ / u₍k₎ in one IEEE-double expression). Full hash match:
    // sample membership, order, AND estimate.
    "q_kmv64" -> QueryDef.sql(s"""
      WITH kk AS (SELECT o_orderkey * 4294967311 AS key64 FROM orders),
      ${graft.functions.Kmv.splitmix64SqlCtes("kk", "key64")},
      r AS (SELECT key64, h, ROW_NUMBER() OVER (ORDER BY h) AS rn FROM sm_h),
      est AS (SELECT ROUND(${255.0 * 1.8446744073709552E19}
                           / (CAST(h AS DOUBLE) + 9.223372036854776E18), 4)
                     AS est
              FROM r WHERE rn = 256)
      SELECT rn, key64, (SELECT est FROM est) AS est
      FROM r WHERE rn <= 16 ORDER BY rn""") { (s, d) =>
      import graft.functions.Kmv
      val kk = Tables.orders(s, d)
        .select((col("o_orderkey") * lit(4294967311L)).as("key64"))
      kk.agg(
          Kmv.kmv64(256)(col("key64")).as("sk"),
          Kmv.bottomK64(16)(col("key64"), col("key64").cast("double"))
            .as("samp"))
        .select(posexplode(col("samp")).as(Seq("pos", "keyd")), col("sk"))
        .select((col("pos") + 1).cast("long").as("rn"),
          col("keyd").cast("long").as("key64"),
          Kmv.estimate64(col("sk"), 256).as("est"))
        .orderBy("rn")
    },

    // ----- extension: sampled quantiles — order statistics of a bottom-k
    // uniform sample estimate population quantiles with DKW rank error
    // ≤ √(ln(2/δ)/2k) (≈ 0.102 at k = 256, δ = 1%; the gate flags use 0.11).
    // The 100 TB path when exact percentile buffers don't fit: one bounded
    // mergeable sketch pass + one cheap rank-verification pass. The sample,
    // the estimates AND the verified rank fractions are all replayed exactly
    // in SQL → full hash match (the _ok flags are identical deterministic
    // arithmetic on both sides).
    "q_quantile_sketch" -> QueryDef.sql("""
      WITH s AS (SELECT value,
                   ROW_NUMBER() OVER (ORDER BY
                     (1103515245 * (event_id % 2147483647) + 12345)
                     % 2147483647) AS rn
                 FROM events),
      samp AS (SELECT value FROM s WHERE rn <= 256),
      o AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS vr FROM samp),
      mm AS (SELECT COUNT(*) AS m FROM samp),
      est AS (SELECT
        (SELECT value FROM o, mm
         WHERE vr = CAST(FLOOR(0.5 * (m - 1)) AS BIGINT) + 1) AS p50_raw,
        (SELECT value FROM o, mm
         WHERE vr = CAST(FLOOR(0.9 * (m - 1)) AS BIGINT) + 1) AS p90_raw),
      base AS (SELECT COUNT(*) AS n,
                 SUM(CASE WHEN value <= (SELECT p50_raw FROM est)
                          THEN 1 ELSE 0 END) AS c50,
                 SUM(CASE WHEN value <= (SELECT p90_raw FROM est)
                          THEN 1 ELSE 0 END) AS c90
               FROM events)
      SELECT n, (SELECT m FROM mm) AS m,
             ROUND((SELECT p50_raw FROM est), 6) AS p50_est,
             ROUND((SELECT p90_raw FROM est), 6) AS p90_est,
             ROUND(CAST(c50 AS DOUBLE) / n, 6) AS p50_rank,
             ROUND(CAST(c90 AS DOUBLE) / n, 6) AS p90_rank,
             (ABS(CAST(c50 AS DOUBLE) / n - 0.5) <= 0.11) AS p50_ok,
             (ABS(CAST(c90 AS DOUBLE) / n - 0.9) <= 0.11) AS p90_ok
      FROM base""") { (s, d) =>
      import graft.functions.Kmv
      val k = 256
      val ev = Tables.events(s, d)
      val est = ev
        .agg(Kmv.bottomK(k)(col("event_id"), col("value")).as("samp"))
        .select(array_sort(col("samp")).as("sv"))
        .select(size(col("sv")).cast("long").as("m"),
          Kmv.sampleQuantile(col("sv"), 0.5).as("p50_raw"),
          Kmv.sampleQuantile(col("sv"), 0.9).as("p90_raw"))
      ev.crossJoin(broadcast(est))
        .agg(count(lit(1)).as("n"), first(col("m")).as("m"),
          first(col("p50_raw")).as("p50_raw"),
          first(col("p90_raw")).as("p90_raw"),
          sum(when(col("value") <= col("p50_raw"), 1L).otherwise(0L)).as("c50"),
          sum(when(col("value") <= col("p90_raw"), 1L).otherwise(0L)).as("c90"))
        .select(col("n"), col("m"),
          round(col("p50_raw"), 6).as("p50_est"),
          round(col("p90_raw"), 6).as("p90_est"),
          round(col("c50").cast("double") / col("n"), 6).as("p50_rank"),
          round(col("c90").cast("double") / col("n"), 6).as("p90_rank"),
          (abs(col("c50").cast("double") / col("n") - 0.5) <= 0.11).as("p50_ok"),
          (abs(col("c90").cast("double") / col("n") - 0.9) <= 0.11).as("p90_ok"))
    },

    // ----- extension: stock approx-percentile sketch, error-certified — the
    // Greenwald-Khanna sketch behind Spark's approx_percentile guarantees
    // rank error ≤ 1/accuracy; like q_approx_distinct, the gate hashes the
    // guarantee: Spark emits the VERIFIED rank fraction of each estimate
    // (one cheap second pass) and a within_bound flag (|rank − q| ≤ 1/acc,
    // deterministic — GK's bound is worst-case, not probabilistic), the
    // oracle emits exact quantiles + literal TRUEs. Next to the KMV
    // q_quantile_sketch this covers both quantile paths: the engine-native
    // mergeable sample (full-hash replayable) and the stock codegen'd
    // sketch (bound-certified).
    "q_approx_percentile" -> QueryDef.sql("""
      WITH r AS (SELECT event_type,
                        quantile_disc(value, 0.5) AS p50_exact,
                        quantile_disc(value, 0.9) AS p90_exact
                 FROM events GROUP BY event_type)
      SELECT event_type, ROUND(p50_exact, 6) AS p50_exact,
             ROUND(p90_exact, 6) AS p90_exact,
             TRUE AS p50_ok, TRUE AS p90_ok
      FROM r ORDER BY event_type""") { (s, d) =>
      val acc = 200 // rank error ≤ 1/200 = 0.5%
      val ev = Tables.events(s, d)
      val est = ev.groupBy("event_type")
        .agg(percentile_approx(col("value"), lit(0.5), lit(acc)).as("p50_est"),
          percentile_approx(col("value"), lit(0.9), lit(acc)).as("p90_est"),
          sort_array(collect_list(col("value"))).as("vs"),
          count(lit(1)).as("n"))
      // verified rank of each estimate within its group (exact, from the
      // sorted group values — groups are event-type-sized here; at scale the
      // second pass is the broadcast-join form q_quantile_sketch uses)
      val rankOf = (est: org.apache.spark.sql.Column,
                    vs: org.apache.spark.sql.Column) =>
        size(filter(vs, v => v <= est)).cast("double")
      est.select(col("event_type"),
          round(element_at(col("vs"),
            ceil(col("n") * 0.5).cast("int")), 6).as("p50_exact"),
          round(element_at(col("vs"),
            ceil(col("n") * 0.9).cast("int")), 6).as("p90_exact"),
          (abs(rankOf(col("p50_est"), col("vs")) / col("n") - 0.5) <=
            lit(1.0 / acc) + lit(1.0) / col("n")).as("p50_ok"),
          (abs(rankOf(col("p90_est"), col("vs")) / col("n") - 0.9) <=
            lit(1.0 / acc) + lit(1.0) / col("n")).as("p90_ok"))
        .orderBy("event_type")
    },

    // ----- extension: deterministic WEIGHTED sample (training-data mixture
    // weighting) — Efraimidis–Spirakis priorities for integer weights
    // without transcendentals: an item of weight w takes the MAX of w
    // double-hashed uniforms h₁+j·h₂ mod P (same law as ES keys u^(1/w);
    // cross-engine exp/ln/pow are not bit-reproducible, max-of-uniforms is).
    // Top-K by priority = weighted without-replacement sample; TakeOrdered,
    // no global sort. The oracle unrolls the w ≤ 5 draws as GREATEST — full
    // hash.
    "q_sample_weighted" -> QueryDef.sql {
      val terms = (1 to 5).map { j =>
        val h = graft.functions.Kmv.weightedDrawSql("o_orderkey", j)
        if (j == 1) h
        else s"CASE WHEN 6 - CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) >= $j THEN $h ELSE -1 END"
      }
      s"""
      SELECT o_orderkey, w, pri FROM (
        SELECT o_orderkey,
               6 - CAST(SUBSTR(o_orderpriority, 1, 1) AS BIGINT) AS w,
               GREATEST(${terms.mkString(",\n                 ")}) AS pri
        FROM orders) t
      ORDER BY pri DESC, o_orderkey LIMIT 100"""
    } { (s, d) =>
      import graft.functions.Kmv
      Tables.orders(s, d)
        .withColumn("w",
          lit(6L) - substring(col("o_orderpriority"), 1, 1).cast("long"))
        .withColumn("pri", Kmv.weightedPriority(col("o_orderkey"), col("w")))
        .orderBy(col("pri").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "w", "pri")
        .orderBy(col("pri").desc, col("o_orderkey"))
    }
  )
}
