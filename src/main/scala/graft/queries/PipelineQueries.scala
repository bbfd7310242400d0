package graft.queries

import graft.QueryDef
import graft.dedup.MinHashDedup
import graft.functions.Aggregators
import graft.io.Tables
import graft.text.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond the reference surface: benchmark
  * decontamination, deterministic weighted sampling, sequence packing, table
  * checksumming, z-order layout keys, int8 embedding quantization, and
  * sketch-assisted exact heavy hitters. Every query here is fully
  * oracle-checked — the "randomness" the real pipelines draw from an RNG is
  * re-derived from md5 so DuckDB replays selection bit-for-bit.
  */
object PipelineQueries {

  /** 48-bit unsigned int from the leading 12 hex chars of md5 — small enough
    * that per-group sums stay far from Long overflow, exact in a Double. */
  private def md5Bits48(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c.cast("binary")), 1, 12), 16, 10).cast("long")

  private val Z_BITS = 8

  /** Morton key, both sides delegated to [[graft.operators.ZOrder]] (the
    * write-layout operator, r6) so the engine has ONE interleave. */
  private def zOrderSql(x: String, y: String): String =
    graft.operators.ZOrder.interleaveSql(x, y, Z_BITS)

  private def zOrderCol(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
    graft.operators.ZOrder.interleave(x, y, Z_BITS)

  val defs: Map[String, QueryDef] = Map(

    // ----- extension: benchmark decontamination — drop every training doc
    // that shares an n-gram with the held-out benchmark set (the standard
    // LLM-eval hygiene pass). n=4 here because the synthetic vocabulary is
    // ~31 words (real corpora use 8-13-grams); the operator is n-independent.
    // Scale shape: the benchmark n-gram set is eval-sized → broadcast to the
    // corpus scan; contaminated ids are a distinct on doc_id only; the
    // full-text row never rides a shuffle.
    "q_decontaminate" -> QueryDef.sql("""
      WITH toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t
                    FROM documents),
      grams AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
                       i -> array_to_string(t[i:i+3], ' '))) AS g
                FROM toks),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0),
      bad AS (SELECT DISTINCT doc_id FROM grams
              WHERE doc_id % 11 <> 0 AND g IN (SELECT g FROM bench))
      SELECT doc_id FROM documents
      WHERE doc_id % 11 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
      ORDER BY doc_id""") { (s, d) =>
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.ngrams(TextOps.tokens(col("text")), 4)).as("g"))
      // per-doc array_distinct pre-reduces the exchange feeding the global
      // distinct (duplicate grams within one doc never leave the map side)
      val bench = Tables.documents(s, d)
        .filter(col("doc_id") % 11 === 0)
        .select(explode(array_distinct(
          TextOps.ngrams(TextOps.tokens(col("text")), 4))).as("g"))
        .distinct()
      val contaminated = grams.filter(col("doc_id") % 11 =!= 0)
        .join(broadcast(bench), "g")
        .select("doc_id").distinct()
      Tables.documents(s, d)
        .filter(col("doc_id") % 11 =!= 0)
        .join(contaminated, Seq("doc_id"), "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    },

    // ----- extension: the FULL CorpusBuild composition oracle-checked end to
    // end — quality gate → exact dedup (min-id survivor) → banded-LSH
    // near-dup dedup (greedy smaller-id survivor) → 4-gram decontamination
    // against the raw eval slice → deterministic md5 split → per-(split,
    // lang) budget report, replayed stage-for-stage in DuckDB. The near-dup
    // stage's oracle is EXACT all-pairs 5-gram-shingle Jaccard ≥ 80 — valid
    // for the same reason as q_minhash_dedup (the corpus's near-dups sit at
    // jac ≈ 90+, where 16-band/4-row recall misses < 1e-7 per pair; verified
    // to match at gate scale before shipping). The quadratic oracle is
    // gate-scale-only; the ENGINE path stays banded/bucketed at any scale.
    "q_corpus_build" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, lang, text,
                        list_filter(string_split(text,' '), x -> x <> '') AS toks
                 FROM documents),
      tt AS (SELECT doc_id, lang, text, toks, len(toks) AS n_tok FROM t),
      g AS (SELECT * FROM tt WHERE n_tok BETWEEN 10 AND 1000),
      e AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM g),
      ex AS (SELECT doc_id, lang, toks, n_tok FROM e WHERE rn = 1),
      sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+4], ' '))) AS s
             FROM ex),
      dup AS (SELECT DISTINCT b.doc_id
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) * 100.0
                    / len(list_distinct(list_concat(a.s, b.s))) >= 80.0),
      nd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM dup)),
      bench AS (SELECT DISTINCT unnest(list_transform(range(1, len(toks) - 2),
                       i -> array_to_string(toks[i:i+3], ' '))) AS g4
                FROM tt WHERE doc_id % 11 = 0),
      g4s AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+3], ' '))) AS g4
              FROM nd WHERE doc_id % 11 <> 0),
      bad AS (SELECT DISTINCT doc_id FROM g4s WHERE g4 IN (SELECT g4 FROM bench)),
      s AS (SELECT lang, n_tok,
                   CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT lang, n_tok,
                         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 10 AS b
                  FROM nd
                  WHERE doc_id % 11 <> 0
                    AND doc_id NOT IN (SELECT doc_id FROM bad)))
      SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM s GROUP BY split, lang ORDER BY split, lang""") { (s, d) =>
      graft.CorpusBuild.build(s, d)
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("split", "lang")
    },

    // ----- extension: deterministic weighted sampling — a hash race: each row
    // gets priority u/w (u = 48-bit md5 of the key, w = weight), k smallest
    // win. Weight-monotone selection (heavier rows win more often) that any
    // engine replays exactly; the textbook Efraimidis-Spiratos key u^(1/w) is
    // a one-line swap but transcendental, and pow's last ulp differs across
    // libm implementations, which would break bit-exact replay. One pass, one
    // TakeOrdered — no pre-count, unlike the reference's count()+sample()
    // two-pass (AnalysisUtils.scala:98-104).
    "q_weighted_sample" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, n_chars,
                        CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS DOUBLE)
                          / n_chars AS pri
                 FROM documents)
      SELECT doc_id, n_chars FROM t
      ORDER BY pri, doc_id LIMIT 40""") { (s, d) =>
      Tables.documents(s, d)
        .withColumn("pri",
          md5Bits48(col("doc_id").cast("string")).cast("double") / col("n_chars"))
        .orderBy("pri", "doc_id")
        .limit(40)
        .select("doc_id", "n_chars")
    },

    // ----- extension: SOURCE MIXING — rebalance a multi-source corpus toward
    // a uniform per-source token share (the data-mixing step before LLM
    // training): weight_s = total_tokens / (n_sources · source_tokens),
    // capped at 1, and each doc keeps iff its 24-bit md5 fraction < weight_s.
    // Both the cap and the comparison are ONE cross-multiplied integer
    // inequality (u·src_tok·nsrc < 2^24·total), so there is no floating
    // division to diverge between engines and ANSI overflow is impossible by
    // domain (2^24·2^32·nsrc < 2^63). Scale shape: per-source totals are a
    // tiny aggregate broadcast back into the scan — one pass, one groupBy.
    "q_source_mix" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, source,
                        len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tok
                 FROM documents),
      tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS total,
                     COUNT(DISTINCT source) AS nsrc FROM t),
      srcs AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS src_tok
               FROM t GROUP BY source),
      sel AS (SELECT t.doc_id, t.source, t.n_tok
              FROM t JOIN srcs s ON t.source = s.source CROSS JOIN tot
              WHERE CAST('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)), 1, 6) AS BIGINT)
                      * s.src_tok * tot.nsrc
                    < 16777216 * tot.total)
      SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM sel GROUP BY source ORDER BY source""") { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      val tot = t.agg(sum("n_tok").cast("long").as("total"),
        countDistinct("source").as("nsrc"))
      val srcs = t.groupBy("source").agg(sum("n_tok").cast("long").as("src_tok"))
      val u = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 6),
        16, 10).cast("long")
      t.join(broadcast(srcs), "source").crossJoin(broadcast(tot))
        .filter(u * col("src_tok") * col("nsrc") < lit(16777216L) * col("total"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").cast("long").as("n_tokens"))
        .orderBy("source")
    },

    // ----- extension: DOMAIN FILTER — the URL-level curation gate a web
    // corpus runs before any content heuristic (RefinedWeb §3.1 / UT1-style
    // blocklists): parse the host out of each document's URL, drop blocklisted
    // hosts (literal list + a pattern tier), and cap the docs kept per host
    // (domain-diversity cap) by a deterministic md5 quality rank. The corpus
    // has no URL column, so one is synthesized from (source, doc_id) first —
    // the machinery under test is host parsing + two-tier blocklist + capped
    // keep. kept_id_sum pins exactly WHICH docs survived the rank cap, not
    // just how many. Scale shape: host parse is a narrow map over (doc_id,
    // source) only — text is never read (column pruning); the literal
    // blocklist is O(list) predicate work, no join; the per-host cap is one
    // window keyed on host (high cardinality → small partitions; a mega-host
    // skew case would swap in the bounded-heap q_topk_agg shape).
    "q_domain_filter" -> QueryDef.sql("""
      WITH h AS (SELECT doc_id,
                        regexp_extract('https://' || source || '-' ||
                          (doc_id % 7) || '.example.org/doc/' || doc_id,
                          '^https://([^/]+)/', 1) AS host
                 FROM documents),
      f AS (SELECT doc_id, host,
                   (host IN ('src3-1.example.org', 'src11-4.example.org',
                             'src17-0.example.org')
                    OR contains(host, '-6.')) AS blocked,
                   ROW_NUMBER() OVER (PARTITION BY host ORDER BY
                     CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)
                          AS BIGINT), doc_id) AS rn
            FROM h)
      SELECT host, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
             CAST(SUM(CASE WHEN NOT blocked AND rn <= 3 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
             CAST(SUM(CASE WHEN NOT blocked AND rn <= 3 THEN doc_id ELSE 0 END)
                  AS BIGINT) AS kept_id_sum
      FROM f GROUP BY host ORDER BY host""") { (s, d) =>
      val host = regexp_extract(
        concat(lit("https://"), col("source"), lit("-"), col("doc_id") % 7,
          lit(".example.org/doc/"), col("doc_id")),
        "^https://([^/]+)/", 1)
      val blocked = col("host").isin("src3-1.example.org",
          "src11-4.example.org", "src17-0.example.org") ||
        col("host").contains("-6.")
      val w = Window.partitionBy("host")
        .orderBy(md5Bits48(col("doc_id").cast("string")), col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"), host.as("host"))
        .withColumn("blocked", blocked)
        .withColumn("rn", row_number().over(w))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("blocked"), 1L).otherwise(0L)).cast("long").as("n_blocked"),
          sum(when(!col("blocked") && col("rn") <= 3, 1L).otherwise(0L))
            .cast("long").as("n_kept"),
          sum(when(!col("blocked") && col("rn") <= 3, col("doc_id")).otherwise(0L))
            .cast("long").as("kept_id_sum"))
        .orderBy("host")
    },

    // ----- extension: BOILERPLATE DETECTION — flag the n-grams whose
    // document frequency exceeds 20% of the corpus (the header/footer/
    // template content a C4-style cleaning pass masks before training) and
    // score each document by how much of it is boilerplate. Integer-only
    // output (gram and hit counts), so the oracle is exact. Scale shape: the
    // boilerplate set is by definition small (high-df grams only) →
    // broadcast back into the per-doc scoring join; the doc-frequency
    // aggregation is one distinct + groupBy with map-side combine.
    "q_boilerplate" -> QueryDef.sql("""
      WITH toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t
                    FROM documents),
      grams AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
                       i -> array_to_string(t[i:i+3], ' '))) AS g
                FROM toks),
      df AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY g),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      boiler AS (SELECT g FROM df CROSS JOIN n WHERE df * 5 >= n_docs),
      per_doc AS (SELECT doc_id, COUNT(*) AS n_grams,
                         COUNT(*) FILTER (WHERE g IN (SELECT g FROM boiler)) AS n_boiler
                  FROM grams GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(p.n_grams, 0) AS n_grams,
             COALESCE(p.n_boiler, 0) AS n_boiler
      FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
      ORDER BY d.doc_id""") { (s, d) =>
      val grams = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.ngrams(TextOps.tokens(col("text")), 4)).as("g"))
      val n = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      // df = docs-per-gram: per-doc gram dedup happens map-side
      // (array_distinct before the explode) so the only exchange is the
      // groupBy(g) itself — the explode+distinct form paid an extra full
      // (g, doc_id) shuffle to dedup a per-row set (r10)
      val boiler = Tables.documents(s, d)
        .select(explode(array_distinct(
          TextOps.ngrams(TextOps.tokens(col("text")), 4))).as("g"))
        .groupBy("g").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .filter(col("df") * 5 >= col("n_docs"))
        .select("g")
      val perDoc = grams
        .join(broadcast(boiler.withColumn("is_boiler", lit(1L))), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("is_boiler"), lit(0L))).as("n_boiler"))
      Tables.documents(s, d).select("doc_id")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_grams"), lit(0L)).as("n_grams"),
          coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
        .orderBy("doc_id")
    },

    // ----- extension: QUALITY-RETAINED DEDUP — the production form of
    // q_dedup_clusters' survivor rule: within each near-duplicate cluster
    // keep the HIGHEST-QUALITY member (longest doc, tie → smallest id), not
    // the smallest id. Same pairs→connected-components pipeline; the
    // survivor pick is one row_number window per component — the payload
    // (text) never rides the dedup shuffles, only (doc_id, n_chars) does.
    "q_dedup_quality" -> QueryDef.sql("""
      WITH RECURSIVE t AS MATERIALIZED (SELECT doc_id,
          list_distinct(list_transform(range(1, len(toks)-1),
                        i -> array_to_string(toks[i:i+2], ' '))) AS s
        FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
              FROM documents)),
      e AS MATERIALIZED (SELECT a.doc_id AS src, b.doc_id AS dst
            FROM t a JOIN t b ON a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.s,b.s)) AS DOUBLE)*100.0
                  / len(list_distinct(list_concat(a.s,b.s))) >= 70.0),
      sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      reach AS (
        SELECT src AS vertex, src AS root FROM sym
        UNION
        SELECT s.dst, r.root FROM reach r JOIN sym s ON s.src = r.vertex),
      comp AS (SELECT vertex, MIN(root) AS component FROM reach GROUP BY vertex),
      ranked AS (SELECT c.component, c.vertex AS doc_id, d.n_chars,
                        ROW_NUMBER() OVER (PARTITION BY c.component
                          ORDER BY d.n_chars DESC, c.vertex ASC) AS rk,
                        COUNT(*) OVER (PARTITION BY c.component) AS n_members
                 FROM comp c JOIN documents d ON d.doc_id = c.vertex)
      SELECT component, doc_id AS survivor, n_chars, n_members
      FROM ranked WHERE rk = 1 ORDER BY component""") { (s, d) =>
      val pairs = MinHashDedup.nearDupPairs(Tables.spread(Tables.documents(s, d)),
        MinHashDedup.Config(shingleSize = 3, jaccardThreshold = 0.7))
      val comp = graft.graph.GraphOps.connectedComponents(
        pairs.select(col("d1").as("src"), col("d2").as("dst")))
      val w = Window.partitionBy("component")
        .orderBy(col("n_chars").desc, col("vertex").asc)
      comp
        .join(Tables.documents(s, d).select(col("doc_id").as("vertex"), col("n_chars")),
          "vertex")
        .withColumn("rk", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy("component")))
        .filter(col("rk") === 1)
        .select(col("component"), col("vertex").as("survivor"),
          col("n_chars"), col("n_members"))
        .orderBy("component")
    },

    // ----- extension: sequence packing — the concat-and-chunk form every LLM
    // data loader uses: concatenate token streams in a deterministic order,
    // chunk into fixed context windows. bin/offset come from an exclusive
    // prefix sum, so a doc can straddle a boundary (exactly like the real
    // loader). Partitioned by source: packing state never crosses shards, so
    // at 100 TB each shard packs independently — no global sequential pass.
    "q_seq_packing" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, source,
                        len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tok
                 FROM documents),
      c AS (SELECT doc_id, source, n_tok,
                   COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
            FROM t)
      SELECT doc_id, source, n_tok,
             CAST(FLOOR(cum / 256.0) AS BIGINT) AS bin,
             CAST(cum % 256 AS BIGINT) AS off
      FROM c ORDER BY source, doc_id""") { (s, d) =>
      // distributed two-phase prefix scan, not a per-source window (r10):
      // the window form serializes each source's running sum on ONE task —
      // a #sources-task wall at any corpus size. PrefixScan computes the
      // bit-identical exclusive sums with parallelism = partition count
      // (range-sort, per-partition totals, broadcast offsets, local scan).
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tok"))
      graft.operators.PrefixScan
        .exclusivePrefixSum(t, "source", Seq(col("doc_id")), "n_tok", "cum")
        .select(col("doc_id"), col("source"), col("n_tok"),
          floor(col("cum") / 256.0).as("bin"),
          (col("cum") % 256).as("off"))
        .orderBy("source", "doc_id")
    },

    // ----- extension: order-independent table checksum — per-shard row count
    // + SUM and XOR of a 48-bit row hash over the canonical serialization.
    // The 100 TB data-validation primitive: both combiners are commutative
    // AND associative, so the checksum is one map-side-combined aggregation
    // (16-byte rows through the exchange) and two shards can be compared or
    // re-derived after any repartitioning. 48-bit hashes keep the Long sum
    // exact to ~2^15 rows per group at full width margin.
    "q_table_checksum" -> QueryDef.sql("""
      WITH h AS (SELECT source,
                        CAST('0x' || substr(md5(concat_ws('|',
                          CAST(doc_id AS VARCHAR), lang, source,
                          CAST(n_chars AS VARCHAR), text)), 1, 12) AS BIGINT) AS hv
                 FROM documents)
      SELECT source, COUNT(*) AS n_rows,
             CAST(SUM(hv) AS BIGINT) AS sum_check,
             bit_xor(hv) AS xor_check
      FROM h GROUP BY source ORDER BY source""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"),
          md5Bits48(concat_ws("|",
            col("doc_id").cast("string"), col("lang"), col("source"),
            col("n_chars").cast("string"), col("text"))).as("hv"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          sum("hv").as("sum_check"),
          expr("bit_xor(hv)").as("xor_check"))
        .orderBy("source")
    },

    // ----- extension flagship: TRAINING-SET ASSEMBLY end to end — the tail
    // of the corpus build that q_pipeline_corpus's gate→dedup→yield head
    // feeds: rule gate (token range) → global exact dedup (min-id survivor)
    // → deterministic md5 80/10/10 split → per-(split, lang) doc/token
    // budget report. ONE declarative plan: scan → narrow gates → one
    // content-hash window → narrow split label → one aggregation; every
    // stage is an already-oracle-checked building block, integer-exact
    // throughout.
    "q_pipeline_trainset" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, lang, text,
                        len(list_filter(string_split(text,' '), x -> x <> '')) AS n_tok
                 FROM documents),
      g AS (SELECT * FROM t WHERE n_tok BETWEEN 10 AND 1000),
      d AS (SELECT doc_id, lang, n_tok,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM g),
      s AS (SELECT lang, n_tok,
                   CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
            FROM (SELECT lang, n_tok,
                         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 10 AS b
                  FROM d WHERE rn = 1))
      SELECT split, lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS n_tokens
      FROM s GROUP BY split, lang ORDER BY split, lang""") { (s, d) =>
      val gated = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"),
          TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
        .filter(col("n_tok").between(10, 1000))
      val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")
      val b = md5Bits48(col("doc_id").cast("string")) % 10
      gated.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("lang"), col("n_tok"),
          when(b < 8, "train").when(b === 8, "val").otherwise("test").as("split"))
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .orderBy("split", "lang")
    },

    // ----- extension: PER-SOURCE DEDUP REPORT — the summary table every
    // corpus build publishes: per source, document count and how many are
    // exact duplicates of an earlier doc (same text, smaller id wins,
    // GLOBAL across sources — cross-source duplication is the interesting
    // number). One window over (16-byte hash, id), one aggregation; text
    // never rides an exchange.
    "q_dedup_report" -> QueryDef.sql("""
      WITH r AS (SELECT source,
                        ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
                 FROM documents)
      SELECT source, COUNT(*) AS n_docs,
             COUNT(*) FILTER (WHERE rn > 1) AS n_exact_dup
      FROM r GROUP BY source ORDER BY source""") { (s, d) =>
      val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy("doc_id")
      Tables.documents(s, d)
        .select(col("source"), row_number().over(w).as("rn"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("rn") > 1, 1)).as("n_exact_dup"))
        .orderBy("source")
    },

    // ----- extension: ADAPTIVE LENGTH TRIM — per-language p5/p95 length
    // gates (the adaptive complement of q_quality_rules' fixed thresholds:
    // what counts as "too short" differs by language). Exact interpolated
    // percentiles per lang (tiny aggregate) broadcast back into the scan —
    // the q_source_mix shape. Output: per-lang yield counts.
    "q_length_trim" -> QueryDef.sql("""
      WITH b AS (SELECT lang,
                        quantile_cont(n_chars, 0.05) AS lo,
                        quantile_cont(n_chars, 0.95) AS hi
                 FROM documents GROUP BY lang)
      SELECT d.lang, COUNT(*) AS n_docs,
             COUNT(*) FILTER (WHERE d.n_chars >= b.lo AND d.n_chars <= b.hi) AS n_kept
      FROM documents d JOIN b ON d.lang = b.lang
      GROUP BY d.lang ORDER BY d.lang""") { (s, d) =>
      val b = Tables.documents(s, d).groupBy("lang")
        .agg(percentile(col("n_chars"), lit(0.05)).as("lo"),
          percentile(col("n_chars"), lit(0.95)).as("hi"))
      Tables.documents(s, d)
        .join(broadcast(b), "lang")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"), 1))
            .as("n_kept"))
        .orderBy("lang")
    },

    // ----- extension: VOCABULARY BUILD — the tokenizer-training precursor:
    // corpus token counts, min-count floor, deterministic id assignment by
    // (count DESC, token ASC) rank. One groupBy with map-side combine + one
    // global window over the SURVIVING vocab only (vocab is orders of
    // magnitude smaller than the token stream; if even that sort is too big,
    // shard ids by a leading hash — noted, not needed here). Top 100 by id.
    "q_vocab_build" -> QueryDef.sql("""
      WITH c AS (SELECT unnest(list_filter(string_split(text,' '), x -> x <> '')) AS token
                 FROM documents),
      v AS (SELECT token, COUNT(*) AS n FROM c GROUP BY token HAVING COUNT(*) >= 5)
      SELECT token, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, token) AS vocab_id
      FROM v ORDER BY vocab_id LIMIT 100""") { (s, d) =>
      val w = Window.orderBy(desc("n"), asc("token"))
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
        .withColumn("vocab_id", row_number().over(w).cast("long"))
        .orderBy("vocab_id")
        .limit(100)
    },

    // ----- extension: TABLE DIFF — reconcile two dataset versions (the
    // companion to q_table_checksum: the checksum says WHETHER two versions
    // diverge, the diff says HOW). v2 is a deterministic mutation of the
    // corpus: doc_id % 13 deleted, % 7 edited, % 17 re-inserted under a new
    // id. Shape: content is reduced to an md5 in the scan projection, so the
    // full-outer join shuffles only (id, 32-byte hash) — at 100 TB the text
    // never rides the exchange, and the status rollup is a 4-row aggregate.
    "q_table_diff" -> QueryDef.sql("""
      WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents),
      v2 AS (SELECT doc_id,
                    md5(text || CASE WHEN doc_id % 7 = 0 THEN ' v2' ELSE '' END) AS h
             FROM documents WHERE doc_id % 13 <> 0
             UNION ALL
             SELECT doc_id + 1000000, md5('new doc')
             FROM documents WHERE doc_id % 17 = 0),
      j AS (SELECT CASE WHEN b.doc_id IS NULL THEN 'removed'
                        WHEN a.doc_id IS NULL THEN 'added'
                        WHEN a.h <> b.h THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
      SELECT status, COUNT(*) AS n FROM j GROUP BY status ORDER BY status""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val v1 = docs.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      val v2 = docs.filter(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          md5(concat(col("text"),
            when(col("doc_id") % 7 === 0, " v2").otherwise(""))
            .cast("binary")).as("h"))
        .unionByName(docs.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            md5(lit("new doc").cast("binary")).as("h")))
      v1.alias("a").join(v2.alias("b"),
          col("a.doc_id") === col("b.doc_id"), "full_outer")
        .select(when(col("b.doc_id").isNull, "removed")
          .when(col("a.doc_id").isNull, "added")
          .when(col("a.h") =!= col("b.h"), "changed")
          .otherwise("unchanged").as("status"))
        .groupBy("status").agg(count(lit(1)).as("n"))
        .orderBy("status")
    },

    // ----- extension: z-order layout key — bit-interleave of two dimensions,
    // the multi-dimensional clustering key for data layout (write
    // `ORDER BY zval` and both user_id- and value-range predicates prune
    // parquet row groups). Pure integer bit arithmetic, identical in any
    // engine.
    "q_zorder" -> QueryDef.sql(s"""
      WITH t AS (SELECT event_id,
                        CAST(user_id % 256 AS INTEGER) AS x,
                        CAST(FLOOR(value) AS INTEGER) % 256 AS y
                 FROM events WHERE event_id < 1000)
      SELECT event_id, x, y, CAST(${zOrderSql("x", "y")} AS BIGINT) AS zval
      FROM t ORDER BY zval, event_id""") { (s, d) =>
      Tables.events(s, d)
        .filter(col("event_id") < 1000)
        .select(col("event_id"),
          (col("user_id") % 256).cast("int").as("x"),
          (floor(col("value")).cast("int") % 256).as("y"))
        .select(col("event_id"), col("x"), col("y"),
          zOrderCol(col("x"), col("y")).cast("long").as("zval"))
        .orderBy("zval", "event_id")
    },

    // ----- extension: int8 embedding quantization — symmetric per-vector
    // scale 127/max|v|, the storage form for billion-vector ANN corpora (4×
    // smaller than float32 before PQ). floor(x+0.5) instead of round() on
    // BOTH sides because round()'s half-way rule differs across engines.
    "q_embed_quantize" -> QueryDef.sql("""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id < 30),
      m AS (SELECT vec_id, v,
                   list_aggregate(list_transform(v, x -> abs(x)), 'max') AS mx
            FROM t),
      q AS (SELECT vec_id,
                   unnest(range(1, len(v) + 1)) AS idx,
                   unnest(list_transform(v,
                     x -> CAST(FLOOR(x * (127.0 / mx) + 0.5) AS INTEGER))) AS qv
            FROM m WHERE mx > 0)
      SELECT vec_id, idx, qv FROM q ORDER BY vec_id, idx""") { (s, d) =>
      Tables.embeddings(s, d)
        .filter(col("vec_id") < 30)
        .select(col("vec_id"),
          graft.similarity.ArrayOps.asDouble(col("embedding")).as("v"))
        .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
        .filter(col("mx") > 0)
        .select(col("vec_id"), posexplode(
          transform(col("v"), x => floor(x * (lit(127.0) / col("mx")) + 0.5).cast("int"))))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("idx"),
          col("col").as("qv"))
        .orderBy("vec_id", "idx")
    },

    // ----- §2.13 STREAMING twin of q_decontaminate — the SURVEY's "new bills
    // arriving vs a static corpus" shape: documents stream in, the static
    // benchmark gram set broadcasts into a stream-static join, and the
    // contaminated-id aggregation is the only stateful operator (state =
    // one counter per contaminated doc, not the gram stream). The final
    // anti-join runs batch-side on the replayed result.
    "q_stream_decontaminate" -> QueryDef.sql("""
      WITH toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t
                    FROM documents),
      grams AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 2),
                       i -> array_to_string(t[i:i+3], ' '))) AS g
                FROM toks),
      bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0),
      bad AS (SELECT DISTINCT doc_id FROM grams
              WHERE doc_id % 11 <> 0 AND g IN (SELECT g FROM bench))
      SELECT doc_id FROM documents
      WHERE doc_id % 11 <> 0 AND doc_id NOT IN (SELECT doc_id FROM bad)
      ORDER BY doc_id""") { (s, d) =>
      import graft.streaming.Streaming
      val bench = Tables.documents(s, d)
        .filter(col("doc_id") % 11 === 0)
        .select(explode(array_distinct(
          TextOps.ngrams(TextOps.tokens(col("text")), 4))).as("g"))
        .distinct()
      val streamGrams = Streaming.docStream(s, d)
        .filter(col("doc_id") % 11 =!= 0)
        .select(col("doc_id"),
          explode(TextOps.ngrams(TextOps.tokens(col("text")), 4)).as("g"))
      val contaminated = Streaming.replayToTable(
        streamGrams.join(broadcast(bench), "g")
          .groupBy("doc_id").agg(count(lit(1)).as("n_hits")),
        s"stream_decon_${System.nanoTime()}")
      Tables.documents(s, d)
        .filter(col("doc_id") % 11 =!= 0)
        .join(contaminated.select("doc_id"), Seq("doc_id"), "left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    }.serial,

    // ----- §2.13 STREAMING + dedup composition: incremental NEAR-DUP
    // flagging of a document stream against a static corpus — the streaming
    // twin of q_dedup_incremental. The corpus sketch (MinHashDedup.sketch)
    // is static and persisted for the replay; each micro-batch maps its docs to band
    // hashes (narrow), stream-static equi-joins on (band, bandhash), and
    // exact-Jaccard-verifies the candidates. The only stateful operator is
    // the per-doc match counter; the stream's shingle sets ride with the
    // stream rows (a micro-batch is small by definition — that is the
    // incremental-ingest point). Oracle = exact all-pairs batch×corpus
    // Jaccard, same recall argument as q_minhash_dedup.
    "q_stream_neardup" -> QueryDef.sql("""
      WITH docs AS (SELECT doc_id,
          list_distinct(list_transform(range(1, len(toks)-1),
                        i -> array_to_string(toks[i:i+2], ' '))) AS s
        FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
              FROM documents)),
      b AS (SELECT * FROM docs WHERE doc_id % 4 = 0),
      c AS (SELECT * FROM docs WHERE doc_id % 4 <> 0)
      SELECT DISTINCT b.doc_id AS doc_id FROM b JOIN c
      ON CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)*100.0
         / len(list_distinct(list_concat(b.s, c.s))) >= 70.0
      ORDER BY b.doc_id""") { (s, d) =>
      import graft.streaming.Streaming
      val cfg = MinHashDedup.Config(shingleSize = 3, jaccardThreshold = 0.7)
      val corpusSk = MinHashDedup.sketch(
        Tables.documents(s, d).filter(col("doc_id") % 4 =!= 0), cfg)
      val corpusSide = MinHashDedup.bandBuckets(corpusSk)
        .join(corpusSk.select(col("__id"), col("__sids").as("t2")), "__id")
        .select(col("__band"), col("__bh"), col("t2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // r14 (guide §2.5 input skew): the stream source delivers each
      // micro-batch as ONE partition, so the sketch → band-explode → join →
      // exact-Jaccard verify all ran as a single 4 s CPU task (event-log
      // profiled; AQE is off inside this stateful stream, so nothing
      // re-splits it). An explicit hash repartition on the batch key fans
      // the per-batch work across the executor slots; the downstream
      // stateful count is keyed per doc, so output is unchanged.
      val streamCands = MinHashDedup.sketch(
          Streaming.docStream(s, d).filter(col("doc_id") % 4 === 0)
            .repartition(s.sparkContext.defaultParallelism, col("doc_id")), cfg)
        .select(col("__id").as("doc_id"), col("__sids").as("t1"),
          explode(col("__bands")).as("__b"))
        .select(col("doc_id"), col("t1"),
          col("__b.band").as("__band"), col("__b.bh").as("__bh"))
        .join(corpusSide, Seq("__band", "__bh"))
      val jacRaw = org.apache.spark.sql.graft.bridge.column(
        graft.expressions.ArraySetJaccard(
          org.apache.spark.sql.graft.bridge.expression(col("t1")),
          org.apache.spark.sql.graft.bridge.expression(col("t2")),
          assumeDistinct = true))
      // the replay blocks until the stream ends, and its result is the
      // memory table, so nothing reads corpusSide after it
      try Streaming.replayToTable(
          streamCands.filter(jacRaw >= cfg.jaccardThreshold * 100.0)
            .groupBy("doc_id").agg(count(lit(1)).as("n_cand")),
          s"stream_neardup_${System.nanoTime()}")
        .select("doc_id")
        .orderBy("doc_id")
      finally corpusSide.unpersist()
    }.serial,

    // ----- §2.13 STREAMING: stateless corpus quality gate over the document
    // stream (token-count + length thresholds map-side, per-lang yield as the
    // one complete-mode aggregation) — the streaming form of the batch
    // corpus-hygiene filters.
    "q_stream_doc_gate" -> QueryDef.sql("""
      SELECT lang, COUNT(*) AS n FROM documents
      WHERE len(list_filter(string_split(text,' '), x -> x <> '')) >= 40
        AND n_chars < 500
      GROUP BY lang ORDER BY lang""") { (s, d) =>
      import graft.streaming.Streaming
      Streaming.replayToTable(
        Streaming.docStream(s, d)
          .filter(size(TextOps.tokens(col("text"))) >= 40 && col("n_chars") < 500)
          .groupBy("lang").agg(count(lit(1)).as("n")),
        s"stream_doc_gate_${System.nanoTime()}")
        .orderBy("lang")
    }.serial,

    // ----- extension: sketch-assisted EXACT heavy hitters — Misra-Gries with
    // 4 counters over 5 distinct keys (the sketch genuinely evicts), then an
    // exact re-count of the ≤ k candidates. MG guarantees every key with
    // frequency > N/(k+1) survives the sketch, so candidate-semi-join + exact
    // threshold filter IS the exact answer — the oracle needs no sketch at
    // all. At 100 TB: pass 1 shuffles one 4-entry map per partition; pass 2
    // aggregates only candidate keys.
    "q_freq_items" -> QueryDef.sql("""
      SELECT lang, COUNT(*) AS n FROM documents
      GROUP BY lang HAVING COUNT(*) * 5 > (SELECT COUNT(*) FROM documents)
      ORDER BY lang""") { (s, d) =>
      val docs = Tables.documents(s, d)
      val candidates = docs
        .agg(Aggregators.misraGries(4)(col("lang")).as("cands"))
        .select(explode(col("cands")).as("lang"))
      val total = docs.agg(count(lit(1)).as("total"))
      docs.groupBy("lang").agg(count(lit(1)).as("n"))
        .join(broadcast(candidates), Seq("lang"), "left_semi")
        .crossJoin(broadcast(total))
        .filter(col("n") * 5 > col("total"))
        .select("lang", "n")
        .orderBy("lang")
    },

    // ----- extension: within-document repetition score — duplicate-bigram
    // fraction per document (the Gopher-style repetition quality signal:
    // high rep_frac = degenerate/boilerplate text). One narrow n-gram
    // explode + one keyed aggregation; rational fraction, single rounding.
    // The per-doc distinct is computed INSIDE the row (each document's
    // bigram multiset is one array in one row), so the whole query is a
    // narrow map + presentation sort — zero aggregation shuffles. The
    // earlier explode→groupBy(countDistinct) form shuffled every bigram
    // string (568 MB at the 500k-doc probe scale) and GC-cliffed ~10× at
    // 100×; per-doc set semantics never needed the exchange.
    "q_repetition" -> QueryDef.sql("""
      WITH toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t
                    FROM documents),
      r AS (SELECT doc_id,
                   list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' ')) AS gs
            FROM toks WHERE len(t) >= 2)
      SELECT doc_id, CAST(len(gs) AS BIGINT) AS total,
             CAST(len(list_distinct(gs)) AS BIGINT) AS uniq,
             ROUND(1 - CAST(len(list_distinct(gs)) AS DOUBLE) / len(gs), 6) AS rep_frac
      FROM r ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.ngrams(TextOps.tokens(col("text")), 2).as("gs"))
        .filter(size(col("gs")) >= 1)
        .select(col("doc_id"),
          size(col("gs")).cast("long").as("total"),
          size(array_distinct(col("gs"))).cast("long").as("uniq"),
          round(lit(1) - size(array_distinct(col("gs"))).cast("double")
            / size(col("gs")), 6).as("rep_frac"))
        .orderBy("doc_id")
    },

    // ----- extension: RARE-BIGRAM RATE — the integer-exact stand-in for
    // n-gram-LM perplexity filtering: score each document by the fraction of
    // its bigrams whose corpus count is < 3 (a high rare-fraction doc is the
    // one a KenLM-style quality gate would flag; logs are avoided so the
    // oracle is exact). Shape: corpus bigram counts are one groupBy with
    // map-side combine; the rare set is NOT small under Zipf, so the scoring
    // join is an honest shuffled equi-join on the gram — same discipline as
    // q_substring_dedup, no false broadcast.
    "q_rare_bigram" -> QueryDef.sql("""
      WITH toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t
                    FROM documents),
      bi AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
                    i -> array_to_string(t[i:i+1], ' '))) AS g
             FROM toks),
      cnt AS (SELECT g, COUNT(*) AS c FROM bi GROUP BY g),
      per AS (SELECT b.doc_id, COUNT(*) AS n_bi,
                     COUNT(*) FILTER (WHERE c.c < 3) AS n_rare
              FROM bi b JOIN cnt c ON b.g = c.g GROUP BY b.doc_id)
      SELECT doc_id, n_bi, n_rare,
             ROUND(CAST(n_rare AS DOUBLE) / n_bi, 6) AS rare_frac
      FROM per ORDER BY doc_id""") { (s, d) =>
      // Attribution shape (r10, the q_substring_dedup lesson): the old plan
      // joined EVERY bigram occurrence back to the corpus counts. Neither
      // side needs it: n_bi is ARITHMETIC (len(tokens) − 1), and a RARE
      // gram (corpus count < 3) has ≤ 2 occurrences over ≤ 2 docs, so its
      // per-doc attribution fits inside ONE per-gram aggregation row with
      // just (count, min_doc, max_doc): min==max ⇒ all ctot occurrences in
      // that doc; min≠max ⇒ one occurrence in each. The gram stream feeds a
      // single aggregation keyed by the gram alone — full map-side combine
      // (the shuffle carries distinct-grams-per-partition, not occurrences)
      // — and only the ≤2-row-per-rare-gram attribution frame is
      // reshuffled. No countDistinct, no join on the occurrence stream.
      val docsT = Tables.documents(s, d)
      val base = docsT.select(col("doc_id"),
          (size(TextOps.tokens(col("text"))) - 1).cast("long").as("n_bi"))
        .filter(col("n_bi") >= 1)
      val rare = docsT
        .select(col("doc_id"),
          explode(TextOps.ngrams(TextOps.tokens(col("text")), 2)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("ctot"),
          min("doc_id").as("d0"), max("doc_id").as("d1"))
        .filter(col("ctot") < 3)
        .select(explode(when(col("d0") === col("d1"),
            array(struct(col("d0").as("doc_id"), col("ctot").as("r"))))
          .otherwise(array(struct(col("d0").as("doc_id"), lit(1L).as("r")),
            struct(col("d1").as("doc_id"), lit(1L).as("r"))))).as("e"))
        .select(col("e.doc_id").as("doc_id"), col("e.r").as("r"))
        .groupBy("doc_id").agg(sum("r").as("n_rare"))
      base.join(rare, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_bi"),
          coalesce(col("n_rare"), lit(0L)).as("n_rare"),
          round(coalesce(col("n_rare"), lit(0L)).cast("double") / col("n_bi"), 6)
            .as("rare_frac"))
        .orderBy("doc_id")
    },

    // ----- extension: BPE TOKENIZER TRAINING — learn the first 8 merge
    // rules over the corpus (the tokenizer-construction step of an LLM
    // pipeline). The scale decomposition is the textbook one: ONE corpus
    // pass builds the distinct-word frequency table, and every merge
    // iteration after that runs over the Zipf-compressed vocab only — a
    // pair-count aggregation (map-side combine) plus a 1-row driver argmax
    // (bounded scalar, the k-means-iteration precedent). Merge application
    // is a literal codegen `replace` on the double-space segmentation string
    // — provably the exact greedy left-to-right BPE merge (fuzzed vs an
    // independent array-walk reference in BpeSpec) — and DuckDB's `replace`
    // has identical leftmost-non-overlapping semantics, so the oracle
    // replays training end-to-end: tokenize → vocab → 8× (count pairs →
    // argmax with cnt-desc/pair-asc tiebreak → merge).
    // spread: the one corpus-scale pass (tokenize + word count) serializes
    // on a single-row-group fixture; no-op on any well-split table
    "q_bpe_learn" -> QueryDef.sql(graft.text.Bpe.learnOracleSql(8)) { (s, d) =>
      val merges = graft.text.Bpe.learn(
        graft.text.Bpe.wordCounts(Tables.spread(Tables.documents(s, d))), 8)
      s.createDataFrame(merges).orderBy("merge_rank")
    },

    // ----- production-scale BPE trainer (VERDICT r10 #6): Bpe.learnScalable
    // materializes the segmentation every few merges (fresh LogicalRDD root,
    // one persisted generation at a time) so replace work is linear in the
    // merge count, not quadratic. SAME 8-merge DuckDB training replay as
    // q_bpe_learn — materializeEvery = 3 forces two generation cutovers
    // INSIDE the gate, so the re-rooting itself is what's hash-checked;
    // learn ≡ learnScalable equality is additionally fuzzed in BpeSpec and
    // the merge-count crossover was priced on a merge-count ladder.
    "q_bpe_learn_scalable" -> QueryDef.sql(graft.text.Bpe.learnOracleSql(8)) { (s, d) =>
      val merges = graft.text.Bpe.learnScalable(
        graft.text.Bpe.wordCounts(Tables.spread(Tables.documents(s, d))), 8,
        materializeEvery = 3)
      s.createDataFrame(merges).orderBy("merge_rank")
    },

    // ----- extension: BPE ENCODING under the learned merges — per-document
    // character and token counts plus the compression ratio (the quantity a
    // tokenizer-fertility dashboard tracks; q_fertility's complement, with
    // the vocabulary LEARNED rather than fixed). Each DISTINCT word is
    // encoded once (8 nested literal replaces, one codegen projection over
    // the vocab) and equi-joined back to the token stream — the join's
    // build side is the vocab, not the corpus, so AQE broadcasts it at any
    // realistic vocab size and the full text never rides a shuffle. Counts
    // are exact integers; the single ROUND(6) division matches the oracle.
    "q_bpe_encode" -> QueryDef.sql(graft.text.Bpe.encodeOracleSql(8)) { (s, d) =>
      // spread: the tokenize/explode/join path over the corpus is the
      // compute-heavy stage; single-row-group fixtures otherwise pin it to
      // one task (measured 7.6 s at 10x vs 3.6 s at 50x on the ladder)
      val docs = Tables.spread(Tables.documents(s, d))
      // persisted HERE (caller-owned): learn materializes it for its 8
      // iterations and the vocab-side broadcast join then reuses the cache —
      // without this the "one corpus pass" would run twice (review r10)
      val words = graft.text.Bpe.wordCounts(docs).persist()
      val merges = graft.text.Bpe.learn(words, 8)
      // broadcast the VOCAB side explicitly: left to its own statistics,
      // Spark estimated the exploded token stream below the aggregate-derived
      // enc and broadcast the CORPUS side (BuildLeft over the Generate) —
      // collecting millions of token rows to the driver; the ladder showed
      // 11 s at 10x vs 2.4 s with the hint. With the hint the join is a
      // map-side hash probe and nothing corpus-sized ever leaves an executor.
      // (At an extreme web-scale vocab one would drop the hint and take the
      // word-keyed shuffle join — the plan AQE already picks at 50x+.)
      docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
        .join(broadcast(graft.text.Bpe.encodeWords(words, merges)), "word")
        .groupBy("doc_id")
        .agg(sum("w_chars").as("n_chars"), sum("w_toks").as("n_tokens"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6)
            .as("compression"))
        .orderBy("doc_id")
    },

    // ----- §2.13 STREAMING twin of q_bpe_encode: the merge rules are PINNED
    // (learned once from the batch corpus — tokenizer training is batch by
    // nature), and each micro-batch encodes its documents with a pure
    // narrow map: whole-doc segmentation + 8 codegen literal replaces + one
    // split (Bpe.docTokenCount — no vocab join, no state, merges provably
    // never cross the ≥3-space word boundaries). Stateless per-row ⇒ batch
    // boundaries cancel, so the BATCH oracle replays the streamed output
    // bit-for-bit.
    "q_stream_bpe_encode" -> QueryDef.sql(graft.text.Bpe.encodeOracleSql(8)) { (s, d) =>
      import graft.streaming.Streaming
      val merges = graft.text.Bpe.learn(
        graft.text.Bpe.wordCounts(Tables.spread(Tables.documents(s, d))), 8)
      val enc = Streaming.docStream(s, d)
        .filter(size(TextOps.tokens(col("text"))) > 0)
        .select(col("doc_id"),
          length(translate(col("text"), " ", "")).cast("long").as("n_chars"),
          graft.text.Bpe.docTokenCount(col("text"), merges).as("n_tokens"))
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          round(col("n_chars").cast("double") / col("n_tokens"), 6)
            .as("compression"))
      Streaming.replayToTable(enc, s"stream_bpe_encode_${System.nanoTime()}",
        mode = "append")
        .orderBy("doc_id")
    }.serial,

    // ----- extension: type-token ratio per language — corpus-level lexical
    // diversity (the complement of per-doc repetition). One aggregation;
    // the distinct-token count is the same two-shuffle-safe shape as
    // q_count_distinct.
    "q_ttr" -> QueryDef.sql("""
      WITH tok AS (SELECT lang, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS t
                   FROM documents)
      SELECT lang, COUNT(*) AS total, COUNT(DISTINCT t) AS uniq,
             ROUND(CAST(COUNT(DISTINCT t) AS DOUBLE) / COUNT(*), 6) AS ttr
      FROM tok GROUP BY lang ORDER BY lang""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"), explode(TextOps.tokens(col("text"))).as("t"))
        .groupBy("lang")
        .agg(count(lit(1)).as("total"), countDistinct("t").as("uniq"))
        .select(col("lang"), col("total"), col("uniq"),
          round(col("uniq").cast("double") / col("total"), 6).as("ttr"))
        .orderBy("lang")
    },

    // ----- extension: overlapping context-window chunking — 64-token chunks
    // on a 48-token stride (the sliding-window complement of q_seq_packing's
    // concat-and-chunk). Chunk text never leaves the row: the output carries
    // the token count + md5 of each chunk, so the exchange is (doc_id, start,
    // 2 small cols) even when documents are megabytes.
    "q_chunk_overlap" -> QueryDef.sql("""
      WITH toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t
                    FROM documents),
      st AS (SELECT doc_id, t, unnest(range(1, greatest(len(t), 1) + 1, 48)) AS chunk_start
             FROM toks),
      ch AS (SELECT doc_id, chunk_start,
                    len(t[chunk_start:chunk_start+63]) AS n_toks,
                    md5(array_to_string(t[chunk_start:chunk_start+63], ' ')) AS chunk_md5
             FROM st)
      SELECT doc_id, chunk_start, n_toks, chunk_md5
      FROM ch ORDER BY doc_id, chunk_start""") { (s, d) =>
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      toks
        .select(col("doc_id"), col("t"),
          explode(sequence(lit(1), greatest(size(col("t")), lit(1)), lit(48)))
            .as("chunk_start"))
        .select(col("doc_id"), col("chunk_start"),
          size(slice(col("t"), col("chunk_start"), lit(64))).as("n_toks"),
          md5(array_join(slice(col("t"), col("chunk_start"), lit(64)), " ")
            .cast("binary")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_start")
    },

    // ----- extension: PII REDACTION — regex-scrub emails and phone-shaped
    // digit runs before training. The synthetic corpus carries no PII, so a
    // deterministic contact string derived from doc_id is appended first and
    // then scrubbed — the machinery under test is the per-row redaction
    // pipeline (count + replace + content fingerprint), which is a pure
    // narrow map: zero shuffles, codegen regex, text never leaves the row
    // (only counts and the md5 go to the exchange/sort). Patterns stay in
    // the RE2-compatible subset so Spark (Java regex) and DuckDB (RE2)
    // match identically.
    "q_pii_redact" -> QueryDef.sql("""
      WITH w AS (SELECT doc_id,
                        text || ' contact user' || doc_id ||
                        '@mail.example.org or call 555-10' || doc_id % 100 AS t
                 FROM documents),
      r AS (SELECT doc_id,
                   len(regexp_extract_all(t, '[a-z0-9]+@[a-z0-9.]+[a-z]')) AS n_email,
                   len(regexp_extract_all(t, '555-[0-9]+')) AS n_phone,
                   regexp_replace(regexp_replace(t,
                     '[a-z0-9]+@[a-z0-9.]+[a-z]', '<EMAIL>', 'g'),
                     '555-[0-9]+', '<PHONE>', 'g') AS red
            FROM w)
      SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
             CAST(n_phone AS BIGINT) AS n_phone, md5(red) AS red_md5
      FROM r ORDER BY doc_id""") { (s, d) =>
      val emailRe = "[a-z0-9]+@[a-z0-9.]+[a-z]"
      val phoneRe = "555-[0-9]+"
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@mail.example.org or call 555-10"), col("doc_id") % 100).as("t"))
        .select(col("doc_id"),
          regexp_count(col("t"), lit(emailRe)).cast("long").as("n_email"),
          regexp_count(col("t"), lit(phoneRe)).cast("long").as("n_phone"),
          md5(regexp_replace(regexp_replace(col("t"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>").cast("binary")).as("red_md5"))
        .orderBy("doc_id")
    },

    // ----- extension: GOPHER-STYLE QUALITY RULE GATE (Rae et al. 2021 §A1.1
    // adapted to the synthetic corpus) — per-document boolean rules: token
    // count in range, mean token length in range, max single-token share
    // ≤ 20% (the repetition gate), ≥ 2 distinct stopwords (the "has real
    // prose" gate). All thresholds are integer cross-multiplications, so
    // the oracle replays every flag exactly. Shape: one explode + two
    // keyed aggregations (token-level then doc-level), both with map-side
    // partial aggregation; the doc text itself never reaches a shuffle.
    "q_quality_rules" -> QueryDef.sql("""
      WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
                   FROM documents),
      c AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok),
      s AS (SELECT doc_id, SUM(cnt) AS n_tokens, MAX(cnt) AS max_cnt,
                   SUM(cnt * strlen(tok)) AS n_chars,
                   COUNT(DISTINCT CASE WHEN tok IN ('the','of','and','to','a','in','is')
                                       THEN tok END) AS n_stop
            FROM c GROUP BY doc_id),
      f AS (SELECT d.doc_id, COALESCE(s.n_tokens, 0) AS n_tokens,
                   COALESCE(s.max_cnt, 0) AS max_cnt,
                   COALESCE(s.n_chars, 0) AS n_chars,
                   COALESCE(s.n_stop, 0) AS n_stop
            FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_tokens BETWEEN 10 AND 1000 AS BIGINT) AS r_len,
             CAST(n_tokens > 0 AND 10*n_chars BETWEEN 20*n_tokens AND 80*n_tokens
                  AS BIGINT) AS r_awl,
             CAST(n_tokens > 0 AND max_cnt * 5 <= n_tokens AS BIGINT) AS r_rep,
             CAST(n_stop >= 2 AS BIGINT) AS r_stop,
             CAST(n_tokens BETWEEN 10 AND 1000
                  AND n_tokens > 0 AND 10*n_chars BETWEEN 20*n_tokens AND 80*n_tokens
                  AND max_cnt * 5 <= n_tokens AND n_stop >= 2 AS BIGINT) AS keep
      FROM f ORDER BY doc_id""") { (s, d) =>
      val stop = Seq("the", "of", "and", "to", "a", "in", "is")
      val stats = Tables.documents(s, d)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
        .groupBy("doc_id")
        .agg(sum("cnt").as("n_tokens"), max("cnt").as("max_cnt"),
          sum(col("cnt") * length(col("tok"))).as("n_chars"),
          countDistinct(when(col("tok").isin(stop: _*), col("tok"))).as("n_stop"))
      val f = Tables.documents(s, d).select("doc_id")
        .join(stats, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
          coalesce(col("max_cnt"), lit(0L)).as("max_cnt"),
          coalesce(col("n_chars"), lit(0L)).as("n_chars"),
          coalesce(col("n_stop"), lit(0L)).as("n_stop"))
      val rLen = col("n_tokens").between(10, 1000)
      val rAwl = col("n_tokens") > 0 &&
        (col("n_chars") * 10).between(col("n_tokens") * 20, col("n_tokens") * 80)
      val rRep = col("n_tokens") > 0 && col("max_cnt") * 5 <= col("n_tokens")
      val rStop = col("n_stop") >= 2
      f.select(col("doc_id"), col("n_tokens"),
          rLen.cast("long").as("r_len"), rAwl.cast("long").as("r_awl"),
          rRep.cast("long").as("r_rep"), rStop.cast("long").as("r_stop"),
          (rLen && rAwl && rRep && rStop).cast("long").as("keep"))
        .orderBy("doc_id")
    },

    // ----- extension: STRATIFIED TRAIN/VAL/TEST SPLIT — the deterministic
    // 80/10/10 assignment every training pipeline needs: the split label is a
    // pure function of the row key (md5 bucket), so the assignment is stable
    // across runs, engines, and repartitions — no RNG state to version. One
    // narrow map + one aggregation; at 100 TB the split column is computed in
    // the scan projection and the report is a 3·n_sources-row aggregate.
    "q_split_stratified" -> QueryDef.sql("""
      WITH t AS (SELECT source,
                        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) % 10 AS b,
                        len(list_filter(string_split(text,' '), x -> x <> '')) AS tok
                 FROM documents)
      SELECT source,
             CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split,
             COUNT(*) AS n_docs, CAST(SUM(tok) AS BIGINT) AS n_tokens
      FROM t GROUP BY source, split ORDER BY source, split""") { (s, d) =>
      val b = md5Bits48(col("doc_id").cast("string")) % 10
      Tables.documents(s, d)
        .select(col("source"),
          when(b < 8, "train").when(b === 8, "val").otherwise("test").as("split"),
          TextOps.tokenCount(col("text")).cast("long").as("tok"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("tok").as("n_tokens"))
        .orderBy("source", "split")
    },

    // ----- extension: TRAINING-ORDER SHUFFLE — the deterministic global
    // permutation a data loader consumes: shard = hash(doc_id) mod nShards,
    // position = rank of the hash within the shard. Replayable randomness
    // (md5, no RNG state) like q_split_stratified, but producing a total
    // ORDER, not a label. Scale shape: one hash-partitioned window — each
    // shard sorts independently (these are the output files), there is no
    // global sort, and adding shards is the parallelism knob. Epoch reshuffle
    // = salt the hash input with the epoch number.
    "q_train_order" -> QueryDef.sql("""
      WITH h AS (SELECT doc_id,
                        CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS hv
                 FROM documents)
      SELECT doc_id, hv % 8 AS shard,
             ROW_NUMBER() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos
      FROM h ORDER BY shard, pos""") { (s, d) =>
      val w = Window.partitionBy("shard").orderBy("hv", "doc_id")
      Tables.documents(s, d)
        .select(col("doc_id"), md5Bits48(col("doc_id").cast("string")).as("hv"))
        .withColumn("shard", col("hv") % 8)
        .select(col("doc_id"), col("shard"),
          row_number().over(w).cast("long").as("pos"))
        .orderBy("shard", "pos")
    },

    // ----- extension: EXACT-SUBSTRING DEDUP SCAN (Lee et al. 2021,
    // arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    // Better", ExactSubstr) — count, per document, the stride-1 20-token
    // windows that occur verbatim in ANOTHER document. The paper's suffix
    // array is a single-machine structure; the Spark-first shape is the
    // window-hash equi-join: explode windows, md5 them (the window text
    // never leaves the generating row — only 32-byte hashes shuffle), find
    // hashes spanning >= 2 docs, join back. Unlike q_boilerplate's high-df
    // broadcast set, the shared-window set grows with the duplication rate,
    // so the scoring join is a plain shuffled equi-join on the hash — the
    // honest 100 TB shape.
    "q_substring_dedup" -> QueryDef.sql("""
      WITH toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t
                    FROM documents),
      win AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 18, 1)),
                   i -> md5(array_to_string(t[i:i+19], ' ')))) AS w
              FROM toks),
      sh AS (SELECT w FROM win GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2),
      per AS (SELECT doc_id, COUNT(*) AS n_windows,
                     COUNT(*) FILTER (WHERE w IN (SELECT w FROM sh)) AS n_shared
              FROM win GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(p.n_windows, 0) AS n_windows,
             COALESCE(p.n_shared, 0) AS n_shared
      FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
      ORDER BY d.doc_id""") { (s, d) =>
      // NOT spread (measured r10): unlike winnowing, the window-md5 stage is
      // cheap enough that Tables.spread's exchange cost exceeded the
      // parallelism gain at sf0.1 (0.26→0.39 s) — reverted on measurement.
      //
      // Subtraction shape (r10 rewrite): the old plan joined the FULL
      // window-hash stream back to the shared-hash set — the largest
      // intermediate in the ladder (12.6 s at 100×, α=0.71). Neither the
      // join nor the countDistinct expand is needed:
      //  - n_windows is ARITHMETIC: max(len(tokens) − 19, 0), no explode;
      //  - n_shared = n_windows − |occurrences of single-doc hashes|, and a
      //    hash with nd == 1 attributes ALL its occurrences to min(doc_id)
      //    in the same aggregation row — so attribution needs no join-back.
      // The hash stream is touched by exactly two map-side-combined
      // aggregations, keyed on the 16-byte unhex(md5) (same equality as the
      // oracle's hex md5, half the shuffle bytes); the hash never rides a
      // join.
      val docsT = Tables.documents(s, d)
      val nw = docsT.select(col("doc_id"),
        greatest(size(TextOps.tokens(col("text"))) - 19, lit(0))
          .cast("long").as("n_windows"))
      val win = docsT
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .withColumn("i", explode(when(size(col("t")) >= 20,
          sequence(lit(1), size(col("t")) - 19)).otherwise(array().cast("array<int>"))))
        .select(col("doc_id"),
          unhex(md5(array_join(slice(col("t"), col("i"), lit(20)), " ")
            .cast("binary"))).as("w"))
      val uniq = win.groupBy("w", "doc_id").agg(count(lit(1)).as("c"))
        .groupBy("w").agg(count(lit(1)).as("nd"),
          min(col("doc_id")).as("doc_id"), sum(col("c")).as("ctot"))
        .filter(col("nd") === 1)
        .groupBy("doc_id").agg(sum("ctot").as("n_uniq"))
      nw.join(uniq, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_windows"),
          (col("n_windows") - coalesce(col("n_uniq"), lit(0L))).as("n_shared"))
        .orderBy("doc_id")
    },

    // ----- extension: EXACT-SUBSTRING REMOVAL SPANS — the second half of
    // Lee et al.'s ExactSubstr dedup: q_substring_dedup SCORES documents;
    // this query emits, per document, the MERGED duplicate-span intervals a
    // removal pass would cut — span count and covered-token total over the
    // union of all 20-token windows whose hash occurs in another document.
    // Because every window has the SAME length and per-doc starts arrive
    // sorted, interval merging is PAIRWISE arithmetic: consecutive starts
    // s_j, s_{j+1} belong to one merged span iff s_{j+1} − s_j ≤ 20, so
    // n_spans = 1 + |gaps| and covered = 20·n_spans + Σ(within-span diffs)
    // — exact integers over a per-doc array, identical list arithmetic in
    // DuckDB. Shape: shared-hash detection is the min≠max aggregation (no
    // countDistinct); recovering POSITIONS genuinely needs the occurrence
    // stream joined to the shared-hash set — the honest shuffled equi-join
    // (unlike the scoring query, which subtraction freed of it) — then one
    // per-doc aggregation whose state is bounded by document length.
    "q_substring_spans" -> QueryDef.sql("""
      WITH toks AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS t
                    FROM documents),
      win AS (SELECT doc_id, unnest(range(1, greatest(len(t) - 18, 1))) AS i, t
              FROM toks),
      wh AS (SELECT doc_id, i, md5(array_to_string(t[i:i+19], ' ')) AS w FROM win),
      sh AS (SELECT w FROM (SELECT w, MIN(doc_id) AS a, MAX(doc_id) AS b
                            FROM wh GROUP BY w) WHERE a <> b),
      per AS (SELECT doc_id, list_sort(list(i)) AS a FROM wh
              WHERE w IN (SELECT w FROM sh) GROUP BY doc_id),
      c AS (SELECT doc_id, len(a) AS n_shared_windows,
                   list_transform(range(2, len(a) + 1), j -> a[j] - a[j-1]) AS d
            FROM per)
      SELECT doc_id, CAST(n_shared_windows AS BIGINT) AS n_shared_windows,
             CAST(1 + len(list_filter(d, x -> x > 20)) AS BIGINT) AS n_spans,
             CAST(20 * (1 + len(list_filter(d, x -> x > 20)))
                  + COALESCE(list_sum(list_filter(d, x -> x <= 20)), 0)
               AS BIGINT) AS covered_tokens
      FROM c ORDER BY doc_id""") { (s, d) =>
      val wh = Tables.documents(s, d)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
        .withColumn("i", explode(when(size(col("t")) >= 20,
          sequence(lit(1), size(col("t")) - 19)).otherwise(array().cast("array<int>"))))
        .select(col("doc_id"), col("i"),
          unhex(md5(array_join(slice(col("t"), col("i"), lit(20)), " ")
            .cast("binary"))).as("w"))
      val sh = wh.groupBy("w")
        .agg(min("doc_id").as("a"), max("doc_id").as("b"))
        .filter(col("a") =!= col("b")).select("w")
      val per = wh.join(sh, "w")
        .groupBy("doc_id")
        .agg(sort_array(collect_list(col("i"))).as("a"))
      val dcol = zip_with(
        slice(col("a"), lit(2), greatest(size(col("a")) - 1, lit(0))),
        slice(col("a"), lit(1), greatest(size(col("a")) - 1, lit(0))),
        (x, y) => x - y)
      val gaps = size(filter(dcol, x => x > 20))
      val within = aggregate(filter(dcol, x => x <= 20),
        lit(0), (acc, x) => acc + x)
      per.select(col("doc_id"),
          size(col("a")).cast("long").as("n_shared_windows"),
          (gaps + 1).cast("long").as("n_spans"),
          (lit(20) * (gaps + 1) + within).cast("long").as("covered_tokens"))
        .orderBy("doc_id")
    },

    // ----- extension: TOKEN-BUDGET SAMPLING — the data-mixing step after
    // quality scoring: within each source, take documents in quality order
    // (longest first, id tiebreak) until the source's token budget is
    // exhausted; the document that crosses the budget line is kept. One
    // running-sum window per source — the per-source partitioning IS the
    // 100 TB shape (each source's cumsum is independent; text never rides
    // the shuffle, only (doc_id, n_chars, tok)). The window SUM is cast to
    // BIGINT on the oracle side because DuckDB widens it to HUGEINT.
    "q_token_budget" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, source, n_chars,
                        len(list_filter(string_split(text,' '), x -> x <> '')) AS tok
                 FROM documents),
      w AS (SELECT doc_id, source, tok,
                   CAST(SUM(tok) OVER (PARTITION BY source
                     ORDER BY n_chars DESC, doc_id ASC
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
            FROM t)
      SELECT source, doc_id, CAST(tok AS BIGINT) AS tok, cum
      FROM w WHERE cum - tok < 800 ORDER BY source, doc_id""") { (s, d) =>
      // two-phase prefix scan instead of the per-source window (r10, same
      // rationale as q_seq_packing): the inclusive running sum is the
      // exclusive scan + the row's own tok, bit-identical to the window.
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("n_chars"),
          TextOps.tokenCount(col("text")).cast("long").as("tok"))
      graft.operators.PrefixScan
        .exclusivePrefixSum(t, "source",
          Seq(col("n_chars").desc, col("doc_id").asc), "tok", "excl")
        .filter(col("excl") < 800)
        .select(col("source"), col("doc_id"), col("tok"),
          (col("excl") + col("tok")).as("cum"))
        .orderBy("source", "doc_id")
    },

    // ----- extension: small-file COMPACTION PLAN (operators.Compaction) —
    // the lakehouse maintenance pass: a file inventory (here the documents
    // table standing in as one "file" per doc, bytes = n_chars, table
    // partition = source) packed into ~8 KB rewrite groups by next-fit over
    // the exclusive running byte sum. One window shuffle on the partition
    // column; rewrite groups never span partitions; replayable (same
    // inventory → same plan). Output: one row per (source, bin).
    "q_compaction_plan" -> QueryDef.sql("""
      WITH inv AS (
        SELECT source, doc_id, CAST(n_chars AS BIGINT) AS bytes
        FROM documents),
      p AS (
        SELECT source, bytes,
               CAST(COALESCE(SUM(bytes) OVER (PARTITION BY source
                 ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                 AND 1 PRECEDING), 0) AS BIGINT) AS prefix_bytes
        FROM inv)
      SELECT source, CAST(FLOOR(prefix_bytes / 8192) AS BIGINT) AS bin,
             COUNT(*) AS n_files, CAST(SUM(bytes) AS BIGINT) AS total_bytes
      FROM p GROUP BY 1, 2 ORDER BY source, bin""") { (s, d) =>
      graft.operators.Compaction.groups(
          Tables.documents(s, d)
            .select(col("source"), col("doc_id"),
              col("n_chars").cast("long").as("bytes")),
          "source", col("bytes"), col("doc_id"), targetBytes = 8192L)
        .orderBy("source", "bin")
    }
  )
}
