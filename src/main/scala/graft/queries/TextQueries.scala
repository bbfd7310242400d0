package graft.queries

import graft.QueryDef
import graft.io.Tables
import graft.text.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-pipeline operators over the `documents` table: tokenization/wordcount
  * (reference WordCount.scala:19-67), n-gram counting (Utils.scala:206-216),
  * plus the training-data-pipeline extensions (language ID, quality scoring,
  * token counting, fingerprinting, exact + n-gram-Jaccard dedup).
  */
object TextQueries {

  val defs: Map[String, QueryDef] = Map(

    // ----- A1/M1/F15: tokenize → explode → count (reference WordCount.scala:44-61)
    "q_wordcount" -> QueryDef.sql("""
      SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token <> '' GROUP BY token HAVING COUNT(*) >= 5
      ORDER BY token""") { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
        .orderBy("token")
    },

    // ----- F1/F2 + A1: the reference's WordCount pipeline (clean digits/
    // punctuation, drop 1-2 letter words, tokenize, count — WordCount.scala:44-61)
    // with both regex stages mirrored in the oracle
    "q_wordcount_clean" -> QueryDef.sql("""
      SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(string_split(
          regexp_replace(
            regexp_replace(lower(text), '(\d|,|:|;|\?|!)', '', 'g'),
            '\b\w{1,2}\b', '', 'g'), ' ')) AS token
        FROM documents)
      WHERE token <> '' GROUP BY token HAVING COUNT(*) >= 5
      ORDER BY token""") { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextOps.tokens(
          TextOps.dropSmallWords(TextOps.clean(col("text"))))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
        .orderBy("token")
    },

    // ----- M4: n-gram extraction + frequency (reference NGram,
    // Utils.scala:206-216; 5-grams in workflow2, here 3-grams)
    "q_ngram_count" -> QueryDef.sql("""
      SELECT ngram, COUNT(*) AS n FROM (
        SELECT unnest(list_transform(range(1, len(toks) - 1),
                      i -> array_to_string(toks[i:i+2], ' '))) AS ngram
        FROM (SELECT string_split(text, ' ') AS toks FROM documents))
      GROUP BY ngram HAVING COUNT(*) >= 3 ORDER BY ngram""") { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextOps.ngrams(TextOps.tokens(col("text")), 3)).as("ngram"))
        .groupBy("ngram").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
        .orderBy("ngram")
    },

    // ----- M3: Porter-stemmed wordcount. No stemmer exists in offline
    // DuckDB (stem() lives in the fts extension, undownloadable here), so
    // the ALGORITHM is pinned by PorterStemmerSpec's published vocabulary;
    // the sf0.01 gate uses a golden VALUES snapshot (VERDICT r7 #4b) —
    // weaker than an independent recomputation, but it converts any
    // engine-side drift (tokenizer, stemmer, threshold) into a red hash
    // instead of a silent pin update. Regenerate via Verify + the dump
    // recipe in COVERAGE.md if the sf0.01 corpus ever changes.
    "q_stemmed_wordcount" -> QueryDef.sql("""
      SELECT stem, CAST(n AS BIGINT) AS n FROM (VALUES
        ('a', 880), ('agg', 901), ('batch', 937), ('big', 876),
        ('column', 934), ('custom', 934), ('data', 908), ('dup', 26),
        ('fast', 854), ('filter', 933), ('group', 878), ('hash', 947),
        ('join', 964), ('kei', 896), ('line', 910), ('merg', 918),
        ('order', 912), ('part', 878), ('queri', 871), ('row', 943),
        ('scan', 936), ('slow', 918), ('small', 928), ('sort', 872),
        ('spark', 880), ('stream', 888), ('tabl', 908), ('the', 840),
        ('valu', 897), ('vector', 912), ('window', 886)
      ) AS t(stem, n) ORDER BY stem""") { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextOps.stemTokens(TextOps.tokens(lower(col("text"))))).as("stem"))
        .groupBy("stem").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
        .orderBy("stem")
    },

    // ----- M3 (Snowball parity): the same wordcount through the Porter2 /
    // Snowball English stemmer — the algorithm the reference's stemming
    // stage actually ran (spark-stemming jar, feature/Utils.scala:200-204).
    // Algorithm pinned by SnowballStemmerSpec's hand-derived vectors; the
    // sf0.01 gate is a golden VALUES snapshot, same caveat + regen recipe
    // as q_stemmed_wordcount above. The one Porter-vs-Porter2 divergence
    // visible in this corpus: 'key' (Porter2 keeps the y after a vowel;
    // Porter rewrites it to 'kei').
    "q_snowball_wordcount" -> QueryDef.sql("""
      SELECT stem, CAST(n AS BIGINT) AS n FROM (VALUES
        ('a', 880), ('agg', 901), ('batch', 937), ('big', 876),
        ('column', 934), ('custom', 934), ('data', 908), ('dup', 26),
        ('fast', 854), ('filter', 933), ('group', 878), ('hash', 947),
        ('join', 964), ('key', 896), ('line', 910), ('merg', 918),
        ('order', 912), ('part', 878), ('queri', 871), ('row', 943),
        ('scan', 936), ('slow', 918), ('small', 928), ('sort', 872),
        ('spark', 880), ('stream', 888), ('tabl', 908), ('the', 840),
        ('valu', 897), ('vector', 912), ('window', 886)
      ) AS t(stem, n) ORDER BY stem""") { (s, d) =>
      Tables.documents(s, d)
        .select(explode(TextOps.snowballTokens(TextOps.tokens(lower(col("text"))))).as("stem"))
        .groupBy("stem").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
        .orderBy("stem")
    },

    // ----- extension: language-ID heuristic (marker-word argmax)
    "q_langid" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, lang,
                        list_filter(string_split(text,' '), x -> x <> '') AS toks
                 FROM documents),
      s AS (SELECT doc_id, lang,
                   len(list_filter(toks, x -> x IN ('the','of','and','to','a','in','is'))) AS en,
                   len(list_filter(toks, x -> x IN ('el','la','de','los','y','que'))) AS es,
                   len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
                   len(list_filter(toks, x -> x IN ('le','la','les','et','est','une'))) AS fr
            FROM t)
      SELECT doc_id, lang,
             CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
                  WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
                  WHEN de >= fr AND de > 0 THEN 'de'
                  WHEN fr > 0 THEN 'fr'
                  ELSE 'und' END AS predicted
      FROM s ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), TextOps.langId(col("text")).as("predicted"))
        .orderBy("doc_id")
    },

    // ----- extension: language-ID via character n-gram profiles (the classic
    // n-gram heuristic; profiles shared with the oracle via one Scala source)
    "q_langid_ngram" -> QueryDef.sql {
      def inList(lang: String) = TextOps.langTrigramProfiles(lang)
        .map(t => "'" + t.replace("'", "''") + "'").mkString(",")
      s"""
      WITH t AS (SELECT doc_id, lang, lower(text) AS x FROM documents),
      g AS (SELECT doc_id, lang,
              CASE WHEN strlen(x) >= 3
                   THEN list_transform(range(1, strlen(x) - 1),
                                       i -> substr(x, CAST(i AS INTEGER), 3))
                   ELSE CAST([] AS VARCHAR[]) END AS tg
            FROM t),
      s AS (SELECT doc_id, lang,
              len(list_filter(tg, y -> y IN (${inList("en")}))) AS en,
              len(list_filter(tg, y -> y IN (${inList("es")}))) AS es,
              len(list_filter(tg, y -> y IN (${inList("de")}))) AS de,
              len(list_filter(tg, y -> y IN (${inList("fr")}))) AS fr
            FROM g)
      SELECT doc_id, lang,
             CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
                  WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
                  WHEN de >= fr AND de > 0 THEN 'de'
                  WHEN fr > 0 THEN 'fr'
                  ELSE 'und' END AS predicted
      FROM s ORDER BY doc_id"""
    } { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          TextOps.langIdNgram(col("text")).as("predicted"))
        .orderBy("doc_id")
    },

    // ----- extension: quality scoring (length/stopword/token-shape ratios)
    "q_quality" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id,
                        list_filter(string_split(text,' '), x -> x <> '') AS toks
                 FROM documents),
      s AS (SELECT doc_id, len(toks) AS n_tokens,
                   CASE WHEN len(toks) = 0 THEN 0
                        ELSE list_reduce(list_transform(toks, x -> strlen(x)), (a,b) -> a+b) END AS n_token_chars,
                   len(list_filter(toks, x -> x IN ('the','of','and','to','a','in','is'))) AS n_stop
            FROM t)
      SELECT doc_id, n_tokens,
             ROUND(CAST(n_token_chars AS DOUBLE)/n_tokens, 4) AS avg_token_len,
             ROUND(CAST(n_stop AS DOUBLE)/n_tokens, 4) AS stop_ratio,
             ROUND(LEAST(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.5
                   + LEAST(CAST(n_stop AS DOUBLE)/n_tokens*5.0, 1.0)*0.5, 4) AS quality
      FROM s WHERE n_tokens > 0 ORDER BY doc_id""") { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .select(col("doc_id"), size(col("toks")).as("n_tokens"),
          TextOps.tokenChars(col("toks")).as("n_token_chars"),
          TextOps.markerScore(col("toks"), TextOps.langMarkers("en")).as("n_stop"))
        .filter(col("n_tokens") > 0)
        .select(col("doc_id"), col("n_tokens"),
          round(col("n_token_chars").cast("double") / col("n_tokens"), 4).as("avg_token_len"),
          round(col("n_stop").cast("double") / col("n_tokens"), 4).as("stop_ratio"),
          round(least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5
            + least(col("n_stop").cast("double") / col("n_tokens") * 5.0, lit(1.0)) * 0.5, 4)
            .as("quality"))
        .orderBy("doc_id")
    },

    // ----- extension flagship: the training-data CORPUS PIPELINE end to end —
    // language-ID gate (en) → quality gate (length + stopword-density score
    // ≥ 0.75) → exact dedup (min doc_id per content hash) → per-stored-lang
    // yield stats. Every stage is the already-oracle-checked building block
    // (q_langid / q_quality / q_dedup_exact) composed into ONE declarative
    // plan; the float quality score runs the identical IEEE expression tree
    // on both engines, so the >= threshold is deterministic.
    "q_pipeline_corpus" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, lang, text,
                        list_filter(string_split(text,' '), x -> x <> '') AS toks
                 FROM documents),
      s AS (SELECT doc_id, lang, text, len(toks) AS n_tokens,
                   len(list_filter(toks, x -> x IN ('the','of','and','to','a','in','is'))) AS en,
                   len(list_filter(toks, x -> x IN ('el','la','de','los','y','que'))) AS es,
                   len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht'))) AS de,
                   len(list_filter(toks, x -> x IN ('le','la','les','et','est','une'))) AS fr
            FROM t WHERE len(toks) > 0),
      p AS (SELECT doc_id, lang, text, n_tokens,
                   CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en'
                        WHEN es >= de AND es >= fr AND es > 0 THEN 'es'
                        WHEN de >= fr AND de > 0 THEN 'de'
                        WHEN fr > 0 THEN 'fr'
                        ELSE 'und' END AS predicted,
                   LEAST(CAST(n_tokens AS DOUBLE)/100.0, 1.0)*0.5
                   + LEAST(CAST(en AS DOUBLE)/n_tokens*5.0, 1.0)*0.5 AS quality
            FROM s),
      f AS (SELECT doc_id, lang, text, n_tokens FROM p
            WHERE predicted = 'en' AND quality >= 0.75),
      d AS (SELECT lang, n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM f)
      SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM d WHERE rn = 1 GROUP BY lang ORDER BY lang""") { (s, d) =>
      val toks = TextOps.tokens(col("text"))
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("text"), toks.as("toks"))
        .select(col("doc_id"), col("lang"), col("text"),
          size(col("toks")).as("n_tokens"),
          TextOps.markerScore(col("toks"), TextOps.langMarkers("en")).as("n_stop"),
          TextOps.langId(col("text")).as("predicted"))
        .filter(col("n_tokens") > 0)
        .withColumn("quality",
          least(col("n_tokens").cast("double") / 100.0, lit(1.0)) * 0.5
            + least(col("n_stop").cast("double") / col("n_tokens") * 5.0, lit(1.0)) * 0.5)
        .filter(col("predicted") === "en" && col("quality") >= 0.75)
      val w = Window.partitionBy(md5(col("text").cast("binary"))).orderBy(col("doc_id"))
      base.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").cast("long").as("total_tokens"))
        .orderBy("lang")
    },

    // ----- extension: collocation mining — bigram LIFT over the corpus,
    // p(xy)/(p(x)p(y)) as the exact integer ratio n_xy·N_tok/(n_x·n_y)
    // (log-free PMI variant: every product of counts stays under 2^53, so
    // the single double division is IEEE-identical on both engines)
    "q_collocations" -> QueryDef.sql("""
      WITH t AS (SELECT list_filter(string_split(text,' '), x -> x <> '') AS toks
                 FROM documents),
      uni AS (SELECT unnest(toks) AS w FROM t),
      ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
      tot AS (SELECT COUNT(*) AS nt FROM uni),
      big AS (SELECT unnest(list_transform(range(1, len(toks)),
                            i -> array_to_string(toks[i:i+1], ' '))) AS bigram
              FROM t),
      bcnt AS (SELECT bigram, COUNT(*) AS n_xy FROM big GROUP BY bigram
               HAVING COUNT(*) >= 5)
      SELECT b.bigram, b.n_xy,
             ROUND(CAST(b.n_xy AS DOUBLE) * t.nt
                   / (CAST(u1.c AS DOUBLE) * u2.c), 6) AS lift
      FROM bcnt b
      JOIN ucnt u1 ON u1.w = string_split(b.bigram, ' ')[1]
      JOIN ucnt u2 ON u2.w = string_split(b.bigram, ' ')[2]
      CROSS JOIN tot t
      ORDER BY bigram""") { (s, d) =>
      val t = Tables.documents(s, d).select(TextOps.tokens(col("text")).as("toks"))
      val uni = t.select(explode(col("toks")).as("w"))
      val ucnt = uni.groupBy("w").agg(count(lit(1)).as("c"))
      val tot = uni.agg(count(lit(1)).as("nt"))
      val bcnt = t.select(explode(TextOps.ngrams(col("toks"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
        .filter(col("n_xy") >= 5)
      bcnt
        .join(broadcast(ucnt.select(col("w").as("w1"), col("c").as("c1"))),
          split(col("bigram"), " ").getItem(0) === col("w1"))
        .join(broadcast(ucnt.select(col("w").as("w2"), col("c").as("c2"))),
          split(col("bigram"), " ").getItem(1) === col("w2"))
        .crossJoin(broadcast(tot))
        .select(col("bigram"), col("n_xy"),
          round(col("n_xy").cast("double") * col("nt")
            / (col("c1").cast("double") * col("c2")), 6).as("lift"))
        .orderBy("bigram")
    },

    // ----- extension: token counting (whitespace + BPE-ish regex)
    "q_token_count" -> QueryDef.sql("""
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws_tokens,
             len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]')) AS n_bpeish
      FROM documents ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextOps.tokenCount(col("text")).as("n_ws_tokens"),
          // native scan, space-only whitespace class — bit-identical to the
          // oracle's regexp_extract_all pattern on ANY input, ~15× the regex
          // engine's throughput (measured)
          org.apache.spark.sql.graft.bridge.column(
            graft.expressions.BpeishCount(
              org.apache.spark.sql.graft.bridge.expression(col("text")),
              spaceOnlyWs = true)).as("n_bpeish"))
        .orderBy("doc_id")
    },

    // ----- extension: TOKENIZER FERTILITY — BPE-ish tokens per whitespace
    // word, per language (the tokenizer-efficiency metric multilingual
    // pipelines track: high fertility = the tokenizer fragments that
    // language). Both counts ride the native scans (SplitNonEmpty /
    // BpeishCount); integer sums, one final division.
    "q_fertility" -> QueryDef.sql("""
      SELECT lang,
             CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT) AS total_ws,
             CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS total_bpe,
             ROUND(CAST(SUM(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 ]'))) AS DOUBLE)
                   / SUM(len(list_filter(string_split(text, ' '), x -> x <> ''))), 6) AS fertility
      FROM documents GROUP BY lang ORDER BY lang""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("lang"),
          TextOps.tokenCount(col("text")).cast("long").as("ws"),
          org.apache.spark.sql.graft.bridge.column(
            graft.expressions.BpeishCount(
              org.apache.spark.sql.graft.bridge.expression(col("text")),
              spaceOnlyWs = true)).cast("long").as("bpe"))
        .groupBy("lang")
        .agg(sum("ws").as("total_ws"), sum("bpe").as("total_bpe"),
          round(sum("bpe").cast("double") / sum("ws"), 6).as("fertility"))
        .orderBy("lang")
    },

    // ----- extension: content-hash fingerprint
    "q_fingerprint" -> QueryDef.sql("""
      SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id""") { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")
    },

    // ----- extension: winnowing fingerprints (Schleimer et al. 2003) —
    // rolling-hash character 12-grams, min-per-window-of-4 selection
    // (rightmost on ties). The oracle replays the exact polynomial hash
    // (B=257, M=1000003; B^j mod M constants inlined) and the rightmost-min
    // rule via list_reverse + list_position. k=12 because the synthetic corpus
    // draws from a small word vocabulary — 5-grams collapse to ~900 distinct
    // hashes corpus-wide, 12-grams stay discriminative (~25k).
    // graft.text.Winnowing / WinnowPack.
    "q_winnow" -> QueryDef.sql("""
      WITH h AS (
        SELECT doc_id,
               list_transform(range(1, length(text) - 10), i ->
                 (ascii(text[i:i]) * 731977 + ascii(text[i+1:i+1]) * 555379
                + ascii(text[i+2:i+2]) * 126675 + ascii(text[i+3:i+3]) * 381817
                + ascii(text[i+4:i+4]) * 709659 + ascii(text[i+5:i+5]) * 107820
                + ascii(text[i+6:i+6]) * 529604 + ascii(text[i+7:i+7]) * 457315
                + ascii(text[i+8:i+8]) * 974545 + ascii(text[i+9:i+9]) * 66049
                + ascii(text[i+10:i+10]) * 257 + ascii(text[i+11:i+11])) % 1000003) AS hs
        FROM documents),
      sel AS (
        -- (pos << 32) | hash packed into one BIGINT (list_distinct cannot
        -- dedup nested lists), same packing as graft.text.Winnowing
        SELECT doc_id, list_distinct(list_transform(range(0, len(hs) - 3), p ->
          (p + 4 - list_position(list_reverse(hs[p+1:p+4]),
                                 list_min(hs[p+1:p+4]))) * 4294967296
          + list_min(hs[p+1:p+4]))) AS fps
        FROM h WHERE len(hs) >= 4)
      SELECT doc_id, CAST(f // 4294967296 AS BIGINT) AS pos,
             CAST(f % 4294967296 AS BIGINT) AS fp
      FROM (SELECT doc_id, unnest(fps) AS f FROM sel) u
      ORDER BY doc_id, pos""") { (s, d) =>
      Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"), explode(TextOps.winnow(col("text"), 12, 4)).as("packed"))
        .select(col("doc_id"),
          shiftright(col("packed"), 32).as("pos"),
          col("packed").bitwiseAND(lit(0xFFFFFFFFL)).as("fp"))
        .orderBy("doc_id", "pos")
    },

    // ----- extension: near-dup detection via winnowing-fingerprint-set
    // Jaccard — the MOSS shape: fingerprints form an inverted index, candidate
    // pairs fall out of an equi-join on the hash (no all-pairs scan), and the
    // set-overlap ratio approximates document similarity. Fingerprints seen in
    // more than 50 documents are dropped first: winnowing's min-selection
    // picks the SAME low-hash k-grams everywhere, so high-df fingerprints are
    // both signal-free and the hot keys that would skew the join at scale.
    // ----- §2.10: weighted_jaccard (the reference's lopsided-pair L1 blend,
    // SimilarityMeasure.scala:113-143) in double arithmetic over token SETS —
    // where L1 = |A|+|B|−2|∩| and the norms are the set sizes, so the whole
    // blend reduces to size arithmetic both engines replay identically.
    // Variable-length prefix sets manufacture lopsided pairs (the corpus is
    // too uniform to take the >5 branch on its own); both the blend branch
    // and the plain-jaccard fallback are exercised (≈2k / ≈43k pairs).
    "q_weighted_jaccard" -> QueryDef.sql("""
      WITH raw AS (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
                   FROM documents WHERE doc_id < 300),
      t AS (SELECT doc_id, list_distinct(toks) AS s FROM raw),
      q AS (SELECT doc_id, list_distinct(toks[1:CAST(1 + doc_id % 8 AS INTEGER)]) AS s
            FROM raw),
      p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
                   CAST(len(a.s) AS DOUBLE) AS sa, CAST(len(b.s) AS DOUBLE) AS sb,
                   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter
            FROM t a JOIN q b ON a.doc_id < b.doc_id
            WHERE len(a.s) > 0 AND len(b.s) > 0),
      w AS (SELECT d1, d2, sa, sb, inter,
                   ABS(sa - sb) / SQRT(sa * sb) AS rel,
                   LEAST(sa, sb) AS m, LEAST(sa, sb) / GREATEST(sa, sb) AS alpha,
                   inter / LEAST(sa, sb) AS r, sa + sb - 2.0 * inter AS l1
            FROM p)
      SELECT d1, d2, ROUND(CASE WHEN rel > 5.0 THEN
               100.0 * (sa + sb - ((1.0 - r) * (1.0 + alpha) / ((1.0 + r) * (1.0 + alpha - 2.0 * alpha * r))) * l1)
                     / (sa + sb + ((1.0 - r) * (1.0 + alpha) / ((1.0 + r) * (1.0 + alpha - 2.0 * alpha * r))) * l1)
             ELSE inter / (sa + sb - inter) * 100.0 END, 6) AS wjac
      FROM w ORDER BY d1, d2""") { (s, d) =>
      val raw = Tables.documents(s, d).filter(col("doc_id") < 300)
        .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      val full = raw.select(col("doc_id").as("d1"),
        array_distinct(col("toks")).as("s1"))
        .filter(size(col("s1")) > 0)
      val pref = raw.select(col("doc_id").as("d2"),
        array_distinct(slice(col("toks"), lit(1),
          (col("doc_id") % 8 + 1).cast("int"))).as("s2"))
        .filter(size(col("s2")) > 0)
      val sa = size(col("s1")).cast("double")
      val sb = size(col("s2")).cast("double")
      val inter = size(array_intersect(col("s1"), col("s2"))).cast("double")
      val joined = full.join(pref, col("d1") < col("d2"))
        .select(col("d1"), col("d2"), sa.as("sa"), sb.as("sb"), inter.as("inter"))
        .select(col("d1"), col("d2"), col("sa"), col("sb"), col("inter"),
          (abs(col("sa") - col("sb")) / sqrt(col("sa") * col("sb"))).as("rel"),
          least(col("sa"), col("sb")).as("m"),
          (least(col("sa"), col("sb")) / greatest(col("sa"), col("sb"))).as("alpha"),
          (col("inter") / least(col("sa"), col("sb"))).as("r"),
          (col("sa") + col("sb") - lit(2.0) * col("inter")).as("l1"))
      val weight = (lit(1.0) - col("r")) * (lit(1.0) + col("alpha")) /
        ((lit(1.0) + col("r")) *
          (lit(1.0) + col("alpha") - lit(2.0) * col("alpha") * col("r")))
      val blend = lit(100.0) *
        (col("sa") + col("sb") - weight * col("l1")) /
        (col("sa") + col("sb") + weight * col("l1"))
      joined.select(col("d1"), col("d2"),
          round(when(col("rel") > 5.0, blend)
            .otherwise(col("inter") / (col("sa") + col("sb") - col("inter")) * 100.0),
            6).as("wjac"))
        .orderBy("d1", "d2")
    },

    // On the gate corpus true near-dups sit at jac ≥ 0.95 and everything else
    // at ≤ 0.15, so the 0.5 threshold is far from any boundary sensitivity.
    "q_winnow_neardup" -> QueryDef.sql("""
      WITH h AS (
        SELECT doc_id,
               list_transform(range(1, length(text) - 10), i ->
                 (ascii(text[i:i]) * 731977 + ascii(text[i+1:i+1]) * 555379
                + ascii(text[i+2:i+2]) * 126675 + ascii(text[i+3:i+3]) * 381817
                + ascii(text[i+4:i+4]) * 709659 + ascii(text[i+5:i+5]) * 107820
                + ascii(text[i+6:i+6]) * 529604 + ascii(text[i+7:i+7]) * 457315
                + ascii(text[i+8:i+8]) * 974545 + ascii(text[i+9:i+9]) * 66049
                + ascii(text[i+10:i+10]) * 257 + ascii(text[i+11:i+11])) % 1000003) AS hs
        FROM documents),
      sel AS (
        SELECT doc_id, list_distinct(list_transform(range(0, len(hs) - 3), p ->
          list_min(hs[p+1:p+4]))) AS fps
        FROM h WHERE len(hs) >= 4),
      fp AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM sel),
      rare AS (SELECT fp FROM fp GROUP BY fp HAVING COUNT(*) <= 50),
      rfp AS (SELECT f.doc_id, f.fp FROM fp f JOIN rare r ON f.fp = r.fp),
      sz AS (SELECT doc_id, COUNT(*) AS n FROM rfp GROUP BY doc_id),
      sh AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS ns
             FROM rfp a JOIN rfp b ON a.fp = b.fp AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
      SELECT d1, d2, CAST(ns AS BIGINT) AS n_shared,
             ROUND(CAST(ns AS DOUBLE) / (s1.n + s2.n - ns), 4) AS jac
      FROM sh JOIN sz s1 ON d1 = s1.doc_id JOIN sz s2 ON d2 = s2.doc_id
      WHERE CAST(ns AS DOUBLE) / (s1.n + s2.n - ns) >= 0.5
      ORDER BY d1, d2""") { (s, d) =>
      // per-doc fingerprint dedup happens MAP-SIDE (array_distinct over the
      // masked hashes before the explode): the previous explode+distinct
      // shuffled every (doc_id, fp) occurrence — one full corpus-fingerprint
      // shuffle — to deduplicate what is a per-row set to begin with (r10).
      // spread: winnowing is the most compute-heavy projection in the repo
      // (~0.35 ms/doc) and a one-row-group fixture pins it to a single task
      // (Tables.spread scaladoc) — no-op on well-split tables
      val fp = Tables.spread(Tables.documents(s, d))
        .select(col("doc_id"),
          explode(array_distinct(transform(TextOps.winnow(col("text"), 12, 4),
            p => p.bitwiseAND(lit(0xFFFFFFFFL))))).as("fp"))
      // r13 (guide §2.4 remove shuffles / §1.2 step 1): ONE bounded
      // aggregation replaces the former rare-filter → rfp join → fp
      // SELF-join chain. Per fingerprint, collect the (unique) doc ids into
      // a CAPPED buffer (≤ 51 longs per group however hot the key — a
      // boilerplate fingerprint can never blow task memory) which returns
      // the sorted member list for df ≤ 50 groups and empty otherwise —
      // exactly the HAVING COUNT(*) <= 50 oracle semantics. Doc sizes and
      // the shared-count pairs then derive from the lists: each group emits
      // its C(df, 2) ordered pairs (d1 < d2 by the sort; ≤ 1225 per group by
      // the cap) — the same pairs the self-join produced, without shuffling
      // the fingerprint table three more times or recomputing the winnow
      // scan per consumer (it was the heaviest projection in the repo, and
      // the old plan evaluated it up to 4×: measured 3.73 → ~1.5 s/rep).
      val grouped = fp.groupBy("fp")
        .agg(graft.functions.Aggregators.cappedDistinctList(50)(col("doc_id"))
          .as("docs"))
        .filter(size(col("docs")) > 0)
      val sz = grouped.select(explode(col("docs")).as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("n"))
      val pairs = grouped
        .select(posexplode(col("docs")).as(Seq("__i", "d1")), col("docs"))
        .select(col("d1"), explode(slice(col("docs"), col("__i") + lit(2),
          size(col("docs")) - col("__i") - lit(1))).as("d2"))
      val sh = pairs.groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("ns"))
      val jac = col("ns").cast("double") / (col("n1") + col("n2") - col("ns"))
      sh.join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
        .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
        .filter(jac >= 0.5)
        .select(col("d1"), col("d2"), col("ns").as("n_shared"),
          round(jac, 4).as("jac"))
        .orderBy("d1", "d2")
    },

    // ----- extension: exact dedup via content-hash groupBy (scale path: the
    // md5 group key shuffles 16 bytes/row instead of the full text)
    "q_dedup_exact" -> QueryDef.sql("""
      SELECT md5(text) AS fp, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
      FROM documents GROUP BY md5(text) ORDER BY keeper""") { (s, d) =>
      Tables.documents(s, d)
        .groupBy(TextOps.fingerprint(col("text")).as("fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("keeper")
    },

    // ----- extension: n-gram (token-set) Jaccard near-dup pairs, blocked by
    // lang (the J2 blocked self-join shape applied to dedup; LSH is the
    // 100 TB path, this is the exact small-block variant)
    "q_jaccard_pairs" -> QueryDef.sql("""
      WITH t AS (SELECT doc_id, lang,
                        list_distinct(list_filter(string_split(text,' '), x -> x <> '')) AS s
                 FROM documents)
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)*100.0
                   / len(list_distinct(list_concat(a.s, b.s))), 4) AS jac
      FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)*100.0
            / len(list_distinct(list_concat(a.s, b.s))) >= 80.0
      ORDER BY d1, d2""") { (s, d) =>
      // r13 (guide §1.2 step 1): the per-lang all-pairs brute-force join
      // (quadratic in the block size — 50 s at sf0.1, unbounded at 100 TB
      // for a popular lang) becomes the BLOCKED PPJoin: identical output —
      // every within-lang pair at token-set Jaccard ≥ 80% — through the
      // provably complete size/prefix/positional filter chain, with the
      // exact verify re-judging every candidate. Token sets ride as
      // xxhash64 ids (the q_allpairs_jaccard/q_minhash_dedup 2⁻⁶⁴
      // collision argument); the 80.0 cut is applied as the same literal
      // the oracle uses.
      graft.dedup.PrefixJoin.allPairsOnSets(
        Tables.spread(Tables.documents(s, d)).select(col("doc_id"), col("lang"),
          graft.dedup.MinHashDedup.shingleIds(col("text"), 1).as("sids")),
        "doc_id", "sids", tau = 0.8, minJacPct = 80.0,
        blockCol = Some("lang"))
        .orderBy("d1", "d2")
    }
  )
}
