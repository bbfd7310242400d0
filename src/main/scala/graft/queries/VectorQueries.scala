package graft.queries

import graft.QueryDef
import graft.ann.SignLsh
import graft.io.Tables
import graft.similarity.ArrayOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-column operators: similarity kernels over arrays (SURVEY §2.10),
  * brute-force cosine top-k (the ANN baseline), and the sign-LSH bucketed ANN
  * join (the 100 TB scale path). All three are fully oracle-checked — folds are
  * left-folds in index order on both engines, so doubles match bit-for-bit.
  */
object VectorQueries {

  private val SUP_THR = 0.1  // support threshold for set-based kernels
  private val N_PLANES = 6   // 64 LSH buckets
  private val DIM = 64
  // near-dup gate sizing: fewer planes (coarser buckets) + lower cosine floor
  private val ND_PLANES = 4
  private val ND_COS = 0.25

  private def duckSupport(v: String): String =
    s"list_transform($v, x -> CASE WHEN x > $SUP_THR THEN 1 ELSE 0 END)"

  val defs: Map[String, QueryDef] = Map(

    // ----- §2.10: similarity kernels on candidate pairs (array twin of
    // graft.similarity.Kernels; reference computes these via UDF on VectorUDT,
    // BillAnalyzer.scala:72-109)
    "q_sim_kernels" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id < 40),
      p AS (SELECT a.vec_id AS d1, b.vec_id AS d2, a.v AS va, b.v AS vb,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> a.v[i]*b.v[i]), (x,y)->x+y) AS dot,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> a.v[i]*a.v[i]), (x,y)->x+y) AS naa,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> b.v[i]*b.v[i]), (x,y)->x+y) AS nbb,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> abs(a.v[i]-b.v[i])), (x,y)->x+y) AS l1d,
                   len(list_filter(range(1, ${DIM + 1}), i -> a.v[i] > $SUP_THR AND b.v[i] > $SUP_THR)) AS inter,
                   len(list_filter(a.v, x -> x > $SUP_THR)) AS sa,
                   len(list_filter(b.v, x -> x > $SUP_THR)) AS sb,
                   len(list_filter(range(1, ${DIM + 1}), i -> (a.v[i] > $SUP_THR) <> (b.v[i] > $SUP_THR))) AS mism
            FROM t a JOIN t b ON a.vec_id < b.vec_id)
      SELECT d1, d2,
             ROUND(ABS(dot)/(SQRT(naa)*SQRT(nbb))*100.0, 6) AS cosine,
             ROUND(100.0/(1.0+l1d), 6) AS manhattan,
             ROUND(CAST(inter AS DOUBLE)/(sa+sb-inter)*100.0, 4) AS jaccard,
             ROUND(CAST(inter AS DOUBLE)/sa*100.0, 4) AS left_jaccard,
             ROUND(CAST(inter AS DOUBLE)/sb*100.0, 4) AS right_jaccard,
             ROUND(CAST(inter AS DOUBLE)/LEAST(sa, sb)*100.0, 4) AS maxasym_jaccard,
             ROUND(100.0/(1.0+mism), 6) AS hamming_sim,
             ROUND(CAST(${DIM} - mism AS DOUBLE)/${DIM}*100.0, 4) AS dense_jaccard
      FROM p WHERE sa > 0 AND sb > 0
      ORDER BY d1, d2""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .filter(col("vec_id") < 40)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
      val a = t.alias("a")
      val b = t.alias("b")
      val (va, vb) = (col("a.v"), col("b.v"))
      a.join(b, col("a.vec_id") < col("b.vec_id"))
        .select(
          col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
          ArrayOps.dot(va, vb).as("dot"),
          ArrayOps.norm2sq(va).as("naa"),
          ArrayOps.norm2sq(vb).as("nbb"),
          ArrayOps.l1(va, vb).as("l1d"),
          ArrayOps.supportIntersect(va, vb, SUP_THR).as("inter"),
          ArrayOps.supportSize(va, SUP_THR).as("sa"),
          ArrayOps.supportSize(vb, SUP_THR).as("sb"),
          ArrayOps.binaryMismatch(va, vb, SUP_THR).as("mism"))
        .filter(col("sa") > 0 && col("sb") > 0)
        .select(col("d1"), col("d2"),
          round(abs(col("dot")) / (sqrt(col("naa")) * sqrt(col("nbb"))) * 100.0, 6).as("cosine"),
          round(lit(100.0) / (lit(1.0) + col("l1d")), 6).as("manhattan"),
          round(col("inter").cast("double") / (col("sa") + col("sb") - col("inter")) * 100.0, 4).as("jaccard"),
          round(col("inter").cast("double") / col("sa") * 100.0, 4).as("left_jaccard"),
          round(col("inter").cast("double") / col("sb") * 100.0, 4).as("right_jaccard"),
          round(col("inter").cast("double") / least(col("sa"), col("sb")) * 100.0, 4).as("maxasym_jaccard"),
          round(lit(100.0) / (lit(1.0) + col("mism")), 6).as("hamming_sim"),
          round((lit(DIM) - col("mism")).cast("double") / DIM * 100.0, 4).as("dense_jaccard"))
        .orderBy("d1", "d2")
    },

    // ----- J8 faithful form: measure-vs-measure Pearson correlation over the
    // same pair set (the reference's jaccard-vs-cosine study,
    // docs/correlations.md:94-97 — corr 0.328 over 2.6e9 pairs; here the
    // bounded all-pairs set). Kernel values are bit-identical per pair;
    // single rounding after the corr aggregate.
    "q_corr_kernels" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id < 60),
      p AS (SELECT ABS(list_reduce(list_transform(range(1, ${DIM + 1}), i -> a.v[i]*b.v[i]), (x,y)->x+y))
                   / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> a.v[i]*a.v[i]), (x,y)->x+y))
                      * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> b.v[i]*b.v[i]), (x,y)->x+y))) * 100.0 AS cosine,
                   CAST(len(list_filter(range(1, ${DIM + 1}), i -> a.v[i] > $SUP_THR AND b.v[i] > $SUP_THR)) AS DOUBLE)
                   / (len(list_filter(a.v, x -> x > $SUP_THR)) + len(list_filter(b.v, x -> x > $SUP_THR))
                      - len(list_filter(range(1, ${DIM + 1}), i -> a.v[i] > $SUP_THR AND b.v[i] > $SUP_THR))) * 100.0 AS jaccard
            FROM t a JOIN t b ON a.vec_id < b.vec_id)
      SELECT ROUND(CORR(cosine, jaccard), 4) AS corr_cos_jac FROM p""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .filter(col("vec_id") < 60)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
      val a = t.alias("a")
      val b = t.alias("b")
      val (va, vb) = (col("a.v"), col("b.v"))
      val inter = ArrayOps.supportIntersect(va, vb, SUP_THR)
      a.join(b, col("a.vec_id") < col("b.vec_id"))
        .select(
          (abs(ArrayOps.cosine(va, vb)) * 100.0).as("cosine"),
          (inter.cast("double") /
            (ArrayOps.supportSize(va, SUP_THR) + ArrayOps.supportSize(vb, SUP_THR) - inter)
            * 100.0).as("jaccard"))
        .agg(round(corr(col("cosine"), col("jaccard")), 4).as("corr_cos_jac"))
    },

    // ----- extension: brute-force cosine top-k — the ANN correctness baseline.
    // The probe set is broadcast (it is config-scale), candidates stream:
    // exactly the shape that survives a 1000-executor scan of a 100 TB table.
    "q_cosine_topk" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 50 = 0),
      s AS (SELECT q_id, vec_id AS cand_id,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> qv[i]*v[i]), (x,y)->x+y)
                   / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> qv[i]*qv[i]), (x,y)->x+y))
                      * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> v[i]*v[i]), (x,y)->x+y))) AS cos
            FROM q JOIN t ON vec_id <> q_id),
      r AS (SELECT q_id, cand_id, ROUND(cos, 6) AS cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
            FROM s)
      SELECT q_id, cand_id, cos, rn FROM r WHERE rn <= 5
      ORDER BY q_id, rn""") { (s, d) =>
      // the corpus side carries the O(|probes|·N) kernel work; the testdata is
      // one small parquet file (1 split), so spread it across cores — on a
      // real 100 TB table the scan is already thousands of splits
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
        .transform(Tables.spread)
      val q = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      // bounded per-probe top-5 partial aggregation (r9, the Ivf.search
      // shape) over the ROUNDED cosine the oracle ranks on; the window twin
      // lives in the SQL above with identical (cos desc, cand_id asc) ties
      broadcast(q).join(t, col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(ArrayOps.cosine(col("qv"), col("v")), 6).as("cos"))
        .groupBy("q_id")
        .agg(graft.functions.Aggregators.topKScored(5)(
          col("cos"), col("cand_id")).as("__top"))
        .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
        .select(col("q_id"), col("__t._2").as("cand_id"),
          col("__t._1").as("cos"), (col("__pos") + 1).cast("int").as("rn"))
        .orderBy("q_id", "rn")
    },

    // ----- extension: DIMENSION-TRUNCATION RECALL — the matryoshka-style
    // eval a pipeline runs before switching retrieval to truncated
    // embeddings: per probe, how many of the full-dim cosine top-5 survive
    // when ranking uses only the first 16 of 64 dims. Integer output
    // (overlap count), ranking discipline identical to q_cosine_topk
    // (rounded cosine, cand_id tie-break). Scale shape: the second ranking
    // reuses the same broadcast-probe kernel pass — truncation cost is the
    // point (16/64 of the multiply-adds), not a new join topology.
    "q_trunc_recall" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 50 = 0),
      sf AS (SELECT q_id, vec_id AS cand_id,
                    list_reduce(list_transform(range(1, ${DIM + 1}), i -> qv[i]*v[i]), (x,y)->x+y)
                    / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> qv[i]*qv[i]), (x,y)->x+y))
                       * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> v[i]*v[i]), (x,y)->x+y))) AS cos
             FROM q JOIN t ON vec_id <> q_id),
      rf AS (SELECT q_id, cand_id, ROUND(cos, 6) AS cos,
                    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ROUND(cos, 6) DESC, cand_id) AS rn
             FROM sf),
      st AS (SELECT q_id, vec_id AS cand_id,
                    list_reduce(list_transform(range(1, 17), i -> qv[i]*v[i]), (x,y)->x+y)
                    / (SQRT(list_reduce(list_transform(range(1, 17), i -> qv[i]*qv[i]), (x,y)->x+y))
                       * SQRT(list_reduce(list_transform(range(1, 17), i -> v[i]*v[i]), (x,y)->x+y))) AS cos
             FROM q JOIN t ON vec_id <> q_id),
      rt AS (SELECT q_id, cand_id, ROUND(cos, 6) AS cos,
                    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY ROUND(cos, 6) DESC, cand_id) AS rn
             FROM st),
      o AS (SELECT f.q_id, COUNT(*) AS n
            FROM (SELECT q_id, cand_id FROM rf WHERE rn <= 5) f
            JOIN (SELECT q_id, cand_id FROM rt WHERE rn <= 5) tr
              ON f.q_id = tr.q_id AND f.cand_id = tr.cand_id
            GROUP BY f.q_id)
      SELECT q.q_id, COALESCE(o.n, 0) AS overlap5
      FROM q LEFT JOIN o ON o.q_id = q.q_id
      ORDER BY q.q_id""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
        .transform(Tables.spread)
      val q = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      def top5(cosCol: org.apache.spark.sql.Column): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy("q_id").orderBy(desc("cos"), asc("cand_id"))
        broadcast(q).join(t, col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("cand_id"),
            round(cosCol, 6).as("cos"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("q_id", "cand_id")
      }
      val full = top5(ArrayOps.cosine(col("qv"), col("v")))
      val trunc = top5(ArrayOps.cosine(slice(col("qv"), 1, 16), slice(col("v"), 1, 16)))
      val overlap = full.join(trunc, Seq("q_id", "cand_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n"))
      q.select("q_id")
        .join(overlap, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("n"), lit(0L)).as("overlap5"))
        .orderBy("q_id")
    },

    // ----- extension: embedding-cosine near-dup / similarity join — sign-LSH
    // bucket + label blocking bounds the candidate set, exact cosine verifies.
    // (The synthetic embeddings have no true near-dups — max pairwise cosine
    // ≈0.48 — so the threshold is set to exercise non-trivial output; the
    // operator IS the near-dup shape: raise the threshold on real data.
    // 4 planes / cos>=0.25 sizes the gate to O(30) rows at sf0.01 — the
    // round-4 settings left ONE row, a near-vacuous check.)
    "q_embed_neardup" -> QueryDef.sql {
      val planes = SignLsh.hyperplanes(ND_PLANES, DIM)
      val bucketSql = SignLsh.sqlBucket("v", planes)
      s"""
      WITH t AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      tb AS (SELECT vec_id, label, v, $bucketSql AS bkt FROM t),
      s AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> a.v[i]*b.v[i]), (x,y)->x+y)
                   / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> a.v[i]*a.v[i]), (x,y)->x+y))
                      * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> b.v[i]*b.v[i]), (x,y)->x+y))) AS cos
            FROM tb a JOIN tb b
              ON a.bkt = b.bkt AND a.label = b.label AND b.vec_id > a.vec_id)
      SELECT d1, d2, ROUND(cos, 6) AS cos FROM s
      WHERE cos >= $ND_COS ORDER BY d1, d2"""
    } { (s, d) =>
      val planes = SignLsh.hyperplanes(ND_PLANES, DIM)
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), col("label"),
          ArrayOps.asDouble(col("embedding")).as("v"))
        .withColumn("bkt", SignLsh.bucket(col("v"), planes))
      val a = t.alias("a")
      val b = t.alias("b")
      a.join(b,
          col("a.bkt") === col("b.bkt") &&
          col("a.label") === col("b.label") &&
          col("b.vec_id") > col("a.vec_id"))
        .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"),
          ArrayOps.cosine(col("a.v"), col("b.v")).as("cos"))
        .filter(col("cos") >= ND_COS)
        .select(col("d1"), col("d2"), round(col("cos"), 6).as("cos"))
        .orderBy("d1", "d2")
    },

    // ----- extension: product-quantization ANN — 8 codes per vector (32×
    // compression of the float32 embedding), query answered via asymmetric
    // distance tables (m lookups per candidate). FULL [sql] gate since r12
    // (VERDICT r11 #1, the b1f5664 q_billmatch recipe): the codebooks are
    // PINNED — subspace j's 16 centroids are the j-th 8-dim slices of the 16
    // embeddings with vec_id < 16 — so DuckDB replays EVERY stage:
    // per-subspace argmin encoding (Pq.fromCodebooks' narrow-map UDF, same
    // ascending diff²-fold as the list_reduce), the per-query ADC table, the
    // m-lookup candidate score (list(td ORDER BY j) left-fold ≡
    // adcScoreUdf's j-ascending sum), and the global per-probe top-5 with
    // cand_id tie-break. The seeded codebook FIT (Pq.build) stays gated by
    // q_ann_pq_exact's lossless-alphabet hash gate + PqSpec; this retires
    // the former rows+checksum pin.
    "q_ann_pq" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      pin AS (SELECT vec_id AS code, v FROM t WHERE vec_id < 16),
      cb AS (SELECT r.j, pin.code, pin.v[r.j*8+1 : r.j*8+8] AS cv
             FROM pin CROSS JOIN range(8) r(j)),
      enc0 AS (SELECT t.vec_id, cb.j, cb.code,
                 list_reduce(list_transform(range(1, 9),
                   i -> (t.v[cb.j*8+i]-cb.cv[i])*(t.v[cb.j*8+i]-cb.cv[i])), (x,y)->x+y) AS d
               FROM t CROSS JOIN cb),
      enc AS (SELECT vec_id, j, code FROM (
                SELECT vec_id, j, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS ern
                FROM enc0) WHERE ern = 1),
      q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 50 = 0),
      adc AS (SELECT q.q_id, cb.j, cb.code,
                list_reduce(list_transform(range(1, 9),
                  i -> (q.qv[cb.j*8+i]-cb.cv[i])*(q.qv[cb.j*8+i]-cb.cv[i])), (x,y)->x+y) AS td
              FROM q CROSS JOIN cb),
      sc AS (SELECT adc.q_id, enc.vec_id AS cand_id,
               list_reduce(list(adc.td ORDER BY adc.j), (x,y)->x+y) AS d2
             FROM enc JOIN adc ON adc.j = enc.j AND adc.code = enc.code
             WHERE enc.vec_id <> adc.q_id
             GROUP BY adc.q_id, enc.vec_id),
      r AS (SELECT q_id, cand_id, ROUND(d2, 6) AS approx_d2,
              ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, cand_id) AS rn
            FROM sc)
      SELECT q_id, cand_id, approx_d2, rn FROM r WHERE rn <= 5
      ORDER BY q_id, rn""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
        .transform(Tables.spread)
      // pinned codebooks: the 16 smallest-id embeddings, sliced — a bounded
      // driver scalar (16×64 doubles), code c = pinned vector c
      val pin = t.filter(col("vec_id") < 16).orderBy("vec_id")
        .select("v").collect().map(_.getSeq[Double](0).toArray)
      // positional pin(c) assumes vec_ids 0..15 all exist: a gap would
      // either throw a bare ArrayIndexOutOfBounds at plan build or silently
      // renumber codes away from the oracle's vec_id-as-code labels
      // (ADVICE r12) — fail with the dataset-contract reason instead
      require(pin.length == 16,
        s"q_ann_pq pinned codebook expects vec_ids 0..15, found ${pin.length} rows")
      val books = Array.tabulate(8, 16)((j, c) => pin(c).slice(j * 8, j * 8 + 8))
      val index = graft.ann.Pq.fromCodebooks(t, "vec_id", "v", books)
      val probes = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      graft.ann.Pq.search(index, probes, topK = 5)
        .select(col("q_id"), col("cand_id"), round(col("approx_d2"), 6).as("approx_d2"),
          col("rn"))
        .orderBy("q_id", "rn")
    },

    // ----- extension: IVF-PQ — the composed index (coarse routing bounds the
    // scan, product-quantization codes bound the memory; Jégou et al. 2011).
    // FULL [sql] gate since r12 (VERDICT r11 #1): BOTH halves pinned — coarse
    // centroids are the embeddings with vec_id 100..115 (the q_ann_ivf
    // quantizer), codebooks the vec_id < 16 slices (the q_ann_pq alphabet) —
    // so the oracle replays assignment, 4-probe routing, ADC tables, the
    // bucket-bounded candidate join and the per-probe top-5 end to end
    // through IvfPq.search's real approximate path. Seeded-fit composition
    // stays gated by q_ann_ivfpq_exact (nProbe==k + lossless codes).
    "q_ann_ivfpq" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS centroid_id, v AS cvec FROM t
            WHERE vec_id BETWEEN 100 AND 115),
      asg0 AS (SELECT t.vec_id, c.centroid_id,
                 list_reduce(list_transform(range(1, ${DIM + 1}), i -> t.v[i]*t.v[i]), (x,y)->x+y)
               + list_reduce(list_transform(range(1, ${DIM + 1}), i -> c.cvec[i]*c.cvec[i]), (x,y)->x+y)
               - 2.0 * list_reduce(list_transform(range(1, ${DIM + 1}), i -> t.v[i]*c.cvec[i]), (x,y)->x+y) AS d2
               FROM t CROSS JOIN c),
      asg AS (SELECT vec_id, centroid_id FROM (
                SELECT vec_id, centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS arn
                FROM asg0) WHERE arn = 1),
      pin AS (SELECT vec_id AS code, v FROM t WHERE vec_id < 16),
      cb AS (SELECT r.j, pin.code, pin.v[r.j*8+1 : r.j*8+8] AS cv
             FROM pin CROSS JOIN range(8) r(j)),
      enc0 AS (SELECT t.vec_id, cb.j, cb.code,
                 list_reduce(list_transform(range(1, 9),
                   i -> (t.v[cb.j*8+i]-cb.cv[i])*(t.v[cb.j*8+i]-cb.cv[i])), (x,y)->x+y) AS d
               FROM t CROSS JOIN cb),
      enc AS (SELECT vec_id, j, code FROM (
                SELECT vec_id, j, code,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS ern
                FROM enc0) WHERE ern = 1),
      q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 50 = 0),
      pr0 AS (SELECT q.q_id, q.qv, c.centroid_id,
                 list_reduce(list_transform(range(1, ${DIM + 1}), i -> q.qv[i]*q.qv[i]), (x,y)->x+y)
               + list_reduce(list_transform(range(1, ${DIM + 1}), i -> c.cvec[i]*c.cvec[i]), (x,y)->x+y)
               - 2.0 * list_reduce(list_transform(range(1, ${DIM + 1}), i -> q.qv[i]*c.cvec[i]), (x,y)->x+y) AS d2
              FROM q CROSS JOIN c),
      pr AS (SELECT q_id, qv, centroid_id FROM (
               SELECT q_id, qv, centroid_id,
                      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, centroid_id) AS prn
               FROM pr0) WHERE prn <= 4),
      adc AS (SELECT pr.q_id, cb.j, cb.code,
                list_reduce(list_transform(range(1, 9),
                  i -> (pr.qv[cb.j*8+i]-cb.cv[i])*(pr.qv[cb.j*8+i]-cb.cv[i])), (x,y)->x+y) AS td
              FROM (SELECT DISTINCT q_id, qv FROM pr) pr CROSS JOIN cb),
      cand AS (SELECT pr.q_id, asg.vec_id AS cand_id
               FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id
               WHERE asg.vec_id <> pr.q_id),
      sc AS (SELECT cand.q_id, cand.cand_id,
               list_reduce(list(adc.td ORDER BY adc.j), (x,y)->x+y) AS d2
             FROM cand
             JOIN enc ON enc.vec_id = cand.cand_id
             JOIN adc ON adc.q_id = cand.q_id AND adc.j = enc.j AND adc.code = enc.code
             GROUP BY cand.q_id, cand.cand_id),
      r AS (SELECT q_id, cand_id, ROUND(d2, 6) AS approx_d2,
              ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, cand_id) AS rn
            FROM sc)
      SELECT q_id, cand_id, approx_d2, rn FROM r WHERE rn <= 5
      ORDER BY q_id, rn""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
        .transform(Tables.spread)
      val cents = t.filter(col("vec_id").between(100, 115))
        .select(col("vec_id").cast("int").as("centroid_id"), col("v").as("cvec"))
      val ivf = graft.ann.Ivf.fromCentroids(t, "v", cents)
      val pin = t.filter(col("vec_id") < 16).orderBy("vec_id")
        .select("v").collect().map(_.getSeq[Double](0).toArray)
      // same dataset contract as q_ann_pq's pin (ADVICE r12)
      require(pin.length == 16,
        s"q_ann_ivfpq pinned codebook expects vec_ids 0..15, found ${pin.length} rows")
      val books = Array.tabulate(8, 16)((j, c) => pin(c).slice(j * 8, j * 8 + 8))
      val pq = graft.ann.Pq.fromCodebooks(t, "vec_id", "v", books)
      val probes = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      graft.ann.IvfPq.search(ivf, pq, probes, "vec_id", topK = 5, nProbe = 4)
        .select(col("q_id"), col("cand_id"),
          round(col("approx_d2"), 6).as("approx_d2"), col("rn"))
        .orderBy("q_id", "rn")
    },

    // ----- extension: IVF ANN — coarse quantizer routing, probe the nProbe
    // nearest partitions (the data-adaptive scale path next to sign-LSH).
    // FULL [sql] gate since r12 (VERDICT r11 #1): the quantizer is PINNED
    // (the 16 embeddings with vec_id 100..115 — deliberately a different
    // set from q_stream_ann_ingest's vec_id < 16, so the two gates pin
    // different routings), assignment is Ivf.fromCentroids' narrow-map
    // argmin (same ||v||²+||c||²−2v·c left-folds as the oracle's
    // list_reduce), and the REAL approximate search path (nProbe 4 of 16 —
    // routing genuinely prunes) replays in DuckDB end to end. The seeded
    // quantizer FIT stays gated by q_ann_ivf_exact (nProbe==k cancels
    // centroid placement) + the q_kmeans_blocks pin.
    "q_ann_ivf" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS centroid_id, v AS cvec FROM t
            WHERE vec_id BETWEEN 100 AND 115),
      asg0 AS (SELECT t.vec_id, t.v, c.centroid_id,
                 list_reduce(list_transform(range(1, ${DIM + 1}), i -> t.v[i]*t.v[i]), (x,y)->x+y)
               + list_reduce(list_transform(range(1, ${DIM + 1}), i -> c.cvec[i]*c.cvec[i]), (x,y)->x+y)
               - 2.0 * list_reduce(list_transform(range(1, ${DIM + 1}), i -> t.v[i]*c.cvec[i]), (x,y)->x+y) AS d2
               FROM t CROSS JOIN c),
      asg AS (SELECT vec_id, v, centroid_id FROM (
                SELECT vec_id, v, centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS arn
                FROM asg0) WHERE arn = 1),
      q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 50 = 0),
      pr0 AS (SELECT q.q_id, q.qv, c.centroid_id,
                 list_reduce(list_transform(range(1, ${DIM + 1}), i -> q.qv[i]*q.qv[i]), (x,y)->x+y)
               + list_reduce(list_transform(range(1, ${DIM + 1}), i -> c.cvec[i]*c.cvec[i]), (x,y)->x+y)
               - 2.0 * list_reduce(list_transform(range(1, ${DIM + 1}), i -> q.qv[i]*c.cvec[i]), (x,y)->x+y) AS d2
              FROM q CROSS JOIN c),
      pr AS (SELECT q_id, qv, centroid_id FROM (
               SELECT q_id, qv, centroid_id,
                      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, centroid_id) AS prn
               FROM pr0) WHERE prn <= 4),
      s AS (SELECT pr.q_id, asg.vec_id AS cand_id,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> pr.qv[i]*asg.v[i]), (x,y)->x+y)
                   / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> pr.qv[i]*pr.qv[i]), (x,y)->x+y))
                      * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> asg.v[i]*asg.v[i]), (x,y)->x+y))) AS cos
            FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id AND asg.vec_id <> pr.q_id),
      r AS (SELECT q_id, cand_id, ROUND(cos, 6) AS cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
            FROM s)
      SELECT q_id, cand_id, cos, rn FROM r WHERE rn <= 3
      ORDER BY q_id, rn""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
        .transform(Tables.spread)
      val cents = t.filter(col("vec_id").between(100, 115))
        .select(col("vec_id").cast("int").as("centroid_id"), col("v").as("cvec"))
      val index = graft.ann.Ivf.fromCentroids(t, "v", cents)
      val probes = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      graft.ann.Ivf.search(index, probes, "vec_id", "v", topK = 3, nProbe = 4)
        .select(col("q_id"), col("cand_id"), round(col("cos"), 6).as("cos"), col("rn"))
        .orderBy("q_id", "rn")
    },

    // ----- extension: sign-LSH bucketed ANN — same probe set, but the join is
    // bucket-equality instead of a cross product; md5-derived hyperplanes make
    // the buckets reproducible in the oracle
    "q_ann_lsh" -> QueryDef.sql {
      val planes = SignLsh.hyperplanes(N_PLANES, DIM)
      val bucketSql = SignLsh.sqlBucket("v", planes)
      s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      tb AS (SELECT vec_id, v, $bucketSql AS bkt FROM t),
      q AS (SELECT vec_id AS q_id, v AS qv, bkt FROM tb WHERE vec_id % 50 = 0),
      s AS (SELECT q_id, tb.vec_id AS cand_id,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> qv[i]*v[i]), (x,y)->x+y)
                   / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> qv[i]*qv[i]), (x,y)->x+y))
                      * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> v[i]*v[i]), (x,y)->x+y))) AS cos
            FROM q JOIN tb ON q.bkt = tb.bkt AND tb.vec_id <> q.q_id),
      r AS (SELECT q_id, cand_id, ROUND(cos, 6) AS cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
            FROM s)
      SELECT q_id, cand_id, cos, rn FROM r WHERE rn <= 3
      ORDER BY q_id, rn"""
    } { (s, d) =>
      val planes = SignLsh.hyperplanes(N_PLANES, DIM)
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
        .withColumn("bkt", SignLsh.bucket(col("v"), planes))
      val q = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"), col("bkt").as("qbkt"))
      // bounded per-probe top-3 partial aggregation (r9, the Ivf.search
      // shape): the window twin in the oracle SQL ranks identically
      // (cos desc, cand_id asc), but this plan shuffles one ≤3-row buffer
      // per partition per probe instead of every bucket-mate score
      q.join(t, col("qbkt") === col("bkt") && col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("cand_id"),
          round(ArrayOps.cosine(col("qv"), col("v")), 6).as("cos"))
        .groupBy("q_id")
        .agg(graft.functions.Aggregators.topKScored(3)(
          col("cos"), col("cand_id")).as("__top"))
        .select(col("q_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
        .select(col("q_id"), col("__t._2").as("cand_id"),
          col("__t._1").as("cos"), (col("__pos") + 1).cast("int").as("rn"))
        .orderBy("q_id", "rn")
    },

    // ----- ANN EXACT LIMITS, ORACLE-CHECKED (the q_dimsum_exact pattern):
    // each approximate index run in the configuration where its own math
    // guarantees exactness, hash-matched against DuckDB brute force — while
    // the production (approximate) configurations stay gate-pinned
    // (q_ann_ivf / q_ann_pq / q_ann_ivfpq). IVF with nProbe == k probes
    // EVERY partition, so coarse routing prunes nothing and the search IS
    // brute-force cosine: centroid placement — the only model-dependent
    // input — cancels out of the result entirely.
    "q_ann_ivf_exact" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 50 = 0),
      s AS (SELECT q_id, t.vec_id AS cand_id,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> qv[i]*v[i]), (x,y)->x+y)
                   / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> qv[i]*qv[i]), (x,y)->x+y))
                      * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> v[i]*v[i]), (x,y)->x+y))) AS cos
            FROM q JOIN t ON t.vec_id <> q.q_id),
      r AS (SELECT q_id, cand_id, ROUND(cos, 6) AS cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
            FROM s)
      SELECT q_id, cand_id, cos, rn FROM r WHERE rn <= 3
      ORDER BY q_id, rn""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
        .transform(Tables.spread)
      // sample-bounded fit (r13): with nProbe = k the search scans EVERY
      // centroid partition, so the output is the exact top-K regardless of
      // where the centroids sit — the fit's placement cannot move this
      // query's answer. The deterministic hash-ordered sample, collected
      // once and fitted on the driver, is the engine-wide production shape
      // (corpus-independent cost); the exact-answer property is what the
      // DuckDB brute-force oracle gates.
      val index = graft.ann.Ivf.build(t, "v", k = 16,
        fitOrderCol = Some("vec_id"))
      val probes = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      graft.ann.Ivf.search(index, probes, "vec_id", "v", topK = 3, nProbe = 16)
        .select(col("q_id"), col("cand_id"), round(col("cos"), 6).as("cos"), col("rn"))
        .orderBy("q_id", "rn")
    },

    // ----- extension: EXACT cosine-threshold self-join (metric-space ring
    // pruning on pinned e1/e2 pivots — graft.ann.CosineJoin scaladoc): the
    // dense-vector twin of q_allpairs_jaccard, every cos ≥ t pair with zero
    // recall risk, exact-for-exact against DuckDB brute force. Fixed
    // 2000-vector slice so the quadratic ORACLE stays replayable at every
    // soak SF; the operator itself is corpus-scale (ring equi-join).
    "q_cosine_join_exact" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id < 2000),
      p AS (SELECT a.vec_id AS id1, b.vec_id AS id2,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> a.v[i]*b.v[i]), (x,y)->x+y)
                   / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> a.v[i]*a.v[i]), (x,y)->x+y))
                      * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> b.v[i]*b.v[i]), (x,y)->x+y))) AS cos
            FROM t a JOIN t b ON a.vec_id < b.vec_id)
      SELECT id1, id2, ROUND(cos, 6) AS cos FROM p WHERE cos >= 0.4
      ORDER BY id1, id2""") { (s, d) =>
      // spread (r13): the single-file fixture pinned the whole map side —
      // scan, norm/pivot projections, ring keys and the 12.7 MB exchange
      // write — to ONE task (profiled 1.5 s single-threaded per rep);
      // no-op on any well-split table
      val t = Tables.spread(Tables.embeddings(s, d).filter(col("vec_id") < 2000)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v")))
      graft.ann.CosineJoin.selfJoin(t, "vec_id", "v", minCos = 0.4)
        .orderBy("id1", "id2")
    },

    // ----- extension: EXACT incremental embedding dedup — the batch-vs-
    // corpus form of q_cosine_join_exact (CosineJoin.dedupAgainst): arriving
    // batch rows survive only if NO corpus vector matches at cos ≥ t; the
    // certifying ingest gate for an embedding store, zero recall risk. Same
    // fixed slice so the EXISTS oracle stays replayable at every soak SF.
    "q_embed_dedup_incremental" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                 FROM embeddings WHERE vec_id < 2000),
      b AS (SELECT * FROM t WHERE vec_id % 17 = 0),
      c AS (SELECT * FROM t WHERE vec_id % 17 <> 0),
      p AS (SELECT b.vec_id AS bid,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> b.v[i]*c.v[i]), (x,y)->x+y)
                   / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> b.v[i]*b.v[i]), (x,y)->x+y))
                      * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> c.v[i]*c.v[i]), (x,y)->x+y))) AS cos
            FROM b CROSS JOIN c),
      m AS (SELECT DISTINCT bid FROM p WHERE cos >= 0.4)
      SELECT vec_id FROM b WHERE vec_id NOT IN (SELECT bid FROM m)
      ORDER BY vec_id""") { (s, d) =>
      // spread: same single-task map side as q_cosine_join_exact (r13)
      val t = Tables.spread(Tables.embeddings(s, d).filter(col("vec_id") < 2000)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v")))
      val batch = t.filter(col("vec_id") % 17 === 0)
      val corpus = t.filter(col("vec_id") % 17 =!= 0)
      graft.ann.CosineJoin.dedupAgainst(batch, corpus, "vec_id", "v",
          minCos = 0.4)
        .select(col("vec_id"))
        .orderBy("vec_id")
    },

    // ----- extension: STREAMING ANN INGEST — an IVF index whose corpus
    // arrives as a file stream. The coarse quantizer is PINNED (the 16
    // vectors with vec_id < 16, the q_semdedup_exact pinning trick), so no
    // fit stands between the query and the oracle; each micro-batch routes
    // its rows to the nearest centroid MAP-SIDE (broadcast centroids, the
    // same ||v||²+||c||²−2v·c left-fold arithmetic Ivf.search routes probes
    // with) and APPENDS them to the posting table — no read-modify-write, no
    // shuffle of previously ingested vectors: one quantizer amortizes across
    // the whole stream, the production ingest shape at 100 TB. Batch
    // boundaries cancel by construction (assignment is per-row), so the
    // drained index searched with Ivf.search must equal the all-at-once
    // assignment, which DuckDB replays exactly end to end (assignment
    // argmin → 4-probe routing → exact cosine top-3). Serial: runs a
    // streaming query.
    "q_stream_ann_ingest" -> QueryDef.sql(s"""
      WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c AS (SELECT vec_id AS centroid_id, v AS cvec FROM t WHERE vec_id < 16),
      asg0 AS (SELECT t.vec_id, t.v, c.centroid_id,
                 list_reduce(list_transform(range(1, ${DIM + 1}), i -> t.v[i]*t.v[i]), (x,y)->x+y)
               + list_reduce(list_transform(range(1, ${DIM + 1}), i -> c.cvec[i]*c.cvec[i]), (x,y)->x+y)
               - 2.0 * list_reduce(list_transform(range(1, ${DIM + 1}), i -> t.v[i]*c.cvec[i]), (x,y)->x+y) AS d2
               FROM t CROSS JOIN c),
      asg AS (SELECT vec_id, v, centroid_id FROM (
                SELECT vec_id, v, centroid_id,
                       ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, centroid_id) AS arn
                FROM asg0) WHERE arn = 1),
      q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 50 = 0),
      pr0 AS (SELECT q.q_id, q.qv, c.centroid_id,
                 list_reduce(list_transform(range(1, ${DIM + 1}), i -> q.qv[i]*q.qv[i]), (x,y)->x+y)
               + list_reduce(list_transform(range(1, ${DIM + 1}), i -> c.cvec[i]*c.cvec[i]), (x,y)->x+y)
               - 2.0 * list_reduce(list_transform(range(1, ${DIM + 1}), i -> q.qv[i]*c.cvec[i]), (x,y)->x+y) AS d2
              FROM q CROSS JOIN c),
      pr AS (SELECT q_id, qv, centroid_id FROM (
               SELECT q_id, qv, centroid_id,
                      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, centroid_id) AS prn
               FROM pr0) WHERE prn <= 4),
      s AS (SELECT pr.q_id, asg.vec_id AS cand_id,
                   list_reduce(list_transform(range(1, ${DIM + 1}), i -> pr.qv[i]*asg.v[i]), (x,y)->x+y)
                   / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> pr.qv[i]*pr.qv[i]), (x,y)->x+y))
                      * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> asg.v[i]*asg.v[i]), (x,y)->x+y))) AS cos
            FROM pr JOIN asg ON pr.centroid_id = asg.centroid_id AND asg.vec_id <> pr.q_id),
      r AS (SELECT q_id, cand_id, ROUND(cos, 6) AS cos,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, cand_id) AS rn
            FROM s)
      SELECT q_id, cand_id, cos, rn FROM r WHERE rn <= 3
      ORDER BY q_id, rn""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
      val cents = t.filter(col("vec_id") < 16)
        .select(col("vec_id").cast("int").as("centroid_id"), col("v").as("cvec"))
      val tag = System.nanoTime()
      val vecDir = s"/tmp/graft_ann_ingest_vec_$tag"
      val idxDir = s"/tmp/graft_ann_ingest_idx_$tag"
      t.repartition(8).write.mode("overwrite").parquet(vecDir)
      val schema = s.read.parquet(vecDir).schema
      // r13 (guide §2.4): the former per-micro-batch crossJoin(16 centroids)
      // + window(partition by vec_id) argmin shuffled and sorted EVERY batch;
      // the CentroidArgmin kernel (Ivf.fromCentroids' assignment — identical
      // ||v||²+||c||²−2·v·c folds, ties to the smaller centroid_id, exactly
      // the window's (__d2 asc, centroid_id asc) pick) routes each row in a
      // narrow map with zero shuffle. The centroid collect happens ONCE
      // before the stream starts — one quantizer amortizes across all
      // batches, the production ingest shape.
      val assign = graft.ann.Ivf.assignColumn(cents)
      val route: (org.apache.spark.sql.DataFrame, Long) => Unit = (batch, _) =>
        batch
          .withColumn("centroid_id", assign(col("v")))
          .select(col("vec_id"), col("v"), col("centroid_id"))
          .write.mode("append").parquet(idxDir)
      val strm = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(vecDir)
        .writeStream.foreachBatch(route)
        .option("checkpointLocation", s"${idxDir}_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      strm.awaitTermination()
      val index = graft.ann.Ivf.Index(
        centroids = cents, assigned = s.read.parquet(idxDir))
      val probes = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      graft.ann.Ivf.search(index, probes, "vec_id", "v", topK = 3, nProbe = 4)
        .select(col("q_id"), col("cand_id"),
          round(col("cos"), 6).as("cos"), col("rn"))
        .orderBy("q_id", "rn")
    }.serial,

    // PQ is LOSSLESS when every distinct subvector is a codebook centroid
    // (Pq.scala:21-22): sign-quantizing the first 16 dims gives each 4-dim
    // subspace a 16-pattern alphabet ({±1}⁴, all present in the fixture), and
    // k = 20 k-means centroids cover them exactly — so ADC lookups equal
    // exact squared L2, and every distance is an INTEGER (each coordinate
    // contributes 0 or 4), immune to float summation order on both engines.
    "q_ann_pq_exact" -> QueryDef.sql("""
      WITH t AS (SELECT vec_id,
                        list_transform(range(1, 17),
                          i -> CASE WHEN CAST(embedding AS DOUBLE[])[i] >= 0 THEN 1.0 ELSE -1.0 END) AS v
                 FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 50 = 0),
      s AS (SELECT q_id, t.vec_id AS cand_id,
                   list_reduce(list_transform(range(1, 17), i -> (qv[i]-v[i])*(qv[i]-v[i])), (x,y)->x+y) AS d2
            FROM q JOIN t ON t.vec_id <> q.q_id),
      r AS (SELECT q_id, cand_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, cand_id) AS rn
            FROM s)
      SELECT q_id, cand_id, d2 AS approx_d2, rn FROM r WHERE rn <= 5
      ORDER BY q_id, rn""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(slice(ArrayOps.asDouble(col("embedding")), 1, 16),
            x => when(x >= 0, 1.0).otherwise(-1.0)).as("v"))
        .transform(Tables.spread)
      val index = graft.ann.Pq.build(t, "vec_id", "v", m = 4, k = 20)
      val probes = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      graft.ann.Pq.search(index, probes, topK = 5)
        .select(col("q_id"), col("cand_id"), col("approx_d2"), col("rn"))
        .orderBy("q_id", "rn")
    },

    // IVF-PQ exactness needs BOTH halves degenerate: nProbe == k (routing
    // prunes nothing) AND lossless codes (sign alphabet as above) — then the
    // composed index reproduces exact squared L2 end-to-end through routing,
    // ADC tables and the code join, hash-matched against the same brute
    // force as q_ann_pq_exact (larger topK distinguishes the two outputs).
    "q_ann_ivfpq_exact" -> QueryDef.sql("""
      WITH t AS (SELECT vec_id,
                        list_transform(range(1, 17),
                          i -> CASE WHEN CAST(embedding AS DOUBLE[])[i] >= 0 THEN 1.0 ELSE -1.0 END) AS v
                 FROM embeddings),
      q AS (SELECT vec_id AS q_id, v AS qv FROM t WHERE vec_id % 50 = 0),
      s AS (SELECT q_id, t.vec_id AS cand_id,
                   list_reduce(list_transform(range(1, 17), i -> (qv[i]-v[i])*(qv[i]-v[i])), (x,y)->x+y) AS d2
            FROM q JOIN t ON t.vec_id <> q.q_id),
      r AS (SELECT q_id, cand_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, cand_id) AS rn
            FROM s)
      SELECT q_id, cand_id, d2 AS approx_d2, rn FROM r WHERE rn <= 7
      ORDER BY q_id, rn""") { (s, d) =>
      val t = Tables.embeddings(s, d)
        .select(col("vec_id"),
          transform(slice(ArrayOps.asDouble(col("embedding")), 1, 16),
            x => when(x >= 0, 1.0).otherwise(-1.0)).as("v"))
        .transform(Tables.spread)
      // sample-bounded fit (r13): nProbe = k again — see q_ann_ivf_exact;
      // the PQ losslessness (every distinct subvector a codebook centroid)
      // holds for any fit that sees all 16 sign patterns, which the
      // 2^17-row hash sample always does, and the exact-d2 oracle gates it
      val ivf = graft.ann.Ivf.build(t, "v", k = 8,
        fitOrderCol = Some("vec_id"))
      val pq = graft.ann.Pq.build(t, "vec_id", "v", m = 4, k = 20)
      val probes = t.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      graft.ann.IvfPq.search(ivf, pq, probes, "vec_id", topK = 7, nProbe = 8)
        .select(col("q_id"), col("cand_id"), col("approx_d2"), col("rn"))
        .orderBy("q_id", "rn")
    },

    // ----- extension: HYBRID RETRIEVAL via Reciprocal Rank Fusion
    // (Cormack et al. 2009): fuse a lexical ranking (query-term tf) and an
    // embedding ranking (cosine to the query vector) by 1/(60+r) score sum —
    // the standard BM25+dense fusion in RAG stacks. Ranks are integers and
    // the two divisions + one sum run in the identical written order on both
    // engines, so the fused score is bit-deterministic. The global rank
    // windows here rank a per-query candidate list (retrieval lists are
    // bounded by construction); corpus-wide global sort is not part of the
    // operator's 100 TB contract.
    "q_rrf_fusion" -> QueryDef.sql(s"""
      WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS t
                   FROM documents),
      tf AS (SELECT doc_id, COUNT(*) AS tf FROM tok
             WHERE t IN ('join','hash','scan') GROUP BY doc_id),
      lex AS (SELECT d.doc_id, COALESCE(tf.tf, 0) AS tf
              FROM documents d LEFT JOIN tf ON d.doc_id = tf.doc_id),
      lrank AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS r_lex
                FROM lex),
      e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      vc AS (SELECT vec_id,
                    list_reduce(list_transform(range(1, ${DIM + 1}), i -> v[i]*qv[i]), (x,y)->x+y)
                    / (SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> v[i]*v[i]), (x,y)->x+y))
                       * SQRT(list_reduce(list_transform(range(1, ${DIM + 1}), i -> qv[i]*qv[i]), (x,y)->x+y))) AS cos
             FROM e CROSS JOIN q),
      vrank AS (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cos DESC, vec_id) AS r_vec
                FROM vc)
      SELECT l.doc_id, l.r_lex, v.r_vec,
             ROUND(CAST(1 AS DOUBLE) / (60 + l.r_lex)
                   + CAST(1 AS DOUBLE) / (60 + v.r_vec), 6) AS rrf
      FROM lrank l JOIN vrank v ON l.doc_id = v.vec_id
      ORDER BY rrf DESC, doc_id LIMIT 20""") { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(graft.text.TextOps.tokens(col("text"))).as("t"))
      val tf = tok.filter(col("t").isin("join", "hash", "scan"))
        .groupBy("doc_id").agg(count(lit(1)).as("tf"))
      val lex = Tables.documents(s, d).select("doc_id")
        .join(tf, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("tf"), lit(0L)).as("tf"))
      val lrank = lex.withColumn("r_lex",
        row_number().over(Window.orderBy(col("tf").desc, col("doc_id").asc))
          .cast("long"))
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), ArrayOps.asDouble(col("embedding")).as("v"))
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      val vrank = e.crossJoin(broadcast(q))
        .select(col("vec_id"), ArrayOps.cosine(col("v"), col("qv")).as("cos"))
        .withColumn("r_vec",
          row_number().over(Window.orderBy(col("cos").desc, col("vec_id").asc))
            .cast("long"))
      lrank.join(vrank, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("r_lex"), col("r_vec"),
          round(lit(1.0) / (lit(60) + col("r_lex"))
            + lit(1.0) / (lit(60) + col("r_vec")), 6).as("rrf"))
        .orderBy(desc("rrf"), asc("doc_id"))
        .limit(20)
    }
  )
}
