package graft.ann

import org.apache.spark.ml.clustering.{DriverKMeansFit, KMeans}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization ANN: split each d-dim vector into m subvectors,
  * k-means each subspace independently, store each vector as m small codes
  * (m bytes at k ≤ 256 — a 32× compression of a float32 embedding at
  * m = d/8), and answer queries with ASYMMETRIC DISTANCE COMPUTATION: the
  * query precomputes one m×k table of exact subvector distances, and every
  * candidate costs m table lookups instead of d multiplications.
  *
  * Completes the engine's ANN ladder: brute force (exact), SignLsh
  * (data-independent buckets), Ivf (data-adaptive routing, full vectors),
  * Pq (data-adaptive COMPRESSION — the piece that lets 100 TB of embeddings
  * fit a cluster's memory: codes travel through joins/shuffles, full vectors
  * stay in cold storage). Quantization is lossless when every distinct
  * subvector is a centroid (k ≥ distinct subvectors per subspace) — then PQ
  * ranking equals exact L2 ranking, which is the equivalence the spec pins.
  *
  * 100 TB shape: m driver-side k-means fits over ONE collected, bounded
  * slice sample (centroid sets are k·dsub doubles each);
  * encoding is m broadcast-hash transforms, no shuffle; search broadcasts
  * (query, table) pairs against the codes table — the corpus is scanned
  * once, and only codes ever move.
  */
object Pq {

  /** codebooks(j)(c) = centroid c of subspace j (length dsub each). */
  final case class Index(codebooks: Array[Array[Array[Double]]],
                         codes: DataFrame, m: Int, dsub: Int)

  /** Train subspace codebooks and encode the corpus.
    *
    * The codebook fit is DETERMINISTIC by construction: the m subspace
    * k-means fits train on ONE collect of the bounded slice sample in
    * ascending xxhash64(id) order (Clustering.fitSample) and run on the
    * driver (DriverKMeansFit — MLlib's fit on that sample in one
    * partition, bit for bit), so the seeded init sampling and every float
    * accumulation see one fixed operand order — a distributed fit's
    * task-completion-order reduction drift occasionally moved a centroid
    * enough to flip which top-5 candidates `search` reports (the r10
    * q_ann_pq gate flake). Hash order, not raw id order: an id-prefix
    * sample is biased when ids correlate with content (ADVICE r11); the
    * hash sample is deterministic AND decorrelated. This is also the
    * standard production shape: PQ codebooks are conventionally trained on
    * a bounded sample (m·k centroids need ~thousands of points, not the
    * corpus), so the fits cost one collect plus O(fitSampleRows·k·maxIter)
    * driver time regardless of corpus size while ENCODING stays fully
    * distributed.
    *
    * @param df     corpus; `vecCol` is array<double> of uniform length d
    * @param m      number of subspaces; must divide d
    * @param k      centroids per subspace (code alphabet size)
    * @param fitSampleRows codebook training sample bound (smallest
    *                      xxhash64(id) wins — deterministic, decorrelated)
    */
  def build(df: DataFrame, idCol: String, vecCol: String, m: Int, k: Int,
            seed: Long = 12345L, maxIter: Int = 20,
            fitSampleRows: Int = 1 << 17): Index = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = df.select(size(col(vecCol))).as[Int].head()
    require(d % m == 0, s"m=$m must divide dim=$d")
    val dsub = d / m

    // one slice projection read by the sample collect and the encoding
    val sliced = df.select(
      (col(idCol).as("__id") +:
        (0 until m).map(j =>
          array_to_vector(slice(col(vecCol), j * dsub + 1, dsub))
            .as(s"__sub$j"))): _*)
      .cache()
    try {
      // one collect serves all m driver fits
      val sample = graft.cluster.Clustering.fitSample(sliced, "__id", fitSampleRows)
      val rows = sample.select((0 until m).map(j => col(s"__sub$j")): _*).collect()
      val models = (0 until m).map { j =>
        DriverKMeansFit(
          new KMeans().setK(k).setSeed(seed + j).setMaxIter(maxIter)
            .setFeaturesCol(s"__sub$j").setPredictionCol(s"__code$j"),
          sample, rows.map(_.getAs[Vector](j)))
      }
      val encoded = models.zipWithIndex
        .foldLeft(sliced) { case (acc, (model, _)) => model.transform(acc) }
        .select(col("__id"),
          array((0 until m).map(j => col(s"__code$j")): _*).as("codes"))
      val codebooks = models.map(_.clusterCenters.map(_.toArray)).toArray
      // cache() is lazy — force an action so codes really materialize BEFORE
      // the finally block drops the slice cache they are computed from
      val codes = encoded.cache()
      codes.count()
      Index(codebooks, codes, m, dsub)
    } finally sliced.unpersist(blocking = false)
  }

  /** Build an index from EXPLICIT codebooks — no fit. `codebooks(j)(c)` is
    * centroid c of subspace j (every subspace the same alphabet size, every
    * centroid length dsub). Encoding is ONE NARROW MAP over the corpus: per
    * subspace the argmin of Σᵢ(v[j·dsub+i] − cent[i])² over the
    * plan-resident codebook (ascending-index folds — the [[adcTableUdf]]
    * arithmetic and the DuckDB list_reduce fold order, so an oracle
    * replays every code bit-for-bit), ties to the smaller code (strict <
    * — the oracle's ORDER BY d, code). No shuffle, no fit job: the
    * pinned-codebook shape the [sql] PQ gates replay end to end — the
    * seeded codebook FIT stays gated by the q_kmeans_blocks pin (and
    * [[build]]'s deterministic sample fit). The encoder is a native
    * codegen expression ([[graft.expressions.PqEncode]], r13) — the
    * former per-row Scala UDF boxed a Seq[Double] per corpus row, the
    * defect class the r12 ADC rewrite priced; arithmetic unchanged. */
  def fromCodebooks(df: DataFrame, idCol: String, vecCol: String,
                    codebooks: Array[Array[Array[Double]]]): Index = {
    val m = codebooks.length
    require(m > 0 && codebooks.forall(_.nonEmpty) &&
        codebooks.forall(_.length == codebooks(0).length),
      "codebooks must be non-empty with a uniform alphabet size")
    val dsub = codebooks(0)(0).length
    // ragged/zero-length centroids would silently score over a prefix (or
    // crash mid-encode) — reject at construction with the real reason
    require(dsub > 0 && codebooks.forall(_.forall(_.length == dsub)),
      s"every codebook centroid must have the same positive length (dsub=$dsub)")
    val encode = org.apache.spark.sql.graft.bridge.column(
      graft.expressions.PqEncode(
        org.apache.spark.sql.graft.bridge.expression(col(vecCol)),
        codebooks, dsub))
    Index(codebooks,
      df.select(col(idCol).as("__id"), encode.as("codes")),
      m, dsub)
  }

  /** Persist the index under one directory: the code table as parquet, the
    * codebooks as a (subspace, code, centroid) parquet (tiny: m·k·dsub
    * doubles, exact round-trip), and m/dsub in a JSON sidecar — the
    * [[graft.lsh.LshJoins.saveMinHashIndex]] layout. [[load]]ed indexes
    * score identically (AnnPersistenceSpec); saving both a [[Pq]] and an
    * [[Ivf]] index persists a composed [[IvfPq]] deployment. */
  def save(index: Index, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
    val rows = for {
      (bj, j) <- index.codebooks.zipWithIndex.toSeq
      (c, ci) <- bj.zipWithIndex.toSeq
    } yield (j, ci, c.toSeq)
    rows.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(s"$path/config.json")
    val out = p.getFileSystem(conf).create(p, true)
    try out.write(s"""{"m":${index.m},"dsub":${index.dsub}}""".getBytes("UTF-8"))
    finally out.close()
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index = {
    val p = new org.apache.hadoop.fs.Path(s"$path/config.json")
    val in = p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
              finally in.close()
    def intOf(key: String): Int =
      s""""$key"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(txt)
        .map(_.group(1).toInt)
        .getOrElse(sys.error(s"malformed $path/config.json: missing $key"))
    val (m, dsub) = (intOf("m"), intOf("dsub"))
    import spark.implicits._
    // codebooks are driver-side by construction (m·k·dsub doubles)
    val books = spark.read.parquet(s"$path/codebooks")
      .select(col("subspace"), col("code"), col("centroid"))
      .as[(Int, Int, Seq[Double])].collect()
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) =>
        rs.sortBy(_._2).map(_._3.toArray).toArray
      }.toArray
    Index(books, spark.read.parquet(s"$path/codes"), m, dsub)
  }

  /** Per-query ADC table: flat m×k array, T[j*k + c] = ||q_j − book(j)(c)||².
    * Exposed for composition with coarse routing ([[IvfPq]]). */
  private[ann] def adcTableUdf(index: Index) = {
    val (books, m, dsub) = (index.codebooks, index.m, index.dsub)
    val k = books(0).length
    udf { qv: Seq[Double] =>
      val t = new Array[Double](m * k)
      var j = 0
      while (j < m) {
        var c = 0
        while (c < k) {
          val cent = books(j)(c)
          var s = 0.0
          var i = 0
          while (i < dsub) {
            val diff = qv(j * dsub + i) - cent(i)
            s += diff * diff
            i += 1
          }
          t(j * k + c) = s
          c += 1
        }
        j += 1
      }
      t
    }
  }

  /** Candidate score against a precomputed ADC table: m lookups, no vector
    * math. A pure BUILTIN-FUNCTION column (r12 — was a Scala UDF): the
    * score runs once per (probe, candidate), the hottest loop in PQ
    * search, and the UDF form boxed two Seqs per call and fenced
    * whole-stage codegen around it — measured 20.96 s at the 500k-vector
    * ladder point, ~35% of it GC. transform-with-index + element_at +
    * aggregate keep the IDENTICAL left-fold arithmetic (0.0 + t₀ ≡ t₀ in
    * IEEE, then ascending j) so the hash gates and the DuckDB oracles are
    * bit-unchanged, but the lookups now run inside codegen. */
  private[ann] def adcScoreCol(index: Index, tab: Column, codes: Column): Column = {
    val k = index.codebooks(0).length
    aggregate(
      transform(codes, (c, j) => element_at(tab, j * lit(k) + c + 1)),
      lit(0.0), (acc, x) => acc + x)
  }

  /** Top-K by PQ-approximated squared L2, via ADC. `probes` carries
    * (qIdCol, qVecCol) full-precision queries; output (q_id, cand_id,
    * approx_d2, rn) with rn 1..topK, deterministic tie-break on cand_id.
    *
    * UNROUTED ADC is a FULL SCAN of the codes table per probe batch —
    * honest semantics for compressed search without a coarse quantizer,
    * and it scales LINEARLY in the corpus (measured α 0.82 on a
    * corpus ladder vs 0.51 for routed IVF-PQ: 16.59 s vs 3.64 s at
    * the 100× point). Treat this form as the small-corpus / diagnostic /
    * recall-ceiling path. For production corpora pass `route = Some((ivf,
    * idCol))` — a standing [[Ivf.Index]] over the same corpus and its id
    * column — and the search delegates to [[IvfPq.search]], scanning only
    * the nProbe nearest centroid partitions (the Bpe.learn
    * threshold-delegation convention, r13; steering is an explicit
    * argument rather than a corpus-count probe because counting the corpus
    * costs the very scan routing exists to avoid, and only the caller
    * knows whether a routed index exists). `route = None` keeps the
    * r12 behavior bit-for-bit (the q_ann_pq gate shape).
    *
    * @param route  optional (coarse IVF index, its id column) built over
    *               the SAME corpus/ids as this PQ index; when present the
    *               scan is bucket-bounded via [[IvfPq.search]]
    * @param nProbe partitions probed per query when routed (unused
    *               otherwise) */
  def search(index: Index, probes: DataFrame, qIdCol: String = "q_id",
             qVecCol: String = "qv", topK: Int = 10,
             route: Option[(Ivf.Index, String)] = None,
             nProbe: Int = 4): DataFrame = route match {
    case Some((ivf, idCol)) =>
      IvfPq.search(ivf, index, probes, idCol, qIdCol, qVecCol, topK, nProbe)
    case None => searchUnrouted(index, probes, qIdCol, qVecCol, topK)
  }

  private def searchUnrouted(index: Index, probes: DataFrame, qIdCol: String,
                             qVecCol: String, topK: Int): DataFrame = {
    // bounded per-probe top-K partial aggregation on the negated distance
    // (the Ivf/IvfPq.search shape, r9): the window form shuffled every
    // scored corpus row; the double sign-flip restores approx_d2
    // bit-exactly and ties break on the smaller cand_id as before
    val tabled = probes
      .select(col(qIdCol), adcTableUdf(index)(col(qVecCol)).as("__tab"))
    broadcast(tabled).join(index.codes, col(qIdCol) =!= col("__id"))
      .select(col(qIdCol), col("__id").as("__cid"),
        adcScoreCol(index, col("__tab"), col("codes")).as("__d2"))
      .groupBy(qIdCol)
      .agg(graft.functions.Aggregators.topKScored(topK)(
        -col("__d2"), col("__cid")).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(qIdCol), col("__t._2").as("cand_id"),
        (-col("__t._1")).as("approx_d2"),
        (col("__pos") + 1).cast("int").as("rn"))
  }
}
