package graft.ann

import graft.similarity.ArrayOps
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbors over an embedding
  * column: k-means coarse quantizer → per-centroid partitions → probe only
  * the nProbe nearest partitions per query.
  *
  * The other half of the engine's ANN story next to [[SignLsh]]: LSH buckets
  * are data-independent (cheap, reproducible, no fit), IVF adapts to the data
  * distribution (better recall per candidate scanned). With nProbe == k the
  * search degenerates to exact brute force — the equivalence the spec pins.
  *
  * 100 TB shape: centroids are tiny (k·dim doubles → broadcast), the probe
  * set is config-scale (broadcast after centroid routing), and the corpus is
  * scanned ONCE through a broadcast-hash join on centroid_id — no shuffle of
  * the embedding table, no cross join anywhere.
  */
object Ivf {

  /** `centroids`: (centroid_id, cvec); `assigned`: input + centroid_id. */
  final case class Index(centroids: DataFrame, assigned: DataFrame)

  /** @param fitOrderCol the coarse-quantizer k-means trains on the
    *        bounded hash-ordered sample of [[graft.cluster.Clustering.fitSample]]
    *        (ascending `xxhash64(fitOrderCol)` when set — pinned gates pass
    *        the id column — else `xxhash64` of the vector itself), collected
    *        once and fitted on the driver
    *        ([[graft.cluster.Clustering.driverKMeans]]): the stock MLlib fit
    *        on that sample in one partition, bit for bit, so repeated
    *        builds agree at any partition or core count (a distributed
    *        fit's reductions follow task completion order — the r10
    *        q_ann_pq gate-flake class). k centroids need thousands of
    *        training points, not the corpus; assignment (`transform`) stays
    *        fully distributed. */
  def build(df: DataFrame, vecCol: String, k: Int,
            seed: Long = 12345L, maxIter: Int = 20,
            fitOrderCol: Option[String] = None,
            fitSampleRows: Int = 1 << 17): Index = {
    val spark = df.sparkSession
    import spark.implicits._
    val withVec = df.withColumn("__mlvec", array_to_vector(col(vecCol)))
    val model = graft.cluster.Clustering.driverKMeans(withVec,
      new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
        .setFeaturesCol("__mlvec").setPredictionCol("__centroid"),
      fitOrderCol, fitSampleRows)
    val assigned = model.transform(withVec)
      .withColumnRenamed("__centroid", "centroid_id")
      .drop("__mlvec")
    val centroids = model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }
      .toDF("centroid_id", "cvec")
    Index(centroids, assigned)
  }

  /** Build an index from EXPLICIT centroids — no fit. `centroids` is a
    * (centroid_id int, cvec array<double>) frame, bounded by contract (a
    * coarse quantizer is k·dim doubles — driver-scale by construction; the
    * collected rows ride the serialized plan, which Spark
    * torrent-broadcasts). Assignment is ONE NARROW MAP over the corpus:
    * each row takes the argmin of
    * ||v||² + ||c||² − 2·v·c over the plan-resident centroid array
    * (ascending index folds — the [[search]] routing arithmetic and the
    * DuckDB list_reduce fold order, so an oracle replays assignments
    * bit-for-bit), ties to the smaller centroid_id. No shuffle, no join:
    * this is the production ingest shape (q_stream_ann_ingest routes each
    * micro-batch with the same arithmetic) and the pinned-quantizer shape
    * the [sql] ANN gates replay end to end — the k-means fit itself stays
    * gated by the q_kmeans_blocks pin. The argmin is a native codegen
    * expression ([[graft.expressions.CentroidArgmin]], r13) — the former
    * per-row Scala UDF boxed a Seq[Double] per corpus row, the defect
    * class the r12 ADC rewrite measured at 4+ s wall / 20 s GC per 500k
    * vectors; the arithmetic is unchanged term-for-term. */
  def fromCentroids(df: DataFrame, vecCol: String, centroids: DataFrame): Index =
    Index(centroids, df.withColumn("centroid_id",
      assignColumn(centroids)(col(vecCol))))

  /** The [[fromCentroids]] assignment as a reusable Column factory: collects
    * the (driver-scale) centroid table ONCE and returns the codegen
    * broadcast-argmin column — so a caller that assigns many frames against
    * one standing quantizer (a streaming ingest loop routing every
    * micro-batch, q_stream_ann_ingest) pays the collect once per corpus
    * generation instead of once per batch. */
  def assignColumn(centroids: DataFrame): org.apache.spark.sql.Column => org.apache.spark.sql.Column = {
    val cents: Array[(Int, Array[Double])] = centroids
      .select(col("centroid_id").cast("int"), col("cvec"))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    // fail fast, never label: with zero centroids the argmin would silently
    // assign every row centroid_id 0 and a downstream search (and any gate
    // comparing empty-vs-empty) would pass having verified nothing
    require(cents.nonEmpty,
      "fromCentroids: the centroid frame is empty — check the pin filter")
    // a ragged centroid table would score vectors over a prefix (or throw
    // mid-assignment with an index message) — reject with the real reason
    // here, and let the expression reject corpus vectors of the wrong width
    // row-side (ADVICE r12: the UDF form silently scored v's prefix)
    val dim = cents(0)._2.length
    require(dim > 0 && cents.forall(_._2.length == dim),
      s"fromCentroids: every centroid must have the same positive length (dim=$dim)")
    vec => org.apache.spark.sql.graft.bridge.column(
      graft.expressions.CentroidArgmin(
        org.apache.spark.sql.graft.bridge.expression(vec),
        cents.map(_._1), cents.map(_._2)))
  }

  /** Persist the index as two parquet tables under one directory (Hadoop-FS
    * reach: local, HDFS, object stores). Production ANN serving builds ONCE
    * per corpus generation and loads per session/job instead of refitting —
    * the [[graft.lsh.LshJoins.saveMinHashIndex]] pattern; [[load]]ed indexes
    * search identically (AnnPersistenceSpec). Parquet round-trips the double
    * centroid/embedding values exactly. */
  def save(index: Index, path: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.assigned.write.mode("overwrite").parquet(s"$path/assigned")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String): Index =
    Index(spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/assigned"))

  /** Top-K cosine neighbors per probe, searching only the nProbe nearest
    * centroid partitions. `probes` carries (qIdCol, qVecCol); output is
    * (qIdCol, cand_id, cos, rn) with rn 1..topK per probe.
    *
    * The per-probe top-K is a BOUNDED partial aggregation
    * ([[graft.functions.Aggregators.TopKScored]]), not a window: the window
    * form (`row_number over (partition by q_id order by cos desc)`) shuffles
    * EVERY scored candidate row — nProbe/k of the corpus × |probes| rows —
    * where the aggregator shuffles one ≤topK buffer per map partition per
    * probe, independent of corpus size. Ranking semantics identical
    * (score desc, id asc tie-break), measured on an ANN corpus ladder. */
  def search(index: Index, probes: DataFrame, idCol: String, vecCol: String,
             qIdCol: String = "q_id", qVecCol: String = "qv",
             topK: Int = 10, nProbe: Int = 4): DataFrame = {
    // squared L2 to each centroid as ||q||² + ||c||² − 2·q·c (single-pass
    // kernels); deterministic centroid tie-break on id. Window is fine HERE:
    // probes × k centroid rows is config-scale, not corpus-scale.
    val d2 = ArrayOps.norm2sq(col(qVecCol)) + ArrayOps.norm2sq(col("cvec")) -
      lit(2.0) * ArrayOps.dot(col(qVecCol), col("cvec"))
    val wc = Window.partitionBy(qIdCol).orderBy(asc("__cd"), asc("centroid_id"))
    val probed = probes.crossJoin(broadcast(index.centroids))
      .withColumn("__cd", d2)
      .withColumn("__crn", row_number().over(wc))
      .filter(col("__crn") <= nProbe)
      .select(col(qIdCol), col(qVecCol), col("centroid_id"))
    broadcast(probed).join(index.assigned, Seq("centroid_id"))
      .filter(col(idCol) =!= col(qIdCol))
      .select(col(qIdCol), col(idCol).as("__cid"),
        ArrayOps.cosine(col(qVecCol), col(vecCol)).as("__cos"))
      .groupBy(qIdCol)
      .agg(graft.functions.Aggregators.topKScored(topK)(
        col("__cos"), col("__cid")).as("__top"))
      .select(col(qIdCol), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(qIdCol), col("__t._2").as("cand_id"), col("__t._1").as("cos"),
        (col("__pos") + 1).cast("int").as("rn"))
  }
}
