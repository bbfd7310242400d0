package graft.similarity

import graft.candidates.{CandidateConfig, Candidates}
import org.apache.spark.Partitioner
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{FloatType, LongType, StructField, StructType}

/** Workflow 1's blocked all-pairs scoring and global top-K in one
  * co-partitioned pass: the pairs of [[Candidates.pairs]], each scored by
  * [[Kernels.byName]] and ranked as [[graft.post.Post.topK]] ranks them,
  * with no pair ever materialized as a row. It is the GraphX co-partitioned
  * vertex/edge join (OSDI 2014) applied to blocks, in the RDD shape of
  * [[graft.graph.GraphOps]]' supersteps:
  *
  *   - one aggregate gives the block sizes; a block is cut into chunks of
  *     about [[TileRows]] rows, and each chunk pair (i ≤ j) is a tile;
  *   - one shuffle sends each row to the tiles of its chunk, the tiles
  *     packed onto at most spark.sql.shuffle.partitions partitions, largest
  *     first onto the least loaded;
  *   - each task builds every row's [[Kernels.Operand]] once per tile, scores
  *     the pk1 < pk2, cross-group, in-length-band pairs of its tiles, and
  *     keeps a bounded top-K heap and a pair count;
  *   - the driver merges the heaps.
  *
  * The result equals `Post.topK` over `attachBothSides(pairs)` scored by
  * `udfFor(measure)`, bit for bit, at any partition count and tile size:
  * the same measure on the same vectors in (pk1, pk2) order, the same length
  * band in the same double arithmetic, and the total order (similarity desc,
  * pk1, pk2) under Spark's float ordering (NaN greatest, -0.0 equal to 0.0).
  * Keys are unique longs and lengths integral; a row with a null key, group,
  * length or block is in no pair, as in the join.
  */
object BlockScore {

  /** Rows per chunk of a block, so one task scores at most about 2048²
    * pairs. Measured on one core of a 4-core host, cosine over workflow 1's
    * TF-IDF vectors of sf0.1's first 2048 documents (1024 features, 21.7
    * nonzeros a row on average) costs 220 ns a pair: 0.46 s for a diagonal
    * tile (2.1M pairs), about 0.9 s for an off-diagonal one (4.2M). The
    * reference's 27 800-doc cluster becomes 105 such tiles instead of one
    * 3.9e8-pair task. Every block of the perfbench corpora is smaller than
    * this and runs whole in one tile. */
  val TileRows = 2048

  /** The top-K pairs as (pk1, pk2, similarity) in one partition, the
    * number of candidate pairs scored, and the number of input rows. */
  final case class Scored(top: DataFrame, pairs: Long, rows: Long)

  /** The `k` best candidate pairs of `df` under `cfg` (which must name a
    * block column) by `measure` over `featuresCol`. Runs two jobs. */
  def topK(df: DataFrame, cfg: CandidateConfig, featuresCol: String,
           measure: String, k: Int): Scored =
    run(df, cfg, featuresCol, measure, k, TileRows)

  private[similarity] def run(df: DataFrame, cfg: CandidateConfig, featuresCol: String,
                              measure: String, k: Int, tileRows: Int): Scored = {
    val score = Kernels.byName(measure).score
    val blockCol = cfg.blockCol.getOrElse(
      throw new IllegalArgumentException("BlockScore needs a block column"))
    val base = Candidates.restrict(df, cfg)
    require(base.schema(cfg.keyCol).dataType == LongType,
      s"BlockScore needs a long key column, not ${base.schema(cfg.keyCol).dataType}")
    val in = base.select(col(blockCol), col(cfg.keyCol), col(cfg.groupCol),
      cfg.lengthCol.fold(lit(0L))(c => col(c).cast("long")), col(featuresCol))

    val sizes = in.groupBy(col(blockCol)).count().collect()
    val tiles = new Tiles(sizes.toSeq.collect { case r if !r.isNullAt(0) => r.get(0) -> r.getLong(1) },
      tileRows, df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)

    val banded = cfg.lengthCol.isDefined
    val maxRatio = cfg.maxLengthRatio
    val parts = in.rdd.flatMap { r =>
      if ((0 to 3).exists(r.isNullAt)) Iterator.empty
      else {
        val doc = Doc(r.getLong(1), r.get(2), r.getLong(3), r.getAs[Vector](4))
        tiles.route(r.get(0), doc.id).map { case (slot, low) => slot -> (low, doc) }
      }
    }.partitionBy(tiles).mapPartitions { it =>
      val heap = new TopK(k)
      var pairs = 0L
      def consider(x: Doc, y: Doc): Unit =
        if (x.group != y.group && (!banded || inBand(x.len, y.len, maxRatio))) {
          if (x.id < y.id) { pairs += 1; heap.offer(Hit(x.id, y.id, score(x.op, y.op))) }
          else if (y.id < x.id) { pairs += 1; heap.offer(Hit(y.id, x.id, score(y.op, x.op))) }
        }
      it.toSeq.groupBy(_._1).foreach { case (slot, rows) =>
        val (low, high) = rows.map(_._2).partition(_._1)
        val a = low.map(_._2).toArray
        if (tiles.diagonal(slot)) {
          for (i <- a.indices; j <- i + 1 until a.length) consider(a(i), a(j))
        } else {
          val b = high.map(_._2).toArray
          for (x <- a; y <- b) consider(x, y)
        }
      }
      Iterator.single(pairs -> heap.toArray)
    }.collect()

    val top = parts.flatMap(_._2).sorted(order).take(k)
      .map(h => Row(h.pk1, h.pk2, h.similarity))
    val schema = StructType(Seq(StructField("pk1", LongType), StructField("pk2", LongType),
      StructField("similarity", FloatType)))
    Scored(df.sparkSession.createDataFrame(java.util.Arrays.asList(top: _*), schema).coalesce(1),
      parts.map(_._1).sum, sizes.map(_.getLong(1)).sum)
  }

  /** |l1−l2|/√(l1·l2) < maxRatio, as [[Candidates.pairs]] evaluates it. */
  private def inBand(l1: Long, l2: Long, maxRatio: Double): Boolean =
    math.abs(l1 - l2).toDouble / math.sqrt(l1.toDouble * l2) < maxRatio

  /** A row as the shuffle carries it; `op` is built on first use after it. */
  private final case class Doc(id: Long, group: Any, len: Long, features: Vector) {
    @transient lazy val op = new Kernels.Operand(features)
  }

  private final case class Hit(pk1: Long, pk2: Long, similarity: Float)

  /** (similarity desc, pk1, pk2), similarity under Spark's float ordering. */
  private val order: Ordering[Hit] = (a, b) => {
    val bySim = SQLOrderingUtil.compareFloats(b.similarity, a.similarity)
    if (bySim != 0) bySim
    else if (a.pk1 != b.pk1) java.lang.Long.compare(a.pk1, b.pk1)
    else java.lang.Long.compare(a.pk2, b.pk2)
  }

  /** The first `k` hits offered, in [[order]]; the worst kept is the head. */
  private final class TopK(k: Int) {
    private val heap = new java.util.PriorityQueue[Hit](order.reverse)
    def offer(h: Hit): Unit =
      if (heap.size < k) heap.add(h)
      else if (k > 0 && order.lt(h, heap.peek)) {
        heap.poll()
        heap.add(h)
      }
    def toArray: Array[Hit] = heap.toArray(Array.empty[Hit])
  }

  /** The tiles of every block: a block of n rows has m = ⌈n / tileRows⌉
    * chunks, a row's chunk hashed from its key, and tile (i, j), i ≤ j < m,
    * is slot first + i·m − i(i−1)/2 + (j − i). A tile's partition is its
    * slot's, assigned largest tile first to the least loaded partition. */
  private final class Tiles(sizes: Seq[(Any, Long)], tileRows: Int, maxPartitions: Int)
      extends Partitioner {
    private val ordered = sizes.sortBy { case (b, n) => (-n, String.valueOf(b)) }
    private val firsts = ordered.scanLeft(0) { case (first, (_, n)) => first + tiles(chunks(n)) }
    private val blocks: Map[Any, (Int, Int)] =
      ordered.zip(firsts).map { case ((b, n), first) => b -> (chunks(n), first) }.toMap
    /** (is diagonal, estimated pairs) of every slot. */
    private val shape: Array[(Boolean, Double)] = ordered.flatMap { case (_, n) =>
      val m = chunks(n)
      val s = n.toDouble / m
      for (i <- 0 until m; j <- i until m) yield (i == j, if (i == j) s * (s - 1) / 2 else s * s)
    }.toArray

    val diagonal: Array[Boolean] = shape.map(_._1)

    override val numPartitions: Int = math.max(1, math.min(shape.length, maxPartitions))

    private val home: Array[Int] = {
      val load = new Array[Double](numPartitions)
      val home = new Array[Int](shape.length)
      shape.indices.sortBy(s => (-shape(s)._2, s)).foreach { s =>
        val p = load.indices.minBy(load)
        home(s) = p
        load(p) += shape(s)._2
      }
      home
    }

    override def getPartition(key: Any): Int = home(key.asInstanceOf[Int])

    /** The (slot, row is chunk i) of every tile holding the row. */
    def route(block: Any, id: Long): Iterator[(Int, Boolean)] = {
      val (m, first) = blocks(block)
      val c = java.lang.Math.floorMod(scala.util.hashing.byteswap64(id), m.toLong).toInt
      def slot(i: Int, j: Int) = first + i * m - i * (i - 1) / 2 + (j - i)
      Iterator.range(0, m).map(o => if (o >= c) slot(c, o) -> true else slot(o, c) -> false)
    }

    private def chunks(n: Long): Int = math.max(1, ((n + tileRows - 1) / tileRows).toInt)
    private def tiles(m: Int): Int = m * (m + 1) / 2
  }
}
