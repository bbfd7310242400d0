package graft.lsh

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The candidate pairs of a banded LSH join: two rows pair when their slot
  * arrays (band hashes, per-table minhashes) agree in at least one position
  * and, when the rows carry a scope, their scopes are equal.
  *
  * Input frames hold, by column position, an id (one type across inputs),
  * the slots (array<long> without null elements) and optionally a scope.
  * Ids and scopes are of an integral, string, boolean, date or timestamp
  * type, whose JVM values are equal exactly when Spark's are. A row with a
  * null id, slot array or scope is in no pair.
  *
  * Each row goes out once per slot, hash-partitioned on (scope, slot
  * index, slot value) into spark.sql.shuffle.partitions partitions and
  * sorted by that key. A task streams its buckets in key order, one bucket
  * in memory at a time (the sort-grouped form of Pregelix, VLDB 2014), and
  * emits a pair only in the bucket of the first slot where the two arrays
  * agree: each pair comes out once, with no dedup exchange.
  *
  * A bucket of n rows costs n²/2 comparisons, and the first slot's hot
  * bucket can hold most of the output pairs. So a bucket of more than
  * [[TileRows]] rows is split into ⌈n / TileRows⌉ id-hashed chunks, and a
  * second shuffle, which only such rows cross (once per chunk), spreads its
  * chunk pairs (i ≤ j) over the partitions as tiles.
  *
  * The result is a lazy frame over the inputs' plans: both passes read the
  * one bucket shuffle, so a sketch upstream runs once per row. The explode
  * is an outer one: an inner explode makes Catalyst infer a
  * `size(slots) > 0` filter, which evaluates the whole sketch again.
  */
object BucketPairs {

  /** Rows a bucket may hold and still be scored in one piece (about 0.5M
    * slot-array comparisons), and the rows of a split bucket's chunk. */
  val TileRows = 1024

  /** (pk1, pk2), pk1 < pk2: every pair of distinct ids of `rows` that agree
    * in a slot (and share a scope). */
  def self(rows: DataFrame): DataFrame =
    pairs(Seq(rows), "a", "b") { (xs, ys, diagonal, slot) =>
      for {
        i <- Iterator.range(0, xs.length)
        j <- if (diagonal) Iterator.range(i + 1, xs.length) else Iterator.range(0, ys.length)
        if xs(i).id != ys(j).id && firstEq(xs(i).slots, ys(j).slots) == slot
      } yield Row(xs(i).id, ys(j).id)
    }.select(least(col("a"), col("b")).as("pk1"), greatest(col("a"), col("b")).as("pk2"))

  /** (left, right): every pair of a `left` row and a `right` row that agree
    * in a slot (and share a scope). The two id spaces may overlap. */
  def cross(left: DataFrame, right: DataFrame): DataFrame =
    pairs(Seq(left, right), "left", "right") { (xs, ys, diagonal, slot) =>
      def across(ls: Array[Member], rs: Array[Member]) = for {
        l <- ls.iterator if l.side == 0
        r <- rs.iterator if r.side == 1 && firstEq(l.slots, r.slots) == slot
      } yield Row(l.id, r.id)
      if (diagonal) across(xs, xs) else across(xs, ys) ++ across(ys, xs)
    }

  /** The id and scope types. */
  private val Keys = Set[DataType](BooleanType, ByteType, ShortType, IntegerType, LongType,
    StringType, DateType, TimestampType, TimestampNTZType)

  /** A row of input `side` (its position in the inputs), in chunk `chunk`
    * of a split bucket. */
  private final case class Member(id: Any, slots: Array[Long], side: Int, chunk: Int)

  /** The pairs of every bucket of `inputs`, as (a, b) columns of the inputs'
    * id type. `emit` gives the pairs of a tile's two chunks whose first
    * agreeing slot is `slot`; a diagonal tile (a whole bucket, or a chunk
    * with itself) passes its members as both. Row layout through both
    * shuffles: (id, slots, scope, side, slot, value), and in the tile
    * shuffle also (ti, tj, chunk). */
  private def pairs(inputs: Seq[DataFrame], a: String, b: String)(
      emit: (Array[Member], Array[Member], Boolean, Int) => Iterator[Row]): DataFrame = {
    val scoped = inputs.head.columns.length > 2
    for (df <- inputs; f <- df.schema.head +: df.schema.drop(2))
      require(Keys(f.dataType), s"BucketPairs cannot compare ${f.dataType} values (${f.name})")
    val idType = inputs.head.schema.head.dataType
    require(inputs.forall(_.schema.head.dataType == idType), "BucketPairs inputs need one id type")
    val n = inputs.head.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val out = Encoders.row(StructType(Seq(StructField(a, idType), StructField(b, idType))))
    val bucketed = inputs.zipWithIndex.map { case (df, side) =>
      val in = if (scoped) df.toDF("id", "slots", "scope")
               else df.toDF("id", "slots").withColumn("scope", lit(0))
      in.select(col("id"), col("slots"), col("scope"), lit(side).as("side"),
        posexplode_outer(col("slots")).as(Seq("slot", "value")))
    }.reduce(_ union _)
      .filter(col("id").isNotNull && col("scope").isNotNull && col("slot").isNotNull)
      .repartition(n, col("scope"), col("slot"), col("value"))
      .sortWithinPartitions("scope", "slot", "value")
    def bucketKey(r: Row) = (r.get(2), r.getInt(4), r.getLong(5))

    val whole = bucketed.mapPartitions(groups(_, bucketKey)
      .filter(_.length <= TileRows)
      .flatMap { rs => val ms = rs.map(member); emit(ms, ms, true, rs.head.getInt(4)) })(out)

    val tileCols = Seq("ti", "tj", "chunk")
    val tiles = bucketed.mapPartitions(groups(_, bucketKey)
      .filter(_.length > TileRows)
      .flatMap { rs =>
        val chunks = (rs.length + TileRows - 1) / TileRows
        for (r <- rs.iterator; c = chunkOf(r.get(0), chunks); d <- Iterator.range(0, chunks))
          yield Row.fromSeq(r.toSeq ++ Seq(math.min(c, d), math.max(c, d), c))
      })(Encoders.row(tileCols.foldLeft(bucketed.schema)(_.add(_, IntegerType, false))))
      .repartition(n, (Seq("scope", "slot", "value") ++ tileCols.init).map(col): _*)
      .sortWithinPartitions("scope", "slot", "value", "ti", "tj")
      .mapPartitions(groups(_, r => (bucketKey(r), r.getInt(6), r.getInt(7))).flatMap { rs =>
        val (ti, tj) = (rs.head.getInt(6), rs.head.getInt(7))
        val ms = rs.map(member)
        if (ti == tj) emit(ms, ms, true, rs.head.getInt(4))
        else emit(ms.filter(_.chunk == ti), ms.filter(_.chunk == tj), false, rs.head.getInt(4))
      })(out)

    whole.union(tiles)
  }

  private def member(r: Row): Member =
    Member(r.get(0), r.getSeq[Long](1).toArray, r.getInt(3), if (r.length > 8) r.getInt(8) else 0)

  /** The runs of rows with equal `key` in a partition sorted by it. */
  private def groups(rows: Iterator[Row], key: Row => Any): Iterator[Array[Row]] = {
    val in = rows.buffered
    new Iterator[Array[Row]] {
      def hasNext: Boolean = in.hasNext
      def next(): Array[Row] = {
        val first = in.next()
        val k = key(first)
        val run = ArrayBuffer(first)
        while (in.hasNext && key(in.head) == k) run += in.next()
        run.toArray
      }
    }
  }

  /** A row's chunk of a split bucket: a function of its id alone, so both
    * rows of a pair meet in exactly one tile. */
  private def chunkOf(id: Any, chunks: Int): Int =
    Math.floorMod(scala.util.hashing.byteswap32(id.##), chunks)

  /** The first index where `a` and `b` agree, -1 when none does. */
  private def firstEq(a: Array[Long], b: Array[Long]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a(i) != b(i)) i += 1
    if (i < n) i else -1
  }
}
