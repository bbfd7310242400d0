package org.apache.spark.mllib.graft

import org.apache.spark.Partitioner
import org.apache.spark.mllib.linalg.{DenseVector, SparseVector, Vector}
import org.apache.spark.mllib.linalg.distributed.RowMatrix
import org.apache.spark.mllib.stat.Statistics
import org.apache.spark.rdd.RDD
import org.apache.spark.util.random.XORShiftRandom

/** Pin-compatible fork of mllib's DIMSUM emission+reduce
  * (RowMatrix.columnSimilaritiesDIMSUM, Spark 4.1.2 — loop structure
  * verified against the shipped bytecode; DimsumForkSpec proves output
  * parity bit-for-bit against the stock implementation).
  *
  * Why a fork (r13 VERDICT #1, guide §1.2/§2.3/§4.1/§5): the stock path
  * allocates a ListBuffer per prefix position and THREE objects per sampled
  * product, feeds every product through reduceByKey's boxed map-side
  * combiner, and Java-serializes one boxed ((Int,Int),Double) record per
  * combined pair across the shuffle — profiled at sf0.1 as 1 911 s CPU /
  * 37 % GC / 3.2 GB spill in one stage (q_dimsum 342.9 s, the single
  * largest cost in the engine). On the engine's TF-IDF corpus the sampling
  * never trims anything (every column magnitude sits below √γ, so every
  * Bernoulli draw keeps its term), which makes the stock loop a degenerate
  * all-pairs Gram computation executed through per-product boxing.
  *
  * The fork replays the IDENTICAL sampling decisions and product order —
  * same XORShiftRandom(partitionIndex) seed, same short-circuit `iVal != 0
  * && rand.nextDouble() < p(i)` call sequence, same `scaled(k) = values(k)
  * / q(indices(k))` arithmetic — with three structural changes, none of
  * which touches a value:
  *
  *  1. MAP-SIDE ACCUMULATION into primitive arrays. When the column count
  *     fits the dense budget ([[DenseMaxCols]]) each partition accumulates
  *     into a flat upper-triangular double array (contiguous writes — no
  *     hash probe, no per-product allocation, exactly one partial per pair
  *     per partition, like a combiner that can never spill). Above the
  *     budget an open-addressing long→double map takes over, with a
  *     capacity flush valve ([[DefaultMaxCapacity]]) bounding task memory.
  *  2. CHUNKED SHUFFLE (§2.3 — shuffle bytes, not objects): combined
  *     (pairKey, partialSum) entries ride the wire as primitive-array
  *     chunks pre-bucketed by reduce partition — thousands of array
  *     records instead of hundreds of millions of Java-serialized tuples.
  *  3. PRIMITIVE REDUCE: each reduce partition merges its chunks into an
  *     open-addressing map in arrival order instead of reduceByKey's boxed
  *     ExternalAppendOnlyMap.
  *
  * Numeric equivalence: the stock combiner merges each product into the
  * running per-key sum in ENCOUNTER order (`old + new`), which is exactly
  * the accumulators' `+=` in the same product order, so each map partition
  * emits bit-identical (key, partialSum) entries (the hash path splits a
  * key's products only on a capacity flush — the same re-association class
  * as a stock combiner SPILL, and like the stock spill it can never happen
  * at the sf0.01 gate, where a partition holds ≤ 124 750 pairs). The
  * reduce merges one partial per key per map partition in mapId order —
  * the same order reduceByKey's fetch iterator applies `_ + _`. The
  * q_dimsum pin (row count + (d1,d2) checksum + the ≥ 0.5 filter) and the
  * q_dimsum_exact DuckDB hash gate run on this path; DimsumForkSpec pins
  * stock-vs-fork equality on Double.doubleToLongBits.
  */
object DimsumFork {

  /** All column pairs (i, j, estimated dot of unit columns) — the stock
    * `columnSimilarities(threshold)` contract: gamma = 10·ln(n)/threshold
    * (∞ below 1e-6, which degenerates to exact cosine), column magnitudes
    * from the same Statistics.colStats normL2 summarizer. */
  def similarColumns(mat: RowMatrix, threshold: Double,
                     maxCapacity: Int = DefaultMaxCapacity,
                     denseMaxCols: Int = DenseMaxCols): RDD[(Long, Long, Double)] = {
    require(threshold >= 0, s"Threshold cannot be negative: $threshold")
    val gamma =
      if (threshold < 1e-6) Double.PositiveInfinity
      else 10 * math.log(mat.numCols().toDouble) / threshold
    val colMags = Statistics
      .colStats(mat.rows.map(v => (v, 1.0)), Seq("normL2"))
      .normL2.toArray
    similarColumnsDIMSUM(mat.rows, colMags, gamma, maxCapacity, denseMaxCols)
  }

  /** Dense-accumulator budget: n(n-1)/2 doubles ≤ ~144 MB per task. Above
    * this the hash-map accumulator engages (task memory stays bounded by
    * the flush valve however large the column space grows). */
  private val DenseMaxCols: Int = 6000

  /** Hash-path flush valve: 1<<23 slots ≈ 128 MB of primitive arrays per
    * task, flushed at 2/3 load (≈ 5.6 M distinct pairs). Far above any
    * gate-scale pair count; bounds task memory at production scale. */
  private val DefaultMaxCapacity: Int = 1 << 23

  /** Entries per shuffle chunk (1<<16 pairs ≈ 1 MB per chunk record). */
  private val ChunkSize: Int = 1 << 16

  private def similarColumnsDIMSUM(
      rows: RDD[Vector],
      colMags: Array[Double],
      gamma: Double,
      maxCapacity: Int,
      denseMaxCols: Int): RDD[(Long, Long, Double)] = {
    require(gamma > 1.0, s"Oversampling should be greater than 1: $gamma")
    val sg = math.sqrt(gamma)
    val colMagsCorrected = colMags.map(x => if (x == 0) 1.0 else x)
    val sc = rows.context
    val pBV = sc.broadcast(colMagsCorrected.map(c => sg / c))
    val qBV = sc.broadcast(colMagsCorrected.map(c => math.min(sg, c)))
    val numReducers = Partitioner.defaultPartitioner(rows).numPartitions
    val nCols = colMags.length
    val chunks: RDD[(Int, (Array[Long], Array[Double]))] =
      rows.mapPartitionsWithIndex { (indx, iter) =>
        val p = pBV.value
        val q = qBV.value
        val rand = new XORShiftRandom(indx)
        val scaled = new Array[Double](p.length)
        val acc: PairAccumulator =
          if (nCols <= denseMaxCols) new DensePairAccumulator(nCols, numReducers)
          else new HashPairAccumulator(maxCapacity, numReducers)
        new ChunkIterator(iter, rand, p, q, scaled, acc)
      }
    val shuffled = chunks.partitionBy(new Partitioner {
      override def numPartitions: Int = numReducers
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    })
    shuffled.mapPartitions { it =>
      // reduce: merge chunk entries in arrival order (mapId-chronological,
      // the order reduceByKey applies `_ + _`) into a primitive map
      val m = new LongDoubleMap(1 << 16)
      it.foreach { case (_, (ks, vs)) =>
        var i = 0
        while (i < ks.length) { m.add(ks(i), vs(i)); i += 1 }
      }
      m.iterator.map { case (key, sim) =>
        ((key >>> 32), key & 0xffffffffL, sim)
      }
    }
  }

  /** HashPartitioner's bucket for a boxed Long key (kept identical to what
    * reduceByKey would compute, though any deterministic bucketing yields
    * the same per-key merge order). */
  private def pidOf(key: Long, numReducers: Int): Int = {
    val h = (key ^ (key >>> 32)).toInt
    val m = h % numReducers
    if (m < 0) m + numReducers else m
  }

  /** Map-side combiner: one `add` per sampled product, `emit`/`drain` hand
    * full per-reducer chunks to the iterator. */
  private[graft] sealed trait PairAccumulator {
    def add(key: Long, value: Double): Unit
    /** Move every live entry into per-reducer chunk buffers. */
    def flushAll(): Unit
    /** Chunks ready to emit (cleared by the caller). */
    val ready: java.util.ArrayDeque[(Int, (Array[Long], Array[Double]))] =
      new java.util.ArrayDeque[(Int, (Array[Long], Array[Double]))]()
  }

  /** Per-reducer chunk buffers shared by both accumulators. */
  private[graft] abstract class ChunkedAccumulator(numReducers: Int)
      extends PairAccumulator {
    private val bufKeys = Array.ofDim[Long](numReducers, ChunkSize)
    private val bufVals = Array.ofDim[Double](numReducers, ChunkSize)
    private val bufLen = new Array[Int](numReducers)

    protected final def emit(key: Long, value: Double): Unit = {
      val pid = pidOf(key, numReducers)
      val len = bufLen(pid)
      bufKeys(pid)(len) = key
      bufVals(pid)(len) = value
      bufLen(pid) = len + 1
      if (len + 1 == ChunkSize) {
        ready.add((pid, (bufKeys(pid).clone(), bufVals(pid).clone())))
        bufLen(pid) = 0
      }
    }

    protected final def emitPartialBuffers(): Unit = {
      var pid = 0
      while (pid < numReducers) {
        val len = bufLen(pid)
        if (len > 0) {
          ready.add((pid, (java.util.Arrays.copyOf(bufKeys(pid), len),
            java.util.Arrays.copyOf(bufVals(pid), len))))
          bufLen(pid) = 0
        }
        pid += 1
      }
    }
  }

  /** Flat upper-triangular accumulator over n columns: slot(i,j) =
    * off(i) + j - i - 1 with contiguous j. A touched-bitset (not a
    * value != 0 test) decides emission, so exact cancellation to 0.0 on a
    * signed corpus still emits — exactly like the stock combiner. */
  private final class DensePairAccumulator(n: Int, numReducers: Int)
      extends ChunkedAccumulator(numReducers) {
    private val nPairs = n.toLong * (n - 1) / 2
    require(nPairs <= Int.MaxValue, s"dense accumulator overflow: n=$n")
    private val sums = new Array[Double](nPairs.toInt)
    private val touched = new Array[Long]((nPairs.toInt >> 6) + 1)

    override def add(key: Long, value: Double): Unit = {
      val i = (key >>> 32).toInt
      val j = (key & 0xffffffffL).toInt
      // off(i) = i*n - i*(i+1)/2; fits Int because nPairs does
      val slot = i * n - i * (i + 1) / 2 + j - i - 1
      sums(slot) += value
      touched(slot >> 6) |= 1L << (slot & 63)
    }

    override def flushAll(): Unit = {
      var i = 0
      var slot = 0
      while (i < n - 1) {
        var j = i + 1
        while (j < n) {
          if ((touched(slot >> 6) & (1L << (slot & 63))) != 0)
            emit((i.toLong << 32) | j.toLong, sums(slot))
          slot += 1
          j += 1
        }
        i += 1
      }
      emitPartialBuffers()
    }
  }

  /** Open-addressing long→double accumulator with a capacity flush valve:
    * when a new key would bring the map to 2/3 load at maxCapacity (possible
    * MID-row — one dense row emits up to nnz²/2 distinct pairs) the live
    * entries are emitted as partials and the map cleared, before the insert
    * could grow the table past maxCapacity slots; downstream the reduce
    * re-sums the split chunks in chronological order. */
  private[graft] final class HashPairAccumulator(maxCapacity: Int, numReducers: Int)
      extends ChunkedAccumulator(numReducers) {
    private val m = new LongDoubleMap(math.min(1 << 16, maxCapacity))

    /** Slots of the table (its memory bound). */
    def slots: Int = m.slots

    override def add(key: Long, value: Double): Unit = {
      val after = m.size + 1
      if (after + (after >> 1) >= maxCapacity && !m.contains(key)) {
        m.foreach(emit)
        m.clear()
      }
      m.add(key, value)
    }

    override def flushAll(): Unit = {
      m.foreach(emit)
      m.clear()
      emitPartialBuffers()
    }
  }

  /** Minimal open-addressing long→double sum map; 0 is a reserved
    * empty-key sentinel (pair keys are never 0: j > i ≥ 0). */
  private final class LongDoubleMap(initialCapacity: Int) {
    private var capacity = Integer.highestOneBit(
      math.max(16, initialCapacity - 1)) << 1
    private var keys = new Array[Long](capacity)
    private var vals = new Array[Double](capacity)
    private var mask = capacity - 1
    var size = 0

    def slots: Int = capacity

    private def scramble(key: Long): Int = {
      val h = key * 0x9E3779B97F4A7C15L
      ((h ^ (h >>> 32)) & mask).toInt
    }

    def add(key: Long, value: Double): Unit = {
      var slot = scramble(key)
      while (true) {
        val k = keys(slot)
        if (k == key) { vals(slot) += value; return }
        if (k == 0L) {
          keys(slot) = key; vals(slot) = value; size += 1
          if (size + (size >> 1) >= capacity) grow()
          return
        }
        slot = (slot + 1) & mask
      }
    }

    def contains(key: Long): Boolean = {
      var slot = scramble(key)
      while (true) {
        val k = keys(slot)
        if (k == key) return true
        if (k == 0L) return false
        slot = (slot + 1) & mask
      }
      false
    }

    def foreach(f: (Long, Double) => Unit): Unit = {
      var i = 0
      while (i < capacity) {
        if (keys(i) != 0L) f(keys(i), vals(i))
        i += 1
      }
    }

    def clear(): Unit = {
      java.util.Arrays.fill(keys, 0L)
      size = 0
    }

    def iterator: Iterator[(Long, Double)] = new Iterator[(Long, Double)] {
      private var i = 0
      private def advance(): Unit = { while (i < capacity && keys(i) == 0L) i += 1 }
      advance()
      override def hasNext: Boolean = i < capacity
      override def next(): (Long, Double) = {
        val out = (keys(i), vals(i)); i += 1; advance(); out
      }
    }

    private def grow(): Unit = {
      val oldKeys = keys; val oldVals = vals; val oldCap = capacity
      capacity <<= 1; mask = capacity - 1
      keys = new Array[Long](capacity); vals = new Array[Double](capacity)
      var i = 0
      while (i < oldCap) {
        val k = oldKeys(i)
        if (k != 0L) {
          var slot = scramble(k)
          while (keys(slot) != 0L) slot = (slot + 1) & mask
          keys(slot) = k; vals(slot) = oldVals(i)
        }
        i += 1
      }
    }
  }

  /** Streams chunk records out of a partition: consumes input rows one at a
    * time through the stock sampling loop into the accumulator, yielding
    * chunks as they fill and the final accumulator state at end of input. */
  private final class ChunkIterator(
      input: Iterator[Vector],
      rand: XORShiftRandom,
      p: Array[Double],
      q: Array[Double],
      scaled: Array[Double],
      acc: PairAccumulator)
      extends Iterator[(Int, (Array[Long], Array[Double]))] {

    private var inputDone = false

    /** The stock loop, verbatim RNG/branch order (bytecode-verified). */
    private def processRow(row: Vector): Unit = row match {
      case SparseVector(_, indices, values) =>
        val nnz = indices.length
        var k = 0
        while (k < nnz) {
          scaled(k) = values(k) / q(indices(k))
          k += 1
        }
        k = 0
        while (k < nnz) {
          val i = indices(k)
          val iVal = scaled(k)
          if (iVal != 0 && rand.nextDouble() < p(i)) {
            var l = k + 1
            while (l < nnz) {
              val j = indices(l)
              val jVal = scaled(l)
              if (jVal != 0 && rand.nextDouble() < p(j)) {
                acc.add((i.toLong << 32) | j.toLong, iVal * jVal)
              }
              l += 1
            }
          }
          k += 1
        }
      case DenseVector(values) =>
        val n = values.length
        var i = 0
        while (i < n) {
          scaled(i) = values(i) / q(i)
          i += 1
        }
        i = 0
        while (i < n) {
          val iVal = scaled(i)
          if (iVal != 0 && rand.nextDouble() < p(i)) {
            var j = i + 1
            while (j < n) {
              val jVal = scaled(j)
              if (jVal != 0 && rand.nextDouble() < p(j)) {
                acc.add((i.toLong << 32) | j.toLong, iVal * jVal)
              }
              j += 1
            }
          }
          i += 1
        }
      case v =>
        throw new IllegalArgumentException(
          s"Unexpected vector Row: ${v.getClass}")
    }

    override def hasNext: Boolean = {
      if (!acc.ready.isEmpty) return true
      while (!inputDone) {
        if (input.hasNext) processRow(input.next())
        else { inputDone = true; acc.flushAll() }
        if (!acc.ready.isEmpty) return true
      }
      false
    }

    override def next(): (Int, (Array[Long], Array[Double])) = {
      if (!hasNext) throw new NoSuchElementException
      acc.ready.poll()
    }
  }
}
