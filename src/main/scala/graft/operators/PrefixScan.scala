package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Distributed two-phase prefix scan — the running-sum primitive whose
  * window form (`SUM OVER (PARTITION BY group ORDER BY ...)`) serializes on
  * ONE task per group: with a handful of groups (data sources, shards) that
  * is a #groups-task global sort no matter how large the corpus. The scan
  * computes the IDENTICAL exact integer result with parallelism bounded by
  * the partition count instead:
  *
  *  1. range-partition + sort by (group, order...) — a total order in which
  *     each group occupies a CONTIGUOUS run of partitions;
  *  2. pass 1: per partition, per group, the local value total — at most
  *     (#partitions + #groups) boundary entries BECAUSE of that contiguity,
  *     a bounded driver scalar (the k-means-argmax precedent);
  *  3. driver: per (partition, group), the offset = that group's totals in
  *     earlier partitions — broadcast;
  *  4. pass 2: per partition, a sequential local running sum seeded by the
  *     broadcast offset. Per-partition imperative iteration is exactly the
  *     case the RDD escape hatch exists for: no per-row lambda can carry
  *     running state through Catalyst.
  *
  * Exactness: the running sum is a function of the TOTAL ORDER and exact
  * Long arithmetic only — range-boundary sampling moves partition borders,
  * never values — so the scan is bit-identical to the window form (fuzzed
  * against it in PrefixScanSpec) and the DuckDB oracles need no change.
  *
  * Lifecycle: the sorted frame MUST stay persisted across the two passes —
  * pass 2's broadcast offsets are keyed by partition id, and re-running the
  * range partitioner would resample different boundaries. The persist is at
  * the RDD level, NOT `DataFrame.persist`: an SQL-level cache registers a
  * session-lifetime CacheManager entry no caller could release, whereas a
  * persisted RDD is tracked by Spark's ContextCleaner and is unpersisted
  * automatically once the returned frame (whose lineage is the only
  * reference) becomes unreachable — a long-lived service planning
  * compactions in a loop (ADVICE r10) leaks nothing once it drops each
  * result. The bound while live is benign by construction: callers pass the
  * NARROW projection (group, order keys, one Long), never document text,
  * and the blocks are spill-safe (MEMORY_AND_DISK).
  * Group keys must be non-null ATOMIC values (validated): array/binary/
  * struct keys would compare by reference in the run detection and silently
  * misplace boundaries. Null VALUES count as 0, matching the null-skipping
  * window sum this replaces. */
object PrefixScan {

  // Weak registry of live persisted scan RDDs: spark.catalog.clearCache()
  // releases SQL-level caches only, so a caller that needs the scan frames
  // gone (between measurements, say) calls [[releaseAll]] as well. Weak
  // keys — the registry never delays the ContextCleaner path.
  private val live = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[org.apache.spark.rdd.RDD[Row], java.lang.Boolean]())

  /** Eagerly unpersist every scan frame still alive. A released-then-reread
    * result recomputes from the shuffle lineage; that replay is
    * value-identical ONLY when (group, orderCols) is a UNIQUE key per row —
    * with duplicate keys, shuffle fetch order can permute tied rows between
    * materializations and the running sum lands on different tied rows
    * (the window form this operator replaces has the same tie ambiguity).
    * Every engine caller orders by a unique id; callers with ties should
    * either add a tiebreaker column or not re-read after release. For
    * measurement harnesses and long-lived services that want deterministic
    * release instead of GC-driven. */
  def releaseAll(): Unit = live.synchronized {
    live.forEach(r => { r.unpersist(blocking = false); () })
    live.clear()
  }

  /** EXCLUSIVE per-group running sum of `valueCol` (a Long column) over rows
    * ordered by `orderCols` within `groupCol`, appended as `outCol`. Row set
    * and all other columns pass through unchanged (output row order is
    * whatever the scan's partitioning yields — add a presentation sort
    * downstream if one is needed). */
  def exclusivePrefixSum(df: DataFrame, groupCol: String, orderCols: Seq[Column],
                         valueCol: String, outCol: String,
                         numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val n = if (numPartitions > 0) numPartitions
            else spark.sparkContext.defaultParallelism
    val keys = org.apache.spark.sql.functions.col(groupCol) +: orderCols
    val sortedDf = df.repartitionByRange(n, keys: _*)
      .sortWithinPartitions(keys: _*)
    val schema = sortedDf.schema
    val gIdx = schema.fieldIndex(groupCol)
    val vIdx = schema.fieldIndex(valueCol)
    // group keys are compared with Any.!= in the run detection below and
    // used as driver map / broadcast keys — reference-equality types would
    // silently produce wrong run boundaries (ADVICE r10)
    schema(gIdx).dataType match {
      case _: org.apache.spark.sql.types.BinaryType |
           _: org.apache.spark.sql.types.ArrayType |
           _: org.apache.spark.sql.types.MapType |
           _: org.apache.spark.sql.types.StructType =>
        throw new IllegalArgumentException(
          s"group column '$groupCol' must be an atomic value type, got " +
            schema(gIdx).dataType.simpleString)
      case _ =>
    }
    // one RDD instance shared by both passes; ContextCleaner unpersists it
    // when the returned frame is garbage collected (see scaladoc), and
    // releaseAll() offers the deterministic path
    val sorted = sortedDf.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    live.synchronized { live.add(sorted); () }

    // pass 1: ordered (group, localTotal) runs per partition
    val totals: Array[(Int, Seq[(Any, Long)])] =
      sorted.mapPartitionsWithIndex { (pid, it) =>
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Any, Long)]
        var cur: Any = null
        var sum = 0L
        var has = false
        it.foreach { r =>
          val k = r.get(gIdx)
          if (!has || k != cur) {
            if (has) runs += ((cur, sum))
            cur = k; sum = 0L; has = true
          }
          // null value ≡ 0: the window-sum form this replaces skips nulls,
          // which leaves the running sum unchanged — identical semantics,
          // no NPE (the ZOrder null-key lesson, ADVICE r9)
          if (!r.isNullAt(vIdx)) sum += r.getLong(vIdx)
        }
        if (has) runs += ((cur, sum))
        Iterator.single((pid, runs.toSeq))
      }.collect()

    // driver: per (partition, group) the sum of the group's totals in all
    // EARLIER partitions (groups are contiguous, so linear in the entries)
    val cumulative = scala.collection.mutable.Map.empty[Any, Long]
    val offsets = scala.collection.mutable.Map.empty[(Int, Any), Long]
    for ((pid, runs) <- totals.sortBy(_._1); (g, t) <- runs) {
      val prior = cumulative.getOrElse(g, 0L)
      offsets((pid, g)) = prior
      cumulative(g) = prior + t
    }
    val bc = spark.sparkContext.broadcast(offsets.toMap)

    // pass 2: local running sum seeded by the broadcast offset
    val rows = sorted.mapPartitionsWithIndex { (pid, it) =>
      var cur: Any = null
      var run = 0L
      var has = false
      it.map { r =>
        val k = r.get(gIdx)
        if (!has || k != cur) {
          cur = k; run = bc.value.getOrElse((pid, k), 0L); has = true
        }
        val out = Row.fromSeq(r.toSeq :+ run)
        if (!r.isNullAt(vIdx)) run += r.getLong(vIdx)
        out
      }
    }
    spark.createDataFrame(rows, schema.add(outCol, LongType, nullable = false))
  }
}
