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
  * Both passes read ONE RDD object, `sortedDf.rdd`: its range shuffle,
  * boundaries sampled once, runs once, and pass 2 reads the very partitions
  * pass 1 totalled, so the broadcast offsets keyed by partition id stay
  * valid without a persist. Nothing is cached: each read of the result
  * re-runs pass 2 over that shuffle's output. Two reads agree when
  * (group, orderCols) is a unique key, as every engine caller's is; rows
  * tied on it may take their running sums in another order on another
  * read, the tie ambiguity of the window form itself.
  * Group keys must be non-null ATOMIC values (validated): array/binary/
  * struct keys would compare by reference in the run detection and silently
  * misplace boundaries. Null VALUES count as 0, matching the null-skipping
  * window sum this replaces. */
object PrefixScan {

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
    // one RDD instance shared by both passes (see scaladoc)
    val sorted = sortedDf.rdd

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
