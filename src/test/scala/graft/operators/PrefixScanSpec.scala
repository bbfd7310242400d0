package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[PrefixScan.exclusivePrefixSum]] must be bit-identical to the window
  * form it replaces — same values under asc and desc orderings, with groups
  * forced to SPAN partitions (the case the two-phase offset handoff exists
  * for), including a single-group input (the degenerate all-one-partition
  * window). */
class PrefixScanSpec extends SparkSpec {
  import spark.implicits._

  private def windowForm(df: org.apache.spark.sql.DataFrame,
                         order: Seq[org.apache.spark.sql.Column]) = {
    val w = Window.partitionBy("g").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum", coalesce(sum("v").over(w), lit(0L)))
  }

  test("equals the window form across spanning partitions (fuzz, asc)") {
    val rnd = new scala.util.Random(5)
    val df = (1 to 3000).map(i =>
        (s"src${rnd.nextInt(3)}", i.toLong, rnd.nextInt(100).toLong))
      .toDF("g", "id", "v")
    val got = PrefixScan.exclusivePrefixSum(df, "g", Seq(col("id")),
        "v", "cum", numPartitions = 7)
      .select("g", "id", "cum").as[(String, Long, Long)].collect()
      .map { case (g, id, c) => (g, id) -> c }.toMap
    val exp = windowForm(df, Seq(col("id")))
      .select("g", "id", "cum").as[(String, Long, Long)].collect()
      .map { case (g, id, c) => (g, id) -> c }.toMap
    assert(got.size === 3000)
    assert(got === exp)
  }

  test("equals the window form under a desc/tiebreak ordering") {
    val rnd = new scala.util.Random(9)
    val df = (1 to 1200).map(i =>
        (s"s${rnd.nextInt(4)}", i.toLong, rnd.nextInt(20).toLong, rnd.nextInt(50).toLong))
      .toDF("g", "id", "k", "v")
    val order = Seq(col("k").desc, col("id").asc)
    val got = PrefixScan.exclusivePrefixSum(df, "g", order, "v", "cum",
        numPartitions = 5)
      .select("g", "id", "cum").as[(String, Long, Long)].collect()
      .map { case (g, id, c) => (g, id) -> c }.toMap
    val exp = windowForm(df, order)
      .select("g", "id", "cum").as[(String, Long, Long)].collect()
      .map { case (g, id, c) => (g, id) -> c }.toMap
    assert(got === exp)
  }

  test("null values count as zero, matching the null-skipping window sum") {
    val df = Seq(("a", 1L, Some(5L)), ("a", 2L, None), ("a", 3L, Some(7L)),
      ("b", 1L, None), ("b", 2L, Some(3L)))
      .toDF("g", "id", "v")
    val got = PrefixScan.exclusivePrefixSum(df, "g", Seq(col("id")), "v", "cum",
        numPartitions = 3)
      .select("g", "id", "cum").as[(String, Long, Long)].collect()
      .map { case (g, id, c) => (g, id) -> c }.toMap
    val exp = windowForm(df, Seq(col("id")))
      .select("g", "id", "cum").as[(String, Long, Long)].collect()
      .map { case (g, id, c) => (g, id) -> c }.toMap
    assert(got === exp)
    assert(got(("a", 3L)) === 5L) // the null row left the running sum alone
  }

  test("single group spans every partition") {
    val df = (1 to 500).map(i => ("only", i.toLong, 1L)).toDF("g", "id", "v")
    val got = PrefixScan.exclusivePrefixSum(df, "g", Seq(col("id")), "v", "cum",
        numPartitions = 6)
      .select("id", "cum").as[(Long, Long)].collect().toMap
    assert((1 to 500).forall(i => got(i.toLong) == (i - 1).toLong))
  }

  test("two reads of one result agree") {
    // The scan persists nothing: a second read re-runs pass 2 over the
    // range shuffle's output. With (group, orderCols) UNIQUE per row — the
    // documented precondition every engine caller meets — it must give the
    // same values (with duplicate keys, tied rows could permute between
    // reads, as in the window form).
    val rnd = new scala.util.Random(13)
    val df = (1 to 2000).map(i =>
        (s"g${rnd.nextInt(4)}", i.toLong, rnd.nextInt(100).toLong))
      .toDF("g", "id", "v")
    val scanned = PrefixScan.exclusivePrefixSum(df, "g", Seq(col("id")),
      "v", "cum", numPartitions = 6)
    val first = scanned.select("g", "id", "cum")
      .as[(String, Long, Long)].collect().sorted.toSeq
    val reread = scanned.select("g", "id", "cum")
      .as[(String, Long, Long)].collect().sorted.toSeq
    assert(reread === first, "a second read diverged on a unique-key input")
  }

  test("a non-atomic group key fails fast with a clear error") {
    // binary (and array/map/struct) group keys compare by REFERENCE in the
    // run detection, which would silently misplace run boundaries — the
    // guard must reject them before any job runs (ADVICE r10/r11)
    val binDf = Seq((Array[Byte](1, 2), 1L, 5L), (Array[Byte](1, 2), 2L, 7L))
      .toDF("g", "id", "v")
    val binErr = intercept[IllegalArgumentException] {
      PrefixScan.exclusivePrefixSum(binDf, "g", Seq(col("id")), "v", "cum")
    }
    assert(binErr.getMessage.contains("'g'") &&
      binErr.getMessage.contains("atomic"), binErr.getMessage)

    val arrDf = Seq((Seq(1, 2), 1L, 5L)).toDF("g", "id", "v")
    val arrErr = intercept[IllegalArgumentException] {
      PrefixScan.exclusivePrefixSum(arrDf, "g", Seq(col("id")), "v", "cum")
    }
    assert(arrErr.getMessage.contains("atomic"), arrErr.getMessage)
  }
}
