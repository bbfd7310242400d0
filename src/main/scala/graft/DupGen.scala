package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** sf1-equivalent fixture generator (VERDICT r12 #4): writes a key-consistent
  * `factor`× duplication of every sf0.1 table so the FULL registry can run
  * at a scale point above the per-operator ladders. Replication is
  * deterministic (no RNG): replica r offsets every key column by a
  * range-disjoint constant, so joins stay key-consistent
  * (lineitem.l_orderkey still hits orders.o_orderkey within its replica;
  * o_custkey still hits customer), document text gets a " rep$r" suffix
  * (replicas are NEAR-dups — what dedup operators exist for), and
  * embeddings replicate exactly (score ties break on ids deterministically
  * engine-wide). region/nation copy as-is — TPC-H dimension tables are
  * constant-size at every SF by definition.
  *
  * Usage: runMain graft.DupGen [base=/root/testdata/sf0.1]
  *        [out=/tmp/graft_sf1] [factor=10]
  */
object DupGen {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try run(spark, args) finally spark.stop()
  }

  /** Writes every table on a caller-owned session, which stays open. A table
    * whose `_SUCCESS` marker exists is skipped, so a re-run resumes. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)

    def done(t: String): Boolean =
      new java.io.File(s"$out/$t.parquet/_SUCCESS").exists()
    def write(t: String)(mk: Int => org.apache.spark.sql.DataFrame): Unit =
      if (!done(t)) {
        (0 until factor).map(mk).reduce(_.unionByName(_))
          .repartition(32).write.mode("overwrite").parquet(s"$out/$t.parquet")
        System.err.println(s"[dupgen] wrote $t x$factor")
      } else System.err.println(s"[dupgen] $t exists, skipped")

    // constant-size dimensions: copy once, no offsets
    for (t <- Seq("region", "nation") if !done(t)) {
      spark.read.parquet(s"$base/$t.parquet")
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
      System.err.println(s"[dupgen] copied $t")
    }
    val K = 10000000L // key-range stride per replica (ids at sf0.1 << 10M)
    write("customer") { r =>
      spark.read.parquet(s"$base/customer.parquet")
        .withColumn("c_custkey", col("c_custkey") + lit(r * K))
    }
    write("supplier") { r =>
      spark.read.parquet(s"$base/supplier.parquet")
        .withColumn("s_suppkey", col("s_suppkey") + lit(r * K))
    }
    write("part") { r =>
      spark.read.parquet(s"$base/part.parquet")
        .withColumn("p_partkey", col("p_partkey") + lit(r * K))
    }
    write("orders") { r =>
      spark.read.parquet(s"$base/orders.parquet")
        .withColumn("o_orderkey", col("o_orderkey") + lit(r * 100 * K))
        .withColumn("o_custkey", col("o_custkey") + lit(r * K))
    }
    write("lineitem") { r =>
      spark.read.parquet(s"$base/lineitem.parquet")
        .withColumn("l_orderkey", col("l_orderkey") + lit(r * 100 * K))
        .withColumn("l_partkey", col("l_partkey") + lit(r * K))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * K))
    }
    write("events") { r =>
      spark.read.parquet(s"$base/events.parquet")
        .withColumn("event_id", col("event_id") + lit(r * 100 * K))
        .withColumn("user_id", col("user_id") + lit(r * K))
    }
    write("documents") { r =>
      spark.read.parquet(s"$base/documents.parquet")
        .withColumn("doc_id", col("doc_id") + lit(r * K))
        .withColumn("text", concat(col("text"), lit(s" rep$r")))
    }
    write("embeddings") { r =>
      spark.read.parquet(s"$base/embeddings.parquet")
        .withColumn("vec_id", col("vec_id") + lit(r * K))
    }
  }
}
