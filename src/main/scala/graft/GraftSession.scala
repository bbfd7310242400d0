package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's required configs.
  *
  * Centralizes what Verify, Bench, and the test suites need so a query behaves
  * identically everywhere:
  *  - AQE on (runtime partition coalescing + skew-join handling — the modern
  *    replacement for the reference's hand partition-count heuristics,
  *    reference feature/Utils.scala:110-121);
  *  - nanosAsLong so the events table's TIMESTAMP(NANOS) parquet is readable
  *    (Spark has no nanosecond timestamp; graft.io.Tables re-derives a
  *    microsecond TimestampType column);
  *  - UTC session timezone for oracle parity.
  */
object GraftSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // NOT set (r13, measured): coalescePartitions.parallelismFirst=false
      // ("fewer, larger reduce partitions", guide §2.2) looked like a free
      // win for the many near-empty 32-task AQE stages, but shuffle BYTES
      // are a bad proxy for CPU here — the LSH verify join's ~70 MB shuffle
      // carries minutes of per-byte merge work, and the 64 MB advisory
      // coalesced it to one task (q_minhash_lsh 2.5 → 17 s). The default
      // parallelism-first behaviour is the right trade for CPU-dense,
      // byte-light operators.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", "/tmp/graft-warehouse"))
      .config("spark.ui.enabled", "false")

  /** Apply engine-required configs to an existing session (e.g. one created by
    * the driver) — runtime confs only. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt): SparkSession = {
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
