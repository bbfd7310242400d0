package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Typed access to the engine's canonical tables.
  *
  * The reference ingests JSON-lines bill tables with inferred schemas
  * (reference: src/main/scala/org/princeton/billmatch/ExtractCandidates.scala:98)
  * and Parquet for every intermediate (ExtractCandidates.scala:145). Here every
  * table has a declared schema; Parquet is self-describing but we verify the
  * footer schema against the declaration so that a drifting upstream producer
  * fails fast instead of silently changing query semantics.
  *
  * Scale note: all readers are plain `spark.read.parquet` — column pruning and
  * predicate pushdown are Catalyst's job, and both reach the scan because no
  * transformation is applied before returning the DataFrame.
  */
object Tables {

  /** TPC-H-ish star schema + events/documents/embeddings (TESTDATA.md). */
  val schemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))),
    "events" -> StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("props", StringType))),
    "documents" -> StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType),
      StructField("n_chars", LongType))),
    "embeddings" -> StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
  )

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeDeclaredTimestamps(name,
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Generic form of the events-ts lesson for EVERY table: any column the
    * declared schema says is a timestamp but the footer ships as
    * TIMESTAMP(NANOS) (surfacing as LongType under nanosAsLong) is
    * re-derived to microsecond TimestampType at load. The fixture generator
    * has already flipped events.ts between three encodings across rounds;
    * this guard means a flip on o_orderdate / l_shipdate cannot crash the
    * TPC-H surface the same way. TIMESTAMP_NTZ is deliberately left alone
    * here (tz-insensitive consumers; DuckDB reads the same naive values) —
    * only [[events]] upgrades NTZ, because its consumers do epoch
    * extraction. */
  private def normalizeDeclaredTimestamps(name: String, df: DataFrame): DataFrame =
    schemas.get(name).fold(df) { declared =>
      val toFix = declared.fields.collect {
        case f if f.dataType == TimestampType &&
            df.schema.fieldNames.contains(f.name) &&
            df.schema(f.name).dataType == LongType => f.name
      }
      toFix.foldLeft(df) { (d, c) =>
        d.withColumn(c,
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr(s"`$c` DIV 1000")))
      }
    }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** Normalize `ts` to session-UTC TimestampType regardless of the fixture's
    * physical parquet encoding. The upstream generator has shipped events.ts
    * three ways across fixture generations, and the engine must absorb all of
    * them IN ONE PLACE (batch and streaming readers both call this — never
    * restate the physical type elsewhere):
    *  - TIMESTAMP(NANOS): Spark has no nanos type; with
    *    spark.sql.legacy.parquet.nanosAsLong=true (set by
    *    [[graft.GraftSession]]) it surfaces as LongType nanos — re-derive a
    *    microsecond TimestampType via exact integer division (a double
    *    division would round ~128 ns and shift second boundaries).
    *  - timestamp[us] without UTC adjustment: surfaces as TIMESTAMP_NTZ —
    *    reinterpret as instant in the session timezone (UTC per
    *    GraftSession), which matches how DuckDB reads the same naive column.
    *  - plain TIMESTAMP: pass through. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", df("ts").cast(TimestampType))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Read JSON-lines with a declared schema (the reference's canonical bill
    * ingestion, ExtractCandidates.scala:98, but schema-declared per SURVEY §1.3). */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Whole-file text scan, one row per file (reference
    * utils/MetadataConverter.scala:37 used sc.wholeTextFiles). */
  def wholeText(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)

  /** Spread a NARROW scan across the executor slots before a CPU-heavy
    * projection. A parquet file is splittable only at row-group boundaries,
    * so a single-row-group file (the shape of the small test fixtures, or of
    * any badly-written upstream table) pins the whole scan — and every
    * per-row expression above it — to ONE task regardless of cores. When the
    * downstream work is compute-bound (winnowing ≈ 0.35 ms/doc vs ~µs to
    * shuttle a 2.5 KB row), one id+text repartition is ~100× cheaper than
    * serial execution. Conditional on purpose: when the source already
    * splits at least as wide as the executor slots (every healthy table at
    * real scale), this is a NO-OP — no shuffle is added at 100 TB.
    *
    * This is the engine's one input fan-out. Callers spread what they read;
    * library operators take their input as it comes and spread nothing.
    * The one fixed count is q_dimsum's 32-way input: DIMSUM seeds its
    * sampler by partition index, so that pin depends on the count. */
  def spread(df: DataFrame): DataFrame = {
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= slots) df else df.repartition(slots)
  }

  /** Persist as a bucketed (and per-bucket sorted) catalog table: repeated
    * equi-joins / aggregations on `cols` then run shuffle-free — the storage-
    * level answer to the reference's hand `repartition(n, cols)` hints
    * (ExtractCandidates.scala:103). At 100 TB, bucketing the features table by
    * primary key turns every pair⋈features join into a local zip. */
  def writeBucketed(df: DataFrame, table: String, cols: Seq[String],
                    buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .saveAsTable(table)

  /** Range-clustered parquet layout: rows range-partitioned on `cols` then
    * sorted within each partition, so every output file owns a DISJOINT key
    * range and its parquet min/max footer stats actually prune — the
    * write-side complement of the z-order key (a random row order leaves
    * every file's [min,max] spanning the whole domain, and stats prune
    * nothing). `LayoutSpec` proves the disjointness and the scan-time effect.
    * At 100 TB this is the difference between a point-range query touching
    * one file and touching all of them. */
  def writeRangeClustered(df: DataFrame, path: String,
                          cols: Seq[String], partitions: Int): Unit =
    df.repartitionByRange(partitions,
        cols.map(org.apache.spark.sql.functions.col): _*)
      .sortWithinPartitions(cols.head, cols.tail: _*)
      .write.mode("overwrite").parquet(path)
}
