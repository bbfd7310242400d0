package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Pinned gate-scale (sf0.01) expectation for a query with no DuckDB oracle:
  * exact row count, plus (when the output has non-floating columns) an
  * order-independent checksum over those columns — the SUM of a per-row
  * 60-bit md5 prefix, so it is insensitive to output order and to
  * float-reduction order but pins every id/count/string value. */
final case class GateExpect(rows: Long, checksum: Option[String] = None)

/** One engine operator exposed through [[SparkEntry]]: a Spark query over the
  * testdata tables plus (when SQL-expressible) an equivalent DuckDB oracle.
  *
  * Contract (driver): column names of the Spark result and of the oracle SQL
  * must be identical — the correctness gate sorts columns by name and hashes
  * values. Float-producing aggregates must be made deterministic on both sides
  * (decimal-cast sums, single-rounding divisions) so hashes match bit-for-bit.
  *
  * `scopesSessionConf` marks queries that mutate session-level confs while
  * running (streaming replays scope spark.sql.shuffle.partitions and the
  * state-store provider): Verify must run them serially, never inside its
  * concurrent batch pool. An explicit flag, not a name convention — a
  * conf-scoping query without "stream" in its name would otherwise race.
  *
  * `expect` pins the sf0.01 gate output for queries DuckDB cannot oracle
  * (ML fits, LSH, seeded sampling): Verify enforces it at gate scale, so a
  * drifted seed/partitioning shows up as a red gate row instead of silently
  * passing a rows-only check.
  */
final case class QueryDef(
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
    scopesSessionConf: Boolean = false,
    expect: Option[GateExpect] = None) {
  /** Mark as session-conf-scoping: Verify runs it outside the batch pool. */
  def serial: QueryDef = copy(scopesSessionConf = true)
  /** Pin the sf0.01 row count (and optional non-float checksum). */
  def expectAtGate(rows: Long, checksum: String = null): QueryDef =
    copy(expect = Some(GateExpect(rows, Option(checksum))))
}

object QueryDef {
  /** Query with a DuckDB oracle. */
  def sql(oracle: String)(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, Some(oracle.trim))
  /** Non-SQL-expressible query (ML / LSH / graph): driver does rows-only check. */
  def rowsOnly(fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(fn, None)
}
