package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Order-independent non-float checksum: SUM of each row's 60-bit md5
    * prefix over the columns whose type is not floating (sorted by name,
    * joined with \\u0001, nulls as \\u0000). Insensitive to row order and to
    * float-reduction order, pins every id/count/string value. None when the
    * output has no non-float column. */
  def checksum(df: DataFrame): Option[String] = {
    val cols = df.schema.fields
      .filter(f => f.dataType != DoubleType && f.dataType != FloatType)
      .map(_.name).sorted
    if (cols.isEmpty) None
    else {
      val row = md5(concat_ws("\u0001",
        cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*))
      val v = df.select(conv(substring(row, 1, 15), 16, 10)
          .cast("decimal(38,0)").as("h"))
        .agg(sum("h")).head.getDecimal(0)
      Some(if (v == null) "0" else v.toBigInteger.toString)
    }
  }

  /** Content fingerprint of the fixture GENERATION the expectAtGate pins were
    * made against. Pins are content-coupled by design (they pin exact rows +
    * checksums of seeded/ML outputs); when the upstream generator re-rolls the
    * fixture CONTENT (it already re-rolled physical encodings mid-round-4),
    * enforcing stale pins would fail 20 queries red through no engine fault.
    * The fingerprint is deliberately encoding-insensitive (no timestamp
    * columns; ids/text/embedding-ids only) so an encoding-only regeneration
    * still enforces pins. Re-pin recipe: SPARK_GRAFT_PRINT_CHECKS=1 prints
    * every pinned query's fresh (rows, checksum) plus the new fingerprint. */
  val pinnedFixtureFp = "021af98566136eab"

  def fixtureFingerprint(spark: SparkSession, sfDir: String): String = {
    // ANSI bound (SCALE.md r9 audit): sum(crc32) < rows·2^32 — overflows a
    // Long at ~4.3e9 rows; the gate runs at sf0.01/0.1 (≤1e6 rows), 3+
    // orders of margin. Kept exact-Long DELIBERATELY: any cast changes the
    // fingerprint string and would orphan pinnedFixtureFp + every content pin.
    import org.apache.spark.sql.functions.{count => cnt, lit, sum, crc32}
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .agg(cnt(lit(1)), sum(crc32(col("text"))), sum(col("doc_id"))).head
    val e = spark.read.parquet(s"$sfDir/events.parquet")
      .agg(cnt(lit(1)), sum(col("event_id")), sum(col("user_id")),
        sum(crc32(col("event_type")))).head
    val m = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .agg(cnt(lit(1)), sum(col("vec_id")), sum(col("label"))).head
    def row(r: org.apache.spark.sql.Row) =
      (0 until r.length).map(i => String.valueOf(r.get(i))).mkString(":")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"${row(d)}|${row(e)}|${row(m)}".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local dev only; the driver passes two): run just the
    // named comma-separated queries instead of the full surface
    val only = args.lift(2).map(_.split(',').toSet)
    // local dev: print (rows, checksum) for every rows-only query instead of
    // enforcing — how the pinned expectAtGate values are (re)generated
    val printChecks = sys.env.get("SPARK_GRAFT_PRINT_CHECKS").contains("1")
    val spark = GraftSession.local()
    run(spark, sfDir, outDir, only, printChecks)
    spark.stop()
  }

  /** The dump+gate body, callable with an injected session (main owns the
    * session lifecycle; RepinDryRunSpec drives this against a perturbed
    * fixture copy to exercise the regen→repin.json→repin.py loop end to
    * end without stopping the shared test session) and an injected
    * registry (RepeatGateSpec proves the repeat gate FAILS a
    * nondeterministic pinned query — impossible to stage with the real
    * defs, whose pins are deterministic by construction). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]], printChecks: Boolean,
          defs: Map[String, QueryDef] = SparkEntry.defs,
          pinRepeats: Int = math.max(1,
            sys.env.getOrElse("SPARK_GRAFT_PIN_REPEATS", "3").toInt)): Unit = {
    new java.io.File(outDir).mkdirs()
    val selected = defs
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // gate expectations are pinned at the driver's sf0.01 verify scale only
    val atGate = sfDir.replaceAll("/+$", "").endsWith("sf0.01")
    val currentFp =
      if (atGate || printChecks) fixtureFingerprint(spark, sfDir) else ""
    val pinsEnforceable = currentFp == pinnedFixtureFp
    if (printChecks) println(s"CHECK fixture_fp=$currentFp")
    if (atGate && !pinsEnforceable)
      System.err.println(s"[verify] fixture generation changed " +
        s"(fp $currentFp != pinned $pinnedFixtureFp): gate pins recorded " +
        "as rows-only, not enforced — re-pin with SPARK_GRAFT_PRINT_CHECKS=1")
    val checkResults = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val repinResults = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // pinned queries are RE-RUN pinRepeats times at the gate (fresh plan +
    // fresh fit each repetition, not a cached re-count): a seeded-fit pin
    // that is exposed to run-to-run nondeterminism (the r10 q_ann_pq flake —
    // distributed float-reduction order shifting a k-means centroid) fails
    // the repeat agreement HERE instead of 1-in-N driver runs later. An
    // explicit parameter (defaulting to the env var) so RepeatGateSpec's
    // failure-path proof is hermetic — an ambient SPARK_GRAFT_PIN_REPEATS=1
    // would otherwise skip the second build the spec's injected query needs
    // (ADVICE r11).
    def run(name: String, qd: QueryDef): Unit = {
      // dump FIRST, gate SECOND: a failing pin must still leave the query's
      // real rows in the artifact — in r10 the one failing pin's row silently
      // VANISHED from CORRECTNESS_r10.json because the dump was skipped. The
      // artifact's cardinality must structurally equal the registry's,
      // pass or fail (VerifyCardinalitySpec).
      val dumped: Option[DataFrame] =
        try {
          val df = qd.fn(spark, sfDir)
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          Some(df)
        } catch { case e: Throwable =>
          checkResults.put(name,
            s"""{"ok":false,"err":${jsonStr(e.getMessage)}}""")
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          // 0-row sentinel so the driver records an explicit red row (row
          // count / schema mismatch) instead of a missing query
          try {
            spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                org.apache.spark.sql.types.StructType(Seq(
                  org.apache.spark.sql.types.StructField("__verify_error",
                    org.apache.spark.sql.types.StringType))))
              .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          } catch { case e2: Throwable =>
            System.err.println(s"[verify] $name sentinel write failed: " +
              e2.getMessage)
          }
          None
        }
      dumped.foreach { df =>
        try {
          if (printChecks && qd.oracle.isEmpty) {
            val rows = df.count()
            val cs = checksum(df).map("\"" + _ + "\"").getOrElse("null")
            System.out.synchronized {
              println(s"""CHECK $name rows=$rows checksum=$cs""")
            }
          }
          qd.expect.filter(_ => atGate).foreach { e =>
            val rows = df.count()
            if (pinsEnforceable) {
              if (rows != e.rows)
                sys.error(s"gate expectation: rows=$rows, pinned ${e.rows}")
              e.checksum.foreach { pinned =>
                val got = checksum(df).getOrElse("<no non-float column>")
                if (got != pinned)
                  sys.error(s"gate expectation: checksum=$got, pinned $pinned")
              }
              // in-session repeat gate: fresh builds must agree with the pin.
              // Nothing is memoized across calls, so every repeat re-trains.
              (2 to pinRepeats).foreach { i =>
                val dfi = qd.fn(spark, sfDir)
                val rowsI = dfi.count()
                if (rowsI != e.rows)
                  sys.error(s"gate repeat $i/$pinRepeats: rows=$rowsI, " +
                    s"pinned ${e.rows} — NONDETERMINISTIC pinned query")
                e.checksum.foreach { pinned =>
                  val gotI = checksum(dfi).getOrElse("<no non-float column>")
                  if (gotI != pinned)
                    sys.error(s"gate repeat $i/$pinRepeats: checksum=$gotI, " +
                      s"pinned $pinned — NONDETERMINISTIC pinned query")
                }
              }
              checkResults.put(name,
                s"""{"rows":$rows,"ok":true,"repeats":$pinRepeats}""")
            } else {
              // stale-generation pins are reported, not enforced: the rows are
              // real, the pin comparison would be meaningless. The fresh
              // measurements go to repin.json so the pins can be re-applied
              // (tools/repin.py) and RE-ENFORCED in the same session — one
              // unenforced verify RUN, not one unenforced round.
              checkResults.put(name, s"""{"rows":$rows,"ok":true,""" +
                s""""note":"pin not enforced: fixture generation $currentFp <> pinned"}""")
              val cs = checksum(df).map("\"" + _ + "\"").getOrElse("null")
              repinResults.put(name, s"""{"rows":$rows,"checksum":$cs}""")
            }
          }
        } catch { case e: Throwable =>
          checkResults.put(name,
            s"""{"ok":false,"err":${jsonStr(e.getMessage)}}""")
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // Batch queries run through a small driver-side submission pool — the
    // Spark scheduler interleaves their jobs across the executor threads, so
    // the dump's wall time is bounded by work, not by per-query driver
    // latency (planning, DuckDB-free aggregations, file commits). Queries
    // flagged scopesSessionConf (streaming replays: state-store provider,
    // state partitions) stay SERIAL — concurrent query STARTS would race on
    // the session confs they scope.
    val (serialQ, batchQ) = selected.toSeq.sortBy(_._1)
      .partition(_._2.scopesSessionConf)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_PARALLEL", "4").toInt)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = batchQ.map { case (n, qd) =>
      scala.concurrent.Future(run(n, qd))
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    serialQ.foreach { case (n, qd) => run(n, qd) }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // driver-visible record of the pinned-expectation checks (rows +
    // non-float checksum) enforced this run for queries with no oracle
    if (atGate) {
      val checks = selected.toSeq.sortBy(_._1).flatMap { case (n, qd) =>
        qd.expect.map { _ =>
          s"${jsonStr(n)}: ${checkResults.getOrDefault(n, """{"ok":false,"err":"not run"}""")}"
        }
      }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/gate_checks.json"), checks)
    }
    // fixture regenerated → machine-readable re-pin proposal: feed to
    // tools/repin.py (rewrites the expectAtGate literals + pinnedFixtureFp),
    // recompile, rerun — pins re-enforced in the SAME session
    if (!repinResults.isEmpty) {
      val pins = selected.toSeq.sortBy(_._1)
        .flatMap { case (n, _) => Option(repinResults.get(n))
          .map(v => s"${jsonStr(n)}: $v") }
        .mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/repin.json"),
        s"""{"fixture_fp":${jsonStr(currentFp)},"pins":$pins}""")
      System.err.println(s"[verify] wrote $outDir/repin.json — apply with " +
        "python3 tools/repin.py, recompile, rerun to re-enforce pins")
    }
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def jsonStr(s: String): String = "\"" + Option(s).getOrElse("").flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
