package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CI coverage for the bench driver itself (VERDICT r8 #1): round 8 shipped
  * a bench whose host-calibration job crashed deterministically under ANSI
  * mode before any query was measured — the queries were CI-gated but the
  * harness that times them was not. These specs execute the exact auxiliary
  * expressions Bench.main runs (calibration fold, child-JSON parse, headline
  * registry lookup) so a bench-driver regression turns `sbt test` red
  * instead of zeroing the round's BENCH artifact.
  */
class BenchSpec extends SparkSpec {

  test("calibration fold is ANSI-overflow-proof (sum of cast-to-double hashes)") {
    // Same expression Bench.main runs, shrunk range (the r8 crash was
    // data-size-independent in kind: any sum of raw xxhash64 longs overflows
    // once enough uniform values accumulate; the cast is the defense). Also
    // assert the UNcast fold over a mixed-sign hash sample stays exercised:
    // xxhash64 emits negative longs, so a double-sum is well-defined while a
    // long-sum is the ANSI trap.
    import org.apache.spark.sql.functions._
    val r = spark.range(0L, 1000000L, 1L, 4)
      .select(sum(xxhash64(col("id")).cast("double")).as("s"))
      .head().getDouble(0)
    assert(!r.isNaN)
  }

  test("every headline bench query exists in the registry") {
    val missing = Bench.headline.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"headline names without queries: $missing")
  }

  test("headline queries run end-to-end on sf0.001") {
    // The bench lambdas themselves, one execution each at the smallest SF —
    // a compile-time-green but runtime-broken headline entry fails here, not
    // at artifact time. (Streaming replays and ML fits are exercised
    // elsewhere at this SF by their own specs; this loop is the bench's
    // contract that fn(spark, dir).count() cannot throw.)
    val failures = Bench.headline.flatMap { name =>
      try { SparkEntry.queries(name)(spark, sfDir).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("contract line fits the harness stdout tail window at worst case") {
    // The harness keeps only the LAST ~2000 chars of stdout and parses the
    // {"metric":...} line from that window; BENCH_r09 came back parsed:null
    // because extra per-query maps pushed the line to ~2.3 KB and the window
    // opened mid-line. Render the line exactly as Bench.main does, with every
    // headline query at a worst-case-width time and a nonempty isolated_failed
    // list, and hold it under budget with margin for the trailing sbt line.
    val worst = Bench.headline.map(_ -> 9999.999)
    val isoFailed = Bench.nameListField("isolated_failed", worst.take(3).map(_._1))
    val line = Bench.contractLine(329999.967, worst, isoFailed, 4, 0.139,
      "/root/testdata/sf0.1")
    assert(line.length <= 1900,
      s"contract line ${line.length} chars > 1900-char budget")
    assert(Bench.parseQueriesJson(line).size == Bench.headline.size)
  }

  test("a query that throws gets no time and is named as failed") {
    var boomCalls = 0
    val boom: (SparkSession, String) => DataFrame = { (_, _) =>
      boomCalls += 1
      sys.error("injected failure")
    }
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(10).toDF()
    val (timed, failed, profiles) = Bench.runAll(spark, sfDir,
      Seq("q_boom" -> boom, "q_ok" -> ok), reps = 2)
    assert(timed.map(_._1) == Seq("q_ok"), s"timed: $timed")
    assert(failed == Seq("q_boom"))
    assert(profiles.keySet == Set("q_ok") && profiles("q_ok").tasks > 0,
      s"profiles: $profiles")
    assert(boomCalls == 1, "a failed query must not be re-run")
    val line = Bench.contractLine(timed.map(_._2).sum, timed,
      Bench.nameListField("failed", failed), 4, 0.1, sfDir)
    assert(line.contains(""""failed":["q_boom"]"""), line)
    assert(Bench.parseQueriesJson(line).keySet == Set("q_ok"))
    assert(Bench.nameListField("failed", Nil) == "")
  }

  test("child-JSON parse round-trips a bench output line") {
    val line = """noise
{"metric":"total","value":1.234,"unit":"sec","queries":{"q1_agg":0.400,"q_wordcount":0.834},"sf":"/x"}
trailer"""
    val m = Bench.parseQueriesJson(line)
    assert(m == Map("q1_agg" -> 0.4, "q_wordcount" -> 0.834))
    assert(Bench.parseQueriesJson("no json here") == Map.empty)
  }

  test("cross-round bands are the per-query [min,max] envelope of BENCH_r*.json") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bands").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        body.getBytes("UTF-8"))
    write("BENCH_r01.json",
      """{"metric":"total","value":1.0,"unit":"sec","queries":{"q1_agg":0.400,"q_ewma":0.580},"sf":"/data/sf0.1"}""")
    write("BENCH_r02.json", // the driver's pretty-printed wrapper shape
      "{\n  \"n\": 2,\n  \"sf\": 0.1,\n  \"parsed\": {\n    \"queries\": {\n      \"q1_agg\": 0.300,\n      \"q_ewma\": 0.400\n    }\n  }\n}")
    write("BENCH_r03.json", "corrupted — contributes nothing")
    write("BENCH_r04.json", // WRONG scale factor — must not pollute the band
      """{"metric":"total","value":1.0,"unit":"sec","queries":{"q1_agg":99.0},"sf":"/data/sf0.01"}""")
    write("BENCH_r09_builder.json", // non-round artifact names are excluded
      """{"metric":"total","value":1.0,"unit":"sec","queries":{"q1_agg":88.0},"sf":"/data/sf0.1"}""")
    val bands = Bench.loadRoundBands(dir, sfDir = "/data/sf0.1")
    assert(bands("q1_agg") == ((0.3, 0.4)))
    assert(bands("q_ewma") == ((0.4, 0.58)))
    // an sf0.01 run sees ONLY the sf0.01 artifact's envelope
    val small = Bench.loadRoundBands(dir, sfDir = "/data/sf0.01")
    assert(small("q1_agg") == ((99.0, 99.0)) && !small.contains("q_ewma"))
  }

  test("bands window to the last 5 rounds, so a recent slow regression flags") {
    // r12 finding: the all-rounds envelope kept early 10-70×-slower rounds
    // in the band forever (q_triangles max 36.99 vs current 0.51), making a
    // genuine slow regression invisible. With the window, rounds older than
    // the last 5 at the same sf stop stretching the slow side.
    val dir = java.nio.file.Files.createTempDirectory("graft_bands_w").toFile
    def write(name: String, body: String): Unit =
      java.nio.file.Files.write(new java.io.File(dir, name).toPath,
        body.getBytes("UTF-8"))
    // round 1: the early slow epoch — 36.99 s
    write("BENCH_r01.json",
      """{"metric":"total","value":37.0,"unit":"sec","queries":{"q_tri":36.990},"sf":"/data/sf0.1"}""")
    // rounds 3..8: stabilized, 0.45-0.60 s
    for ((r, v) <- Seq(3 -> 0.60, 4 -> 0.55, 5 -> 0.45, 6 -> 0.50, 7 -> 0.52, 8 -> 0.51))
      write(f"BENCH_r$r%02d.json",
        s"""{"metric":"total","value":$v,"unit":"sec","queries":{"q_tri":$v},"sf":"/data/sf0.1"}""")
    // an off-sf round with a HIGHER number must not consume a window slot
    write("BENCH_r09.json",
      """{"metric":"total","value":9.0,"unit":"sec","queries":{"q_tri":9.0},"sf":"/data/sf0.01"}""")
    val bands = Bench.loadRoundBands(dir, sfDir = "/data/sf0.1")
    // window = rounds 4..8 → the r01 outlier AND r03 are out
    assert(bands("q_tri") == ((0.45, 0.55)), s"got ${bands("q_tri")}")
    // a 5× slow regression now flags (all-rounds envelope would swallow it)
    assert(Bench.flagOutOfBand(Seq("q_tri" -> 2.5), bands) == Seq("q_tri"))
    assert(Bench.flagOutOfBand(Seq("q_tri" -> 0.50), bands).isEmpty)
  }

  test("band anchor skips the wrapper's ESCAPED tail echo of the contract line") {
    // ADVICE r12: '\"queries\"' still contains the substring '"queries"';
    // if the tail echo precedes the parsed section, a first-occurrence
    // anchor lands in the echo and the round silently contributes no bands.
    val dir = java.nio.file.Files.createTempDirectory("graft_bands_e").toFile
    val body =
      "{\n  \"tail\": \"{\\\"metric\\\":\\\"total\\\",\\\"queries\\\":{\\\"q1_agg\\\":0.9}}\",\n" +
      "  \"sf\": 0.1,\n  \"parsed\": {\n    \"queries\": {\n      \"q1_agg\": 0.700\n    }\n  }\n}"
    java.nio.file.Files.write(new java.io.File(dir, "BENCH_r05.json").toPath,
      body.getBytes("UTF-8"))
    val bands = Bench.loadRoundBands(dir, sfDir = "/data/sf0.1")
    assert(bands("q1_agg") == ((0.7, 0.7)), s"anchor fell into the escaped echo: $bands")
  }
}
