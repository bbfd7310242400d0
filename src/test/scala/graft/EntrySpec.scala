package graft

/** Driver-contract smoke: entry() returns rows, every registry entry has a
  * runnable query, oracle keys are a subset of query keys with matching
  * column discipline, and every runnable main has a caller. */
class EntrySpec extends SparkSpec {

  /** Mains no spec or perfbench workload reaches, each with its reason. */
  private val uncalledMains = Map(
    "Explain" -> "writes PLANS.md, the plan evidence, when run by hand")

  private def sources(root: String, ext: Set[String]): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (ext.exists(f.getName.endsWith)) Seq(f) else Nil
    walk(new java.io.File(root))
  }
  private def read(f: java.io.File): String =
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")

  test("every main under graft/ is called from a spec or perfbench, or exempt") {
    // one chunk per top-level object, from its `object` line to the next
    val objectName = """object (\w+)""".r
    val mains = sources("src/main/scala/graft", Set(".scala"))
      .flatMap(f => read(f).split("(?m)^(?=object )").toSeq)
      .filter(_.contains("def main(args: Array[String])"))
      .flatMap(objectName.findPrefixMatchOf(_).map(_.group(1))).toSet
    assert(mains.contains("BillMatch") && mains.contains("Bench"), s"scan found $mains")
    assert(uncalledMains.keySet.subsetOf(mains),
      s"exempt names that are no main: ${uncalledMains.keySet -- mains}")
    val callers = (sources("src/test/scala", Set(".scala"))
        .filterNot(_.getName == "EntrySpec.scala") ++
      sources("perfbench", Set(".scala", ".py"))).map(read)
    val uncalled = mains.filter(m =>
      !callers.exists(s"\\b$m\\.\\w".r.findFirstIn(_).isDefined))
    assert(uncalled == uncalledMains.keySet,
      s"mains with no caller: ${uncalled -- uncalledMains.keySet}; exempt " +
        s"mains that have one now: ${uncalledMains -- uncalled}")
  }

  test("entry() runs on sf0.001 and returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle entries without queries: $missing")
  }

  test("registry has no name collisions across modules and is non-trivial") {
    val total = graft.queries.Relational.defs.size +
      graft.queries.TextQueries.defs.size +
      graft.queries.EventQueries.defs.size +
      graft.queries.VectorQueries.defs.size +
      graft.queries.MlQueries.defs.size +
      graft.queries.GraphQueries.defs.size +
      graft.queries.FunctionQueries.defs.size +
      graft.queries.PipelineQueries.defs.size +
      graft.queries.AnalyticsQueries.defs.size
    assert(SparkEntry.queries.size == total,
      "a module reused a query name — merged map lost entries")
    assert(SparkEntry.queries.size >= 60)
  }

  test("every streaming-replay query is flagged scopesSessionConf") {
    // replayToTable / withRocksDb scope session confs; Verify must never run
    // them inside its concurrent batch pool. Guard the flag, not the name.
    val unflagged = SparkEntry.defs.collect {
      case (name, qd) if name.contains("stream") && !qd.scopesSessionConf => name
    }
    assert(unflagged.isEmpty, s"stream queries missing .serial: $unflagged")
  }

  test("Verify.checksum is row-order independent, null-safe, float-blind") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "a", 0.5), (2L, null: String, 1.5), (3L, "c", 2.5))
      .toDF("id", "s", "x")
    val shuffled = df.orderBy(desc("id"))
    assert(Verify.checksum(df) == Verify.checksum(shuffled))
    // the double column is excluded: perturbing it must not change the sum
    val perturbed = df.withColumn("x", col("x") * 2.0)
    assert(Verify.checksum(df) == Verify.checksum(perturbed))
    // but a non-float value change must
    val valueChanged = df.withColumn("id", col("id") + 1L)
    assert(Verify.checksum(df) != Verify.checksum(valueChanged))
    // all-float output has nothing to pin
    assert(Verify.checksum(df.select("x")).isEmpty)
  }
}
