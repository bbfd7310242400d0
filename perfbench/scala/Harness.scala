package perfbench

import java.io.{ByteArrayOutputStream, File, PrintStream, PrintWriter}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One call of a workload's main in a fresh JVM; `perfbench/run.py` starts
  * one or more of these per benchmark run and turns their reports into
  * metrics.
  *
  *   Harness <workload> <seed> <trace 0|1> <workDir> <corrupt 0|1>
  *
  * 1. the seeded corpus is generated and written; the written file must read
  *    back with the generator's digest;
  * 2. trace 0: the unchanged main is called once and timed, with task CPU,
  *    peak stored bytes and the start of its SparkContext from
  *    [[StepListener]]; the call's start-up is the time from the call until
  *    its session's context is up; trace 1: [[Traced]] runs the main's steps
  *    instead, one span each;
  * 3. the output is checked ([[Checks]]); a call that threw or failed its
  *    check is reported failed, and its time is not used. With corrupt 1 the
  *    output is corrupted before the check.
  *
  * The call is the first Spark work in the JVM: class loading, JIT
  * compilation and generated-code compilation are part of it, as they are
  * for every user who runs the main.
  *
  * stdout carries `PERFBENCH_READY` at start and one `PERFBENCH_RESULT <json>`
  * line at the end; the main's own stdout is captured. */
object Harness {
  final case class Call(wallS: Double, startupS: Option[Double], cpuS: Double, peakMb: Double,
                        mainPairs: Long, error: Option[String]) {
    var check: Either[String, String] = Left("not checked")
  }

  private def secondsSince(t0: Long) = (System.nanoTime() - t0) / 1e9

  /** Runs the main, capturing its stdout; a throw is recorded, never timed. */
  private def callMain(w: Workload, corpusDir: String, outDir: String): Call = {
    val buf = new ByteArrayOutputStream()
    val out = new PrintStream(buf, true, UTF_8)
    val saved = System.out
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val error = try {
      System.setOut(out)
      Console.withOut(out)(w.run(corpusDir, outDir))
      None
    } catch {
      case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
    } finally System.setOut(saved)
    val wall = secondsSince(t0)
    if (error.nonEmpty) stopLeftoverSession()
    val printed = new String(buf.toByteArray, UTF_8)
    System.err.print(printed)
    val pairs = "pairs=(\\d+)".r.findFirstMatchIn(printed).map(_.group(1).toLong).getOrElse(-1L)
    Call(wall, Probe.contextStartedMs.map(ms => (ms - t0Ms) / 1e3), Probe.all.cpuNs / 1e9,
      Probe.peakStoredBytes / 1e6, pairs, error)
  }

  private def stopLeftoverSession(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** `documents.parquet` in Tables.documents' schema, one file like the
    * repo's fixtures, written with the plain parquet writer so set-up needs no
    * Spark session of its own. */
  private lazy val documentsSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 doc_id;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |  optional binary source (STRING);
      |  optional int64 n_chars;
      |}""".stripMargin)

  private def documentsFile(dir: String) = new Path(s"$dir/documents.parquet/part-00000.parquet")

  private def writeCorpus(c: Corpus, dir: String): Unit = {
    Checks.deleteTree(new File(s"$dir/documents.parquet"))
    val factory = new SimpleGroupFactory(documentsSchema)
    val writer = ExampleParquetWriter.builder(documentsFile(dir))
      .withType(documentsSchema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try c.ids.indices.foreach { i =>
      writer.write(factory.newGroup().append("doc_id", c.ids(i)).append("text", c.texts(i))
        .append("lang", c.langs(i)).append("source", c.sources(i))
        .append("n_chars", c.texts(i).length.toLong))
    } finally writer.close()
  }

  private def readBackDigest(dir: String): String = {
    val reader = ParquetReader.builder(new GroupReadSupport(), documentsFile(dir)).build()
    val rows = mutable.ArrayBuffer.empty[(Long, String, String, String)]
    try Iterator.continually(reader.read()).takeWhile(_ != null).foreach { g =>
      val text = g.getString("text", 0)
      require(g.getLong("n_chars", 0) == text.length, "n_chars mismatch")
      rows += ((g.getLong("doc_id", 0), text, g.getString("lang", 0), g.getString("source", 0)))
    } finally reader.close()
    val byId = rows.sortBy(_._1)
    Corpus(byId.map(_._1).toArray, byId.map(_._2).toArray, byId.map(_._3).toArray,
      byId.map(_._4).toArray, Array.empty, Array.empty).digest
  }

  /** Planted pairs beside the corpus, for the traced run's recall; the
    * checks use the in-memory ground truth. */
  private def writeTruth(c: Corpus, dir: String): Unit = {
    new File(dir).mkdirs()
    val pw = new PrintWriter(new File(dir, "planted_pairs.tsv"), UTF_8)
    try c.plantedPairs.foreach { case (a, b) => pw.println(s"$a\t$b") } finally pw.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, traceS, work, corruptS) = args
    println("PERFBENCH_READY")
    System.out.flush()
    val w = Workloads(name)
    val seed = seedS.toLong
    val corpusDir = s"$work/corpus"
    val outDir = s"$work/out"

    // 1. the corpus
    val tg = System.nanoTime()
    val corpus = CorpusGen.generate(w.corpus, seed)
    writeCorpus(corpus, corpusDir)
    val back = readBackDigest(corpusDir)
    val expected = corpus.copy(plantedPairs = Array.empty, exactGroups = Array.empty).digest
    require(back == expected, s"written corpus reads back as $back, generated $expected")
    val genS = secondsSince(tg)
    writeTruth(corpus, s"$work/truth")

    // 2. the call
    val (call, traced) = if (traceS == "1") {
      CodegenCounter.install()
      System.err.println("PERFBENCH_TRACE_BEGIN")
      val res = try Right(Traced(w, corpusDir, outDir, s"$work/truth",
          s"${w.name}-$seed-${ProcessHandle.current().pid()}"))
        catch { case e: Throwable =>
          stopLeftoverSession(); Left(s"${e.getClass.getName}: ${e.getMessage}") }
      System.err.println("PERFBENCH_TRACE_END")
      (Call(res.map(_.wallSeconds).getOrElse(0.0), None, Probe.all.cpuNs / 1e9,
          Probe.peakStoredBytes / 1e6,
          res.toOption.map(_.stats.getOrElse("sims", -1.0).toLong).getOrElse(-1L),
          res.left.toOption),
        Some((res.toOption, Probe.byLabel, CodegenCounter.byStep)))
    } else (callMain(w, corpusDir, outDir), None)

    // 3. check
    call.check = call.error match {
      case Some(e) => Left(s"threw $e")
      case None =>
        val check = SparkSession.builder().master("local[1]").appName("perfbench-check").getOrCreate()
        try {
          if (corruptS == "1") Checks.corrupt(check, w, outDir)
          w.main match {
            case "BillMatch" => Checks.billMatch(check, outDir, corpus, call.mainPairs, Workloads.topK)
            case "CorpusBuild" =>
              Checks.corpusBuild(check, outDir, corpus, graft.CorpusBuild.Config().evalMod)
          }
        } finally check.stop()
    }

    println("PERFBENCH_RESULT " + Report.json(w, seed, corpus, genS, call, traced))
  }
}
