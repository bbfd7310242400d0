package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Base for all engine specs: one shared local session across suites (sbt
  * forks a single test JVM; getOrCreate dedups), UTC, AQE on — identical
  * configs to Verify/Bench via [[GraftSession]].
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Smallest driver-generated dataset; specs that read real tables use it. */
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `body` with the session conf `kvs` set, then restores it. */
  def withConf(kvs: Seq[(String, String)])(body: => Unit): Unit = {
    val conf = spark.conf
    val before = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try body finally before.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** `body` over `df` written to and read back from a temporary parquet
    * directory: a scan, not a local Seq, whose projections the optimizer
    * would fold through the interpreted path. */
  def asScan(df: DataFrame)(body: DataFrame => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("spark-spec-scan").toString
    try {
      df.write.mode("overwrite").parquet(dir)
      body(spark.read.parquet(dir))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.local(4)

  /** Generated code only: a kernel that cannot compile fails, no fallback. */
  val codegenOnly = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false", "spark.sql.codegen.wholeStage" -> "true")
  /** Interpreted evaluation only. */
  val noCodegen = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    "spark.sql.codegen.wholeStage" -> "false")
}
