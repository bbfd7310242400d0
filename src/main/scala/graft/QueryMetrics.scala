package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What one measured query cost the engine: sums over every stage and task
  * that finished inside the measurement window, plus the three longest
  * stages as (name, tasks, seconds). Spill is memory + disk bytes. */
final case class QueryProfile(
    stages: Int = 0, tasks: Long = 0L, stageSec: Double = 0.0,
    cpuSec: Double = 0.0, runSec: Double = 0.0, gcMillis: Long = 0L,
    shuffleReadBytes: Long = 0L, shuffleWriteBytes: Long = 0L,
    spillBytes: Long = 0L, topStages: Seq[(String, Int, Double)] = Nil) {

  def json: String = {
    def mb(b: Long) = f"${b / 1e6}%.3f"
    val top = topStages.map { case (name, tasks, sec) =>
      val quoted = name.replace("\\", "\\\\").replace("\"", "\\\"")
      f"""["$quoted",$tasks,$sec%.3f]"""
    }.mkString("[", ",", "]")
    f"""{"stages":$stages,"tasks":$tasks,"stage_s":$stageSec%.3f,"cpu_s":$cpuSec%.3f,"run_s":$runSec%.3f,"gc_s":${gcMillis / 1e3}%.3f,"shuffle_read_mb":${mb(shuffleReadBytes)},"shuffle_write_mb":${mb(shuffleWriteBytes)},"spill_mb":${mb(spillBytes)},"top_stages":$top}"""
  }
}

/** The one per-query metrics listener of Bench. It keeps global sums
  * between [[reset]] and [[snapshot]], not per-job ones: Bench runs
  * queries one at a time, so the window holds exactly the jobs the query
  * started — streaming micro-batch jobs too, which run on the
  * stream thread under no job label. [[snapshot]] first drains the listener
  * bus, so every task of a finished job is counted. */
final class QueryMetrics private (sc: SparkContext) extends SparkListener {
  private var acc = QueryProfile()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    acc = acc.copy(tasks = acc.tasks + 1)
    if (m != null) acc = acc.copy(
      cpuSec = acc.cpuSec + m.executorCpuTime / 1e9,
      runSec = acc.runSec + m.executorRunTime / 1e3,
      gcMillis = acc.gcMillis + m.jvmGCTime,
      shuffleReadBytes = acc.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = acc.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      spillBytes = acc.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val sec = (for (t0 <- s.submissionTime; t1 <- s.completionTime)
      yield (t1 - t0) / 1e3).getOrElse(0.0)
    acc = acc.copy(stages = acc.stages + 1, stageSec = acc.stageSec + sec,
      topStages = (acc.topStages :+ ((s.name, s.numTasks, sec))).sortBy(-_._3).take(3))
  }

  def reset(): Unit = synchronized { acc = QueryProfile() }

  def snapshot(): QueryProfile = {
    org.apache.spark.sql.graft.bridge.drainListenerBus(sc)
    synchronized(acc)
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object QueryMetrics {
  def attach(spark: SparkSession): QueryMetrics = {
    val m = new QueryMetrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(m)
    m
  }
}
