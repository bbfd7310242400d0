package perfbench

import org.json4s.JsonAST.{JNull, JObject, JValue}
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

/** The harness's result line: raw measurements, no derived metrics
  * (`run.py` derives those). */
object Report {

  private def totals(t: LabelTotals, wallS: Option[Double], codegen: Int): JValue =
    ("wall_s" -> wallS.fold[JValue](JNull)(w => w)) ~ ("stages" -> t.stages) ~
      ("tasks" -> t.tasks) ~ ("cpu_s" -> t.cpuNs / 1e9) ~ ("slot_s" -> t.slotMs / 1e3) ~
      ("gc_s" -> t.gcMs / 1e3) ~ ("shuffle_mb" -> t.shuffleBytes / 1e6) ~
      ("spill_mb" -> t.spillBytes / 1e6) ~ ("output_mb" -> t.outputBytes / 1e6) ~
      ("codegen" -> codegen)

  def json(w: Workload, seed: Long, corpus: Corpus, genS: Double, call: Harness.Call,
           traced: Option[(Option[TracedRun], Map[String, LabelTotals], Map[String, Int])]): String = {
    val callJson =
      ("wall_s" -> call.wallS) ~ ("startup_s" -> call.startupS) ~ ("cpu_s" -> call.cpuS) ~
        ("peak_storage_mb" -> call.peakMb) ~ ("pairs" -> call.mainPairs) ~
        ("ok" -> call.check.isRight) ~ ("error" -> call.check.left.getOrElse("")) ~
        ("digest" -> call.check.getOrElse(""))
    val traceJson = traced.map { case (run, byLabel, codegen) =>
      val spans = run.toSeq.flatMap(_.tracer.spans)
      val empty = new LabelTotals
      val steps = spans.map(_.name).distinct.map(n => n -> totals(byLabel.getOrElse(n, empty),
        Some(run.get.tracer.wall(n)), codegen.getOrElse(n, 0)))
      ("spans" -> spans.map(s => ("name" -> s.name) ~ ("parent" -> s.parent) ~
        ("run_id" -> s.runId) ~ ("start_ns" -> s.startNs) ~ ("end_ns" -> s.endNs))) ~
        ("steps" -> JObject(steps.toList)) ~
        ("unlabelled" -> totals(byLabel.getOrElse("", empty), None, codegen.getOrElse("", 0))) ~
        ("codegen_total" -> codegen.values.sum) ~
        ("stats" -> JObject(run.toList.flatMap(_.stats.toList).map { case (k, v) => k -> (v: JValue) }))
    }
    compact(render(
      ("workload" -> w.name) ~ ("seed" -> seed) ~ ("docs" -> corpus.size) ~
        ("corpus_digest" -> corpus.digest) ~ ("planted_pairs" -> corpus.plantedPairs.length) ~
        ("gen_s" -> genS) ~ ("call" -> callJson) ~ ("trace" -> traceJson)))
  }
}
