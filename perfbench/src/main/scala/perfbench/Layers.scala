package perfbench

import scala.collection.mutable

/**
 * Layer names (`<module>.<unit>`, modules as in the program's packages)
 * and the per-layer metric set a traced run reports. A layer a workload
 * does not run reports 0 for each of its metrics.
 */
object Layers {
  /** Runner stage directory -> layer. */
  val RunnerStages: Seq[(String, String)] = Seq(
    "paragraphs" -> "extract.paragraphs",
    "occurrences" -> "extract.occurrences",
    "redirect_closure" -> "modelbuild.redirect_closure",
    "resolved_occurrences" -> "modelbuild.resolved_occurrences",
    "surface_forms" -> "modelbuild.surface_forms",
    "resources" -> "modelbuild.resources",
    "candidates" -> "modelbuild.candidates",
    "token_types" -> "modelbuild.token_types",
    "entity_contexts" -> "modelbuild.entity_contexts",
    "sim_thresholds" -> "disambig.sim_thresholds",
    "annotations" -> "filter.annotations",
    "triples" -> "triples.triples")
  val Commit = "pipeline.commit"
  val Bucketed = "pipeline.bucketed"
  val Served: Seq[String] = Seq("spot.automaton", "spot.spots", "disambig.candidates",
    "disambig.doc_tokens", "disambig.scored", "filter.chain", "triples.mentions")
  val All: Seq[String] = RunnerStages.map(_._2) ++ Seq(Commit, Bucketed) ++ Served

  val SkewLayers = Seq("modelbuild.candidates", "modelbuild.entity_contexts",
    "disambig.sim_thresholds", "disambig.scored")

  /** Every per-layer metric name with its unit, in report order. */
  val Metrics: Seq[(String, String)] =
    All.flatMap(l => Seq(s"$l.wall_s" -> "s", s"$l.jobs" -> "count", s"$l.task_s" -> "s",
      s"$l.shuffle_mb" -> "MB", s"$l.rows" -> "rows")) ++
    SkewLayers.map(l => s"$l.skew" -> "ratio") ++
    Seq("all.jobs" -> "count", "all.task_s" -> "s", "all.spill_mb" -> "MB",
      "all.cpu_util" -> "ratio", "all.wall_s" -> "s", "all.attributed_jobs" -> "ratio",
      "all.attributed_task_s" -> "ratio", "all.trace_overhead_s" -> "s", "all.resume_s" -> "s",
      "spot.gate_pass_ratio" -> "ratio", "disambig.nil_ratio" -> "ratio",
      "filter.kept_ratio" -> "ratio")

  /**
   * Charges the program's jobs of one operation to layers and sums their
   * task metrics. `layerOf` returns None for a job no span covers; such
   * jobs lower the attributed shares.
   */
  def attribute(rec: Recorder, jobs: Seq[JobRec], layerOf: JobRec => Option[String],
                wallS: Double, cores: Int): mutable.Map[String, Double] = {
    val out = mutable.LinkedHashMap[String, Double]()
    val byLayer = jobs.groupBy(layerOf)
    for ((Some(layer), js) <- byLayer) {
      val ts = rec.tasksOf(js)
      out(s"$layer.jobs") = js.size.toDouble
      out(s"$layer.task_s") = ts.map(_.durationMs).sum / 1000.0
      out(s"$layer.shuffle_mb") = ts.map(_.shuffleWriteBytes).sum / 1e6
      if (SkewLayers.contains(layer)) out(s"$layer.skew") = skew(ts)
    }
    val allTasks = rec.tasksOf(jobs)
    val taskS = allTasks.map(_.durationMs).sum / 1000.0
    val attributedTaskS = byLayer.collect { case (Some(_), js) => rec.tasksOf(js) }
      .flatten.map(_.durationMs).sum / 1000.0
    out("all.jobs") = jobs.size.toDouble
    out("all.task_s") = taskS
    out("all.spill_mb") = allTasks.map(_.diskSpillBytes).sum / 1e6
    out("all.wall_s") = wallS
    out("all.cpu_util") = if (wallS > 0) taskS / (wallS * cores) else 0.0
    out("all.attributed_jobs") =
      if (jobs.isEmpty) 1.0 else jobs.count(j => layerOf(j).isDefined).toDouble / jobs.size
    out("all.attributed_task_s") = if (taskS > 0) attributedTaskS / taskS else 1.0
    out
  }

  /** Max over median task time of the layer's heaviest stage. */
  private def skew(ts: Seq[TaskRec]): Double =
    if (ts.isEmpty) 0.0
    else {
      val heaviest = ts.groupBy(_.stageId).values.maxBy(_.map(_.durationMs).sum)
      val d = heaviest.map(_.durationMs).sorted
      d.last.toDouble / math.max(1L, d(d.size / 2))
    }
}
