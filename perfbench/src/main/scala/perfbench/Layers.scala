package perfbench

/** Per-layer metrics of one traced pass, from the span self times, the
  * task listener and the session listeners (see README.md for the list).
  */
object Layers {
  import Harness.Snap

  private val spanMetrics = Seq(
    "queries.call" -> "queries.call_s", "queries.action" -> "queries.action_s",
    "operators.call" -> "operators.call_s", "advisor.call" -> "advisor.call_s",
    "la.gram" -> "la.gram_s", "la.l2" -> "la.l2_s",
    "la.multiply" -> "la.multiply_s", "storage.create" -> "storage.create_s",
    "storage.append" -> "storage.append_s", "storage.swap" -> "storage.swap_s",
    "storage.scan" -> "storage.scan_s")

  private val kernels = Seq(
    "functions.shingle" -> "functions.shingle_rows_per_s",
    "functions.minhash" -> "functions.minhash_rows_per_s",
    "functions.dot" -> "functions.dot_rows_per_s")

  def forPass(ctx: Ctx, wall: Double, self: Map[String, Double], b: Snap,
      a: Snap, kernelRows: Map[String, Long]): Map[String, Double] = {
    val tagged = a.tagged.minus(b.tagged)
    val untagged = a.untagged.minus(b.untagged)
    val all = tagged.plus(untagged)
    val mb = 1048576.0
    val selfOf = self.withDefaultValue(0.0)
    val matmulS = selfOf("la.matmul")
    val base = Map(
      "spark.catalyst_s" -> (a.catalystMs - b.catalystMs) / 1000.0,
      "spark.jobs" -> (a.jobs - b.jobs).toDouble,
      "spark.stages" -> (a.stages - b.stages).toDouble,
      "spark.tasks" -> all.tasks.toDouble,
      "spark.task_cpu_s" -> all.cpuNs / 1e9,
      "spark.task_run_s" -> all.runMs / 1000.0,
      "spark.task_deser_s" -> all.deserMs / 1000.0,
      "spark.task_gc_s" -> all.gcMs / 1000.0,
      "spark.core_busy_frac" -> all.runMs / 1000.0 / (ctx.cores * wall),
      "spark.shuffle_write_mb" -> all.shuffleWrite / mb,
      "spark.shuffle_read_mb" -> all.shuffleRead / mb,
      "spark.result_mb" -> all.result / mb,
      "spark.task_failures" -> (a.failures - b.failures).toDouble,
      "spark.stage_retries" -> (a.retries - b.retries).toDouble,
      "spark.untagged_cpu_frac" ->
        (if (all.cpuNs > 0) untagged.cpuNs.toDouble / all.cpuNs else 0.0),
      "model.scan_mb" -> (a.scanBytes - b.scanBytes) / mb,
      "model.scan_rows" -> (a.scanRows - b.scanRows).toDouble,
      "model.scan_s" -> (a.scanMs - b.scanMs) / 1000.0,
      "la.matmul_gflops" ->
        (if (matmulS > 0) kernelRows.getOrElse("la.matmul", 0L) / matmulS / 1e9 else 0.0),
      "operators.cc_passes" -> ctx.gauges.getOrElse("operators.cc_passes", 0.0),
      "operators.prefilter_hit_ratio" -> ctx.gauges.getOrElse("operators.prefilter_hit_ratio", 0.0),
      "storage.bytes_per_user_byte" -> ctx.gauges.getOrElse("storage.bytes_per_user_byte", 0.0),
      "storage.files_per_set" -> ctx.gauges.getOrElse("storage.files_per_set", 0.0))
    base ++ spanMetrics.map { case (s, m) => m -> selfOf(s) } ++
      kernels.map { case (s, m) =>
        m -> (if (selfOf(s) > 0) kernelRows.getOrElse(s, 0L) / selfOf(s) else 0.0)
      }
  }

  /** None when per-tag plus untagged totals equal the stage totals for
    * tasks, CPU and shuffle bytes; otherwise what differs.
    */
  def conservation(b: Snap, a: Snap): Option[String] = {
    val attributed = a.tagged.minus(b.tagged).plus(a.untagged.minus(b.untagged)).conserved
    val global = a.stage.minus(b.stage).conserved
    if (attributed == global) None
    else Some(s"(tasks, cpu_ns, shuffle_bytes) attributed $attributed != stage totals $global")
  }
}
