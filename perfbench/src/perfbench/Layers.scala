package perfbench

/** Per-layer figures of a traced run: summed over the operations of a
  * pass, then the median over passes.
  */
object Layers {
  /** The per-layer metrics BENCHMARK.json lists: those every workload has. */
  val published: Seq[String] = Seq(
    "driver.plan_s", "driver.gap_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_per_stage",
    "spark.stages_skipped", "spark.task_failures",
    "exec.run_s", "exec.cpu_s", "exec.busy_frac",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.spill_bytes",
    "io.input_bytes", "io.output_bytes", "io.output_files", "io.bytes_per_user_byte",
    "storage.peak_bytes", "storage.rdds_left")

  def unit(name: String): String = name match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_bytes") => "bytes"
    case "exec.busy_frac" | "io.bytes_per_user_byte" |
        "spark.tasks_per_stage" => "ratio"
    case _ => "count"
  }

  /** Where an operation's time went, for one pass. */
  def perPass(recs: Seq[OpRec], userBytes: Long, cores: Int): Map[String, Double] = {
    val sums = recs.flatMap(_.layer).groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    def s(k: String) = sums.getOrElse(k, 0.0)
    def kind(k: String) = recs.filter(_.kind == k).map(_.wallS).sum
    def part(p: String) = recs.flatMap(_.parts.get(p)).sum
    val wall = recs.map(_.wallS).sum
    sums ++ Map(
      "jobs.sync_s" -> kind("sync"), "jobs.ingest_s" -> kind("ingest"),
      "jobs.compact_s" -> kind("compact"), "jobs.curate_s" -> kind("curate"),
      "queries.build_s" -> part("build"), "queries.action_s" -> part("action"),
      "spark.tasks_per_stage" -> s("spark.tasks") / math.max(1.0, s("spark.stages")),
      "exec.busy_frac" -> s("exec.run_s") / (wall * cores),
      "io.bytes_per_user_byte" -> (s("io.input_bytes") + s("io.output_bytes")) / userBytes,
      "storage.peak_bytes" -> recs.flatMap(_.layer.get("storage.peak_bytes")).foldLeft(0.0)(math.max))
  }

  def perWorkload(res: Harness.Outcome, userBytes: Long, cores: Int): Map[String, (Double, String)] = {
    val passes = res.recs.groupBy(_.pass).values.map(perPass(_, userBytes, cores)).toSeq
    passes.flatMap(_.keys).distinct
      .map(k => k -> (Harness.median(passes.map(_.getOrElse(k, 0.0))), unit(k))).toMap
  }
}
