package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark; perfbench/run.py starts it.
  *
  *   --root DIR --run-dir DIR --out FILE
  *   --workload lead_etl|catalog_mix|curate_corpus|all --seed N --seconds S --trace 0|1
  *   --mode selfcheck|record-goldens
  */
object Main {

  final case class Opts(root: Path, runDir: Path, out: Path, workload: String,
      seed: Long, seconds: Int, trace: Boolean, mode: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(Paths.get(m("root")), Paths.get(m("run-dir")), Paths.get(m("out")),
      m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "5").toInt, m.getOrElse("trace", "0") == "1",
      m.getOrElse("mode", "run"))
  }

  def session(cores: Int, runDir: Path): SparkSession = {
    val s = graft.GraftSession.tuned(SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workloads(root: Path): Map[String, () => Workload] = Map(
    "lead_etl" -> (() => new LeadEtl),
    "curate_corpus" -> (() => new CurateCorpus),
    "catalog_mix" -> (() => new CatalogMix(CatalogList.select(
      CatalogList.load(root.resolve("perfbench/catalog_mix.json")),
      graft.SparkEntry.queries.keys.toSeq))))

  def env(spark: SparkSession, cores: Int, o: Opts): Map[String, Any] = Map(
    "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
    "nproc" -> Runtime.getRuntime.availableProcessors, "N" -> cores,
    "heap_bytes" -> Runtime.getRuntime.maxMemory,
    "spark" -> spark.version,
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, o.runDir)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    try {
      val out = o.mode match {
        case "run" if o.workload == "all" => runAll(spark, cores, o, sessionS)
        case "run" => runWorkload(spark, cores, o, sessionS)
        case "selfcheck" => SelfCheck.run(spark, cores, o)
        case "record-goldens" => SelfCheck.recordGoldens(spark, cores, o)
      }
      Json.write(o.out, out)
    } finally spark.stop()
  }

  def ctx(spark: SparkSession, cores: Int, o: Opts, goldens: Goldens, seed: Long): Ctx =
    new Ctx(spark, cores, seed, o.root, o.runDir, goldens)

  def goldensFile(o: Opts): Path = o.root.resolve("perfbench/goldens.json")

  def runWorkload(spark: SparkSession, cores: Int, o: Opts, sessionS: Double): Map[String, Any] = {
    val wl = workloads(o.root)(o.workload)()
    val c = ctx(spark, cores, o, new Goldens(goldensFile(o), recording = false), o.seed)
    val res = Harness.run(c, wl, o.seconds, o.trace, sessionS)
    val failed = res.recs.count(_.error.nonEmpty)
    val lats = wl.samples(res.recs)
    // the result carries the metrics BENCHMARK.json lists; p90 has fewer
    // than ten samples beyond it, so it is reported but not gated
    val e2e: Map[String, (Double, String)] = Map(
      "setup_s" -> (res.setupS, "s"),
      "wall_s" -> (Harness.median(res.passes), "s"),
      "op_p50_s" -> (Harness.quantile(lats, 0.5), "s"))
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    val report = mutable.LinkedHashMap[String, Any](
      "env" -> env(spark, cores, o),
      "inputs" -> wl.describe,
      "setup_parts" -> res.setupParts,
      "passes" -> res.passes.size,
      "ops_per_pass" -> res.recs.size / res.passes.size,
      "failed_frac" -> failed.toDouble / res.recs.size,
      "temp_views_dropped" -> res.tempViewsDropped,
      "first_pass_ops_s" -> res.recs.filter(_.pass == 0).map(r => Seq(s"${r.kind}:${r.name}", r.wallS)),
      "op_samples" -> lats.size,
      "peak_heap_bytes" -> heap,
      "end_to_end" -> metrics(e2e ++ wl.extra(res.recs) +
        ("op_p90_s" -> (Harness.quantile(lats, 0.9), "s"))))
    val resultMetrics = if (!o.trace) e2e else {
      val layers = Layers.perWorkload(res, wl.userBytes, cores)
      report("per_layer") = metrics(layers)
      report("trace_file") = writeTrace(o, res).toString
      Layers.published.map(k => k -> layers(k)).toMap
    }
    report("jvm_s") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Map("report" -> report.toMap, "result" -> Map(
      "correct" -> (failed == 0), "attempted" -> res.recs.size, "failed" -> failed,
      "metrics" -> metrics(resultMetrics)))
  }

  /** The three workloads one after another in this JVM; metrics are
    * prefixed with the workload name. */
  def runAll(spark: SparkSession, cores: Int, o: Opts, sessionS: Double): Map[String, Any] = {
    val outs = Seq("lead_etl", "catalog_mix", "curate_corpus").zipWithIndex.map { case (w, i) =>
      w -> runWorkload(spark, cores, o.copy(workload = w), if (i == 0) sessionS else 0.0)
    }
    val results = outs.map { case (w, m) => w -> m("result").asInstanceOf[Map[String, Any]] }
    def total(k: String) = results.map(_._2(k).asInstanceOf[Int]).sum
    Map("report" -> outs.map { case (w, m) => w -> m("report") }.toMap,
      "result" -> Map(
        "correct" -> results.forall(_._2("correct") == true),
        "attempted" -> total("attempted"), "failed" -> total("failed"),
        "metrics" -> results.flatMap { case (w, r) =>
          r("metrics").asInstanceOf[Map[String, Any]].map { case (k, v) => s"$w.$k" -> v }
        }.toMap))
  }

  def metrics(m: Map[String, (Double, String)]): Map[String, Any] =
    scala.collection.immutable.TreeMap(m.toSeq: _*).map { case (k, (v, u)) =>
      k -> Map("value" -> v, "unit" -> u)
    }

  /** Spans (run -> operation -> job -> stage) and per-operation figures. */
  def writeTrace(o: Opts, res: Harness.Outcome): Path = {
    val ops = res.recs.zipWithIndex.map { case (r, i) =>
      Map("id" -> s"pb-$i", "pass" -> r.pass, "traced" -> r.traced, "kind" -> r.kind,
        "name" -> r.name, "wall_s" -> r.wallS, "parts" -> r.parts, "error" -> r.error,
        "layer" -> r.layer)
    }
    val t0 = res.recs.headOption.map(_.startMs).getOrElse(0L)
    val t1 = res.recs.lastOption.map(_.endMs).getOrElse(0L)
    val spans = Span("run", "run", o.workload, "", t0, t1) +:
      (res.recs.zipWithIndex.collect { case (r, i) if r.traced =>
        Span(s"pb-$i", "operation", s"${r.kind}:${r.name}", "run", r.startMs, r.endMs)
      } ++ res.spans)
    val file = o.root.resolve(".bench_build/traces")
      .resolve(s"${o.workload}-seed${o.seed}-${System.currentTimeMillis()}.json")
    Json.write(file, Map("operations" -> ops, "spans" -> spans.map(s => Map(
      "id" -> s.id, "kind" -> s.kind, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs))))
    file
  }
}
