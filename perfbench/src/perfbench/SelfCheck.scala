package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Maintenance modes of the benchmark.
  *
  * `selfcheck`: the generators are deterministic (same seed, identical
  * bytes; other seed, other bytes), and a traced pass yields the same
  * checksums as an untraced one, which also match the goldens.
  *
  * `record-goldens`: one pass of lead_etl and curate_corpus, and every
  * catalog query, recorded into perfbench/goldens.json. The same sweep
  * times each catalog query with `count()` and with the forced action
  * (the hidden-cost table of README.md) and flags any query whose
  * checksum differs between two runs.
  */
object SelfCheck {

  private def digest(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }

  def leadDigest(seed: Long): String = digest(LeadGen.Tables.iterator.flatMap(t =>
    LeadGen.rows(t, seed, 300).iterator.map(_.map(String.valueOf).mkString("\u0001"))))

  def corpusDigest(seed: Long): String =
    digest(CorpusGen.corpus(seed, 300).docs.iterator.map(d => s"${d.id}\u0001${d.text}\u0001${d.source}"))

  def run(spark: SparkSession, cores: Int, o: Main.Opts): Map[String, Any] = {
    val checks = mutable.LinkedHashMap.empty[String, Boolean]
    checks("lead_etl generator: same seed gives identical bytes") = leadDigest(1) == leadDigest(1)
    checks("lead_etl generator: another seed gives other bytes") = leadDigest(1) != leadDigest(2)
    checks("curate_corpus generator: same seed gives identical bytes") = corpusDigest(1) == corpusDigest(1)
    checks("curate_corpus generator: another seed gives other bytes") = corpusDigest(1) != corpusDigest(2)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    checks("catalog_mix order: same seed gives the same order") =
      CatalogMix.order(names, 1) == CatalogMix.order(names, 1)
    checks("catalog_mix order: another seed gives another order") =
      CatalogMix.order(names, 1) != CatalogMix.order(names, 2)

    val golden = new Goldens(Main.goldensFile(o), recording = false)
    for ((name, make) <- Main.workloads(o.root).toSeq.sortBy(_._1)) {
      val rec = new Goldens(Main.goldensFile(o), recording = true)
      val c = Main.ctx(spark, cores, o, rec, 1L)
      val wl = make()
      wl.prepare(c)
      wl.warm(c)
      val ops = new Ops(c, new Tracer(spark, o.runDir.toFile))
      def pass(p: Int, traced: Boolean): Map[String, String] = {
        rec.observed.clear()
        Harness.onePass(c, wl, ops, p, traced)
        rec.observed.toMap
      }
      val plain = pass(0, traced = false)
      val traced = pass(1, traced = true)
      checks(s"$name: every operation succeeds") = ops.recs.forall(_.error.isEmpty)
      checks(s"$name: traced and untraced checksums are identical") =
        plain.nonEmpty && plain == traced
      checks(s"$name: checksums match the goldens") =
        plain.forall { case (k, v) => golden.check(k, v).isEmpty }
    }
    checks.foreach { case (k, ok) => System.err.println(s"[selfcheck] ${if (ok) "PASS" else "FAIL"} $k") }
    Map("result" -> Map("ok" -> checks.values.forall(identity), "checks" -> checks.toMap))
  }

  def recordGoldens(spark: SparkSession, cores: Int, o: Main.Opts): Map[String, Any] = {
    val g = new Goldens(Main.goldensFile(o), recording = true)
    val c = Main.ctx(spark, cores, o, g, 1L)
    val ops = new Ops(c, new Tracer(spark, o.runDir.toFile))
    for (wl <- Seq(new LeadEtl, new CurateCorpus)) {
      wl.prepare(c)
      Harness.onePass(c, wl, ops, 0, traced = false)
    }
    val failedOps = ops.recs.filter(_.error.nonEmpty).map(r => s"${r.kind}:${r.name}")
    val catalog = new CatalogMix(Nil)
    catalog.prepare(c)
    val dir = o.runDir.resolve("catalog-data").toString
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    for ((q, build) <- graft.SparkEntry.queries.toSeq.sortBy(_._1)) {
      val row = scala.util.Try(CatalogMix.hiddenCost(spark, dir, q, build, reps = 2)) match {
        case scala.util.Success((countS, forcedS, first, last)) =>
          g.check(s"catalog_mix/$q", first)
          Map("query" -> q, "count_s" -> countS, "forced_s" -> forcedS,
            "ratio" -> forcedS / countS, "stable" -> (first == last))
        case scala.util.Failure(e) =>
          Map("query" -> q, "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(300))
      }
      System.err.println(s"[goldens] ${Json(row)}")
      rows += row
      Harness.dropTempViews(spark)
    }
    g.save()
    Json.write(o.root.resolve(".bench_build/hidden_cost.json"), rows.toSeq)
    Map("result" -> Map("ok" -> failedOps.isEmpty, "failed_ops" -> failedOps,
      "catalog_errors" -> rows.filter(_.contains("error")).map(_("query")),
      "catalog_unstable" -> rows.filter(_.get("stable").contains(false)).map(_("query"))))
  }
}
