package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** The catalog queries of `catalog_mix`, chosen by a fixed rule
  * (perfbench/catalog_mix.json), never by how they perform. Each group is
  * thinned to every `stride`-th query in name order, to fit a run:
  *   - `iterative`: the iterative graph and ML queries, by number;
  *   - `storage`: the storage-lifecycle queries in a number range;
  *   - `rest`: the remaining queries.
  */
object CatalogList {
  final case class Spec(iterative: Seq[Int], iterativeStride: Int, storageFrom: Int,
      storageTo: Int, storageStride: Int, restStride: Int)

  def load(file: Path): Spec = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper().readTree(file.toFile)
    Spec(m.get("iterative").get("queries").elements().asScala.map(_.asInt).toSeq,
      m.get("iterative").get("stride").asInt, m.get("storage").get("from").asInt,
      m.get("storage").get("to").asInt, m.get("storage").get("stride").asInt,
      m.get("rest").get("stride").asInt)
  }

  def number(q: String): Int = q.drop(1).takeWhile(_.isDigit).toInt

  private def every[T](xs: Seq[T], k: Int): Seq[T] =
    xs.zipWithIndex.collect { case (x, i) if i % k == 0 => x }

  /** (group, query), in name order within each group. */
  def select(spec: Spec, names: Seq[String]): Seq[(String, String)] = {
    val sorted = names.sorted
    val iterative = sorted.filter(q => spec.iterative.contains(number(q)))
    val storage = sorted.filter(q => number(q) >= spec.storageFrom && number(q) <= spec.storageTo)
    val rest = sorted.filterNot(q => iterative.contains(q) || storage.contains(q))
    every(iterative, spec.iterativeStride).map("iterative" -> _) ++
      every(storage, spec.storageStride).map("storage" -> _) ++
      every(rest, spec.restStride).map("rest" -> _)
  }
}

/** The analyst path: each selected catalog query twice per pass, in an
  * order drawn from the seed, over the vendored sf0.001 tables. A query
  * operation is its builder call plus one forced-output action.
  */
final class CatalogMix(names: Seq[(String, String)]) extends Workload {
  val name = "catalog_mix"
  private val builders = SparkEntry.queries
  private var dataDir: Path = _
  private var order: Seq[String] = Nil

  def prepare(ctx: Ctx): Unit = {
    dataDir = ctx.freshDir("catalog-data")
    val src = ctx.bench("data/catalog")
    Files.list(src).iterator().asScala.foreach(f => Files.copy(f, dataDir.resolve(f.getFileName)))
    order = CatalogMix.order(names.map(_._2), ctx.seed)
  }

  /** The first iterative and the first storage query, once: most of the
    * class loading and JIT a fresh JVM pays on its first queries lands in
    * set-up, not on whichever query the seeded order puts first. */
  override def warm(ctx: Ctx): Unit =
    Seq("iterative", "storage").flatMap(g => names.find(_._1 == g)).foreach { case (_, q) =>
      Checksum.force(builders(q)(ctx.spark, dataDir.toString))
    }

  def userBytes: Long =
    Files.list(dataDir).iterator().asScala.map(Files.size).sum

  def pass(ctx: Ctx, ops: Ops): Unit = order.foreach { q =>
    ops.op("query", q) {
      val df = ops.part("build")(builders(q)(ctx.spark, dataDir.toString))
      ops.part("action")(Checksum.force(df))
    } { sum => ctx.goldens.check(s"catalog_mix/$q", sum.toString) }
  }

  /** Per-query latency: the better of the query's two runs in a pass.
    * The first run of a query in a fresh JVM also pays class loading
    * and JIT, and which query pays most of that depends on the seeded
    * order; the better run does not. */
  override def samples(recs: Seq[OpRec]): Seq[Double] =
    recs.groupBy(r => (r.pass, r.name)).values.map(_.map(_.wallS).min).toSeq

  def describe: Map[String, Any] = Map(
    "data" -> "perfbench/data/catalog (copy of the sf0.001 test tables)",
    "queries" -> names.groupBy(_._1).map { case (g, qs) => g -> qs.map(_._2) },
    "samples_per_pass" -> order.size,
    "order_head" -> order.take(6))
}

object CatalogMix {
  /** Every query twice: two rounds, each in an order drawn from the seed. */
  def order(qs: Seq[String], seed: Long): Seq[String] = {
    val r = new scala.util.Random(seed)
    r.shuffle(qs) ++ r.shuffle(qs)
  }

  /** For the hidden-cost table: the builder plus `count()` vs. plus the
    * forced action, best of `reps` each after one forced warm-up run.
    * Returns both times and the checksums of the first and last forced run. */
  def hiddenCost(spark: SparkSession, dir: String, q: String,
      build: (SparkSession, String) => DataFrame, reps: Int): (Double, Double, String, String) = {
    def time[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
    }
    val first = Checksum.force(build(spark, dir)).toString
    val count = (1 to reps).map(_ => time(build(spark, dir).count())._1).min
    val forced = (1 to reps).map(_ => time(Checksum.force(build(spark, dir))))
    (count, forced.map(_._1).min, first, forced.last._2.toString)
  }
}
