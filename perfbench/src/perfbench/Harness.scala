package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def write(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, apply(v).getBytes(UTF_8))
  }
}

/** Golden checksums recorded once from a known-good commit
  * (perfbench/goldens.json): `key -> "rows=.. xor=.. hi=.."`. In record
  * mode every observed checksum is kept instead of compared.
  */
final class Goldens(file: Path, val recording: Boolean) {
  private val expected: Map[String, String] =
    if (recording || !Files.exists(file)) Map.empty
    else {
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
        .readValue(file.toFile, classOf[java.util.Map[String, Object]])
      import scala.jdk.CollectionConverters._
      m.asScala.collect { case (k, v: String) => k -> v }.toMap
    }
  val observed = mutable.LinkedHashMap.empty[String, String]

  /** None when `got` matches the golden for `key`; else the mismatch. */
  def check(key: String, got: String): Option[String] = {
    observed(key) = got
    if (recording) None
    else expected.get(key) match {
      case Some(`got`) => None
      case Some(want) => Some(s"$key: got $got, golden $want")
      case None => Some(s"$key: no golden checksum recorded")
    }
  }

  def save(): Unit = {
    val body = observed.toSeq.sortBy(_._1)
      .map { case (k, v) => s"  ${Json.str(k)}: ${Json.str(v)}" }.mkString(",\n")
    Files.write(file, s"{\n$body\n}\n".getBytes(UTF_8))
  }
}

/** Everything a workload needs: the session, the seed and its directories. */
final class Ctx(val spark: SparkSession, val cores: Int, val seed: Long,
    val root: Path, val runDir: Path, val goldens: Goldens) {
  def bench(name: String): Path = root.resolve("perfbench").resolve(name)
  /** A fresh, empty directory under the run directory. */
  def freshDir(name: String): Path = {
    val d = runDir.resolve(name)
    Harness.deleteTree(d.toFile)
    Files.createDirectories(d)
  }
}

/** One timed call into the program. `parts` splits its time (for a
  * catalog query: builder vs. forced action); `layer` holds the traced
  * per-layer figures.
  */
final case class OpRec(pass: Int, traced: Boolean, kind: String, name: String,
    wallS: Double, parts: Map[String, Double], error: Option[String],
    layer: Map[String, Double], startMs: Long, endMs: Long)

/** Runs operations one after another (closed loop, one client thread),
  * tags each with its own job group, times it, and checks its output.
  */
final class Ops(ctx: Ctx, val tracer: Tracer) {
  val recs = mutable.ArrayBuffer.empty[OpRec]
  var pass = 0
  var traced = false
  private var parts = mutable.Map.empty[String, Double]

  /** Times a part of the current operation. */
  def part[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally parts(name) = parts.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Runs `body` as one operation. `check` runs after the timer stops and
    * returns the reason when the output is wrong. An exception or a wrong
    * output counts the operation as failed.
    */
  def op[T](kind: String, name: String)(body: => T)(check: T => Option[String]): Option[T] = {
    val sc = ctx.spark.sparkContext
    val id = s"pb-${recs.size}"
    parts = mutable.Map.empty
    val before = if (traced) Some(tracer.begin(id)) else None
    sc.setJobGroup(id, s"$kind:$name", interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = Try(body)
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    val layer = before.map(b => tracer.end(id, b, endMs)).getOrElse(Map.empty)
    val error = res match {
      case Failure(e) => Some(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Success(v) => Try(check(v)) match {
        case Success(r) => r
        case Failure(e) => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    error.foreach(e => System.err.println(s"[perfbench] FAILED $kind $name: ${e.take(2000)}"))
    recs += OpRec(pass, traced, kind, name, wall, parts.toMap, error, layer, startMs, endMs)
    if (error.isEmpty) res.toOption else None
  }
}

/** A workload: inputs made from the seed, then passes of timed operations. */
trait Workload {
  def name: String
  /** Generates the inputs; runs several times during set-up. */
  def prepare(ctx: Ctx): Unit
  /** Untimed warm-up after the inputs exist. */
  def warm(ctx: Ctx): Unit = ()
  /** Untimed state reset before each pass. */
  def reset(ctx: Ctx, pass: Int): Unit = ()
  /** One pass of timed operations. */
  def pass(ctx: Ctx, ops: Ops): Unit
  /** Untimed clean-up after each pass. */
  def cleanup(ctx: Ctx, pass: Int): Unit = ()
  /** Bytes of the workload's source data (denominator of io.bytes_per_user_byte). */
  def userBytes: Long
  /** The latency samples behind op_p50_s / op_p90_s. */
  def samples(recs: Seq[OpRec]): Seq[Double] = recs.map(_.wallS)
  /** Workload-specific end-to-end figures: name -> (value, unit). */
  def extra(recs: Seq[OpRec]): Map[String, (Double, String)] = Map.empty
  /** Lines describing the inputs, for the report. */
  def describe: Map[String, Any]
}

object Harness {
  val SetupReps = 3

  /** Drops an in-memory Derby database (Derby signals success with an exception). */
  def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: java.sql.SQLException => () }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Drops the temp views a pass left behind; returns how many. */
  def dropTempViews(spark: SparkSession): Int = {
    val views = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    views.foreach(spark.catalog.dropTempView)
    views.length
  }

  final case class Outcome(setupS: Double, setupParts: Map[String, Any], passes: Seq[Double],
      recs: Seq[OpRec], tempViewsDropped: Int, spans: Seq[Span])

  /** Set-up (timed, inputs generated several times), then passes until
    * `seconds` have gone by. A pass's wall time is the sum of its
    * operations' times: untimed source changes, checks and listener
    * drains between operations are left out. With `trace`, every pass is
    * traced; the tracing overhead is a traced run's wall_s over an
    * untraced run's.
    */
  def run(ctx: Ctx, wl: Workload, seconds: Int, trace: Boolean, sessionS: Double): Outcome = {
    val gens = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime(); wl.prepare(ctx); (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    wl.warm(ctx)
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + median(gens) + warmS

    val ops = new Ops(ctx, new Tracer(ctx.spark, ctx.runDir.toFile))
    val passes = mutable.ArrayBuffer.empty[Double]
    var dropped = 0
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (passes.isEmpty || System.nanoTime() < deadline) {
      val (wall, views) = onePass(ctx, wl, ops, passes.size, trace)
      passes += wall
      dropped += views
    }
    Outcome(setupS, Map("session_s" -> sessionS, "generate_s" -> gens, "warm_s" -> warmS),
      passes.toSeq, ops.recs.toSeq, dropped, ops.tracer.listener.spans.toSeq)
  }

  /** Pass `p` with its untimed reset and clean-up; returns its wall time
    * and the number of temp views it left behind. */
  def onePass(ctx: Ctx, wl: Workload, ops: Ops, p: Int, traced: Boolean): (Double, Int) = {
    ops.pass = p
    ops.traced = traced
    wl.reset(ctx, p)
    if (traced) ops.tracer.attach()
    val first = ops.recs.size
    wl.pass(ctx, ops)
    if (traced) ops.tracer.detach()
    val views = dropTempViews(ctx.spark)
    wl.cleanup(ctx, p)
    (ops.recs.drop(first).map(_.wallS).sum, views)
  }
}
