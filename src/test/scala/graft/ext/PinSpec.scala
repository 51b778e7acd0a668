package graft.ext

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeReference}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** The pin handle's contract, on a session with AQE on: keyed pins
  * carry their real partitioning and ordering, `free()` is scoped to
  * its own blocks, and the graph operators built on it neither touch
  * session config nor leave blocks behind when they reject input.
  */
class PinSpec extends AnyFunSuite with BeforeAndAfterAll with AdaptiveSparkPlanHelper {

  lazy val spark: SparkSession = graft.GraftSession.local("pin-spec", cores = 4)
  override def afterAll(): Unit = spark.stop()

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd.id }.get

  private def edges(n: Long): DataFrame = spark.range(n)
    .select(pmod(xxhash64(col("id")), lit(5000L)).as("s"),
      pmod(xxhash64(col("id"), lit(7)), lit(5000L)).as("d"))

  // these run first: an earlier test's unreachable checkpoints could
  // be reclaimed by the ContextCleaner mid-check and shrink the set
  private def leavesNothing(call: => Any, message: String): Unit = {
    val before = persistent
    val err = intercept[IllegalArgumentException](call)
    assert(err.getMessage.contains(message))
    assert(persistent == before)
  }

  private def noEdges: DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long)].toDF("src", "dst")
  }

  test("pageRank: a rejected input frees every pin it took") {
    leavesNothing(Graph.pageRank(noEdges, "src", "dst", iters = 2), "no edges")
  }

  test("personalizedPageRank: a rejected seed set frees every pin it took") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val seeds = Seq(99L).toDF("id")
    leavesNothing(Graph.personalizedPageRank(e, "src", "dst", seeds, "id", iters = 2),
      "no seed appears in the graph")
  }

  test("hits: a rejected input frees every pin it took") {
    leavesNothing(Graph.hits(noEdges, "src", "dst", iters = 2), "no edges")
  }

  test("Pin.byKey: every row sits in partition pmod(hash(keys), n), sorted within it") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val pin = Pin.byKey(edges(200000L), col("s"))
    try {
      val n = pin.numPartitions
      assert(n > 1, "sizing rule gave a single partition — the check would be vacuous")
      val rel = pin.df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l }.get
      rel.outputPartitioning match {
        case HashPartitioning(Seq(a: AttributeReference), m) => assert(a.name == "s" && m == n)
        case other => fail(s"pinned relation reports $other")
      }
      assert(rel.outputOrdering.map(o => (o.child.asInstanceOf[AttributeReference].name,
        o.direction)) == Seq(("s", Ascending)))
      val misplaced = pin.df
        .filter(spark_partition_id() =!= pmod(hash(col("s")), lit(n))).count()
      assert(misplaced == 0L)
      val unsorted = pin.df.select(col("s")).rdd.mapPartitions { it =>
        val v = it.map(_.getLong(0)).toVector
        Iterator(v.zip(v.drop(1)).count { case (a, b) => a > b })
      }.sum()
      assert(unsorted == 0.0)
      assert(pin.df.count() == 200000L)
    } finally pin.free()
  }

  test("Pin.byKey: a same-key sort-merge join reads the pinned scan with no Exchange or Sort") {
    val pin = Pin.byKey(edges(200000L), col("s"))
    try {
      val state = spark.range(50000L).select(pmod(xxhash64(col("id")), lit(5000L)).as("s"),
        col("id").as("x"))
      val j = pin.df.join(state.hint("merge"), "s").groupBy(col("d")).agg(sum(col("x")))
      j.write.format("noop").mode("overwrite").save()
      val plan = j.queryExecution.executedPlan
      val smj = collect(plan) { case s: SortMergeJoinExec => s }
      assert(smj.size == 1, plan.treeString)
      def readsPin(p: SparkPlan): Boolean = find(p)(_.isInstanceOf[RDDScanExec]).isDefined
      val pinnedSide = smj.head.children.filter(readsPin)
      assert(pinnedSide.size == 1, plan.treeString)
      val between = collect(pinnedSide.head) {
        case e: ShuffleExchangeLike => e
        case s: SortExec => s
      }
      assert(between.isEmpty, plan.treeString)
    } finally pin.free()
  }

  test("free() drops only its own RDD while another caller checkpoints concurrently") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val others = Future {
      (1 to 12).map { i =>
        val df = spark.range(i * 1000L).toDF("v").localCheckpoint(eager = true)
        (df, i * 1000L)
      }
    }
    val freed = (1 to 12).map { i =>
      val pin = Pin(spark.range(i * 500L).toDF("v"), eager = true)
      val id = rddId(pin.df)
      assert(persistent.contains(id))
      pin.free()
      id
    }
    val kept = Await.result(others, 2.minutes)
    val live = persistent
    assert(freed.forall(id => !live.contains(id)))
    kept.foreach { case (df, n) =>
      assert(live.contains(rddId(df)))
      assert(df.count() == n)
    }
  }

  test("Graph.pageRank never flips spark.sql.adaptive.enabled") {
    val stop = new AtomicBoolean(false)
    @volatile var seen = Set.empty[String]
    val poller = new Thread(() => {
      while (!stop.get()) seen += spark.conf.get("spark.sql.adaptive.enabled")
    })
    poller.start()
    try {
      import spark.implicits._
      val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
      Graph.pageRank(e, "src", "dst", iters = 6).collect()
    } finally {
      stop.set(true)
      poller.join()
    }
    assert(seen == Set("true"))
  }

  test("two graph operators running concurrently on one session equal their serial results") {
    val e = edges(20000L).filter(col("s") < 300L && col("d") < 300L)
    def cc(): Set[Row] = Graph.connectedComponents(e, "s", "d").collect().toSet
    def pr(): Set[Row] = Graph.pageRank(e, "s", "d", iters = 6).collect().toSet
    val serial = (cc(), pr())
    implicit val ec: ExecutionContext = ExecutionContext.global
    val a = Future(cc())
    val b = Future(pr())
    assert((Await.result(a, 5.minutes), Await.result(b, 5.minutes)) == serial)
  }
}
