package perfbench

import java.sql.{Connection, DriverManager}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.etl.TableSchemas
import graft.jobs.{CompactJob, IngestJob, SyncJob}

/** Seeded source tables for the reference pipeline: every mapped source
  * column of `lead`, `lead_xref` and `lead_assignment` as a VARCHAR (the
  * names `TableSchemas.columnMappings` maps), plus an integer `PART_ID`
  * for the partitioned JDBC read.
  *
  * Values follow the target type of their column. A share of timestamps
  * and dates (`dirtyTs`) and of booleans (`dirtyBool`) is garbage the
  * cleansing rules null out. `CREATEDATE` is always clean, so every row
  * has a non-null incremental key (`coalesce(MODIFY_DATE, CREATE_DATE)`).
  * No date lies in the future, so no value depends on the wall clock.
  *
  * The first `Canary` rows of each table come from a fixed seed, whatever
  * the workload seed: their conformed output is checked against golden
  * checksums. The incremental cycles never touch them.
  */
object LeadGen {
  val Tables: Seq[String] = Seq("lead", "lead_xref", "lead_assignment")
  val Canary = 50
  val CanarySeed = 20240917L
  val dirtyTs = 0.1
  val dirtyBool = 0.1

  val mappings: Map[String, Seq[(String, String)]] = Map(
    "lead" -> TableSchemas.leadMappings,
    "lead_xref" -> TableSchemas.lead_xrefMappings,
    "lead_assignment" -> TableSchemas.lead_assignmentMappings)
  val keyColumn: Map[String, (String, String)] = Map(
    "lead" -> ("LEADGUID", "LEAD_GUID"),
    "lead_xref" -> ("LEADXREFGUID", "LEAD_XREF_GUID"),
    "lead_assignment" -> ("LEADASSIGNMENTGUID", "LEAD_ASSIGNMENT_GUID"))

  /** Source column names (upper case, as Derby stores them) and target types. */
  def columns(table: String): Seq[(String, DataType)] = {
    val schema = TableSchemas.schemas(table)
    mappings(table).map { case (src, dst) => src.toUpperCase -> schema(dst).dataType }
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Garbage = Array("N/A", "abc", "", "??", "none", "0", "TBD")
  private val Bools = Array("true", "false", "1", "0", "yes", "no", "t", "f", "TRUE", "No")
  private val Alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
  private val base = LocalDateTime.of(2019, 1, 1, 0, 0)

  private def ts(r: java.util.Random): String =
    base.plusSeconds((r.nextDouble() * 6 * 365 * 86400).toLong).format(tsFmt)

  private def value(r: java.util.Random, table: String, src: String, dt: DataType): String = {
    val target = mappings(table).find(_._1.toUpperCase == src).get._2
    dt match {
      case _ if src == "CREATEDATE" => ts(r)
      case TimestampType => if (r.nextDouble() < dirtyTs) Garbage(r.nextInt(Garbage.length)) else ts(r)
      case DateType =>
        if (r.nextDouble() < dirtyTs) Garbage(r.nextInt(Garbage.length)) else ts(r).take(10)
      case BooleanType =>
        if (r.nextDouble() < dirtyBool) "maybe" else Bools(r.nextInt(Bools.length))
      case _: DecimalType => (r.nextInt(999999999) + 1).toString
      case DoubleType => f"${r.nextInt(10000000) / 100.0}%.2f"
      case StringType if TableSchemas.jsonColumns(table).contains(target) =>
        s"""{"k": ${r.nextInt(1000)}, "tag": "t${r.nextInt(20)}"}"""
      case StringType if TableSchemas.booleanStringColumns.contains(target) =>
        if (r.nextDouble() < dirtyBool) "maybe" else Bools(r.nextInt(Bools.length))
      case _ =>
        if (r.nextDouble() < 0.05) null
        else Seq.fill(4 + r.nextInt(9))(Alnum(r.nextInt(Alnum.length))).mkString
    }
  }

  /** One source row; the key column holds `key`. */
  def row(r: java.util.Random, table: String, key: String): Array[String] =
    columns(table).map { case (src, dt) =>
      if (src == keyColumn(table)._1) key else value(r, table, src, dt)
    }.toArray

  /** All rows of one table for `seed`: canary rows, then `n` seeded rows. */
  def rows(table: String, seed: Long, n: Int): Seq[Array[String]] = {
    val c = new java.util.Random(CanarySeed + table.hashCode)
    val s = new java.util.Random(seed * 1000003L + table.hashCode)
    (0 until Canary).map(i => row(c, table, f"c-$i%05d")) ++
      (0 until n).map(i => row(s, table, f"s-$i%07d"))
  }
}

/** The reference pipeline end to end, writes beside reads:
  * SyncJob (Derby -> snapshot RAW zone, partitioned read) -> full
  * IngestJob (append, truncate) -> `Cycles` incremental cycles (touch a
  * seeded share of source rows and insert new ones, then SyncJob and
  * IngestJob --mode delta_insert) -> CompactJob over each staging table.
  */
final class LeadEtl extends Workload {
  val name = "lead_etl"
  val Rows = 1000
  val Cycles = 2
  val TouchFrac = 0.05
  val InsertFrac = 0.03

  private var url: String = _
  private var dbCount = 0
  private var sourceBytes = 0L
  private var passDir: java.nio.file.Path = _

  private def conn(): Connection = DriverManager.getConnection(url)
  private def ddl(t: String, name: String): String =
    s"""CREATE TABLE $name ("PART_ID" INTEGER, """ +
      LeadGen.columns(t).map { case (c, _) => s""""$c" VARCHAR(256)""" }.mkString(", ") + ")"
  private def insertSql(t: String, name: String): String =
    s"INSERT INTO $name VALUES (${Seq.fill(LeadGen.columns(t).size + 1)("?").mkString(", ")})"

  /** Loads the seeded rows into a fresh in-memory Derby database, into
    * `<table>_base`; each pass restores `<table>` from it. */
  def prepare(ctx: Ctx): Unit = {
    if (url != null) Harness.dropDerby(url)
    dbCount += 1
    url = s"jdbc:derby:memory:pb$dbCount"
    val c = DriverManager.getConnection(url + ";create=true")
    try {
      c.setAutoCommit(false)
      val st = c.createStatement()
      sourceBytes = 0L
      for (t <- LeadGen.Tables) {
        st.executeUpdate(ddl(t, s"${t}_base"))
        st.executeUpdate(ddl(t, t))
        val ps = c.prepareStatement(insertSql(t, s"${t}_base"))
        LeadGen.rows(t, ctx.seed, Rows).zipWithIndex.foreach { case (row, i) =>
          ps.setInt(1, i)
          row.zipWithIndex.foreach { case (v, j) =>
            ps.setString(j + 2, v)
            if (v != null) sourceBytes += v.length
          }
          ps.addBatch()
        }
        ps.executeBatch()
      }
      c.commit()
    } finally c.close()
  }

  def userBytes: Long = sourceBytes
  private def baseRows = LeadGen.Canary + Rows

  override def reset(ctx: Ctx, pass: Int): Unit = {
    val c = conn()
    try {
      val st = c.createStatement()
      for (t <- LeadGen.Tables) {
        st.executeUpdate(s"DELETE FROM $t")
        st.executeUpdate(s"INSERT INTO $t SELECT * FROM ${t}_base")
      }
    } finally c.close()
    passDir = ctx.freshDir(s"lead_etl-pass$pass")
  }

  override def cleanup(ctx: Ctx, pass: Int): Unit = Harness.deleteTree(passDir.toFile)

  /** The source system's change for cycle `k`: touches a seeded share of
    * the seeded rows (new MODIFYDATE = now) and inserts new rows. Returns
    * rows touched + inserted per table. */
  private def change(ctx: Ctx, k: Int): Map[String, Int] = {
    val now = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .format(LocalDateTime.ofInstant(Instant.now(), ZoneOffset.UTC))
    val c = conn()
    try {
      c.setAutoCommit(false)
      val out = LeadGen.Tables.map { t =>
        val r = new java.util.Random(ctx.seed * 7919L + k * 31L + t.hashCode)
        val touched = r.ints(LeadGen.Canary, baseRows).distinct()
          .limit((Rows * TouchFrac).toLong).toArray
        val up = c.prepareStatement(s"""UPDATE $t SET "MODIFYDATE" = ? WHERE "PART_ID" = ?""")
        touched.foreach { id => up.setString(1, now); up.setInt(2, id); up.addBatch() }
        up.executeBatch()
        val n = (Rows * InsertFrac).toInt
        val ins = c.prepareStatement(insertSql(t, t))
        val modify = LeadGen.columns(t).indexWhere(_._1 == "MODIFYDATE")
        (0 until n).foreach { i =>
          val row = LeadGen.row(r, t, f"n-$k-$i%05d")
          row(modify) = now
          ins.setInt(1, baseRows + k * n + i)
          row.zipWithIndex.foreach { case (v, j) => ins.setString(j + 2, v) }
          ins.addBatch()
        }
        ins.executeBatch()
        t -> (touched.length + n)
      }.toMap
      c.commit()
      out
    } finally c.close()
  }

  private def sync(ctx: Ctx, ops: Ops, label: String, expected: Map[String, Long]): Unit =
    ops.op("sync", label) {
      SyncJob.run(ctx.spark, Map("jdbc-url" -> url, "tables" -> LeadGen.Tables.mkString(","),
        "dest" -> passDir.resolve("raw").toString, "snapshot" -> "on",
        "partition-col" -> s"PART_ID:${ctx.cores}"))
    } { out =>
      val want = LeadGen.Tables.map(t => (t, expected(t), expected(t)))
      if (out == want) None else Some(s"sync counts $out, expected $want")
    }

  private def ingest(ctx: Ctx, ops: Ops, label: String, mode: Map[String, String],
      expected: Map[String, Long])(extraCheck: => Option[String]): Unit =
    ops.op("ingest", label) {
      IngestJob.run(ctx.spark, Map(
        "source-dir" -> passDir.resolve("raw").toString,
        "sink-dir" -> passDir.resolve("staging").toString,
        "watermark-dir" -> passDir.resolve("watermarks").toString,
        "tables" -> LeadGen.Tables.mkString(","), "snapshot" -> "on") ++ mode)
    } { out =>
      val got = out.map { case (t, r) => t -> r.rowsWritten }.toMap
      val want = expected.filter(_._2 > 0)
      if (got != want) Some(s"ingest rows $got, expected $want") else extraCheck
    }

  /** Golden checksum of the canary rows of a conformed table, without the
    * columns stamped from the wall clock. */
  private def canary(ctx: Ctx, key: String, dir: java.nio.file.Path, t: String): Option[String] = {
    val df = ctx.spark.read.parquet(dir.toString)
      .filter(col(LeadGen.keyColumn(t)._2).startsWith("c-"))
      .drop("ETL_CREATED_DATE", "ETL_LAST_UPDATE_DATE")
    ctx.goldens.check(key, Checksum.force(df).toString)
  }

  def pass(ctx: Ctx, ops: Ops): Unit = {
    val total = scala.collection.mutable.Map(LeadGen.Tables.map(_ -> baseRows.toLong): _*)
    val staged = scala.collection.mutable.Map(LeadGen.Tables.map(_ -> baseRows.toLong): _*)
    sync(ctx, ops, "full", total.toMap)
    ingest(ctx, ops, "full", Map("mode" -> "append", "truncate" -> "true"), total.toMap) {
      LeadGen.Tables.flatMap(t =>
        canary(ctx, s"lead_etl/full/$t", passDir.resolve("staging").resolve(t), t)).headOption
    }
    for (k <- 1 to Cycles) {
      val changed = change(ctx, k)
      val inserted = (Rows * InsertFrac).toInt
      LeadGen.Tables.foreach(t => total(t) += inserted)
      // The append-mode full load stamps no watermark, so the first
      // delta_insert cycle re-sends every row; later cycles send only the
      // rows touched or inserted since the previous cycle's watermark.
      val expected = LeadGen.Tables.map(t =>
        t -> (if (k == 1) total(t) else changed(t).toLong)).toMap
      sync(ctx, ops, s"cycle$k", total.toMap)
      ingest(ctx, ops, s"cycle$k", Map("mode" -> "delta_insert"), expected)(None)
      LeadGen.Tables.foreach(t => staged(t) += expected(t))
    }
    for (t <- LeadGen.Tables) {
      val staging = passDir.resolve("staging").resolve(t)
      val dest = passDir.resolve("compacted").resolve(t)
      ops.op("compact", t) {
        CompactJob.run(ctx.spark, Map("src" -> staging.toString, "dest" -> dest.toString))
      } { case (rows, _) =>
        if (rows != staged(t)) Some(s"compacted $rows rows, expected ${staged(t)}")
        else {
          val a = Checksum.force(ctx.spark.read.parquet(staging.toString))
          val b = Checksum.force(ctx.spark.read.parquet(dest.toString))
          if (a != b) Some(s"compaction changed content: $a -> $b")
          else canary(ctx, s"lead_etl/compact/$t", dest, t)
        }
      }
    }
  }

  override def extra(recs: Seq[OpRec]): Map[String, (Double, String)] = {
    val byPass = recs.groupBy(_.pass).values.toSeq
    def perPass(f: Seq[OpRec] => Double) = Harness.median(byPass.map(f))
    // cycle 1 re-sends every row (see pass), so the incremental figure
    // comes from the later cycles
    val cycles = byPass.flatMap(p => (2 to Cycles).map(k =>
      p.filter(_.name == s"cycle$k").map(_.wallS).sum))
    val rowsPerPass = LeadGen.Tables.size * (baseRows.toDouble + // full load
      (baseRows + Rows * InsertFrac).toInt + // cycle 1 re-sends all
      (Cycles - 1) * (Rows * TouchFrac + Rows * InsertFrac).toInt)
    Map(
      "full_load_s" -> (perPass(_.filter(_.name == "full").map(_.wallS).sum), "s"),
      "incr_cycle_s" -> (Harness.median(cycles), "s"),
      "compact_s" -> (perPass(_.filter(_.kind == "compact").map(_.wallS).sum), "s"),
      "rows_per_s" -> (Harness.median(byPass.map(p => rowsPerPass / p.map(_.wallS).sum)), "1/s"))
  }

  def describe: Map[String, Any] = Map(
    "source_rows_per_table" -> baseRows, "canary_rows_per_table" -> LeadGen.Canary,
    "dirty_timestamp_share" -> LeadGen.dirtyTs, "dirty_boolean_share" -> LeadGen.dirtyBool,
    "cycles" -> Cycles, "touch_share" -> TouchFrac, "insert_share" -> InsertFrac,
    "incr_cycle_s" -> "median over cycles 2.. (cycle 1 re-sends every row)")
}
