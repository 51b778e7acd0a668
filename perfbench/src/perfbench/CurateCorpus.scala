package perfbench

import org.apache.spark.sql.functions.col
import graft.jobs.CurateJob

/** Seeded synthetic corpus for CurateJob.
  *
  * Words are lower-case letters only (3-9 letters, drawn from a fixed
  * 4000-word vocabulary), so every document passes the encoding screen
  * and the Gopher gates and the scrub leaves it unchanged. Of the
  * documents:
  *   - `exactShare` are exact copies of a random original;
  *   - `nearShare` are near-duplicates: an original of at least 80 words
  *     with 2 words replaced, which keeps 3-shingle Jaccard similarity
  *     near 0.85, well above the 0.6 threshold; independent documents
  *     share almost no 3-shingles;
  *   - the rest are originals, 40-400 words, and `longShare` of them
  *     500-1200 words, so some span more than one 512-token chunk.
  * The expected CurateJob.Report follows from these counts.
  *
  * The first `Canary` documents come from a fixed seed, whatever the
  * workload seed; their curated rows are checked against a golden
  * checksum.
  */
object CorpusGen {
  val Canary = 60
  val CanarySeed = 7331L
  val exactShare = 0.10
  val nearShare = 0.10
  val longShare = 0.05
  val Window = 512
  val Overlap = 64

  private val vocab: Array[String] = {
    val r = new java.util.Random(99L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < 4000)
      seen += Seq.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar).mkString
    seen.toArray
  }

  final case class Doc(id: Long, text: String, source: String)

  /** `n` documents with ids from `firstId`, the number of distinct texts
    * (survivors of exact dedup), and the word counts of the distinct
    * originals: one survivor per near-dup cluster, and every member of a
    * cluster has its original's word count. */
  def docs(r: java.util.Random, n: Int, firstId: Long): (Seq[Doc], Int, Seq[Int]) = {
    val nExact = (n * exactShare).toInt
    val nNear = (n * nearShare).toInt
    val nOrig = n - nExact - nNear
    def words(k: Int) = Array.fill(k)(vocab(r.nextInt(vocab.length)))
    val originals = (0 until nOrig).map { _ =>
      words(if (r.nextDouble() < longShare) 500 + r.nextInt(701) else 40 + r.nextInt(361))
    }
    val long = originals.filter(_.length >= 80)
    val near = (0 until nNear).map { _ =>
      val w = long(r.nextInt(long.size)).clone()
      (0 until 2).foreach(_ => w(r.nextInt(w.length)) = vocab(r.nextInt(vocab.length)))
      w
    }
    val exact = (0 until nExact).map(_ => originals(r.nextInt(nOrig)))
    val texts = scala.util.Random.javaRandomToRandom(r).shuffle(
      (originals ++ near ++ exact).map(_.mkString(" ")))
    val all = texts.zipWithIndex.map { case (t, i) => Doc(firstId + i, t, s"src${r.nextInt(4)}") }
    val clusters = originals.map(_.mkString(" ")).distinct.map(_.count(_ == ' ') + 1)
    (all, texts.distinct.size, clusters)
  }

  final case class Corpus(docs: Seq[Doc], expected: CurateJob.Report)

  def corpus(seed: Long, n: Int): Corpus = {
    val (canary, cDistinct, cClusters) = docs(new java.util.Random(CanarySeed), Canary, 0L)
    val (seeded, sDistinct, sClusters) =
      docs(new java.util.Random(seed * 104729L + 17L), n, Canary.toLong)
    val all = canary ++ seeded
    val clusters = cClusters ++ sClusters
    val chunks = clusters.map(w => (w - 1).toLong / (Window - Overlap) + 1).sum
    val n0 = all.size.toLong
    Corpus(all, CurateJob.Report(n0, n0, n0, (cDistinct + sDistinct).toLong,
      clusters.size.toLong, clusters.size.toLong, chunks))
  }
}

/** CurateJob with its defaults over the seeded corpus. */
final class CurateCorpus extends Workload {
  val name = "curate_corpus"
  val Docs = 1500
  private var corpus: CorpusGen.Corpus = _
  private var source: java.nio.file.Path = _
  private var dest: java.nio.file.Path = _

  def prepare(ctx: Ctx): Unit = {
    corpus = CorpusGen.corpus(ctx.seed, Docs)
    source = ctx.freshDir("corpus")
    import ctx.spark.implicits._
    corpus.docs.map(d => (d.id, d.text, d.source)).toDF("doc_id", "text", "source")
      .repartition(ctx.cores).write.mode("overwrite").parquet(source.resolve("docs").toString)
  }

  def userBytes: Long = corpus.docs.map(_.text.length.toLong + 12).sum

  override def reset(ctx: Ctx, pass: Int): Unit = dest = ctx.freshDir(s"curate-pass$pass")
  override def cleanup(ctx: Ctx, pass: Int): Unit = Harness.deleteTree(dest.toFile)

  def pass(ctx: Ctx, ops: Ops): Unit =
    ops.op("curate", "curate") {
      CurateJob.run(ctx.spark, Map("source" -> source.resolve("docs").toString,
        "dest" -> dest.toString))
    } { report =>
      if (report != corpus.expected) Some(s"report $report, expected ${corpus.expected}")
      else {
        val canary = ctx.spark.read.parquet(dest.resolve("documents").toString)
          .filter(col("doc_id") < CorpusGen.Canary)
        ctx.goldens.check("curate_corpus/documents", Checksum.force(canary).toString)
      }
    }

  override def extra(recs: Seq[OpRec]): Map[String, (Double, String)] =
    Map("rows_per_s" -> (Harness.median(recs.map(r => corpus.docs.size / r.wallS)), "1/s"))

  def describe: Map[String, Any] = Map(
    "documents" -> corpus.docs.size, "canary_documents" -> CorpusGen.Canary,
    "exact_duplicate_share" -> CorpusGen.exactShare,
    "near_duplicate_share" -> CorpusGen.nearShare,
    "words" -> "40-400, long share 0.05 at 500-1200")
}
