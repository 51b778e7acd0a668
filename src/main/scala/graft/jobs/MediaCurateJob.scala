package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.multimodal.Media
import graft.ext.{Graph, Pin}

/** End-to-end MULTIMODAL curation: the media twin of [[CurateJob]],
  * composing the oracle-checked decode / QA / perceptual-dedup
  * operators into one job over a mixed (media_id, kind, payload)
  * corpus:
  *
  *   1. decode screen — REAL parsers ([[graft.multimodal.Media.imageDecode]]:
  *      raw PNM via [[graft.functions.PnmDecode]] plus PNG/JPEG/BMP/GIF
  *      via the JDK-builtin [[graft.functions.ImageIoDecode]];
  *      [[graft.functions.WavDecode]] for RIFF/WAVE PCM audio);
  *      undecodable payloads drop here (decode failure is data, the
  *      q243/q253 contract);
  *   2. QA gates — images: minimum dimensions (thumbnails and
  *      stub-sized assets carry no training signal); audio: minimum
  *      duration and maximum rail-pinned clip share (q253's screen,
  *      the same integer formulas as the streaming admission gate);
  *      video: minimum frame count and mean-luma exposure band
  *      (q269's screen / the streaming video gate's verdicts);
  *   3. perceptual near-dup — dHash over the 8×8 luma grid (images,
  *      q243) / 64-window amplitude envelope (audio, q254) /
  *      key-frame grid (video, q270), pigeonhole Hamming bucketing,
  *      pair graph → connected components → the LOWEST media_id of
  *      each component survives (the q64 canonical-survivor rule);
  *   4. outputs — survivors with kind + per-item stats under
  *      `dest/media/<kind>`, and a per-(kind, stage) count summary
  *      under `dest/reports/media_summary` (the monotone-count
  *      evidence a re-run diffs against).
  *
  * Usage (all thresholds optional):
  *   --source DIR --dest DIR [--format parquet]
  *   [--min-dim 8] [--min-duration-ms 10] [--max-clip-ppm 200000]
  *   [--min-frames 2] [--min-luma 16] [--max-luma 240] [--every 2]
  *   [--max-hamming 4]
  *
  * Scale posture: every stage is an already-proven catalog operator —
  * scan-stage decodes, fingerprint-sized shuffles, keyed chunk joins,
  * label-propagation components with pinned edge relations. The job
  * adds only composition and localCheckpoint fences between stages.
  */
object MediaCurateJob {

  final case class Report(
      input: Long, decodable: Long, afterQa: Long, afterNearDup: Long,
      images: Long, audio: Long, videos: Long)

  def run(spark: SparkSession, conf: Map[String, String]): Report = {
    // every checkpoint the run takes, or reads through an operator's
    // result, is consumed before the Report's counts exist: free them
    // here instead of waiting for a driver GC
    val owned = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try curate(spark, conf, owned) finally owned.foreach(Pin.freeBehind)
  }

  private def curate(spark: SparkSession, conf: Map[String, String],
      owned: scala.collection.mutable.Buffer[DataFrame]): Report = {
    val source = conf("source")
    val dest = conf("dest")
    val fmt = JobArgs.checkFormat(conf.getOrElse("format", "parquet"))
    val minDim = conf.getOrElse("min-dim", "8").toInt
    val minDurationMs = conf.getOrElse("min-duration-ms", "10").toLong
    val maxClipPpm = conf.getOrElse("max-clip-ppm", "200000").toLong
    val maxHamming = conf.getOrElse("max-hamming", "4").toInt
    val minFrames = conf.getOrElse("min-frames", "2").toInt
    val minLuma = conf.getOrElse("min-luma", "16").toLong
    val maxLuma = conf.getOrElse("max-luma", "240").toLong
    val every = conf.getOrElse("every", "2").toInt

    val media = spark.read.parquet(source)
      .select(col("media_id").cast("long").as("media_id"),
        col("kind").cast("string").as("kind"),
        col("payload").cast("binary").as("payload"))
    // ONE scan yields input + per-kind counts (the former
    // media.count() / img.count() / aud.count() trio re-read the
    // source parquet three times)
    val kindCounts = media.groupBy(col("kind")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val input = kindCounts.valuesIterator.sum
    val nImg = kindCounts.getOrElse("image", 0L)
    val nAud = kindCounts.getOrElse("audio", 0L)
    val nVid = kindCounts.getOrElse("video", 0L)
    val img = media.filter(col("kind") === "image")
    val aud = media.filter(col("kind") === "audio")
    val vid = media.filter(col("kind") === "video")

    // 1. decode screen + per-item stats. Container-agnostic: raw PNM
    //    through the byte-exact parser, PNG/JPEG/BMP/GIF through the
    //    JDK-builtin ImageIO readers (Media.imageDecode). Pinned: each
    //    stats relation feeds the QA gate, the survivor join, and the
    //    final write (multi-consumer — the q218 lesson).
    val imgStats = img
      .select(col("media_id"), Media.imageDecode(col("payload")).as("__p"))
      .filter(col("__p").isNotNull)
      .select(col("media_id"), col("__p.fmt").as("fmt"),
        col("__p.width").as("width"), col("__p.height").as("height"))
      .localCheckpoint()
    owned += imgStats
    val audStats = Media.audioStats(aud, "media_id", "payload")
      .withColumn("clip_ppm",
        when(col("n_samples") > 0L, expr("clip_count * 1000000L div n_samples"))
          .otherwise(lit(0L)))
      .localCheckpoint()
    owned += audStats
    val vidStats = vid
      .select(col("media_id"),
        // container-agnostic: AVI DIB/MJPG and Motion-JPEG MP4 all
        // pass the DECODE screen; H.264-class MP4s fall through to the
        // metadata-triage rail below
        graft.multimodal.Media.videoFrames(col("payload"), every).as("__v"))
      .filter(col("__v").isNotNull)
      .select(col("media_id"),
        col("__v.width").as("width"), col("__v.height").as("height"),
        col("__v.n_frames").cast("long").as("n_frames"),
        // mean of per-frame floor-mean luma — the videoAdmissionGate
        // formula, so the job's gate and the stream's agree clip-for-clip
        expr("aggregate(__v.frames, 0L, (a, f) -> a + " +
          "aggregate(f.gray, 0L, (b, x) -> b + x) div size(f.gray)) " +
          "div size(__v.frames)").as("mean_luma"))
      .localCheckpoint()
    owned += vidStats
    // each stage count computed ONCE into a local val and reused by
    // both the Report and the summary rows below
    val nImgStats = imgStats.count()
    val nAudStats = audStats.count()
    val nVidStats = vidStats.count()
    val decodable = nImgStats + nAudStats + nVidStats

    // 2. QA gates
    val imgOk = imgStats.filter(col("width") >= minDim && col("height") >= minDim)
    val audOk = audStats.filter(col("duration_ms") >= minDurationMs &&
      col("clip_ppm") <= maxClipPpm)
    val vidOk = vidStats.filter(col("n_frames") >= minFrames &&
      col("mean_luma") >= minLuma && col("mean_luma") <= maxLuma)
    val nImgOk = imgOk.count()
    val nAudOk = audOk.count()
    val nVidOk = vidOk.count()
    val afterQa = nImgOk + nAudOk + nVidOk

    // 3. perceptual near-dup among QA survivors; lowest id per
    //    component survives. Components only see ids that appear in a
    //    pair, so singletons pass through the anti-join untouched.
    def dropDupes(kept: DataFrame, pairs: DataFrame): DataFrame = {
      val comp = Graph.connectedComponents(pairs, "id_a", "id_b")
      owned += comp
      val losers = comp.filter(col("id") =!= col("comp"))
        .select(col("id").as("media_id"))
      kept.join(losers, Seq("media_id"), "left_anti")
    }
    val imgKeptMedia = img.join(imgOk.select("media_id"), Seq("media_id"))
    val audKeptMedia = aud.join(audOk.select("media_id"), Seq("media_id"))
    val vidKeptMedia = vid.join(vidOk.select("media_id"), Seq("media_id"))
    val imgFinal = dropDupes(imgOk,
      Media.imagePhashPairs(imgKeptMedia, "media_id", "payload", maxHamming))
    val audFinal = dropDupes(audOk,
      Media.audioNeardupPairs(audKeptMedia, "media_id", "payload", maxHamming))
    val vidFinal = dropDupes(vidOk,
      Media.videoKeyframeNeardupPairs(vidKeptMedia, "media_id", "payload",
        every, maxHamming))
    val images = imgFinal.count()
    val audio = audFinal.count()
    val videos = vidFinal.count()

    // 4. outputs: survivors with their stats, one directory per kind,
    //    plus the per-(kind, stage) summary
    imgFinal.write.mode("overwrite").format(fmt).save(s"$dest/media/image")
    audFinal.write.mode("overwrite").format(fmt).save(s"$dest/media/audio")
    vidFinal.write.mode("overwrite").format(fmt).save(s"$dest/media/video")

    // 3b. container triage for the videos the DECODER cannot open
    //     (H.264-class compressed codecs — no JVM decoder exists):
    //     instead of dropping them at the decode screen, admit by
    //     container METADATA (q276): AviProbe's codec/geometry/frame
    //     census, a frame-count QA gate (no luma is available without
    //     decoding — the exposure gate honestly does not apply), and
    //     EXACT duplicate removal by container fingerprint (codec +
    //     geometry + frame-size sequence; re-encodes are near-dup
    //     territory and stay out of scope until a decoder exists).
    //     Kept separate from the decoded survivors — downstream
    //     consumers must be able to tell pixel-verified assets from
    //     metadata-admitted ones.
    val vidMeta = Media.videoContainerStats(vid, "media_id", "payload")
      .join(vidStats.select("media_id"), Seq("media_id"), "left_anti")
      .localCheckpoint() // feeds gate, dedup, write, and 3 counters
    owned += vidMeta
    val nVidMeta = vidMeta.count()
    val vidMetaOk = vidMeta.filter(col("n_frames") >= minFrames)
    val nVidMetaOk = vidMetaOk.count()
    val vidMetaFinal = vidMetaOk
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("container_fp")).orderBy(col("media_id"))))
      .filter(col("__rk") === 1).drop("__rk")
    val nVidMetaFinal = vidMetaFinal.count()
    vidMetaFinal.write.mode("overwrite").format(fmt)
      .save(s"$dest/media/video_compressed")

    val summary = Seq(
      ("image", "0_input", nImg),
      ("image", "1_decodable", nImgStats),
      ("image", "2_qa", nImgOk),
      ("image", "3_neardup", images),
      ("audio", "0_input", nAud),
      ("audio", "1_decodable", nAudStats),
      ("audio", "2_qa", nAudOk),
      ("audio", "3_neardup", audio),
      ("video", "0_input", nVid),
      ("video", "1_decodable", nVidStats),
      ("video", "2_qa", nVidOk),
      ("video", "3_neardup", videos),
      ("video_meta", "1_triaged", nVidMeta),
      ("video_meta", "2_qa", nVidMetaOk),
      ("video_meta", "3_exactdup", nVidMetaFinal))
    import spark.implicits._
    summary.toDF("kind", "stage", "n")
      .coalesce(1).write.mode("overwrite").format(fmt)
      .save(s"$dest/reports/media_summary")

    Report(input, decodable, afterQa, images + audio + videos,
      images, audio, videos)
  }

  def main(args: Array[String]): Unit = {
    val conf = JobArgs.parse(args)
    val spark = JobArgs.session("graft-media-curate")
    try {
      val r = run(spark, conf)
      println(s"""{"job":"media-curate","input":${r.input},"decodable":${r.decodable},""" +
        s""""qa":${r.afterQa},"neardup":${r.afterNearDup},""" +
        s""""images":${r.images},"audio":${r.audio},"videos":${r.videos}}""")
    } finally spark.stop()
  }
}
