package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Pipeline
import graft.ext.{Dedup, Dsir, LangModel, Packing, Pin, Sampling, TextAnalysis}

/** End-to-end corpus curation: the library's training-data operators
  * composed into one runnable pipeline —
  *
  *   encoding screen (q198) → optional PII/domain screens (q199, q213)
  *   → scrub → quality gate (Gopher rules) → optional blocklist /
  *   LM-floor / sentence / readability gates → exact dedup → near-dup
  *   clustering (canonical survivors) → optional stratum flattening →
  *   optional token-budget mixture (q208) → train/val/test split →
  *   chunk plan → batch packing
  *
  * Every stage is the same operator the catalog oracle-checks
  * individually (q65, q78, q104, q107, q33, q74, q81, q72, q80, q84); the job is
  * composition + bookkeeping, deliberately free of its own relational
  * logic. Determinism end to end: all sampling/splitting/packing is
  * content-keyed, so a re-run on any cluster layout produces the
  * byte-identical corpus.
  *
  *   --source DIR --dest DIR
  *   [--min-words N]          quality gate floor       (default 20)
  *   [--blocklist t1,t2,...]  drop docs with any token-exact hit (default: off)
  *   [--min-lm-ppb X]         drop docs whose mean bigram conditional
  *                            (q107 score) is below X; docs with no
  *                            bigram (< 2 tokens) have no score and are
  *                            dropped too — in practice unreachable
  *                            behind any min-words >= 2 (default: off)
  *   [--html-extract on]      run markup main-content extraction FIRST
  *                            (HtmlExtract: tag strip, script/style/
  *                            comment drop, entity decode, whitespace
  *                            collapse) — the stage every raw web
  *                            corpus needs before any text gate
  *                                                     (default: off)
  *   [--min-sentences N]      drop docs with fewer than N terminator-
  *                            ended sentences or not ending at a
  *                            sentence boundary (q178)  (default: off)
  *   [--pii-screen on]        drop docs containing a CHECKSUM-valid
  *                            card number (Luhn) or IBAN (mod-97) —
  *                            q199's screen; the regex-shaped spans
  *                            the scrub stage redacts are a superset,
  *                            but a checksum hit means a REAL
  *                            identifier leaked and the doc itself is
  *                            untrustworthy           (default: off)
  *   [--min-fre-milli N]      drop docs whose Flesch Reading Ease
  *                            (q212, integer millipoints) is below N —
  *                            the run-on-boilerplate / OCR-sludge
  *                            screen                   (default: off)
  *   [--domain-blocklist d,..] drop docs citing a URL on a blocklisted
  *                            domain (q213's extraction — HOST-level,
  *                            where --blocklist is token-level)
  *                                                     (default: off)
  *   [--dsir-target DIR]      DSIR importance resampling (q275, Xie et
  *                            al. '23) toward the target corpus at DIR
  *                            (same format, needs a `text` column):
  *                            hashed-bigram importance ratios score
  *                            every deduplicated doc, admission is the
  *                            deterministic weighted hash threshold at
  *                            --dsir-rate (default 0.5) expected rate
  *                                                       (default: off)
  *   [--token-budget N --mix-weights s:w,...]  after dedup/balance,
  *                            assemble the final mix under a total
  *                            token budget with per-source weights
  *                            (q208); sources absent from the weight
  *                            list are EXCLUDED        (default: off)
  *   [--report-sources COL]   write per-source dup rates (q181) and the
  *                            cross-source overlap matrix (q182) under
  *                            dest/reports/              (default: off)
  *   [--leakage-report on]    write the cross-split near-dup leakage
  *                            audit (q238) under dest/reports/
  *                                                       (default: off)
  *   [--profile-report on]    write standing per-stage monitoring
  *                            artifacts under dest/reports/: a dataset
  *                            fingerprint (q214 — n/xor/min/max of the
  *                            content hash) and a mergeable token-count
  *                            quantile sketch (q232) for every pipeline
  *                            stage. Both are deterministic pure
  *                            functions of each stage's content, so a
  *                            re-run DIFFS against the prior artifacts
  *                            (the q220 bucket-diff discipline) instead
  *                            of rescanning to find what moved; the
  *                            sketches merge across incremental runs
  *                            ([[graft.ext.Retrieval.quantileSketchMerge]])
  *                                                       (default: off)
  *   [--train-tokenizer V]    train a V-piece unigram-LM tokenizer
  *                            (q234) on the final corpus; model under
  *                            dest/tokenizer/, per-doc encode stats
  *                            (q235) under dest/reports/ (default: off)
  *   [--threshold X]          near-dup jaccard         (default 0.6)
  *   [--balance-by COL]      sqrt-resample stratum    (default: off)
  *   [--splits a:f,b:f,...]   hash split               (default train:0.9,val:0.05,test:0.05)
  *   [--chunk-window N --chunk-overlap N]              (default 512/64)
  *   [--shards N --batch-size N]                       (default 64/256)
  *   [--format parquet|orc|csv|json|delta]
  */
object CurateJob {

  final case class Report(
      input: Long, afterQuality: Long, afterGates: Long, afterExact: Long,
      afterNearDup: Long, afterBalance: Long, chunks: Long)

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
    val minWords = conf.getOrElse("min-words", "20").toInt
    val threshold = conf.getOrElse("threshold", "0.6").toDouble
    val fmt = JobArgs.checkFormat(conf.getOrElse("format", "parquet"))
    val splits = conf.getOrElse("splits", "train:0.9,val:0.05,test:0.05")
      .split(",").toSeq.map { s =>
        val Array(n, f) = s.split(":"); n -> f.toDouble
      }
    val window = conf.getOrElse("chunk-window", "512").toInt
    val overlap = conf.getOrElse("chunk-overlap", "64").toInt
    val shards = conf.getOrElse("shards", "64").toInt
    val batchSize = conf.getOrElse("batch-size", "256").toInt

    val raw = spark.read.parquet(source)
    val input = raw.count()

    // -1. optional markup extraction (--html-extract on) — the TRUE
    //     first stage of a web corpus: strip tags, drop script/style/
    //     comment blocks, decode core entities, collapse whitespace
    //     (HtmlExtract, one linear scan-stage pass per doc). Every
    //     gate below assumes running text; measuring Gopher ratios or
    //     shingles over raw markup would gate on chrome, not content.
    //     Off by default: already-clean corpora must not pay the scan.
    val docs =
      if (conf.contains("html-extract"))
        raw.withColumn("text",
          graft.functions.HtmlFunctions.htmlExtract(col("text")))
      else raw

    // 0. encoding screen — step zero, BEFORE any text interpretation:
    //    drop docs with invalid UTF-8 bytes, control chars, replacement-
    //    char scars or mojibake density (q198's operator). Everything
    //    downstream (langId, Gopher regexes, shingles) assumes clean
    //    text; screening after the fact would launder garbage through
    //    the gates. Scan-stage semi-join on the surviving ids.
    val encOk = TextAnalysis.utf8Screen(docs, col("doc_id"), col("text"))
      .filter(!col("suspect")).select("doc_id")
    val clean = docs.join(encOk, Seq("doc_id"))

    // 0b. optional checksum-PII screen — BEFORE the scrub rewrites the
    //     very spans the checksums need to read. Candidate regexes
    //     propose, Luhn/mod-97 confirm; only confirmed leaks drop the
    //     doc (regex-only spans are merely redacted by the scrub).
    val piiScreened =
      if (conf.contains("pii-screen")) {
        val hits = TextAnalysis.piiScreen(clean, col("doc_id"), col("text"))
          .filter(col("has_pii")).select("doc_id")
        clean.join(hits, Seq("doc_id"), "left_anti")
      } else clean

    // 0c. optional host-level blocklist (q213's URL extraction) —
    //     BEFORE the scrub replaces URLs with placeholders: where
    //     --blocklist drops on token hits, this drops docs that CITE
    //     a blocklisted domain (the spam-host screen). Its drops are
    //     counted in afterQuality, like the other pre-scrub screens.
    val domGated = conf.get("domain-blocklist") match {
      case Some(domains) =>
        val bad = domains.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(bad.nonEmpty, s"--domain-blocklist parsed to no domains: '$domains'")
        val cited = piiScreened.select(col("doc_id"),
            explode(regexp_extract_all(col("text"),
              lit(TextAnalysis.UrlPattern), lit(0))).as("__url"))
          .select(col("doc_id"),
            regexp_extract(col("__url"), "^https?://([^/]+)", 1).as("__dom"))
          .filter(col("__dom").isin(bad: _*))
          .select("doc_id").distinct()
        piiScreened.join(cited, Seq("doc_id"), "left_anti")
      case None => piiScreened
    }

    // 1. scrub PII-shaped spans, then gate on the Gopher rules
    import TextAnalysis.Gopher._
    val scrubbed = domGated.withColumn("text", TextAnalysis.scrub(col("text")))
    val quality = scrubbed.filter(
      wordCount(col("text")) >= minWords &&
        meanWordLen(col("text")).between(2.0, 12.0) &&
        alphaWordRatio(col("text")) > 0.5)
      // localCheckpoint, not cache: three downstream stages (exact
      // dedup, shingling, cluster join) scan this relation; recomputing
      // the scrub regexes per scan would triple the dominant cost
      .localCheckpoint(false)
    owned += quality
    val nQuality = quality.count()

    // 1b. optional content gates: token-exact blocklist (anti-join on
    //     q104's hit relation), then the corpus-statistical bigram-LM
    //     floor (q107's score — the log-free perplexity-filter shape).
    //     The LM model is estimated on the post-blocklist corpus, as a
    //     perplexity filter would be.
    val blocked = conf.get("blocklist") match {
      case Some(terms) =>
        val parsed = terms.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        require(parsed.nonEmpty, s"--blocklist parsed to no terms: '$terms'")
        val hits = TextAnalysis.blocklistHits(
          quality, col("doc_id"), col("text"), parsed)
        quality.join(hits.select("doc_id"), Seq("doc_id"), "left_anti")
      case None => quality
    }
    val lmGated = conf.get("min-lm-ppb") match {
      case Some(floor) =>
        val ok = LangModel.bigramCondProbScore(blocked, col("doc_id"), col("text"))
          .filter(col("mean_p_ppb") >= floor.toDouble)
        blocked.join(ok.select("doc_id"), Seq("doc_id"))
      case None => blocked
    }
    // 1c. optional sentence-shape gate (q178's signals): keep docs with
    //     at least N terminator-ended sentences that END at a sentence
    //     boundary — the prose-vs-listing screen. Scan-stage per doc,
    //     applied as a semi-join on the surviving ids.
    val sentGated = conf.get("min-sentences") match {
      case Some(n) =>
        val ok = TextAnalysis.sentenceStats(lmGated, col("doc_id"), col("text"))
          .filter(col("n_sentences") >= n.toInt && col("ends_terminal"))
        lmGated.join(ok.select("doc_id"), Seq("doc_id"))
      case None => lmGated
    }
    // 1c'. optional readability floor (q212): integer-millipoint Flesch
    //      Reading Ease — very low FRE is run-on boilerplate/OCR sludge.
    val freGated = conf.get("min-fre-milli") match {
      case Some(floor) =>
        val ok = TextAnalysis.readability(sentGated, col("doc_id"), col("text"))
          .filter(col("fre_milli") >= floor.toLong)
        sentGated.join(ok.select("doc_id"), Seq("doc_id"))
      case None => sentGated
    }
    val gated0 = freGated
    val gatesOn = conf.contains("blocklist") || conf.contains("min-lm-ppb") ||
      conf.contains("min-sentences") || conf.contains("min-fre-milli")
    // same checkpoint rationale as the quality stage — but only when a
    // gate actually rewrote the relation
    val gated = if (gatesOn) gated0.localCheckpoint(false) else gated0
    if (gatesOn) owned += gated
    val nGates = if (gatesOn) gated.count() else nQuality

    // 1d. optional pre-dedup duplication report (q181/q182's operators):
    //     per-source exact-dup rates + the cross-source n-gram overlap
    //     matrix, written as side outputs — the evidence a curator reads
    //     before deciding source precedence. Reports only; the corpus
    //     relation is untouched.
    conf.get("report-sources").foreach { c =>
      Dedup.dupRateBySource(gated, col(c), col("text"))
        .coalesce(1).write.mode("overwrite").format(fmt)
        .save(s"$dest/reports/dup_rate_by_source")
      Dedup.sourceOverlap(gated, col(c), col("text"))
        .coalesce(1).write.mode("overwrite").format(fmt)
        .save(s"$dest/reports/source_overlap")
    }

    // 2. exact dedup (content hash), keep the smallest doc_id per text
    val canon = Dedup.exact(gated, col("text"), col("doc_id"))
    val exact = gated.join(canon.select(col("keep_id").as("doc_id")), Seq("doc_id"))
      .localCheckpoint(false)
    owned += exact
    val nExact = exact.count()

    // 3. near-dup clustering on the survivors; keep cluster canonicals.
    //    Docs in no near-dup pair are their own canonical (left anti).
    val clusters = Dedup.nearDupClusters(exact, "doc_id", "text",
      shingleSize = 3, threshold = threshold)
    owned += clusters
    val nonCanonical = clusters.filter(!col("is_canonical")).select("doc_id")
    val deduped = exact.join(nonCanonical, Seq("doc_id"), "left_anti")
    val nNearDup = deduped.count()

    // 3c. optional DSIR importance resampling (q275, Xie et al. '23):
    //     steer the deduplicated corpus toward a small target domain
    //     by hashed-bigram importance ratios — the data-SELECTION
    //     stage between the content gates (what is good) and the
    //     mixture stages below (how much of each source). Applied
    //     after dedup so duplication mass can't masquerade as
    //     target-likeness.
    val focused = conf.get("dsir-target") match {
      case Some(dir) =>
        val target = spark.read.options(Pipeline.readOptions(fmt))
          .format(fmt).load(dir)
        val rate = conf.getOrElse("dsir-rate", "0.5").toDouble
        Dsir.resample(deduped, col("doc_id"), col("text"),
            target, col("text"), targetRate = rate)
          .drop("n_feats", "dsir_ppm")
      case None => deduped
    }

    // 4. optional sqrt temperature flattening of a skewed stratum mix
    val balanced0 = conf.get("balance-by") match {
      case Some(c) => Sampling.sqrtResample(focused, col("doc_id"), col(c))
      case None => focused
    }

    // 4b. optional token-budget mixture assembly (q208): the final mix
    //     is specified in TOKENS per source, not rows — floor-allocated
    //     budgets, greedy hash-ordered prefixes, sources without a
    //     weight excluded. Applied LAST among content selectors so the
    //     budget buys deduplicated, gated documents.
    val balanced = conf.get("token-budget") match {
      case Some(budget) =>
        val weights = conf.getOrElse("mix-weights",
          sys.error("--token-budget requires --mix-weights src:w,..."))
          .split(",").toSeq.map { s =>
            val Array(src, w) = s.split(":"); (src.trim, w.trim.toLong)
          }
        val kept = Sampling.budgetMixtureSample(balanced0,
          col("doc_id"), col("source"),
          size(graft.ext.TextHash.tokens(col("text"))), weights, budget.toLong)
        balanced0.join(kept.select("doc_id"), Seq("doc_id"))
      case None => balanced0
    }

    // 5. deterministic disjoint split
    val split = Sampling.hashSplit(balanced, col("doc_id"), splits)
    val nBalanced = split.count()
    split.write.mode("overwrite").format(fmt).save(s"$dest/documents")

    // 5a'. optional standing profile artifacts (q214 + q232): one
    //      fingerprint row and one token-count quantile sketch PER
    //      STAGE, written as two stage-keyed relations. The value is
    //      longitudinal: each artifact is a deterministic function of
    //      its stage's content, so tomorrow's run compares artifacts
    //      (q220-style) to see which gate's behavior moved — without
    //      re-reading yesterday's corpus — and per-shard sketches
    //      merge into the fleet view by the q232 merge identity.
    if (conf.get("profile-report").contains("on")) {
      val stages: Seq[(String, DataFrame)] = Seq(
        "0_input" -> docs, "1_quality" -> quality, "2_gates" -> gated,
        "3_exact" -> exact, "4_neardup" -> deduped, "5_final" -> balanced)
      val repr = concat_ws("",
        col("doc_id").cast("string"), coalesce(col("text"), lit("")))
      stages.map { case (nm, df) =>
        graft.ext.Profile.datasetFingerprint(df, lit(nm), repr)
      }.reduce(_ unionByName _)
        .select(col("grp").as("stage"), col("n_rows"), col("xor_fp"),
          col("min_hash"), col("max_hash"))
        .coalesce(1).write.mode("overwrite").format(fmt)
        .save(s"$dest/reports/profile_fingerprint")
      stages.map { case (nm, df) =>
        graft.ext.Retrieval.quantileSketch(df, lit(nm),
          size(graft.ext.TextHash.tokens(col("text"))).cast("long"),
          col("doc_id"), k = 256)
      }.reduce(_ unionByName _)
        .select(col("grp").as("stage"), col("n"), col("t"), col("items"))
        .coalesce(1).write.mode("overwrite").format(fmt)
        .save(s"$dest/reports/profile_sketch")
    }

    // 5b. optional split-leakage audit (q238): near-dup pairs that
    //     straddle the split boundary are evaluation contamination the
    //     release would ship. Report only — a curator decides whether
    //     to regroup near-dup clusters into one split or tighten dedup.
    //     Uses the SAME hashSplit labels as stage 5 (same function,
    //     same key, same fractions).
    if (conf.get("leakage-report").contains("on")) {
      Dedup.splitLeakage(balanced, "doc_id", "text", splits,
          threshold = threshold)
        .coalesce(1).write.mode("overwrite").format(fmt)
        .save(s"$dest/reports/split_leakage")
    }

    // 5c. optional unigram-LM tokenizer training (q234) on the FINAL
    //     corpus (post-dedup, post-budget — training a tokenizer on
    //     the mix it will tokenize), with per-doc encode stats (q235)
    //     as a side report. The model table is the artifact a
    //     downstream trainer loads.
    conf.get("train-tokenizer").foreach { v =>
      val model = TextAnalysis.unigramLmTrain(split, col("text"),
        vocabSize = v.toInt, rounds = 2)
      model.coalesce(1).write.mode("overwrite").format(fmt)
        .save(s"$dest/tokenizer/model")
      val table = model.collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      TextAnalysis.unigramLmEncode(split, col("doc_id"), col("text"), table)
        .coalesce(1).write.mode("overwrite").format(fmt)
        .save(s"$dest/reports/token_stats")
    }

    // 6. chunk plan + reproducible batch packing, fenced per split so a
    //    batch never mixes train and eval chunks
    val plan = TextAnalysis.chunkPlan(split, col("doc_id"), col("text"), window, overlap)
      .join(split.select(col("doc_id"), col("split")), Seq("doc_id"))
    val chunks = Packing.shardedBatches(plan, col("doc_id"),
      Seq(col("doc_id"), col("chunk_id")), shards, batchSize, within = Seq(col("split")))
    chunks.write.mode("overwrite").format(fmt).save(s"$dest/chunks")
    val nChunks = spark.read.format(fmt).load(s"$dest/chunks").count()

    Report(input, nQuality, nGates, nExact, nNearDup, nBalanced, nChunks)
  }

  def main(args: Array[String]): Unit = {
    val conf = JobArgs.parse(args)
    val spark = JobArgs.session("graft-curate")
    try {
      val r = run(spark, conf)
      println(s"""{"job":"curate","input":${r.input},"quality":${r.afterQuality},""" +
        s""""gates":${r.afterGates},"exact":${r.afterExact},"neardup":${r.afterNearDup},""" +
        s""""final":${r.afterBalance},"chunks":${r.chunks}}""")
    } finally spark.stop()
  }
}
