package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.config.CurateConfig
import graft.functions.{Conversions, TextAnalysis}
import graft.operators.Dedup

/** Production entry point for the CORPUS-CURATION surface — what
  * [[GraftMain]] is to the reference-parity pipeline, this is to the
  * training-data extensions: one YAML config declares the run
  * (filters → NB-classifier filter → segment-LM prune → self-dedup →
  * ExactSubstr cut → exact dedup → near-dup clusters → decontaminate →
  * DSIR selection → stratified sample → mixture → split), and the output
  * is a curated parquet corpus
  * plus a machine-readable stage report.
  *
  * `runMain graft.CurateMain <config.yaml>` (or `CURATE_CONFIG` /
  * `CURATE_CONFIG_FILE` env). Report JSON goes to `<output>/report.json`
  * and stdout.
  *
  * Scale shape: identical to the gated flagship (`x_corpus_pipeline`) —
  * the post-dedup survivor frame is the persisted stage boundary feeding
  * pair generation / keep-one / decontamination / projection; at 100 TB
  * that boundary becomes a parquet write between jobs. Stage counts ride
  * the stage frames that are already materialized, so the report costs no
  * extra corpus scans beyond one `count()` per configured stage on its
  * cached or trivially-derived frame (a stage that is off reports its
  * input's count) and one aggregation over the written corpus for its
  * rows, tokens and split sizes.
  */
object CurateMain {

  private def scriptPanel: Seq[String] = CurateConfig.scriptPanel

  final case class StageReport(
      stages: Seq[(String, Long)],
      splits: Map[String, Long],
      dq: Seq[(String, Long)] = Nil) {
    def json: String = {
      def kv(k: String, v: Long) = s""""${GraftMain.jsonEscape(k)}":$v"""
      val s = stages.map((kv _).tupled).mkString(",")
      val sp = splits.toSeq.sortBy(_._1).map((kv _).tupled).mkString(",")
      val q = dq.map((kv _).tupled).mkString(",")
      s"""{"stages":{$s},"splits":{$sp},"dq":{$q}}"""
    }
  }

  /** Thrown when `dq.fail-on-violation` is set and a check fails — the
    * Airflow-facing abort (non-zero exit through `main`'s failure path)
    * mirroring the reference's fail-fast on contract breakage.
    */
  final class DqViolation(msg: String) extends IllegalStateException(msg)

  def main(args: Array[String]): Unit = {
    val yaml = args.headOption.map(p => Files.readString(Paths.get(p)))
      .orElse(sys.env.get("CURATE_CONFIG"))
      .orElse(sys.env.get("CURATE_CONFIG_FILE").map(p => Files.readString(Paths.get(p))))
      .getOrElse(throw new IllegalArgumentException(
        "usage: CurateMain <config.yaml> (or CURATE_CONFIG / CURATE_CONFIG_FILE)"))
    val cfg = CurateConfig.fromYaml(yaml)
    val spark = GraftSession.get()
    try {
      val report = run(spark, cfg)
      writeReport(spark, cfg, report)
      println(report.json)
    } catch {
      case ex: Throwable =>
        System.err.println(GraftMain.failureRecord(ex))
        spark.stop()
        throw ex
    }
    spark.stop()
  }

  /** Persist the stage report as `<output>/report.json`. Through the Hadoop
    * FS API, not java.nio — `output` is a Spark path (hdfs://, s3a://,
    * file:...), only incidentally a local directory. Shared by the
    * standalone main and [[GraftMain]]'s embedded-curate step.
    */
  def writeReport(spark: SparkSession, cfg: CurateConfig, report: StageReport): Unit = {
    val reportPath = new org.apache.hadoop.fs.Path(cfg.output, "report.json")
    val fs = reportPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(reportPath, true)
    try os.write(report.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
  }

  /** Execute the configured curation; writes `<output>/corpus` (partitioned
    * by `split` when splits are configured) and returns the stage report.
    * Every stage frame the run persists is unpersisted when it returns or
    * throws.
    */
  def run(spark: SparkSession, cfg: CurateConfig): StageReport = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    try curate(spark, cfg, frame => { cached += frame; frame.persist(StorageLevel.MEMORY_AND_DISK) })
    finally cached.foreach(_.unpersist())
  }

  private def curate(spark: SparkSession, cfg: CurateConfig,
      persisted: DataFrame => DataFrame): StageReport = {
    val id = col(cfg.idColumn)
    val stages = Seq.newBuilder[(String, Long)]

    // Stage row counts. A stage that is off passes its input frame through,
    // so it reports the count already taken instead of running the same job
    // again. The count itself is the lambda written on each `stages +=`
    // line, which keeps every count job's Spark call site on its stage's
    // line (job-to-stage attribution reads the call site).
    var last: (DataFrame, Long) = (null, 0L)
    def rows(frame: DataFrame)(count: DataFrame => Long): Long = {
      val n = if (frame eq last._1) last._2 else count(frame)
      last = (frame, n)
      n
    }

    val raw = spark.read.parquet(cfg.input)
    stages += "input" -> rows(raw)(_.count())

    // Input-contract gate BEFORE any curation: one extra scan (all checks
    // ride a single aggregation — Quality.evaluate), O(checks) result rows.
    val dqResults: Seq[(String, Long)] =
      if (cfg.dqConfigured) {
        import graft.operators.Quality, Quality.DqCheck._
        val checks =
          cfg.dqNotNull.map(NotNull(_)) ++
            (if (cfg.dqUnique.nonEmpty) Seq(Unique(cfg.dqUnique)) else Nil) ++
            cfg.dqAccepted.toSeq.sortBy(_._1).map { case (c, vs) => AcceptedValues(c, vs) }
        val rs = Quality.evaluate(raw, checks).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
        val bad = rs.filter(_._2 > 0)
        if (bad.nonEmpty && cfg.dqFailOnViolation)
          throw new DqViolation(bad.map { case (n, v) => s"$n=$v" }
            .mkString("dq checks failed: ", ", ", ""))
        rs
      } else Nil

    // HTML extraction FIRST (markup is not text — every downstream filter
    // and dedup key must see the extracted content), then NFC.
    val textStripped =
      if (cfg.htmlStrip) TextAnalysis.htmlToText(col(cfg.textColumn)) else col(cfg.textColumn)
    val text0 = if (cfg.nfc) Conversions.nfcNormalize(textStripped) else textStripped
    val base = raw.withColumn(cfg.textColumn, text0)

    // Empty/whitespace-only text splits to [""] (1 token) — count it as 0
    // words so the default `min-words: 1` actually drops empty documents;
    // null text yields a null count and is dropped by the bound predicate.
    val nWords = when(length(trim(col(cfg.textColumn))) === 0, lit(0))
      .otherwise(size(Dedup.tokens(col(cfg.textColumn))))
    val lenQual = base
      .where(nWords >= cfg.minWords && nWords <= cfg.maxWords)
      .where(TextAnalysis.qualityScore(col(cfg.textColumn)) >= cfg.minQuality)
      // Gopher battery rides the same scan-absorbed predicate chain; its
      // word-count bounds take the CONFIGURED min/max (a `min-words: 20`
      // config must not silently re-impose the published 50-word floor).
      .where(if (cfg.gopher)
        graft.operators.Repetition.gopherPass(
          col(cfg.textColumn), cfg.minWords, cfg.maxWords) else lit(true))
      // Script allow-list (multilingual triage): dominant script judged
      // against a fixed panel, kept only when listed. Scan-absorbed per-row
      // regex math like the other bounds.
      .where(if (cfg.allowedScripts.nonEmpty)
        TextAnalysis.dominantScript(col(cfg.textColumn), scriptPanel)
          .isin(cfg.allowedScripts.map(_.toLowerCase): _*)
        else lit(true))
    // Repetition facets (Gopher-style) only when the config asks — their
    // top-bigram plan is relational (explode + keyed agg), not a per-row
    // projection like the bounds above, so the join is pay-for-what-you-use.
    val filtered =
      if (cfg.maxDupWordFrac < 1.0 || cfg.maxTopBigramFrac < 1.0)
        lenQual.join(
          graft.operators.Repetition.metrics(lenQual, cfg.idColumn, cfg.textColumn)
            .where(col("dup_word_frac") <= cfg.maxDupWordFrac &&
              col("top_bigram_frac") <= cfg.maxTopBigramFrac)
            .select(id), cfg.idColumn)
      else lenQual
    // Stage boundary: every downstream consumer (exact-dup grouping, pair
    // generation, keep-one, decontamination, write) re-reads this frame,
    // and connectedComponents' eager checkpoints split the lineage into
    // separate jobs — same persist discipline as the gated flagship.
    val survivors0 = persisted(filtered)
    stages += "after_filters" -> rows(survivors0)(_.count())

    // Bootstrap-classifier filter (the fastText-filter slot of the CCNet/
    // LLaMA recipes): fit NB on THIS corpus with the configured seed
    // column/value, keep docs scoring at least `min-score`. Runs right
    // after the cheap bounds so the (one-aggregation) fit trains on
    // already-sane documents; docs with no vocabulary evidence drop —
    // nothing argues for keeping them.
    val afterClassifier = cfg.classifierSeedColumn match {
      case Some(seedCol) =>
        val kept = graft.operators.Classifier.nbTrainScore(
            survivors0, cfg.idColumn, cfg.textColumn,
            col(seedCol) === cfg.classifierSeedValue, cfg.classifierVocab)
          .where(col("nb_score") >= cfg.classifierMinScore)
          .select(id)
        persisted(survivors0.join(kept, cfg.idColumn))
      case None => survivors0
    }
    stages += "after_classifier" -> rows(afterClassifier)(_.count())

    // CCNet-order sub-document pruning BEFORE dedup: dedup keys must see the
    // cleaned text (a doc whose boilerplate window died is a different
    // document). Docs whose every window fails drop out (n_kept = 0).
    val afterSegLm = cfg.segmentLmTokens match {
      case Some(n) =>
        val seg = graft.operators.UnigramLm.segmentFilter(
            afterClassifier, cfg.idColumn, cfg.textColumn, n, cfg.segmentLmMinScore)
          .where(col("n_kept") > 0)
          .select(id, col("text_clean"))
        afterClassifier.drop(cfg.textColumn)
          .join(seg, cfg.idColumn)
          .withColumnRenamed("text_clean", cfg.textColumn)
          .transform(persisted)
      case None => afterClassifier
    }
    stages += "after_segment_lm" -> rows(afterSegLm)(_.count())

    // Intra-document self-dedup (cut later occurrences of repeated spans)
    // BEFORE exact dedup for the same reason as segment-lm: the dedup key
    // must hash the cleaned text.
    val afterSelf = cfg.selfDedupMinLen match {
      case Some(l) =>
        val cleaned = Dedup.removeSelfDupText(
            afterSegLm, cfg.idColumn, cfg.textColumn, minLen = l)
          .select(id, col("text_clean"))
        afterSegLm.drop(cfg.textColumn)
          .join(cleaned, cfg.idColumn)
          .withColumnRenamed("text_clean", cfg.textColumn)
          .transform(persisted)
      case None => afterSegLm
    }
    stages += "after_self_dedup" -> rows(afterSelf)(_.count())

    // Corpus-wide ExactSubstr cut (Lee et al. remove-every-occurrence) AFTER
    // the per-document cuts and BEFORE exact dedup: the hash key must see
    // the cut text, and identical docs empty out here anyway (their whole
    // text is a corpus-wide repeat), so the exact stage after it mostly
    // collapses emptied shells. Implementation is the duplicated-char-gram
    // fast path — the same function as SuffixArray.removeRepeatedText
    // (equivalence spec-asserted on the real corpus) at two keyed
    // aggregations instead of suffix-array construction.
    //
    // SA-vs-gram-cut boundary (round 14, decided): the gram path is the
    // curation default UNCONDITIONALLY — it computes the identical cut at
    // 5.5x less wall / 21x less shuffle (hostile f=30 probe, BASELINE.md)
    // and its exchanges are hash-keyed grams (no range sort, no
    // window-sort skew class). The suffix-array path is NOT a fallback
    // for bigger corpora; it is for different QUESTIONS — reach for
    // SuffixArray.{build,repeatedSpans} only when the deliverable needs
    // artifacts the cut doesn't: maximal-repeat REPORTS with exact LCP
    // lengths (x_suffix_dup_spans), repeat-depth/rank analytics, or
    // contamination forensics over spans longer than minLen. If a run
    // needs both, compute the cut by grams and the report by SA on the
    // (much smaller) post-cut corpus.
    val afterExactSubstr = cfg.exactSubstrMinLen match {
      case Some(l) =>
        val cleaned = Dedup.exactSubstrCutByGrams(
            afterSelf, cfg.idColumn, cfg.textColumn, minLen = l)
          .select(id, col("text_clean"))
        afterSelf.drop(cfg.textColumn)
          .join(cleaned, cfg.idColumn)
          .withColumnRenamed("text_clean", cfg.textColumn)
          .transform(persisted)
      case None => afterSelf
    }
    stages += "after_exact_substr" -> rows(afterExactSubstr)(_.count())

    val afterExact =
      if (cfg.dedupExact)
        afterExactSubstr.join(
          Dedup.exact(afterExactSubstr, cfg.idColumn, md5(col(cfg.textColumn)))
            .select(col("kept_id").as(cfg.idColumn)), cfg.idColumn)
      else afterExactSubstr
    val dd = persisted(afterExact)
    stages += "after_exact_dedup" -> rows(dd)(_.count())

    // Each optional stage that actually transforms the frame persists its
    // result: the next stage's count(), the sample/split math, and the final
    // write all re-read it, and the near-dup/decontaminate subtrees (n-gram
    // explodes, CC iteration) are the most expensive plans in the run.
    val afterNear = cfg.nearDupThreshold match {
      case Some(t) =>
        val comp = Dedup.connectedComponents(
          Dedup.jaccardPairs(dd, cfg.idColumn, cfg.textColumn, n = 3, threshold = t))
        // `keep: best` retains each cluster's highest-quality member (the
        // production choice when near-dups differ); default keeps min id.
        val resolved =
          if (cfg.nearDupKeepBest)
            Dedup.resolveClustersBy(dd, cfg.idColumn, comp,
              TextAnalysis.qualityScore(col(cfg.textColumn)))
          else Dedup.resolveClusters(dd, cfg.idColumn, comp)
        persisted(resolved)
      case None => dd
    }
    stages += "after_near_dedup" -> rows(afterNear)(_.count())

    val afterDeconNgram = cfg.decontaminateAgainst match {
      case Some(path) =>
        val bench = spark.read.parquet(path)
        afterNear.join(
          Dedup.decontaminate(afterNear, cfg.idColumn, cfg.textColumn,
              bench, cfg.idColumn, cfg.textColumn, n = cfg.decontaminateN, minHits = 1)
            .where(col("contaminated") === 0).select(id), cfg.idColumn)
          .transform(persisted)
      case None => afterNear
    }
    // Character-verbatim pass (decontaminate.exact-minlen): drops documents
    // sharing a verbatim >= minLen-code-point substring with the benchmark
    // — catches leaks the token n-gram flag misses (whitespace/punctuation
    // variants inside tokens, sub-token splices). Broadcast gram semi-join:
    // the corpus side never shuffles.
    val afterDecon = (cfg.decontaminateAgainst, cfg.decontaminateExactMinLen) match {
      case (Some(path), Some(l)) =>
        val bench = spark.read.parquet(path)
        afterDeconNgram.join(
          Dedup.exactContamination(afterDeconNgram, cfg.idColumn, cfg.textColumn,
              bench, cfg.idColumn, cfg.textColumn, minLen = l)
            .where(col("contaminated") === 0).select(id), cfg.idColumn)
          .transform(persisted)
      case _ => afterDeconNgram
    }
    stages += "after_decontaminate" -> rows(afterDecon)(_.count())

    // DSIR selection (importance resampling toward the configured target
    // slice): runs on the decontaminated corpus so weights are fit on what
    // could actually ship; the Gumbel noise is a content hash, so the kept
    // set is append-stable and retry-safe like every selection here.
    val afterDsir = cfg.dsirTargetColumn match {
      case Some(tc) =>
        val w = graft.operators.Dsir.importanceWeights(
          afterDecon, cfg.idColumn, cfg.textColumn,
          col(tc) === cfg.dsirTargetValue, cfg.dsirBuckets)
        graft.operators.Dsir.gumbelTopK(w, cfg.idColumn, cfg.dsirKeep)
          .select(id)
          .join(afterDecon, cfg.idColumn)
          .transform(persisted)
      case None => afterDecon
    }
    stages += "after_dsir" -> rows(afterDsir)(_.count())

    val afterSample = (cfg.sampleStratum, cfg.sampleKPerStratum) match {
      case (Some(stratum), Some(k)) =>
        // Weighted mode: k per stratum, inclusion probability ∝ the weight
        // column (config validation guarantees weightColumn is set and the
        // percent-mode keys are absent).
        graft.operators.Mixture.weightedSample(
          afterDsir, cfg.idColumn, col(cfg.sampleWeightColumn.get), stratum, k)
      case (Some(stratum), None) =>
        Dedup.stratifiedSample(afterDsir, id, col(stratum),
          cfg.sampleRates, cfg.sampleDefault)
      case _ => afterDsir
    }
    stages += "after_sample" -> rows(afterSample)(_.count())

    // Token-budgeted mixture assembly — the final "build the training mix"
    // stage; selection joins back so the corpus keeps its full columns.
    val afterMixture = cfg.mixtureTotalTokens match {
      case Some(total) =>
        // Persisted like every transforming stage: the after_mixture count,
        // splitAssign, and the final write would otherwise each re-run the
        // mixture subtree (bucket totals + two keep branches + window).
        graft.operators.Mixture.mixtureSample(
            afterSample, cfg.idColumn, cfg.mixtureSourceColumn,
            nWords.cast("long"), cfg.mixtureWeights, total,
            temperature = cfg.mixtureTemperature)
          .select(id)
          .join(afterSample, cfg.idColumn)
          .transform(persisted)
      case None => afterSample
    }
    if (cfg.mixtureTotalTokens.isDefined)
      stages += "after_mixture" -> afterMixture.count()

    val (out, partitionCols) =
      if (cfg.splits.nonEmpty)
        (Dedup.splitAssign(afterMixture, id, cfg.splits), Seq("split"))
      else (afterMixture, Nil)

    val writer = out.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(s"${cfg.output}/corpus")

    // Explicit schema on the readback: a config whose filters drop EVERY
    // row writes an empty partitioned dir (no part files), and schema
    // inference would throw UNABLE_TO_INFER_SCHEMA — an over-aggressive
    // filter config must report zeros, not crash the report step.
    val written = spark.read.schema(out.schema).parquet(s"${cfg.output}/corpus")
    // One scan gives the written rows, their token budget (the number a
    // training-mix plan actually consumes; the SAME guarded word count as
    // the filter stage, so an empty doc let through by min-words: 0 bills no
    // token) and the split sizes: one row per split, or one global row
    // (zeros on an empty corpus) when unsplit.
    val perSplit = written.groupBy(partitionCols.map(col): _*)
      .agg(count(lit(1)).as("rows"), coalesce(sum(nWords.cast("long")), lit(0L)).as("tokens"))
      .collect()
    stages += "written" -> perSplit.map(_.getAs[Long]("rows")).sum
    stages += "written_tokens" -> perSplit.map(_.getAs[Long]("tokens")).sum
    val splitCounts: Map[String, Long] =
      if (cfg.splits.nonEmpty) perSplit.map(r => r.getString(0) -> r.getAs[Long]("rows")).toMap
      else Map.empty

    // Pretraining example export — the fixed-L cut of the curated corpus
    // (first-listed split only when splits are configured: slicing held-out
    // docs into cross-document examples would stitch eval text INTO train
    // examples, the leak the split exists to prevent). Reads the corpus
    // back from disk, so the slice costs no re-run of the curation subtree.
    cfg.exampleLen.foreach { len =>
      val trainCorpus =
        if (cfg.splits.nonEmpty) written.where(col("split") === cfg.splits.head._1)
        else written
      val sliced = graft.operators.Packing.sliceExamples(
        trainCorpus, cfg.idColumn, cfg.textColumn, len, cfg.exampleEod)
      sliced.write.mode("overwrite").parquet(s"${cfg.output}/examples")
      // Same explicit-schema readback guard as the corpus: a corpus shorter
      // than one example writes an empty dir and must report zero.
      stages += "examples" -> spark.read.schema(sliced.schema)
        .parquet(s"${cfg.output}/examples").count()
    }

    StageReport(stages.result(), splitCounts, dqResults)
  }
}
