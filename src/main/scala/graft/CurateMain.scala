package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
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
  * Scale shape: every stage that runs ends at one boundary. Its result is
  * persisted, the stage's `count()` fills the cache, and the next stage
  * reads a one-line leaf over the filled cache, so no plan (and no
  * description Spark writes of a query) nests the stages before it. At
  * 100 TB the boundary is a parquet write between jobs. The report costs
  * no extra corpus scans beyond that one `count()` per configured stage (a
  * stage that is off reports its input's count): the input rows ride the
  * filters' count job and the written rows, tokens and split sizes ride
  * the write job, each as an `Observation`.
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

    // The stage boundary. `corpus` is the frame the next stage reads. A
    // stage that runs sets it to its result, and the count on the stage's
    // `stages +=` line goes through `boundary`: persist the result, fill the
    // cache with that count (written on the stage's line, which keeps the
    // job's Spark call site there; job-to-stage attribution reads the call
    // site), then make `corpus` a one-line leaf over the filled cache
    // (`Shim.cachedLeaf`). Every later plan starts at that materialized
    // leaf instead of nesting the plans of the stages before it. A stage
    // that is off leaves `corpus` as it is, and its line reports the count
    // taken at the last boundary without running a job.
    var corpus: DataFrame = null
    var last: (DataFrame, Long) = (null, 0L)
    def boundary(count: DataFrame => Long): Long = {
      if (!(corpus eq last._1)) {
        val frame = persisted(corpus)
        val n = count(frame)
        corpus = org.apache.spark.sql.graft.Shim.cachedLeaf(frame)
        last = (corpus, n)
      }
      last._2
    }
    // The three ways a stage derives its result from its input: keep the
    // rows whose id `ids` lists, drop them, or replace the text with the
    // `text_clean` of `cleaned` (rows it lacks drop).
    def keep(frame: DataFrame, ids: DataFrame): DataFrame =
      frame.join(ids.select(id), cfg.idColumn)
    def drop(frame: DataFrame, ids: DataFrame): DataFrame =
      frame.join(ids.select(id), Seq(cfg.idColumn), "left_anti")
    def rewriteText(frame: DataFrame, cleaned: DataFrame): DataFrame =
      frame.drop(cfg.textColumn)
        .join(cleaned.select(id, col("text_clean")), cfg.idColumn)
        .withColumnRenamed("text_clean", cfg.textColumn)

    val raw = spark.read.parquet(cfg.input)

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
    // The input rows ride the after-filters count job (the first job that
    // reads `base`) as an observed metric.
    val inputObs = Observation()
    val base = raw.observe(inputObs, count(lit(1)).as("rows"))
      .withColumn(cfg.textColumn, text0)

    // Empty/whitespace-only text splits to [""] (1 token) — count it as 0
    // words so the default `min-words: 1` actually drops empty documents;
    // null text yields a null count and is dropped by the bound predicate.
    val nWords = when(length(trim(col(cfg.textColumn))) === 0, lit(0))
      .otherwise(size(Dedup.tokens(col(cfg.textColumn))))
    corpus = base
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
    if (cfg.maxDupWordFrac < 1.0 || cfg.maxTopBigramFrac < 1.0)
      corpus = keep(corpus,
        graft.operators.Repetition.metrics(corpus, cfg.idColumn, cfg.textColumn)
          .where(col("dup_word_frac") <= cfg.maxDupWordFrac &&
            col("top_bigram_frac") <= cfg.maxTopBigramFrac))
    stages += "after_filters" -> boundary(_.count())
    val input = inputObs.get("rows").asInstanceOf[Long]

    // Bootstrap-classifier filter (the fastText-filter slot of the CCNet/
    // LLaMA recipes): fit NB on THIS corpus with the configured seed
    // column/value, keep docs scoring at least `min-score`. Runs right
    // after the cheap bounds so the (one-aggregation) fit trains on
    // already-sane documents; docs with no vocabulary evidence drop —
    // nothing argues for keeping them.
    cfg.classifierSeedColumn.foreach { seedCol =>
      corpus = keep(corpus, graft.operators.Classifier.nbTrainScore(
          corpus, cfg.idColumn, cfg.textColumn,
          col(seedCol) === cfg.classifierSeedValue, cfg.classifierVocab)
        .where(col("nb_score") >= cfg.classifierMinScore))
    }
    stages += "after_classifier" -> boundary(_.count())

    // CCNet-order sub-document pruning BEFORE dedup: dedup keys must see the
    // cleaned text (a doc whose boilerplate window died is a different
    // document). Docs whose every window fails drop out (n_kept = 0).
    cfg.segmentLmTokens.foreach { n =>
      corpus = rewriteText(corpus, graft.operators.UnigramLm.segmentFilter(
          corpus, cfg.idColumn, cfg.textColumn, n, cfg.segmentLmMinScore)
        .where(col("n_kept") > 0))
    }
    stages += "after_segment_lm" -> boundary(_.count())

    // Intra-document self-dedup (cut later occurrences of repeated spans)
    // BEFORE exact dedup for the same reason as segment-lm: the dedup key
    // must hash the cleaned text.
    cfg.selfDedupMinLen.foreach { l =>
      corpus = rewriteText(corpus,
        Dedup.removeSelfDupText(corpus, cfg.idColumn, cfg.textColumn, minLen = l))
    }
    stages += "after_self_dedup" -> boundary(_.count())

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
    cfg.exactSubstrMinLen.foreach { l =>
      corpus = rewriteText(corpus,
        Dedup.exactSubstrCutByGrams(corpus, cfg.idColumn, cfg.textColumn, minLen = l))
    }
    stages += "after_exact_substr" -> boundary(_.count())

    if (cfg.dedupExact)
      corpus = keep(corpus, Dedup.exact(corpus, cfg.idColumn, md5(col(cfg.textColumn)))
        .select(col("kept_id").as(cfg.idColumn)))
    stages += "after_exact_dedup" -> boundary(_.count())

    cfg.nearDupThreshold.foreach { t =>
      val comp = Dedup.connectedComponents(
        Dedup.jaccardPairs(corpus, cfg.idColumn, cfg.textColumn, n = 3, threshold = t))
      // `keep: best` retains each cluster's highest-quality member (the
      // production choice when near-dups differ); default keeps min id.
      corpus =
        if (cfg.nearDupKeepBest)
          Dedup.resolveClustersBy(corpus, cfg.idColumn, comp,
            TextAnalysis.qualityScore(col(cfg.textColumn)))
        else Dedup.resolveClusters(corpus, cfg.idColumn, comp)
    }
    stages += "after_near_dedup" -> boundary(_.count())

    cfg.decontaminateAgainst.foreach { path =>
      val bench = spark.read.parquet(path)
      corpus = drop(corpus, Dedup.ngramHits(corpus, cfg.idColumn, cfg.textColumn,
        bench, cfg.idColumn, cfg.textColumn, n = cfg.decontaminateN))
      // Character-verbatim pass (decontaminate.exact-minlen): drops
      // documents sharing a verbatim >= minLen-code-point substring with the
      // benchmark — catches leaks the token n-gram flag misses (whitespace/
      // punctuation variants inside tokens, sub-token splices). Broadcast
      // gram semi-join: the corpus side never shuffles. It reads the n-gram
      // pass's result twice, so that result is persisted (and filled by the
      // stage's count) rather than computed twice.
      cfg.decontaminateExactMinLen.foreach { l =>
        val ngramClean = persisted(corpus)
        corpus = keep(ngramClean, Dedup.exactContamination(ngramClean, cfg.idColumn,
            cfg.textColumn, bench, cfg.idColumn, cfg.textColumn, minLen = l)
          .where(col("contaminated") === 0))
      }
    }
    stages += "after_decontaminate" -> boundary(_.count())

    // DSIR selection (importance resampling toward the configured target
    // slice): runs on the decontaminated corpus so weights are fit on what
    // could actually ship; the Gumbel noise is a content hash, so the kept
    // set is append-stable and retry-safe like every selection here.
    cfg.dsirTargetColumn.foreach { tc =>
      val w = graft.operators.Dsir.importanceWeights(
        corpus, cfg.idColumn, cfg.textColumn,
        col(tc) === cfg.dsirTargetValue, cfg.dsirBuckets)
      corpus = keep(corpus, graft.operators.Dsir.gumbelTopK(w, cfg.idColumn, cfg.dsirKeep))
    }
    stages += "after_dsir" -> boundary(_.count())

    (cfg.sampleStratum, cfg.sampleKPerStratum) match {
      case (Some(stratum), Some(k)) =>
        // Weighted mode: k per stratum, inclusion probability ∝ the weight
        // column (config validation guarantees weightColumn is set and the
        // percent-mode keys are absent).
        corpus = graft.operators.Mixture.weightedSample(
          corpus, cfg.idColumn, col(cfg.sampleWeightColumn.get), stratum, k)
      case (Some(stratum), None) =>
        corpus = Dedup.stratifiedSample(corpus, id, col(stratum),
          cfg.sampleRates, cfg.sampleDefault)
      case _ =>
    }
    stages += "after_sample" -> boundary(_.count())

    // Token-budgeted mixture assembly — the final "build the training mix"
    // stage; selection joins back so the corpus keeps its full columns.
    cfg.mixtureTotalTokens.foreach { total =>
      corpus = keep(corpus, graft.operators.Mixture.mixtureSample(
        corpus, cfg.idColumn, cfg.mixtureSourceColumn,
        nWords.cast("long"), cfg.mixtureWeights, total,
        temperature = cfg.mixtureTemperature))
      stages += "after_mixture" -> boundary(_.count())
    }

    val (out, partitionCols) =
      if (cfg.splits.nonEmpty) (Dedup.splitAssign(corpus, id, cfg.splits), Seq("split"))
      else (corpus, Nil)

    // The write job observes the written rows, their token budget (the
    // number a training-mix plan actually consumes; the SAME guarded word
    // count as the filter stage, so an empty doc let through by
    // min-words: 0 bills no token) and one row count per configured split.
    val writeObs = Observation()
    val splitNames = cfg.splits.map(_._1).zipWithIndex
    val observed = out.observe(writeObs, count(lit(1)).as("rows"),
      (coalesce(sum(nWords.cast("long")), lit(0L)).as("tokens") +: splitNames.map {
        case (name, i) => count(when(col("split") === name, 1)).as(s"split_$i") }): _*)
    val writer = observed.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(s"${cfg.output}/corpus")
    val wm = writeObs.get
    stages += "written" -> wm("rows").asInstanceOf[Long]
    stages += "written_tokens" -> wm("tokens").asInstanceOf[Long]
    // A split with no rows stays out of the map, as no partition dir holds it.
    val splitCounts: Map[String, Long] = splitNames
      .map { case (name, i) => name -> wm(s"split_$i").asInstanceOf[Long] }
      .filter(_._2 > 0).toMap

    // Pretraining example export — the fixed-L cut of the curated corpus
    // (first-listed split only when splits are configured: slicing held-out
    // docs into cross-document examples would stitch eval text INTO train
    // examples, the leak the split exists to prevent). Reads the corpus
    // back from disk, so the slice costs no re-run of the curation subtree.
    cfg.exampleLen.foreach { len =>
      // Explicit schema on the readback: a config whose filters drop EVERY
      // row writes an empty partitioned dir (no part files), and schema
      // inference would throw UNABLE_TO_INFER_SCHEMA.
      val written = spark.read.schema(out.schema).parquet(s"${cfg.output}/corpus")
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

    StageReport(("input" -> input) +: stages.result(), splitCounts, dqResults)
  }
}
