package graft

import org.apache.spark.sql.functions._

import graft.config.CurateConfig

class CurateMainSpec extends SparkSpec {
  import spark.implicits._

  private val yaml =
    """# corpus curation run
      |input: IN
      |output: OUT
      |filters:
      |  min-words: 20
      |nfc: true
      |dedup:
      |  exact: true
      |  near-threshold: 0.3
      |sample:
      |  stratum-column: source
      |  default-percent: 100
      |split:
      |  - train: 80
      |  - val: 10
      |  - test: 10
      |""".stripMargin

  test("CurateConfig.fromYaml: full document round-trips; unknown keys fail") {
    val cfg = CurateConfig.fromYaml(
      yaml.replace("IN", "/a/docs.parquet").replace("OUT", "/b/out"))
    assert(cfg.minWords == 20 && cfg.nfc && cfg.dedupExact)
    assert(cfg.nearDupThreshold.contains(0.3))
    assert(cfg.sampleStratum.contains("source") && cfg.sampleDefault == 100.0)
    assert(cfg.splits == Seq("train" -> 80.0, "val" -> 10.0, "test" -> 10.0))
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\nfliters:\n  min-words: 1")
    }
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\nfilters:\n  min-wrods: 1")
    }
  }

  test("CurateConfig.fromYaml: half-specified stages fail loudly") {
    // sample without stratum-column would silently sample nothing
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\nsample:\n  default-percent: 10")
    }
    // decontaminate without against would silently skip the stage
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\ndecontaminate:\n  n: 13")
    }
  }

  test("CurateConfig: weighted-sample mode parses; half-specified/mixed modes refuse") {
    val cfg = CurateConfig.fromYaml(
      "input: a\noutput: b\nsample:\n  stratum-column: source\n  k-per-stratum: 20\n  weight-column: n_chars")
    assert(cfg.sampleKPerStratum.contains(20) && cfg.sampleWeightColumn.contains("n_chars"))
    // k without weight column -> silent uniform sampling, refused
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml(
        "input: a\noutput: b\nsample:\n  stratum-column: source\n  k-per-stratum: 20")
    }
    // weighted and percent modes must not combine
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\nsample:\n  stratum-column: source\n" +
        "  k-per-stratum: 20\n  weight-column: n_chars\n  default-percent: 10")
    }
    // weight column alone does nothing -> refused
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml(
        "input: a\noutput: b\nsample:\n  stratum-column: source\n  weight-column: n_chars")
    }
  }

  test("CurateMain.run: weighted sample stage keeps exactly k per stratum") {
    val out = scratchDir("graft-curate-w").toString
    val cfg = CurateConfig.fromYaml(
      s"""input: /root/testdata/sf0.001/documents.parquet
         |output: $out
         |sample:
         |  stratum-column: source
         |  k-per-stratum: 7
         |  weight-column: n_chars
         |""".stripMargin)
    CurateMain.run(spark, cfg)
    val got = spark.read.parquet(s"$out/corpus")
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(got.nonEmpty && got.forall(_ <= 7))
    graft.QueriesExt.rmTree(new java.io.File(out))
  }

  test("StageReport.json escapes quotes/backslashes in split names") {
    val r = CurateMain.StageReport(Seq("input" -> 1L), Map("""he"ld\x""" -> 1L))
    assert(r.json == """{"stages":{"input":1},"splits":{"he\"ld\\x":1},"dq":{}}""")
  }

  test("CurateMain.run end-to-end on sf0.001: stages monotone, dups removed, splits cover") {
    val out = scratchDir("graft-curate").toString
    val cfg = CurateConfig.fromYaml(
      yaml.replace("IN", "/root/testdata/sf0.001/documents.parquet").replace("OUT", out))
    val report = CurateMain.run(spark, cfg)
    val m = report.stages.toMap
    assert(m("input") > 0)
    // each stage can only shrink the corpus
    val order = Seq("input", "after_filters", "after_segment_lm", "after_self_dedup",
      "after_exact_substr", "after_exact_dedup", "after_near_dedup", "after_decontaminate",
      "after_sample", "written")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(m(a) >= m(b), s"$a=${m(a)} < $b=${m(b)}")
    }
    assert(m("written") > 0)
    assert(m("written_tokens") >= m("written")) // every kept doc has >= 1 token
    assert(report.splits.values.sum == m("written"))
    assert(report.splits.keySet.subsetOf(Set("train", "val", "test")))
    // written corpus is exact-dup-free
    val corpus = spark.read.parquet(s"$out/corpus")
    assert(corpus.groupBy(md5(col("text"))).count().where(col("count") > 1).isEmpty)
    // Stages this config leaves off pass their input frame through and
    // report its count.
    Seq("after_classifier" -> "after_filters", "after_segment_lm" -> "after_classifier",
      "after_self_dedup" -> "after_segment_lm", "after_exact_substr" -> "after_self_dedup",
      "after_decontaminate" -> "after_near_dedup", "after_dsir" -> "after_decontaminate")
      .foreach { case (off, prev) => assert(m(off) == m(prev), s"$off=${m(off)} != $prev=${m(prev)}") }
    // The written rows, tokens and split sizes the write job observed are
    // those of the corpus read back.
    val tokens = when(length(trim(col("text"))) === 0, lit(0))
      .otherwise(size(graft.operators.Dedup.tokens(col("text"))))
    val back = corpus.agg(count(lit(1)), coalesce(sum(tokens.cast("long")), lit(0L))).head()
    assert(m("written") == back.getLong(0) && m("written_tokens") == back.getLong(1))
    assert(report.splits == corpus.groupBy("split").count().as[(String, Long)].collect().toMap)
    // The whole report: stage counts, token total and split sizes.
    assert(report.json ==
      """{"stages":{"input":500,"after_filters":446,"after_classifier":446,""" +
      """"after_segment_lm":446,"after_self_dedup":446,"after_exact_substr":446,""" +
      """"after_exact_dedup":446,"after_near_dedup":424,"after_decontaminate":424,""" +
      """"after_dsir":424,"after_sample":424,"written":424,"written_tokens":25735},""" +
      """"splits":{"test":52,"train":320,"val":52},"dq":{}}""")
  }

  test("CurateMain.run: a second CurateMain.run in one session compiles no new classes") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val out = scratchDir("graft-curate-warm").toString
    val vocab = "spark batch stream join table window merge query row column data sort".split(" ")
    def doc(i: Int) = (0 until 30).map(j => vocab((i * 7 + j * j) % vocab.length)).mkString(" ")
    (0 until 40).map(i => (i.toLong, doc(i % 30), s"src${i % 3}")).toDF("doc_id", "text", "source")
      .write.parquet(s"$out/in")
    Seq((1000L, doc(1))).toDF("doc_id", "text").write.parquet(s"$out/bench")
    // The end-to-end config plus decontamination: more generated classes
    // than Spark's default 100-entry codegen cache holds.
    val cfg = CurateConfig.fromYaml(
      yaml.replace("IN", s"$out/in").replace("OUT", s"$out/run") +
        s"decontaminate:\n  against: $out/bench\n  n: 8\n")
    val first = CurateMain.run(spark, cfg)
    val compiledBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val second = CurateMain.run(spark, cfg)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiledBefore
    assert(second == first)
    assert(compiled == 0, s"the second run compiled $compiled classes")
  }

  test("CurateConfig.fromYaml: examples block parses and guards") {
    val cfg = CurateConfig.fromYaml(
      "input: a\noutput: b\nexamples:\n  len: 128\n  eod: <eos>")
    assert(cfg.exampleLen.contains(128) && cfg.exampleEod == "<eos>")
    // eod without len would silently slice nothing
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\nexamples:\n  eod: <eos>")
    }
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\nexamples:\n  length: 8")
    }
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\nexamples:\n  len: 1")
    }
  }

  test("CurateMain.run: examples export slices the train split only, exact-L rows") {
    val out = scratchDir("graft-curate-ex").toString
    val in = scratchDir("graft-curate-ex-in").toString
    (1 to 40).map(i => (i.toLong, (1 to 10).map(j => s"w${i}_$j").mkString(" "), "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$in/docs.parquet")
    val cfg = CurateConfig(
      input = s"$in/docs.parquet", output = out, dedupExact = false,
      splits = Seq("train" -> 50.0, "val" -> 50.0), exampleLen = Some(8))
    val report = CurateMain.run(spark, cfg)
    val m = report.stages.toMap
    val ex = spark.read.parquet(s"$out/examples")
    assert(m("examples") == ex.count() && m("examples") > 0)
    assert(ex.select("n_tokens").as[Long].collect().forall(_ == 8L))
    // Only train-split tokens may appear: every non-eod token belongs to a
    // doc assigned `train` in the written corpus.
    val trainIds = spark.read.parquet(s"$out/corpus")
      .where(col("split") === "train").select("doc_id").as[Long].collect().toSet
    val tokenDocIds = ex.select("text").as[String].collect()
      .flatMap(_.split(" ")).filter(_ != "<|eod|>")
      .map(t => t.stripPrefix("w").takeWhile(_ != '_').toLong).toSet
    assert(tokenDocIds.nonEmpty && tokenDocIds.subsetOf(trainIds))
    // train docs: 11 tokens each incl. eod -> full examples of 8, partial tail dropped
    assert(m("examples") == trainIds.size * 11 / 8)
  }

  test("CurateMain.run: segment-lm prunes the low-likelihood window, scripts allow-list drops foreign docs") {
    val dir = scratchDir("graft-seg").toString
    val rare = "qqxyzzy wobblefrak zimzam"
    val common = (1 to 40).map(_ => "alpha beta gamma delta").mkString(" ")
    Seq(
      (1L, s"$common $rare", "s0"),              // rare tail window pruned, doc kept
      (2L, common, "s0"),                        // untouched
      (3L, "съешь ещё этих мягких булок и выпей чаю сказал кот и ушёл прочь опять", "s0") // cyrillic -> dropped
    ).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(s"$dir/in")
    val cfg = CurateConfig.fromYaml(
      s"""input: $dir/in
         |output: $dir/out
         |filters:
         |  min-words: 5
         |  allowed-scripts: latin
         |dedup:
         |  exact: false
         |  self-minlen: 30
         |segment-lm:
         |  tokens: 4
         |  min-score: -2.5
         |""".stripMargin)
    val report = CurateMain.run(spark, cfg)
    val m = report.stages.toMap
    assert(m("input") == 3)
    assert(m("after_filters") == 2)     // cyrillic doc dropped by the allow-list
    assert(m("after_segment_lm") == 2)  // both survivors keep >= 1 window
    assert(m("after_self_dedup") == 2)  // cut shortens text, drops no docs
    val outDocs = spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(!outDocs(1L).contains("wobblefrak")) // rare window pruned from text
    // doc 2 is "alpha beta gamma delta" x40 — intra-doc periodic repetition:
    // the self-dedup cut collapses it far below the original length
    assert(outDocs(2L).length < common.length / 2 && outDocs(2L).nonEmpty)
    assert(outDocs(2L).startsWith("alpha beta gamma delta"))
    graft.QueriesExt.rmTree(new java.io.File(dir))
  }

  test("CurateMain.run: exact-substr cut removes every copy of a cross-doc repeat") {
    val dir = scratchDir("graft-exsub").toString
    val shared = (1 to 8).map(i => s"boiler$i").mkString(" ") // 63 chars, one corpus-wide repeat
    Seq(
      (1L, s"alpha one two three four $shared", "s0"),
      (2L, s"beta five six seven eight $shared", "s0"),
      (3L, "gamma nine ten eleven twelve unique", "s0")
    ).toDF("doc_id", "text", "source").write.mode("overwrite").parquet(s"$dir/in")
    val cfg = CurateConfig.fromYaml(
      s"""input: $dir/in
         |output: $dir/out
         |dedup:
         |  exact: false
         |  exact-substr-minlen: 40
         |""".stripMargin)
    assert(cfg.exactSubstrMinLen.contains(40))
    val report = CurateMain.run(spark, cfg)
    val m = report.stages.toMap
    assert(m("after_exact_substr") == 3) // cut shortens text, drops no docs
    val outDocs = spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    // remove-EVERY-occurrence: the boilerplate is gone from both carriers
    assert(!outDocs(1L).contains("boiler3") && !outDocs(2L).contains("boiler3"))
    assert(outDocs(1L).startsWith("alpha") && outDocs(2L).startsWith("beta"))
    assert(outDocs(3L) == "gamma nine ten eleven twelve unique")
    // the guard rejects a cap-exceeding min-len at parse time
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\ndedup:\n  exact-substr-minlen: 600")
    }
    graft.QueriesExt.rmTree(new java.io.File(dir))
  }

  test("CurateMain.run: exact-minlen decontamination catches a sub-token verbatim leak the n-gram flag misses") {
    val dir = scratchDir("graft-exdecon").toString
    // The 30-char leak sits INSIDE one long token of doc 1, so the
    // token-level n-gram flag can never fire (no shared token), but the
    // character-verbatim pass must.
    val leak = "SECRETBENCHMARKANSWERPAYLOAD30"
    Seq(
      (1L, s"alpha one two prefix${leak}suffix three four five", "s0"),
      (2L, "beta six seven eight nine ten eleven twelve", "s0")
    ).toDF("doc_id", "text", "source").write.mode("overwrite").parquet(s"$dir/in")
    Seq((100L, s"question about $leak indeed", "bench"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(s"$dir/bench")
    def run(exactLine: String) = {
      val cfg = CurateConfig.fromYaml(
        s"""input: $dir/in
           |output: $dir/out
           |dedup:
           |  exact: false
           |decontaminate:
           |  against: $dir/bench
           |  n: 3
           |$exactLine""".stripMargin.trim)
      CurateMain.run(spark, cfg)
      spark.read.parquet(s"$dir/out/corpus").select("doc_id").as[Long].collect().toSet
    }
    // n-gram-only: the leak is invisible (no shared TOKEN), both docs survive
    assert(run("") == Set(1L, 2L))
    // exact pass: doc 1 is dropped, the clean doc survives
    assert(run("  exact-minlen: 25") == Set(2L))
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\ndecontaminate:\n  against: x\n  exact-minlen: 600")
    }
    graft.QueriesExt.rmTree(new java.io.File(dir))
  }

  test("CurateConfig: off-panel allowed-scripts fail at parse, never as a silent empty corpus") {
    val bad = intercept[IllegalArgumentException] {
      CurateConfig.fromYaml(
        """input: /x
          |output: /y
          |filters:
          |  allowed-scripts: latn
          |""".stripMargin)
    }
    assert(bad.getMessage.contains("latn"))
    // case-insensitive panel membership parses fine
    val ok = CurateConfig.fromYaml(
      """input: /x
        |output: /y
        |filters:
        |  allowed-scripts: LATIN,han
        |""".stripMargin)
    assert(ok.allowedScripts == Seq("LATIN", "han"))
  }

  test("CurateMain.run: repetition filters drop degenerate docs") {
    val out = scratchDir("graft-curate3").toString
    val in = scratchDir("graft-curate3-in").toString
    val uniq = (1 to 30).map(i => s"w$i").mkString(" ")
    Seq(
      (1L, uniq, "srcA"),
      (2L, Seq.fill(30)("same").mkString(" "), "srcA"), // dup_word_frac ~ 1
      (3L, uniq + " " + uniq, "srcA"))                  // dup'd text but varied words
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$in/docs.parquet")
    val cfg = CurateConfig(
      input = s"$in/docs.parquet", output = out,
      minWords = 0, dedupExact = false, maxDupWordFrac = 0.7)
    val report = CurateMain.run(spark, cfg)
    val ids = spark.read.parquet(s"$out/corpus").select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 3L)) // the all-same-word doc is gone
    assert(report.stages.toMap.apply("after_filters") == 2)
  }

  test("CurateMain.run: default min-words drops empty and whitespace-only docs") {
    val out = scratchDir("graft-curate4").toString
    val in = scratchDir("graft-curate4-in").toString
    Seq((1L, "one real doc", "s"), (2L, "", "s"), (3L, "   ", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$in/docs.parquet")
    val cfg = CurateConfig(input = s"$in/docs.parquet", output = out, dedupExact = false)
    CurateMain.run(spark, cfg)
    val ids = spark.read.parquet(s"$out/corpus").select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L))
  }

  test("CurateMain.run: filters dropping EVERY row reports zeros, not a readback crash") {
    val out = scratchDir("graft-curate-empty").toString
    val in = scratchDir("graft-curate-empty-in").toString
    Seq((1L, "too short", "s"), (2L, "also short", "s"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$in/docs.parquet")
    // min-words 100 kills both docs; split partitioning writes an empty dir
    // with no part files — the report must still come back with zeros.
    val cfg = CurateConfig(
      input = s"$in/docs.parquet", output = out, minWords = 100,
      dedupExact = false, splits = Seq("train" -> 90.0, "test" -> 10.0))
    val report = CurateMain.run(spark, cfg)
    val m = report.stages.toMap
    assert(m("after_filters") == 0 && m("written") == 0 && m("written_tokens") == 0)
    assert(report.splits.isEmpty)
  }

  test("CurateMain.run: dq block reports violations, fail-on-violation aborts, clean input passes") {
    val out = scratchDir("graft-curate-dq").toString
    val in = scratchDir("graft-curate-dq-in").toString
    Seq(
      (1L, "alpha beta gamma delta", "src0"),
      (1L, "epsilon zeta eta theta", "src0"),     // duplicate doc_id
      (2L, "iota kappa lambda mu", "weird-src")   // unaccepted source
    ).toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    val dqYaml =
      s"""input: $in
         |output: $out
         |dq:
         |  not-null: doc_id,text
         |  unique: doc_id
         |  accepted:
         |    source: src0,src1,src2
         |""".stripMargin
    val report = CurateMain.run(spark, CurateConfig.fromYaml(dqYaml))
    val dq = report.dq.toMap
    assert(dq("not_null:doc_id") == 0L && dq("not_null:text") == 0L)
    assert(dq("unique:doc_id") == 1L)
    assert(dq("accepted:source") == 1L)
    assert(report.json.contains(""""dq":{"""))
    // fail-on-violation aborts before any curation write
    val failing = CurateConfig.fromYaml(dqYaml + "  fail-on-violation: true\n")
    val ex = intercept[CurateMain.DqViolation] { CurateMain.run(spark, failing) }
    assert(ex.getMessage.contains("unique:doc_id=1"))
    // clean input with the same contract passes and reports zeros
    val cleanIn = scratchDir("graft-curate-dq-clean").toString
    Seq((1L, "alpha beta", "src0"), (2L, "gamma delta", "src1"))
      .toDF("doc_id", "text", "source").write.mode("overwrite").parquet(cleanIn)
    val cleanCfg = CurateConfig.fromYaml(
      dqYaml.replace(s"input: $in", s"input: $cleanIn") + "  fail-on-violation: true\n")
    val cleanReport = CurateMain.run(spark, cleanCfg)
    assert(cleanReport.dq.forall(_._2 == 0L))
  }

  test("CurateConfig.fromYaml: gopher/html-strip/keep/mixture knobs parse and guard") {
    val cfg = CurateConfig.fromYaml(
      """input: a
        |output: b
        |filters:
        |  gopher: true
        |  html-strip: true
        |dedup:
        |  near-threshold: 0.3
        |  keep: best
        |mixture:
        |  total-tokens: 5000
        |  weights:
        |    src0: 2.0
        |    src1: 1.0
        |""".stripMargin)
    assert(cfg.gopher && cfg.htmlStrip && cfg.nearDupKeepBest)
    assert(cfg.mixtureTotalTokens.contains(5000L))
    assert(cfg.mixtureWeights == Map("src0" -> 2.0, "src1" -> 1.0))
    // half-specified mixture fails loudly
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\nmixture:\n  total-tokens: 5000")
    }
    // invalid keep mode fails loudly
    intercept[Exception] {
      CurateConfig.fromYaml("input: a\noutput: b\ndedup:\n  keep: newest")
    }
  }

  test("CurateMain.run: gopher+keep-best+mixture stages execute and report") {
    val tmp = scratchDir("curate-mix").toString
    val docsTxt = (1 to 13).flatMap(_ => Seq("the", "brown", "fox", "and", "dog")).mkString(" ")
    val near = docsTxt + " extra"
    Seq(
      (1L, s"<p>$docsTxt</p>", "src0"),        // html-wrapped, survives strip+gopher
      (2L, near, "src0"),                       // near-dup of 1 (longer -> best)
      (3L, "short doc", "src0"),                // fails gopher word count
      (4L, (1 to 11).flatMap(_ => Seq("that", "quick", "red", "bird", "of", "sky")).mkString(" "), "src1"))
      .toDF("doc_id", "text", "source")
      .write.parquet(s"$tmp/in")
    val cfg = CurateConfig.fromYaml(
      s"""input: $tmp/in
         |output: $tmp/out
         |filters:
         |  gopher: true
         |  html-strip: true
         |dedup:
         |  near-threshold: 0.3
         |  keep: best
         |mixture:
         |  total-tokens: 1000
         |  weights:
         |    src0: 1.0
         |    src1: 1.0
         |""".stripMargin)
    val report = CurateMain.run(spark, cfg)
    val st = report.stages.toMap
    assert(st("after_filters") == 3L, "gopher drops the short doc")
    assert(st("after_near_dedup") == 2L, "near-dup cluster collapses")
    assert(st.contains("after_mixture"))
    val kept = spark.read.parquet(s"$tmp/out/corpus")
      .select("doc_id").as[Long].collect().toSet
    // keep: best retains doc 2 (longer text scores higher quality), not min-id 1
    assert(kept.contains(2L) && !kept.contains(1L), s"keep-best should keep 2, got $kept")
    assert(kept.contains(4L))
  }

  test("CurateMain.run: classifier and dsir stages filter and select as configured") {
    val tmp = scratchDir("curate-cls").toString
    // Good docs (lang=en) speak fruit; junk docs speak spam. Two UNLABELED
    // rows (lang=xx) carry one vocabulary each: the classifier must keep
    // the fruit-speaking one and drop the spam-speaking one; DSIR then
    // keeps the 4 most-target-like of the survivors.
    val fruit = "apple pear plum cherry grape melon"
    val spamT = "spam junk casino pills scam popup"
    (Seq(
      (100L, fruit + " one", "en"), (101L, fruit + " two", "en"),
      (102L, fruit + " three", "en"), (103L, spamT + " one", "de"),
      (104L, spamT + " two", "de"), (105L, fruit + " mixed", "xx"),
      (106L, spamT + " mixed", "xx")))
      .toDF("doc_id", "text", "lang")
      .write.parquet(s"$tmp/in")
    val cfg = CurateConfig.fromYaml(
      s"""input: $tmp/in
         |output: $tmp/out
         |classifier:
         |  seed-column: lang
         |  seed-value: en
         |dsir:
         |  target-column: lang
         |  target-value: en
         |  keep: 3
         |""".stripMargin)
    val report = CurateMain.run(spark, cfg).stages.toMap
    assert(report("after_filters") == 7L)
    assert(report("after_classifier") == 4L, "classifier drops the three spam-speaking rows")
    assert(report("after_dsir") == 3L)
    val kept = spark.read.parquet(s"$tmp/out/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.subsetOf(Set(100L, 101L, 102L, 105L)),
      s"dsir must select among the fruit-speaking survivors, got $kept")
    assert(kept.size == 3)
  }

  test("CurateMain.run: unpersists every stage frame it persisted") {
    val tmp = scratchDir("curate-cache").toString
    val fruit = "apple pear plum cherry grape melon kiwi lime"
    Seq((1L, s"$fruit one", "en"), (2L, s"$fruit two", "en"), (3L, s"$fruit two", "en"),
      (4L, "spam junk casino pills scam popup ads", "de"), (5L, s"$fruit five", "xx"))
      .toDF("doc_id", "text", "lang").write.parquet(s"$tmp/in")
    Seq((9L, s"quiz on $fruit five", "bench")).toDF("doc_id", "text", "lang").write.parquet(s"$tmp/bench")
    // One run per combination that persists a frame no later stage reuses:
    // classifier with segment-lm, exact-substr with exact dedup,
    // decontaminate with exact-minlen, and dsir; then all of them at once
    // with a split. Each stage joins a frame derived from its input back
    // onto that input, so the last run only finishes (in seconds) when
    // every stage reads its input through a one-line leaf: Spark's
    // description of a query otherwise prints each cached stage below it
    // in full, nested, and grows as the product of the stages.
    val allOn =
      "classifier:\n  seed-column: lang\n  seed-value: en\n  min-score: -100\n" +
        "segment-lm:\n  tokens: 2\n  min-score: -100\n" +
        "dedup:\n  exact: true\n  exact-substr-minlen: 40\n" +
        s"decontaminate:\n  against: $tmp/bench\n  n: 3\n  exact-minlen: 20\n" +
        "dsir:\n  target-column: lang\n  target-value: en\n  keep: 2\n" +
        "split:\n  - train: 80\n  - val: 20"
    Seq(
      "classifier:\n  seed-column: lang\n  seed-value: en\n  min-score: -100\n" +
        "segment-lm:\n  tokens: 2\n  min-score: -100\ndedup:\n  exact: false",
      "dedup:\n  exact: true\n  exact-substr-minlen: 40",
      s"dedup:\n  exact: false\ndecontaminate:\n  against: $tmp/bench\n  n: 3\n  exact-minlen: 20",
      "dedup:\n  exact: false\ndsir:\n  target-column: lang\n  target-value: en\n  keep: 2",
      allOn
    ).foreach { stages =>
      val cfg = CurateConfig.fromYaml(s"input: $tmp/in\noutput: $tmp/out\n$stages\n")
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val report = CurateMain.run(spark, cfg)
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"RDDs still persisted after a run with\n$stages")
      if (stages == allOn)
        assert(report.json ==
          """{"stages":{"input":5,"after_filters":5,"after_classifier":5,"after_segment_lm":5,""" +
          """"after_self_dedup":5,"after_exact_substr":5,"after_exact_dedup":4,"after_near_dedup":4,""" +
          """"after_decontaminate":4,"after_dsir":2,"after_sample":2,"written":2,"written_tokens":2},""" +
          """"splits":{"train":1,"val":1},"dq":{}}""")
    }
  }

  test("CurateConfig.fromYaml: classifier/dsir blocks parse and guard") {
    val cfg = CurateConfig.fromYaml(
      """input: a
        |output: b
        |classifier:
        |  seed-column: lang
        |  seed-value: en
        |  min-score: -1.5
        |dsir:
        |  target-column: source
        |  target-value: wiki
        |  keep: 250
        |  buckets: 1024
        |""".stripMargin)
    assert(cfg.classifierSeedColumn.contains("lang") && cfg.classifierMinScore == -1.5)
    assert(cfg.dsirTargetColumn.contains("source") && cfg.dsirKeep == 250 && cfg.dsirBuckets == 1024)
    // half-specified stages fail loudly
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\nclassifier:\n  min-score: 1")
    }
    intercept[IllegalArgumentException] {
      CurateConfig.fromYaml("input: a\noutput: b\ndsir:\n  target-column: lang\n  target-value: en")
    }
  }

  test("CurateMain.run: gopher honors configured min-words, not the published 50-word floor") {
    val tmp = scratchDir("curate-gmin").toString
    // 30 words, stopword-rich, alpha, mean length in range: passes every
    // gopher rule except (formerly) the hardcoded 50-word floor.
    val thirty = (1 to 6).flatMap(_ => Seq("the", "brown", "fox", "and", "dog")).mkString(" ")
    Seq((1L, thirty, "s")).toDF("doc_id", "text", "source").write.parquet(s"$tmp/in")
    val cfg = CurateConfig.fromYaml(
      s"""input: $tmp/in
         |output: $tmp/out
         |filters:
         |  min-words: 20
         |  gopher: true
         |""".stripMargin)
    val report = CurateMain.run(spark, cfg)
    assert(report.stages.toMap.apply("after_filters") == 1L,
      "explicit min-words: 20 must not be overridden by a 50-word gopher floor")
  }

  test("CurateMain.run: no-op config passes everything through unchanged") {
    val out = scratchDir("graft-curate2").toString
    val cfg = CurateConfig(
      input = "/root/testdata/sf0.001/documents.parquet",
      output = out, minWords = 0, dedupExact = false)
    val report = CurateMain.run(spark, cfg)
    val m = report.stages.toMap
    assert(m("input") == m("written"))
    assert(report.splits.isEmpty)
  }
}
