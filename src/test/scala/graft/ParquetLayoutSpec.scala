package graft

import org.apache.spark.sql.functions._

import graft.sinks.ParquetLayout

class ParquetLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("partitioned write prunes directories and bounds files per partition") {
    val out = scratchDir("graft-layout").toString + "/t"
    val df = (0 until 10000)
      .map(i => (f"2024-01-${i % 3 + 1}%02d", i.toLong, i * 1.5))
      .toDF("dt", "k", "v")
    ParquetLayout.writePartitioned(df, out, Seq("dt"), Seq("k"), filesPerPartition = 2)

    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("dt=2024-01-01", "dt=2024-01-02", "dt=2024-01-03"))
    dirs.foreach { d =>
      val files = new java.io.File(s"$out/$d").listFiles().count(_.getName.endsWith(".parquet"))
      assert(files <= 2, s"$d has $files files")
    }

    // Partition pruning: a dt filter reads one directory only — asserted on
    // the executed scan's numFiles METRIC, not a plan-string grep.
    val totalFiles = dirs.map(d =>
      new java.io.File(s"$out/$d").listFiles().count(_.getName.endsWith(".parquet"))).sum
    val prunedFiles = org.apache.spark.sql.graft.Shim.scannedFileCounts(
      spark.read.parquet(out).where(col("dt") === "2024-01-02")).sum
    assert(prunedFiles > 0 && prunedFiles <= totalFiles / 3,
      s"dt filter scanned $prunedFiles of $totalFiles files")
    assert(spark.read.parquet(out).where(col("dt") === "2024-01-02").count() > 0)

    // All rows survive the layout round trip.
    assert(spark.read.parquet(out).count() == 10000)
  }

  test("dynamic partition pruning: star join reads only the dim-selected fact dirs") {
    val out = scratchDir("graft-dpp").toString + "/fact"
    val fact = (0 until 5000)
      .map(i => (Seq("a", "b", "c", "d", "e")(i % 5), i.toLong, i * 1.0))
      .toDF("part", "k", "v")
    fact.write.partitionBy("part").parquet(out)
    val back = spark.read.parquet(out)
    val allFiles = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    // Filtered dim joined on the partition column: Spark's DPP plants the
    // dim's surviving keys as a runtime subquery filter on the fact scan —
    // asserted on the executed scan's numFiles metric (Shim descends into
    // DPP subqueries), not a plan-string grep. 2 of 5 dims survive, so the
    // fact scan must touch ≤ 2/5 of the files. The dim must be a FILE scan:
    // an in-memory Seq dim gets its filter constant-folded away by
    // ConvertToLocalRelation, leaving no selective predicate for DPP to
    // key on — the same trap a user hits joining a literal lookup table.
    val dimPath = scratchDir("graft-dpp-dim").toString + "/dim"
    Seq(("a", 10), ("b", 1), ("c", 1), ("d", 1), ("e", 20))
      .toDF("part", "w").write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("w") >= 10)
    val joined = back.join(broadcast(dim), Seq("part"))
    val factFiles = org.apache.spark.sql.graft.Shim.scannedFileCounts(joined).max
    assert(factFiles > 0 && factFiles <= allFiles * 2 / 5,
      s"DPP fact scan touched $factFiles of $allFiles files")
    assert(joined.count() == 2000)
  }

  test("IVF cell layout: probes read a partition-pruned subset of cells") {
    import graft.operators.Similarity
    val out = scratchDir("graft-ivf-layout").toString + "/ivf"
    val vecs = (0 until 200)
      .map(i => (i.toLong, Array(math.cos(i * 0.7).toFloat, math.sin(i * 0.7).toFloat)))
      .toDF("vec_id", "embedding")
    val cents = vecs.where(col("vec_id") < 4)
    Similarity.assignCells(vecs, cents, "vec_id", "embedding")
      .write.partitionBy("cid").parquet(out)
    val back = spark.read.parquet(out)
    // Static cell filter → the scan's numFiles metric covers ONE cell's
    // files, not the whole layout (4 cells -> ≤ 1/4 of the files; each cell
    // directory may hold several files, so count files, not dirs).
    val allFiles = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val oneCell = org.apache.spark.sql.graft.Shim.scannedFileCounts(
      back.where(col("cid") === 1)).sum
    assert(oneCell > 0 && oneCell <= allFiles / 4,
      s"cid filter scanned $oneCell of $allFiles files")
    assert(back.where(col("cid") === 1).count() > 0 && back.where(col("cid") === 1).count() < 200)
    // And the prebuilt probe path returns the same rows as the in-plan IVF.
    val q = vecs.where(col("vec_id") >= 190)
    val a = Similarity.topKIvfPrebuilt(q, back, cents, "vec_id", "embedding", k = 3)
      .collect().map(_.toString).sorted
    val b = Similarity.topKIvf(q, vecs, cents, "vec_id", "embedding", k = 3)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // The probe SCAN is pruned: one query probing nProbe=1 of 4 cells must
    // touch ≤ 1/4 of the layout's files (DPP does not fire for this join
    // shape — the operator pushes the probed-cell set as a static filter).
    val oneQ = vecs.where(col("vec_id") === 190)
    val probeFiles = org.apache.spark.sql.graft.Shim.scannedFileCounts(
      Similarity.topKIvfPrebuilt(oneQ, back, cents, "vec_id", "embedding", k = 3, nProbe = 1)).sum
    assert(probeFiles > 0 && probeFiles <= allFiles / 4,
      s"probe scanned $probeFiles of $allFiles files")
  }

  test("curriculum layout: a decile-head reader prunes to its buckets") {
    import graft.operators.Quality
    val out = scratchDir("graft-cur-layout").toString + "/cur"
    val docs = (1 to 400).map(i => (i.toLong, s"src${i % 2}", (i * 37 % 991) + 10))
      .toDF("doc_id", "source", "n_chars")
    val ranked = Quality.rankBlend(docs, "source", "doc_id", Seq(col("n_chars")))
    graft.sinks.ParquetLayout.writePartitioned(
      ranked.select("doc_id", "source", "n_chars", "decile"),
      out, partitionCols = Seq("decile"), sortCols = Seq("n_chars"))
    val back = spark.read.parquet(out)
    val allFiles = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    // The easy-head reader (2 of 10 deciles) touches ≤ 1/5 + rounding of
    // the layout's files — directory pruning, no data read from the tail.
    val headFiles = org.apache.spark.sql.graft.Shim.scannedFileCounts(
      back.where(col("decile") <= 2)).sum
    assert(headFiles > 0 && headFiles <= (allFiles * 2) / 10 + 1,
      s"head read scanned $headFiles of $allFiles files")
    // Every row lands in exactly one decile and the round trip is lossless.
    assert(back.count() == 400)
    assert(back.select("decile").distinct().count() == 10)
  }
}
