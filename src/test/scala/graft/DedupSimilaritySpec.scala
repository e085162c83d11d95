package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Multimodal, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again today"), // near-dup of 0
    (2L, "completely different words appear in this unrelated document body"),
    (3L, "the quick brown fox jumps over the lazy dog again and again")) // exact dup of 0
    .toDF("doc_id", "text")

  test("shingles: word 3-grams; short docs yield empty array") {
    val sh = Seq((1L, "a b c d"), (2L, "a b")).toDF("id", "t")
      .select(col("id"), Dedup.shingles(col("t"), 3).as("s"))
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) == Seq("a b c", "b c d"))
    assert(sh(2L) == Seq.empty)
  }

  test("exact dedup groups identical texts, survivor = min id") {
    val out = Dedup.exact(docs, "doc_id", md5(col("text")))
      .orderBy("kept_id")
      .select("kept_id", "dup_cnt").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((0L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("minhash LSH finds near and exact dup pairs, not the unrelated doc") {
    val pairs = Dedup.minHashLshPairs(docs, "doc_id", "text", n = 3, numHashes = 12, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup always collides
    assert(pairs.contains((0L, 1L)) || pairs.contains((1L, 3L))) // near-dup collides in ≥1 band
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhash LSH maxBucket cap drops oversize buckets (hot-cluster guard)") {
    // docs 0/1/3 form near-dup buckets of size 2-3; maxBucket = 1 disqualifies
    // every multi-member bucket, so pair generation yields nothing.
    val capped = Dedup.minHashLshPairs(docs, "doc_id", "text", n = 3, numHashes = 12, bands = 4, maxBucket = 1)
    assert(capped.count() == 0)
  }

  test("jaccard maxDf stop-shingles leave the shingle space (intersection AND union)") {
    // Three docs: 10 & 11 share ALL their shingles with each other; shingle
    // set of 12 overlaps them only via the hot prefix "a b c d e f" that all
    // three share (df = 3).
    val d = Seq(
      (10L, "a b c d e f x1 y1 z1"),
      (11L, "a b c d e f x1 y1 z1"),
      (12L, "a b c d e f q r s t u v w")).toDF("doc_id", "text")
    val loose = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.05)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(loose((10L, 11L)) == 1.0)
    assert(loose.contains((10L, 12L))) // hot prefix witnesses the pair
    // maxDf = 2 stops every df-3 shingle (the shared prefix): 10-12 loses its
    // only witnesses; 10-11 stays 1.0 because union counts shrink WITH the
    // intersection (filtered space, not just filtered postings).
    val capped = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.05, maxDf = 2)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(capped((10L, 11L)) == 1.0)
    assert(!capped.contains((10L, 12L)) && !capped.contains((11L, 12L)))
  }

  test("containment catches doc-inside-doc where jaccard structurally cannot") {
    // Doc 20 is fully embedded in doc 21 (a 9-token fragment in a 39-token
    // host): every fragment shingle appears in the host, so c(A→B) = 1,
    // while jaccard ≈ |A|/|B| stays small. Doc 22 is unrelated.
    val host = "a b c d e f g h i " + (1 to 30).map(j => s"w$j").mkString(" ")
    val d = Seq(
      (20L, "a b c d e f g h i"),
      (21L, host),
      (22L, "p q r s t u v")).toDF("doc_id", "text")
    val jac = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.5)
    assert(jac.count() == 0, "jaccard at 0.5 must miss the embedded fragment")
    val cont = Dedup.containmentPairs(d, "doc_id", "text", n = 3, threshold = 0.99)
      .as[(Long, Long, Double, Double)].collect()
    assert(cont.length == 1)
    val (a, b, cab, cba) = cont.head
    assert((a, b) == (20L, 21L))
    assert(cab == 1.0, s"fragment→host containment must be exactly 1, got $cab")
    assert(cba < 0.3, s"host→fragment containment must stay small, got $cba")
  }

  test("containment respects the df cap through the shared pair machinery") {
    // Same fixture as the jaccard maxDf test: capping df at 2 removes the
    // hot prefix — the only witnesses between 12 and the twins — while the
    // twins' mutual containment stays exactly 1 in the filtered space.
    val d = Seq(
      (10L, "a b c d e f x1 y1 z1"),
      (11L, "a b c d e f x1 y1 z1"),
      (12L, "a b c d e f q r s t u v w")).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(d, "doc_id", "text", n = 3, threshold = 0.5, maxDf = 2)
      .as[(Long, Long, Double, Double)].collect()
    assert(capped.map(t => (t._1, t._2)).toSet == Set((10L, 11L)))
    assert(capped.head._3 == 1.0 && capped.head._4 == 1.0)
  }

  test("perceptual hashes are brightness-shift invariant; unrelated images differ; corrupt degrades") {
    def png(w: Int, h: Int, shift: Int, seed: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        // keep raw values in [0, 200] so +shift never clamps at 255
        img.getRaster.setSample(x, y, 0, ((seed + 31 * x + 17 * y) % 200 + shift).toInt)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      (1L, png(24, 16, 0, 7L)),
      (2L, png(24, 16, 40, 7L)), // same image, 40 gray levels brighter
      (3L, png(24, 16, 0, 12345L)), // different content
      (4L, "garbage".getBytes)
    ).toDF("doc_id", "blob")
    val h = Multimodal.perceptualHashes(rows, "doc_id", "blob")
      .collect().map(r => r.getLong(0) -> r).toMap
    def quad(r: org.apache.spark.sql.Row) =
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(h(2L).getBoolean(5) && quad(h(1L)) == quad(h(2L)),
      "uniform brightness shift must not change a single hash bit")
    assert(quad(h(1L)) != quad(h(3L)), "different content must hash differently")
    assert(!h(4L).getBoolean(5) && h(4L).isNullAt(1), "corrupt blob degrades, never fails")
  }

  test("imageNearDupPairs: 4-band pigeonhole catches hamming<=3 even when all flips share a band") {
    def hrow(id: Long, alo: Long, ahi: Long) = (id, alo, ahi, 0L, 0L, true)
    val base = (0xABCD1234L, 0x0F0F7777L)
    val hashes = Seq(
      hrow(1L, base._1, base._2),
      hrow(2L, base._1 ^ 0x7L, base._2), // 3 flips, ALL in band 0
      hrow(3L, base._1 ^ 0xF00L, base._2 ^ 0x30000L), // 6 flips spread over two bands
      hrow(4L, ~base._1 & 0xFFFFFFFFL, base._2) // far away
    ).toDF("vec_id", "ahash_lo", "ahash_hi", "dhash_lo", "dhash_hi", "decoded")
    val pairs = Multimodal.imageNearDupPairs(hashes, "vec_id", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.keySet == Set((1L, 2L)),
      s"only the hamming-3 pair survives, got ${pairs.keySet}")
    assert(pairs((1L, 2L)) == 3)
  }

  test("audio fingerprints: gain-invariant, content-sensitive; silence is zero; corrupt degrades") {
    // 16-bit mono PCM builder with an arbitrary sample function.
    def wav16(n: Int, sample: Int => Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * n).put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(2 * n)
      (0 until n).foreach(i => bb.putShort(sample(i).toShort))
      bb.array()
    }
    def s(i: Int): Int = ((i * 1103515245L + 12345L) % 4001L).toInt - 2000
    val rows = Seq(
      (1L, wav16(600, s)),
      (2L, wav16(600, i => 3 * s(i))), // same content, 3x gain
      (3L, wav16(600, i => s(i * 7 + 13))), // different content
      (4L, wav16(400, _ => 0)), // silence
      (5L, "not audio".getBytes)
    ).toDF("doc_id", "blob")
    val fp = Multimodal.audioFingerprints(rows, "doc_id", "blob")
      .collect().map(r => r.getLong(0) -> r).toMap
    def pair(r: org.apache.spark.sql.Row) = (r.getLong(1), r.getLong(2))
    assert(fp(2L).getBoolean(4) && pair(fp(1L)) == pair(fp(2L)),
      "uniform gain must not change a single fingerprint bit")
    assert(pair(fp(1L)) != pair(fp(3L)), "different content must fingerprint differently")
    assert(pair(fp(4L)) == ((0L, 0L)) && fp(4L).getBoolean(4),
      "silence fingerprints to zero, decoded")
    assert(!fp(5L).getBoolean(4) && fp(5L).isNullAt(1),
      "corrupt blob degrades, never fails")
    // End-to-end banded pairing: the gain twin is the ONLY near-dup pair.
    val pairs = Multimodal.audioNearDupPairs(
        Multimodal.audioFingerprints(rows, "doc_id", "blob"), "doc_id", maxHamming = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.keySet == Set((1L, 2L)), s"got ${pairs.keySet}")
    assert(pairs((1L, 2L)) == 0)
  }

  test("ivfAppend: append-then-search equals rebuild-then-search exactly") {
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(6)(d => math.cos(i * 3.7 + d * 0.9).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = vecs.where(col("vec_id") < 4)
    val queries = vecs.where(col("vec_id") >= 10 && col("vec_id") < 14)
    val rebuilt = Similarity.topKIvf(queries, vecs, cents, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val index = Similarity.assignCells(vecs.where(col("vec_id") < 30), cents, "vec_id", "embedding")
    val appended = Similarity.topKIvfPrebuilt(queries,
      Similarity.ivfAppend(index, vecs.where(col("vec_id") >= 30), cents, "vec_id", "embedding"),
      cents, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(appended == rebuilt)
    // the appended rows really landed in their argmax cell
    val cells = Similarity.ivfAppend(index, vecs.where(col("vec_id") >= 30),
        cents, "vec_id", "embedding")
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    val full = Similarity.assignCells(vecs, cents, "vec_id", "embedding")
      .select("vec_id", "cid").as[(Long, Long)].collect().toMap
    assert(cells == full)
  }

  test("topKInt8Rescore with a corpus-wide shortlist equals exact topK") {
    // Quantization can reorder the COARSE stage, but when the shortlist
    // spans the whole corpus the fp32 rescore must reproduce exact topK
    // bit-for-bit (ranks, ids, cosines).
    val vecs = (0L until 30L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 7.3 + d * 1.1).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = vecs.where(col("vec_id") < 5)
    val exact = Similarity.topK(queries, vecs, "vec_id", "embedding", k = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    val staged = Similarity.topKInt8Rescore(queries, vecs, "vec_id", "embedding",
        k = 6, shortlistFactor = 5) // 6*5 = 30 >= corpus
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(staged == exact)
  }

  test("topKInt8Rescore coarse stage really scores on dequantized codes") {
    // A narrow shortlist (factor 1) must still return k rows per query and
    // every returned cosine must be an EXACT fp32 cosine (the rescore), not
    // a quantized one: recompute independently and compare.
    val vecs = (0L until 20L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 13 + d * 5) % 11 - 5).toFloat))
    }.toDF("vec_id", "embedding")
    val out = Similarity.topKInt8Rescore(vecs.where(col("vec_id") < 3), vecs,
      "vec_id", "embedding", k = 4, shortlistFactor = 1).collect()
    assert(out.groupBy(_.getLong(0)).forall(_._2.length == 4))
    val raw = vecs.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.indices.foldLeft(0.0)((acc, i) => acc + a(i).toDouble * b(i).toDouble)
      def n(v: Array[Float]) = math.sqrt(v.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      dot / (n(a) * n(b))
    }
    out.foreach { r =>
      val expect = cos(raw(r.getLong(0)), raw(r.getLong(1)))
      assert(math.abs(r.getDouble(3) - expect) < 1e-12,
        s"rescored cosine must be fp32-exact: ${r.getDouble(3)} vs $expect")
    }
  }

  test("marginMine: ratio margin picks the exclusive partner a raw-cosine argmax loses to a hub") {
    // Right-side vector 11 is a HUB: cosine 0.8 to left-1 but also 0.42 to
    // every other left vector. Vector 12 is left-1's exclusive partner:
    // raw cosine only 0.75, but orthogonal to everyone else. The ratio
    // margin divides by neighborhood density, so 12 must win for left-1
    // even though the plain top-1 picks the hub.
    val left = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)),
      (3L, Array(0f, 0f, 1f, 0f))).toDF("vec_id", "embedding")
    val right = Seq(
      (11L, Array(0.8f, 0.424f, 0.424f, 0f)), // hub
      (12L, Array(0.75f, 0f, 0f, 0.661f)), // exclusive partner of 1
      (13L, Array(0f, 0.9f, 0.436f, 0f))).toDF("vec_id", "embedding")
    val rawTop1 = Similarity.topK(left, right, "vec_id", "embedding", k = 1)
      .where(col("query_id") === 1L).collect().head.getLong(1)
    assert(rawTop1 == 11L, "fixture must make the raw argmax pick the hub")
    val mined = Similarity.marginMine(left, right, "vec_id", "embedding", k = 2, threshold = 1.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(mined(1L)._1 == 12L,
      s"margin must re-rank the exclusive partner above the hub, got ${mined(1L)}")
    assert(mined(1L)._2 > 1.0)
  }

  test("splitLeakage reports exactly the cross-split identical-text pairs") {
    // 40 twin pairs (i, i+1000) with per-pair unique text: LSH must bucket
    // each twin pair together and nothing else; leakage = twins whose hash
    // buckets land in different splits.
    val twins = (0L until 40L).flatMap { i =>
      val t = s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"
      Seq((i, t), (i + 1000L, t))
    }.toDF("doc_id", "text")
    val splits = Seq("train" -> 80.0, "val" -> 10.0, "test" -> 10.0)
    val reported = Dedup.splitLeakage(twins, "doc_id", "text", splits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val assign = Dedup.splitAssign(twins, col("doc_id"), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val expected = (0L until 40L)
      .filter(i => assign(i) != assign(i + 1000L)).map(i => (i, i + 1000L)).toSet
    assert(expected.nonEmpty, "fixture must straddle splits for the test to bite")
    assert(reported == expected,
      s"missing=${expected -- reported} spurious=${reported -- expected}")
  }

  test("splitAssignByComponent: no pair straddles; chains unify; singletons match plain assign") {
    // Same twin fixture as the leakage audit, plus a 3-chain (A~B, B~C with
    // A!~C transitively linked) and isolated docs.
    val twins = (0L until 40L).flatMap { i =>
      val t = s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f"
      Seq((i, t), (i + 1000L, t))
    }
    val iso = (5000L until 5020L).map(i => (i, s"iso${i}x iso${i}y iso${i}z iso${i}w"))
    val d = (twins ++ iso).toDF("doc_id", "text")
    val splits = Seq("train" -> 80.0, "val" -> 10.0, "test" -> 10.0)
    val pairs = Dedup.minHashLshPairs(d, "doc_id", "text", n = 3, numHashes = 12, bands = 4)
    val safe = Dedup.splitAssignByComponent(d, "doc_id", pairs, splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val plain = Dedup.splitAssign(d, col("doc_id"), splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // every candidate pair lands on one side — the defining invariant
    pairs.select("id_a", "id_b").as[(Long, Long)].collect().foreach { case (a, b) =>
      assert(safe(a) == safe(b), s"pair ($a, $b) straddles: ${safe(a)} vs ${safe(b)}")
    }
    // non-vacuous: the plain assignment DOES straddle at least one pair
    assert((0L until 40L).exists(i => plain(i) != plain(i + 1000L)),
      "fixture must straddle under plain splitAssign for the invariant to bite")
    // singletons (no near-dup) are untouched relative to plain assignment
    (5000L until 5020L).foreach(i => assert(safe(i) == plain(i)))
    // total cover: every doc got a label
    assert(safe.size == d.count())
  }

  test("winnowing: shared-substring guarantee, disjoint docs share nothing, pair threshold") {
    val shared = "zqvxjwkpmbyfgthcdnrsl" // 21 chars >= w + k - 1 = 8 for (k=5,w=4)
    val d = Seq(
      (1L, s"aaaa bbbb $shared cccc"),
      (2L, s"dddd $shared eeee ffff gggg"),   // shares the long substring with 1
      (3L, "0000 1111 2222 3333 4444 5555"))  // disjoint alphabet
      .toDF("doc_id", "text")
    val fps = Dedup.winnowingFingerprints(d, "doc_id", "text", k = 5, w = 4)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // winnowing guarantee: a shared substring of length >= w + k - 1
    // yields at least one shared fingerprint
    assert((fps(1L) & fps(2L)).nonEmpty, "long shared substring must collide")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty,
      "disjoint-alphabet docs share nothing")
    // pair generation respects the shared-count threshold
    val loose = Dedup.winnowingPairs(d, "doc_id", "text", k = 5, w = 4, minShared = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(loose == Set((1L, 2L)))
    val strict = Dedup.winnowingPairs(d, "doc_id", "text", k = 5, w = 4,
        minShared = (fps(1L) & fps(2L)).size + 1)
      .collect()
    assert(strict.isEmpty, "threshold above the shared count yields no pair")
  }

  test("simhash: identical texts equal; unrelated text differs") {
    val sh = docs.select(col("doc_id"), Dedup.simHash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(3L))
    assert(sh(0L) != sh(2L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("jaccard pairs: exact dup = 1.0, near-dup high, unrelated absent") {
    val out = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.3)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out((0L, 3L)) == 1.0)
    assert(out((0L, 1L)) > 0.8)
    assert(!out.keySet.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("cosine topK: hand-checked neighbors with deterministic ranking") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.topK(vecs.where(col("vec_id") === 0), vecs, "vec_id", "embedding", k = 3)
      .orderBy("rank").select("neighbor_id", "rank").as[(Long, Int)].collect()
    assert(out.toSeq == Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("bucketed topK only scores same-bucket candidates") {
    val vecs = Seq(
      (0L, Array(1.0f, 1.0f)),   // bucket 3
      (1L, Array(1.0f, 0.5f)),   // bucket 3
      (2L, Array(-1.0f, 1.0f)))  // bucket 2
      .toDF("vec_id", "embedding")
    val out = Similarity.topKBucketed(vecs.where(col("vec_id") === 0), vecs,
      "vec_id", "embedding", k = 5, nBits = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out == Set(1L))
  }

  test("embedding near-dup pairs respect the block column") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.01f), 0),
      (2L, Array(0.99f, 0.01f), 1)) // same vector, different block -> never paired
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", "label", 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out == Set((0L, 1L)))
  }

  test("embedding near-dup pairs: oversized block raises loudly, not quadratically") {
    val vecs = (0 until 10).map(i => (i.toLong, Array(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val e = intercept[Exception] {
      Dedup.embeddingNearDupPairs(vecs, "vec_id", "embedding", "label", 0.9, maxBlock = 5).collect()
    }
    assert(e.getMessage.contains("maxBlock"))
  }

  test("banded embedding near-dup: candidates need a shared sign band; verify is exact") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.5f, -1.0f, -0.5f), 0),  // bands (2 dims each): ++ then --
      (1L, Array(0.9f, 0.4f, 1.0f, 0.5f), 0),    // shares band 0 signs with 0 -> candidate
      (2L, Array(-1.0f, 0.5f, 1.0f, -0.5f), 0),  // +-/-+ patterns: no shared band with 0 or 1
      (3L, Array(0.89f, 0.41f, 0.99f, 0.51f), 0)) // near-dup of 1: candidate AND above threshold
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.embeddingNearDupPairsBanded(
      vecs, "vec_id", "embedding", "label", threshold = 0.99, dims = 4, bands = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // (1,3) is the only candidate pair with cosine above 0.99; (0,1) is a
    // candidate (band 0 shared) but fails the exact verify; (0,2)/(1,2)
    // never become candidates.
    assert(out == Set((1L, 3L)))
  }

  test("incremental embedding near-dup converges to the batch answer") {
    // banded(all) must equal banded(old) ∪ incremental(new vs index(old)):
    // the incremental run contributes exactly the ≥1-new-member pairs and
    // never regenerates old×old (caps non-binding at this size, so the
    // union-counted qualifying set matches the batch run's).
    val rnd = new scala.util.Random(31)
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(8)(r.nextFloat() * 2f - 1f)
    }
    // planted near-dup pairs across the old/new boundary and inside each
    val rows = (0L until 40L).map { i =>
      val base = vec((i % 7).toInt) // 7 base directions -> plenty of near-dups
      val jit = base.map(x => x + rnd.nextFloat() * 0.01f)
      (i, jit, (i % 2).toInt)
    }
    val all = rows.toDF("vec_id", "embedding", "label")
    val old = all.where(col("vec_id") % 5 =!= 0)
    val nw = all.where(col("vec_id") % 5 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val full = key(Dedup.embeddingNearDupPairsBanded(all, "vec_id", "embedding", "label",
      threshold = 0.9, dims = 8, bands = 2))
    val oldOnly = key(Dedup.embeddingNearDupPairsBanded(old, "vec_id", "embedding", "label",
      threshold = 0.9, dims = 8, bands = 2))
    val idx = Dedup.embeddingBands(old, "vec_id", "embedding", "label", dims = 8, bands = 2)
    val incr = key(Dedup.embeddingPairsIncremental(nw, idx, all, "vec_id", "embedding", "label",
      threshold = 0.9, dims = 8, bands = 2))
    assert(incr.nonEmpty && oldOnly.nonEmpty, "fixture must exercise both sides")
    assert(incr.forall { case (a, b) => a % 5 == 0 || b % 5 == 0 }, "old×old leaked into incremental")
    assert((oldOnly ++ incr) == full)
  }

  test("real image decode: PNG round-trip recovers exact dims; garbage degrades cleanly") {
    val pngs = Multimodal.syntheticPngs(Seq(5L, 40L, 100L).toDF("doc_id"), "doc_id")
    val got = Multimodal.decodeImages(pngs, "doc_id", "blob")
      .select("doc_id", "width", "height", "format", "decoded")
      .as[(Long, Int, Int, String, Boolean)].collect().toSet
    assert(got == Set(
      (5L, 6, 6, "png", true),
      (40L, 4, 18, "png", true),
      (100L, 27, 9, "png", true)))
    val junk = Seq((1L, "definitely not an image".getBytes("UTF-8"))).toDF("doc_id", "blob")
    val j = Multimodal.decodeImages(junk, "doc_id", "blob")
      .select("decoded", "width").as[(Boolean, Option[Int])].head()
    assert(j == ((false, None)))
    // Corrupt-but-RECOGNIZED bytes: a valid PNG magic with a truncated
    // header makes ImageIO hand back a reader whose getWidth() throws —
    // that must degrade to decoded=false in the same batch as a good
    // image, never fail the partition (crawl corpora are full of these).
    val goodPng = pngs.select("blob").as[Array[Byte]].head()
    val mixed = Seq((1L, goodPng), (2L, goodPng.take(12))).toDF("doc_id", "blob")
    val mix = Multimodal.decodeImages(mixed, "doc_id", "blob")
      .select("doc_id", "decoded").as[(Long, Boolean)].collect().toSet
    assert(mix == Set((1L, true), (2L, false)))
  }

  test("real image decode: JPEG SOF scan recovers exact dims, agrees with ImageIO, degrades on corruption") {
    // Fixture JPEGs through the decode path: dims exact despite lossy pixels.
    val imgs = Multimodal.syntheticImages(Seq(5L, 41L, 100L).toDF("doc_id"), "doc_id")
    val got = Multimodal.decodeImages(imgs, "doc_id", "blob")
      .select("doc_id", "width", "height", "format", "decoded")
      .as[(Long, Int, Int, String, Boolean)].collect().toSet
    assert(got == Set(
      (5L, 6, 6, "jpeg", true),    // odd id -> jpeg
      (41L, 5, 19, "jpeg", true),
      (100L, 27, 9, "png", true))) // even id -> png
    // SOF parser agrees with ImageIO's own reader on real JPEG bytes.
    val jb = Multimodal.syntheticJpeg(320, 240, 7L)
    assert(Multimodal.jpegSofDimensions(jb).contains((320, 240)))
    // Progressive JPEG (SOF2) — hand-built marker table: SOI, APP0 stub,
    // SOF2 [precision=8, h=513, w=1027], EOI. ImageIO never sees it; the
    // scan must read the big-endian dims straight off the segment.
    val sof2 = Array[Int](
      0xFF, 0xD8,                                     // SOI
      0xFF, 0xE0, 0x00, 0x04, 0x00, 0x00,             // APP0, len 4
      0xFF, 0xC2, 0x00, 0x0B, 0x08, 0x02, 0x01, 0x04, 0x03, // SOF2: h=0x0201 w=0x0403
      0x01, 0x11, 0x00,
      0xFF, 0xD9).map(_.toByte)                       // EOI
    assert(Multimodal.jpegSofDimensions(sof2).contains((0x0403, 0x0201)))
    // Corrupt JPEG: SOI magic then garbage — SOF scan bails, ImageIO
    // fallback also fails -> degrade, never throw.
    val corrupt = Array[Byte](0xFF.toByte, 0xD8.toByte) ++ "garbage".getBytes("UTF-8")
    val c = Multimodal.decodeImages(Seq((9L, corrupt)).toDF("doc_id", "blob"), "doc_id", "blob")
      .select("decoded", "width").as[(Boolean, Option[Int])].head()
    assert(c == ((false, None)))
    // Truncated real JPEG (header cut mid-segment) degrades too.
    assert(Multimodal.jpegSofDimensions(jb.take(6)).isEmpty)
  }

  test("mineHardNegatives: near-dup excluded by ceiling, hardest remaining ranks first") {
    // anchor 1: vec (1,0). 2 is a near-dup (cos 1.0, above ceiling 0.9),
    // 3 is hard (cos ~0.89), 4 easy (cos 0.0). Expect 3 then 4; never 2.
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(2f, 0f)),
      (3L, Array(2f, 1f)), (4L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.mineHardNegatives(
        vecs.where(col("vec_id") === 1), vecs, "vec_id", "embedding",
        k = 10, dupCeiling = 0.9)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSeq.sortBy(_._2)
    assert(out == Seq((3L, 1), (4L, 2)))
  }

  test("wav riff parse: round-trip, chunk order, padding, corrupt degrade") {
    // Round-trip through the fixture encoder.
    val wav = Multimodal.syntheticWav(16000, 2, 16, 123, 7L)
    assert(Multimodal.wavRiffMeta(wav).contains((16000, 2, 16, 123L)))
    // 8-bit mono: blockAlign 1, n_samples = dataSize.
    assert(Multimodal.wavRiffMeta(Multimodal.syntheticWav(8000, 1, 8, 55, 3L))
      .contains((8000, 1, 8, 55L)))
    // Chunk order independence: a LIST chunk with an ODD payload (pad byte)
    // before fmt/data, and data BEFORE fmt — real encoders emit both shapes.
    def le32(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
    def le16(v: Int) = Array[Byte](v.toByte, (v >> 8).toByte)
    val fmt = "fmt ".getBytes("US-ASCII") ++ le32(16) ++ le16(1) ++ le16(1) ++
      le32(8000) ++ le32(8000) ++ le16(1) ++ le16(8)
    val data = "data".getBytes("US-ASCII") ++ le32(3) ++ Array[Byte](1, 2, 3) ++
      Array[Byte](0) // odd payload -> pad byte
    val list = "LIST".getBytes("US-ASCII") ++ le32(5) ++ "INFOx".getBytes("US-ASCII") ++
      Array[Byte](0)
    val body = list ++ data ++ fmt
    val reordered = "RIFF".getBytes("US-ASCII") ++ le32(4 + body.length) ++
      "WAVE".getBytes("US-ASCII") ++ body
    assert(Multimodal.wavRiffMeta(reordered).contains((8000, 1, 8, 3L)))
    // Malformed inputs degrade to None, and the frame op to decoded=false.
    assert(Multimodal.wavRiffMeta("not audio".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.wavRiffMeta(wav.take(30)).isEmpty) // truncated mid-chunk
    val inconsistent = wav.clone() // blockAlign no longer channels*bytes
    inconsistent(32) = 9
    assert(Multimodal.wavRiffMeta(inconsistent).isEmpty)
    val d = Multimodal.decodeAudio(
      Seq((1L, "RIFFjunk".getBytes("UTF-8"))).toDF("doc_id", "blob"), "doc_id", "blob")
      .select("decoded", "sample_rate").as[(Boolean, Option[Int])].head()
    assert(d == ((false, None)))
  }

  test("multimodal stub decode agrees with the declarative twin") {
    val d = docs.withColumn("blob", col("text").cast("binary"))
    val viaMap = Multimodal.decodeStub(d, "doc_id", "blob").orderBy("doc_id").collect().toSeq
    val viaCols = d.select(Multimodal.metaColumns(col("doc_id"), col("blob")): _*)
      .orderBy("doc_id").collect().toSeq
    assert(viaMap == viaCols)
  }

  test("frame sampling: every step-th frame of floor(bytes/frameBytes)") {
    val d = Seq((1L, ("x" * 100).getBytes("UTF-8"))).toDF("id", "blob")
    val out = Multimodal.sampleFrames(d, "id", "blob", frameBytes = 32, step = 2)
      .select("frame_idx").as[Int].collect().toSeq
    assert(out == Seq(0, 2)) // 3 frames -> indices 0,2
  }

  test("winnowingMatchSpans: offsets point at identical k-grams, planted block located") {
    val shared = "the quick brown fox jumps over the lazy dog"
    val a = s"AAAA $shared BBBB"
    val b = s"xxxxxxxx $shared yy"
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val spans = Dedup.winnowingMatchSpans(df, "doc_id", "text",
        k = 5, w = 4, minShared = 1, maxDf = 10)
      .select("start_a", "start_b").as[(Long, Long)].collect()
    assert(spans.nonEmpty)
    // The MOSS invariant: every reported span names the SAME k characters
    // in both documents (offsets are 1-based).
    spans.foreach { case (sa, sb) =>
      assert(a.substring(sa.toInt - 1, sa.toInt + 4) == b.substring(sb.toInt - 1, sb.toInt + 4),
        s"span mismatch at ($sa, $sb)")
    }
    // and at least one span lands inside the planted shared block
    assert(spans.exists { case (sa, _) => sa >= 6 && sa <= 5 + shared.length - 4 })
  }

  test("connected components: chains collapse transitively, islands stay apart") {
    // 1-2, 2-3, 3-4 is a 4-node chain (diameter 3 -> needs >1 propagation
    // round); 10-11 is a separate island; pair order (id_a < id_b) is not
    // assumed by the operator beyond undirectedness.
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components: maxIter guard fails loudly, not half-converged") {
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, maxIter = 1)
    }
    // and with room to converge, the whole chain is one component
    val ok = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(ok.map(_._2).toSet == Set(1L))
  }

  test("connected components: a 200-node chain converges within the default round budget") {
    // Diameter 199 — the diameter-bound propagation loop this replaced
    // raised at maxIter=25 on this input; star contraction needs ~log₂
    // rounds. Transitive LSH-bucket overlap genuinely builds chains at
    // corpus scale, so this is a robustness property, not a toy.
    val chain = (1L until 200L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(chain).as[(Long, Long)].collect()
    assert(comp.length == 200 && comp.map(_._2).toSet == Set(1L))
  }

  test("semanticDedup: planted duplicates collapse to min-id, full cover, auditable flags") {
    // 30 pairwise-ORTHOGONAL base vectors (one-hot, cosine 0 between any
    // two) + exact copies of vectors 0 and 7: only the copies can clear the
    // threshold, and they land in their original's cell and sign buckets by
    // construction, so they are found regardless of where the cells fall.
    val base = (0L until 30L).map(i =>
      (i, Seq.tabulate(32)(d => if (d == i) 1.0f else 0.0f)))
    val dups = Seq(100L -> base(0)._2, 107L -> base(7)._2)
    val vecs = (base ++ dups).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        k = 3, iters = 1, threshold = 0.95, dims = 32, bands = 4)
      .select("vec_id", "component", "kept")
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == 32, "one row per input vector")
    val m = out.map(r => r._1 -> r).toMap
    assert(m(100L)._2 == 0L && !m(100L)._3, "copy of 0 joins 0's component, dropped")
    assert(m(107L)._2 == 7L && !m(107L)._3, "copy of 7 joins 7's component, dropped")
    assert(m(0L)._3 && m(7L)._3, "min-id representatives kept")
    // every component representative is kept exactly once
    out.groupBy(_._2).foreach { case (comp, rows) =>
      assert(rows.count(_._3) == 1 && rows.find(_._3).get._1 == comp)
    }
  }

  test("mixtureSample: two-phase bucket selection equals the flat-window oracle") {
    val rows = (0L until 200L).map { i =>
      (i, s"src${i % 5}", 10L + (i % 7))
    }.toDF("id", "source", "tok")
    val weights = Map("src0" -> 2.0, "src1" -> 1.0, "src3" -> 1.0)
    val got = graft.operators.Mixture.mixtureSample(
        rows, "id", "source", col("tok"), weights, totalTokens = 400L, buckets = 8)
      .select("id", "source", "n_tokens").as[(Long, String, Long)].collect().toSet
    // flat-window reference: same hash order, single global cumsum
    val flat = rows.select(col("id"), col("source"), col("tok"),
        md5(col("id").cast("string")).as("h"))
      .withColumn("b", (conv(substring(col("h"), 1, 8), 16, 10).cast("long") % 8).cast("int"))
      .withColumn("cum", sum("tok").over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy("b", "h", "id")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .withColumn("budget",
        when(col("source") === "src0", lit(200L))
          .when(col("source") === "src1", lit(100L))
          .when(col("source") === "src3", lit(100L)).otherwise(lit(0L)))
      .where(col("cum") <= col("budget"))
      .select(col("id"), col("source"), col("tok"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == flat)
    assert(got.nonEmpty, "budget must select something")
    assert(!got.exists(_._2 == "src2") && !got.exists(_._2 == "src4"), "unlisted sources dropped")
    // per-source token sums respect the budgets
    val sums = got.groupBy(_._2).view.mapValues(_.toSeq.map(_._3).sum).toMap
    assert(sums.getOrElse("src0", 0L) <= 200L && sums.getOrElse("src1", 0L) <= 100L)
    // determinism across runs
    val again = graft.operators.Mixture.mixtureSample(
        rows, "id", "source", col("tok"), weights, totalTokens = 400L, buckets = 8)
      .select("id", "source", "n_tokens").as[(Long, String, Long)].collect().toSet
    assert(again == got)
  }

  test("mixtureSample temperature: tau flattens budgets, tau=1 is identity, zero weights stay dead") {
    val rows = (0L until 200L).map(i => (i, s"s${i % 3}", 10L)).toDF("id", "source", "tok")
      .localCheckpoint(true)
    val weights = Map("s0" -> 9.0, "s1" -> 1.0, "s2" -> 0.0)
    def sums(tau: Double): Map[String, Long] =
      graft.operators.Mixture.mixtureSample(
          rows, "id", "source", col("tok"), weights, totalTokens = 600L, temperature = tau)
        .groupBy("source").agg(sum("n_tokens").as("t"))
        .as[(String, Long)].collect().toMap
    val t1 = sums(1.0)
    val tHalf = sums(0.5)
    val t0 = sums(0.0)
    // tau=1: 9:1 mix -> s0 dominates (540 vs 60 budget)
    assert(t1("s0") > 5 * t1.getOrElse("s1", 0L))
    // tau=0.5: 3:1 -> flatter but still ordered
    assert(tHalf("s0") > tHalf("s1") && tHalf("s0") < t1("s0"))
    // tau=0: uniform between live sources
    assert(t0("s0") == t0("s1"))
    // excluded source never resurrects (pow(0, 0) must not read 1)
    Seq(t1, tHalf, t0).foreach(m => assert(!m.contains("s2")))
    // default temperature is identity with the explicit tau=1 call
    val default = graft.operators.Mixture.mixtureSample(
        rows, "id", "source", col("tok"), weights, totalTokens = 600L)
      .select("id").as[Long].collect().toSet
    val explicit = graft.operators.Mixture.mixtureSample(
        rows, "id", "source", col("tok"), weights, totalTokens = 600L, temperature = 1.0)
      .select("id").as[Long].collect().toSet
    assert(default == explicit)
  }

  test("mixtureSample property: equals flat-window selection across seeded weight/bucket configs") {
    val rng = new scala.util.Random(42)
    for (round <- 1 to 5) {
      val nSrc = 2 + rng.nextInt(4)
      val rows = (0L until 150L).map { i =>
        (i, s"s${rng.nextInt(nSrc)}", 1L + rng.nextInt(40))
      }.toDF("id", "source", "tok").localCheckpoint(true)
      val weights = (0 until nSrc).filter(_ => rng.nextBoolean() || round == 1)
        .map(k => s"s$k" -> (0.5 + rng.nextDouble() * 3)).toMap match {
        case m if m.isEmpty => Map("s0" -> 1.0)
        case m => m
      }
      val buckets = Seq(1, 4, 16)(rng.nextInt(3))
      val total = 200L + rng.nextInt(2000)
      val got = graft.operators.Mixture.mixtureSample(
          rows, "id", "source", col("tok"), weights, total, buckets = buckets)
        .select("id").as[Long].collect().toSet
      // flat reference: one global cumsum in the same hash order
      val wSum = weights.values.sum
      val budgets = weights.map { case (s, w) => s -> math.floor(w / wSum * total).toLong }
      val flat = rows.select(col("id"), col("source"), col("tok"),
          md5(col("id").cast("string")).as("h"))
        .withColumn("b", (conv(substring(col("h"), 1, 8), 16, 10).cast("long") % buckets).cast("int"))
        .collect()
        .groupBy(_.getString(1))
        .flatMap { case (src, rs) =>
          val budget = budgets.getOrElse(src, 0L)
          if (budget <= 0) Seq.empty[Long]
          else {
            var cum = 0L
            rs.sortBy(r => (r.getInt(4), r.getString(3), r.getLong(0))).toSeq.flatMap { r =>
              cum += r.getLong(2)
              if (cum <= budget) Some(r.getLong(0)) else None
            }
          }
        }.toSet
      assert(got == flat, s"round $round (weights=$weights buckets=$buckets total=$total)")
    }
  }

  test("spanCorrupt property: token conservation and non-overlap across rates and lengths") {
    import graft.operators.SpanCorrupt
    val rng = new scala.util.Random(7)
    val docs = (0L until 30L).map { i =>
      (i, (1 to (5 + rng.nextInt(120))).map(k => s"w${k}x$i").mkString(" "))
    }.toDF("doc_id", "text").localCheckpoint(true)
    for ((spanLen, rate) <- Seq((2, 0.1), (3, 0.15), (5, 0.3), (1, 0.5))) {
      val out = SpanCorrupt.spanCorrupt(docs, "doc_id", "text", spanLen, rate)
        .as[(Long, String, String, Long)].collect()
      val words = docs.as[(Long, String)].collect().toMap
      out.foreach { case (id, in, tgt, ns) =>
        val orig = words(id).split(" ").toSeq
        val inToks = in.split(" ").toSeq
        val tgtToks = if (tgt.isEmpty) Seq.empty else tgt.split(" ").toSeq
        val sentinelsIn = inToks.filter(_.startsWith("<extra_id_"))
        val sentinelsTgt = tgtToks.filter(_.startsWith("<extra_id_"))
        // one sentinel per span on each side, numbered 0..ns-1 in order
        assert(sentinelsIn.size == ns && sentinelsTgt.size == ns, s"doc $id")
        assert(sentinelsTgt == (0L until ns).map(k => s"<extra_id_$k>"), s"doc $id order")
        // every original token appears exactly once across input+target
        val rebuilt = (inToks ++ tgtToks).filterNot(_.startsWith("<extra_id_"))
        assert(rebuilt.sorted == orig.sorted, s"doc $id conservation")
        // each target span is contiguous in the original (non-overlap +
        // in-order extraction): splitting target on sentinels yields runs
        // that appear as slices of the original token stream
        val runs = tgt.split("<extra_id_\\d+>").map(_.trim).filter(_.nonEmpty)
        runs.foreach { run =>
          assert(words(id).contains(run), s"doc $id span '$run' not contiguous")
        }
      }
    }
  }

  test("stratified sample: per-stratum rates, default for unlisted, 0 drops") {
    val d = spark.range(10000).selectExpr("id AS k", "concat('s', id % 2) AS src")
    val out = Dedup.stratifiedSample(d, col("k"), col("src"),
      Map("s0" -> 100.0, "s1" -> 10.0))
    val bySrc = out.groupBy("src").count().as[(String, Long)].collect().toMap
    assert(bySrc("s0") == 5000)                      // 100% of stratum
    assert(bySrc("s1") > 300 && bySrc("s1") < 700)   // ~10% of 5000
    // unlisted stratum with defaultPercent 0 -> dropped entirely
    val out2 = Dedup.stratifiedSample(d.withColumn("src", lit("other")), col("k"), col("src"),
      Map("s0" -> 100.0))
    assert(out2.count() == 0)
    // deterministic: same selection on re-run
    assert(out.select("k").as[Long].collect().sorted.toSeq ==
      Dedup.stratifiedSample(d, col("k"), col("src"), Map("s0" -> 100.0, "s1" -> 10.0))
        .select("k").as[Long].collect().sorted.toSeq)
  }

  test("sequence packing: global offsets in id order, boundary-straddling docs span bins") {
    val d = Seq(
      (1L, "a b c"),          // offset 0, bin 0
      (2L, ("w " * 6).trim),  // offset 3, 6 tokens: crosses the 8-token boundary -> bins 0..1
      (3L, "x y"))            // offset 9, bin 1
      .toDF("doc_id", "text")
    val out = graft.operators.Packing.packSequences(d, "doc_id", "text", maxTokens = 8)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "token_offset", "seq_first", "seq_last")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 3L, 0L, 0L, 0L), (2L, 6L, 3L, 0L, 1L), (3L, 2L, 9L, 1L, 1L)))
  }

  test("decontaminationReport: distinct-gram share arithmetic, short docs report zero") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),          // full overlap: 2 grams, both hit
      (2L, "alpha beta gamma delta epsilon nothing else here"), // 4 grams, 1 hit
      (3L, "totally unrelated words fill this document body"),  // 0 hits
      (4L, "too short")                                      // < n tokens -> 0 grams
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminationReport(d, "doc_id", "text", bench, "doc_id", "text", n = 5)
      .as[(Long, Long, Long, Double)].collect().toMap2
    assert(out(1L) == ((2L, 2L, 1.0)))
    assert(out(2L) == ((4L, 1L, 0.25)))
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
    assert(out(4L) == ((0L, 0L, 0.0)))
  }

  implicit private class Tup4Ops[A, B, C, E](rows: Array[(A, B, C, E)]) {
    def toMap2: Map[A, (B, C, E)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("decontaminate flags docs sharing n-grams with the benchmark set") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),   // contains the bench 5-gram
      (2L, "totally unrelated words without overlap here"),
      (3L, "alpha beta gamma delta epsilon")         // the benchmark doc itself
    ).toDF("doc_id", "text")
    val bench = corpus.where(col("doc_id") === 3L)
    val out = Dedup.decontaminate(corpus, "doc_id", "text", bench, "doc_id", "text",
        n = 5, minHits = 1)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == ((1L, 1)))  // "alpha..epsilon" 5-gram hit
    assert(out(2L) == ((0L, 0)))
    assert(out(3L) == ((1L, 1)))  // self-containment
  }

  test("connected components property: matches driver union-find on 30 seeded random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 30).foreach { trial =>
      val nNodes = 2 + rnd.nextInt(40)
      val nEdges = 1 + rnd.nextInt(60)
      val edges = Seq.fill(nEdges)((rnd.nextInt(nNodes).toLong, rnd.nextInt(nNodes).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // brute-force union-find reference
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(x => x -> find(x)).toMap
        val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
          .as[(Long, Long)].collect().toMap
        assert(got == expected, s"trial $trial: graph $edges")
        // Force the star-contraction phase (starSwitchAfter = 0): both
        // hybrid branches must produce the identical labeling.
        if (trial <= 10) {
          val star = Dedup.connectedComponents(
            edges.toDF("id_a", "id_b"), starSwitchAfter = 0)
            .as[(Long, Long)].collect().toMap
          assert(star == expected, s"trial $trial (star-only): graph $edges")
        }
      }
    }
  }

  test("pair operators property: jaccard/containment/weighted/winnowing equal plain-Scala references") {
    val rnd = new scala.util.Random(11)
    val vocab = Seq("ab", "cd", "ef", "gh", "ij", "kl")
    def grams(t: String): Seq[String] = {
      val ws = t.trim.split("\\s+").toSeq
      if (ws.size < 3) Seq.empty else ws.sliding(3).map(_.mkString(" ")).toSeq
    }
    // Pairs a < b with at least one shared element, from per-doc counts:
    // (a, b, |A∩B|, |A|, |B|).
    def overlaps(sets: Map[Long, Set[String]]): Seq[(Long, Long, Int, Int, Int)] = {
      val ids = sets.keys.toSeq.sorted
      for (a <- ids; b <- ids if a < b; i = (sets(a) & sets(b)).size if i > 0)
        yield (a, b, i, sets(a).size, sets(b).size)
    }
    (1 to 3).foreach { trial =>
      val base = Seq.fill(6)(Seq.fill(8 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))))
      val copies = Seq.fill(6)(base(rnd.nextInt(base.size))
        .map(w => if (rnd.nextInt(5) == 0) vocab(rnd.nextInt(vocab.size)) else w))
      val corpus = (base ++ copies ++ Seq(Seq("ab"), Seq("ab", "cd")))
        .zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
      val d = corpus.toDF("doc_id", "text")
      val maxDf = 3

      // Set Jaccard and containment over distinct 3-grams, df-capped grams
      // removed from intersection AND union.
      val sets = corpus.map { case (i, t) => i -> grams(t).toSet }.toMap
      val df = sets.values.toSeq.flatMap(_.toSeq).groupBy(identity).map { case (g, o) => g -> o.size }
      assert(df.values.exists(_ > maxDf), s"trial $trial: the df cap must bite")
      val kept = sets.map { case (i, s) => i -> s.filter(df(_) <= maxDf) }
      val jRef = overlaps(kept).collect {
        case (a, b, i, na, nb) if i.toDouble / (na + nb - i) > 0.2 => (a, b) -> i.toDouble / (na + nb - i)
      }.toMap
      assert(jRef.nonEmpty, s"trial $trial: no reference jaccard pair")
      val jGot = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.2, maxDf = maxDf)
        .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
      assert(jGot == jRef, s"trial $trial: jaccard")
      val cRef = overlaps(kept).collect {
        case (a, b, i, na, nb) if math.max(i.toDouble / na, i.toDouble / nb) >= 0.5 =>
          (a, b) -> ((i.toDouble / na, i.toDouble / nb))
      }.toMap
      val cGot = Dedup.containmentPairs(d, "doc_id", "text", n = 3, threshold = 0.5, maxDf = maxDf)
        .as[(Long, Long, Double, Double)].collect().map(t => (t._1, t._2) -> ((t._3, t._4))).toMap
      assert(cGot == cRef, s"trial $trial: containment")

      // Weighted Jaccard: Σ min / Σ max over gram counts capped at `cap`,
      // where the k-th occurrence level of a gram counts only if at most
      // maxDf docs reach it.
      val cap = 2
      val counts = corpus.map { case (i, t) =>
        i -> grams(t).groupBy(identity).map { case (g, o) => g -> math.min(o.size, cap) }
      }.toMap
      def reach(g: String, k: Int): Int = counts.values.count(_.getOrElse(g, 0) >= k)
      val ids = counts.keys.toSeq.sorted
      val wRef = (for (a <- ids; b <- ids if a < b) yield {
        val levels = for (g <- (counts(a).keySet ++ counts(b).keySet).toSeq; k <- 1 to cap
          if reach(g, k) <= maxDf) yield (counts(a).getOrElse(g, 0) >= k, counts(b).getOrElse(g, 0) >= k)
        val mn = levels.count { case (x, y) => x && y }
        val mx = levels.count { case (x, y) => x || y }
        (a, b, mn, mx)
      }).collect { case (a, b, mn, mx) if mn > 0 && mn.toDouble / mx > 0.2 => (a, b) -> mn.toDouble / mx }.toMap
      assert(wRef.nonEmpty, s"trial $trial: no reference weighted pair")
      val wGot = Dedup.weightedJaccardPairs(d, "doc_id", "text", n = 3, cap = cap,
          threshold = 0.2, maxDf = maxDf)
        .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
      assert(wGot == wRef, s"trial $trial: weighted jaccard")

      // Winnowing pairs: shared-fingerprint counts over postings whose df
      // lies in [2, maxDf], kept at >= minShared.
      val fpMaxDf = 4
      val fps = Dedup.winnowingFingerprints(d, "doc_id", "text", k = 5, w = 4)
        .as[(Long, Long)].collect()
      val postings = fps.groupBy(_._2).values.map(_.map(_._1).toSeq).toSeq
      assert(postings.exists(_.size > fpMaxDf), s"trial $trial: the fingerprint df cap must bite")
      val winRef = postings.filter(p => p.size >= 2 && p.size <= fpMaxDf)
        .flatMap(p => for (a <- p; b <- p if a < b) yield (a, b))
        .groupBy(identity).collect { case (p, o) if o.size >= 2 => p -> o.size.toLong }
      assert(winRef.nonEmpty, s"trial $trial: no reference winnowing pair")
      val winGot = Dedup.winnowingPairs(d, "doc_id", "text", k = 5, w = 4, minShared = 2, maxDf = fpMaxDf)
        .as[(Long, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
      assert(winGot == winRef, s"trial $trial: winnowing")
    }
  }

  test("sequence packing property: offsets equal the naive ordered prefix sum") {
    val rnd = new scala.util.Random(7)
    // sparse, shuffled, gappy ids — the arithmetic bucketing must not care
    val rows = rnd.shuffle((0 until 300).map(i => i * 17 + rnd.nextInt(5)).distinct.toList)
      .map(id => (id.toLong, ("w " * (1 + rnd.nextInt(30))).trim))
    val df = rows.toDF("doc_id", "text")
    val got = graft.operators.Packing.packSequences(df, "doc_id", "text", maxTokens = 64)
      .select("doc_id", "token_offset").as[(Long, Long)].collect().toMap
    var acc = 0L
    rows.sortBy(_._1).foreach { case (id, text) =>
      assert(got(id) == acc, s"doc $id")
      acc += text.split("\\s+").length
    }
  }

  test("resolveClusters keeps cluster representative + unpaired docs") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.3)
    val comp = Dedup.connectedComponents(pairs)
    val kept = Dedup.resolveClusters(docs, "doc_id", comp)
      .select("doc_id").as[Long].collect().toSet
    // docs 0/1/3 are one near-dup cluster (rep 0); doc 2 has no pair
    assert(kept == Set(0L, 2L))
  }

  test("removeBoilerplateSpans cuts shared 5-gram spans, keeps unique text in order") {
    val boiler = "terms of use apply here"
    val d = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"one two three $boiler"),
      (3L, s"$boiler"),                      // fully boilerplate -> empty
      (4L, "totally unique words only here")) // untouched
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup.removeBoilerplateSpans(d, "doc_id", "text", n = 5, maxDocFreq = 2)
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "alpha beta gamma delta")
    assert(got(2L) == "one two three")
    assert(got(3L) == "")
    assert(got(4L) == "totally unique words only here")
    // below the doc-frequency threshold nothing is removed
    val two = graft.operators.Dedup.removeBoilerplateSpans(
      d.where(col("doc_id") <= 2), "doc_id", "text", n = 5, maxDocFreq = 2)
      .as[(Long, String)].collect().toMap
    assert(two(1L) == s"alpha beta $boiler gamma delta")
  }

  test("trainCentroids: separable clusters recovered; deterministic under repartition") {
    import graft.operators.Similarity
    // 3 well-separated directions in R^4, 20 noisy members each
    val dirs = Seq(Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val rows = for (c <- 0 until 3; i <- 0 until 20) yield {
      val base = dirs(c)
      val eps = 0.01f * ((i * 7 + c) % 5 - 2) // deterministic jitter
      (c * 100L + i, base.zipWithIndex.map { case (v, j) => if (j == 3) eps else v })
    }
    val df = rows.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(df, "vec_id", "embedding", k = 3, iters = 3)
    assert(cents.count() == 3)
    val assigned = Similarity.assignCells(df, cents, "vec_id", "embedding")
      .select("vec_id", "cid").as[(Long, Long)].collect()
    // every vector lands with its own cluster-mates
    val byCid = assigned.groupBy(_._2).values.map(_.map(_._1 / 100).toSet).toSet
    assert(byCid == Set(Set(0L), Set(1L), Set(2L)), s"mixed clusters: $byCid")
    // determinism: a different input partitioning yields the same centroids
    val cents2 = Similarity.trainCentroids(df.repartition(7), "vec_id", "embedding", k = 3, iters = 3)
    val a = cents.orderBy("vec_id").collect().map(_.toString)
    val b = cents2.orderBy("vec_id").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("splitAssign: total cover, append-stable labels, strict fraction check") {
    val d = spark.range(0, 1000).toDF("id")
    val splits = Seq("train" -> 80.0, "val" -> 10.0, "test" -> 10.0)
    val got = Dedup.splitAssign(d, col("id"), splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(got.size == 1000) // every row labeled, none dropped
    assert(got.values.toSet.subsetOf(Set("train", "val", "test")))
    // pure function of the key: labels computed on a subset are identical
    val sub = Dedup.splitAssign(d.where(col("id") < 100), col("id"), splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert(sub.forall { case (k, v) => got(k) == v })
    // roughly proportional (hash uniformity, wide tolerance)
    val train = got.values.count(_ == "train")
    assert(train > 700 && train < 900, s"train=$train")
    intercept[IllegalArgumentException] {
      Dedup.splitAssign(d, col("id"), Seq("a" -> 50.0, "b" -> 40.0))
    }
  }

  test("perGroupCap: caps each group deterministically; partial WindowGroupLimit in plan") {
    val d = (0 until 15).map(i => (i.toLong, "big")) ++ (100 until 105).map(i => (i.toLong, "small"))
    val df = d.toDF("doc_id", "source").repartition(8)
    val out = Dedup.perGroupCap(df, "doc_id", "source", maxPerGroup = 10)
    val kept = out.select("doc_id", "source").as[(Long, String)].collect()
    assert(kept.count(_._2 == "big") == 10)
    assert(kept.count(_._2 == "small") == 5)
    // deterministic under a different partitioning
    val kept2 = Dedup.perGroupCap(df.repartition(3), "doc_id", "source", 10)
      .select("doc_id").as[Long].collect().toSet
    assert(kept2 == kept.map(_._1).toSet)
    // the rank<=k filter must become a map-side (Partial) WindowGroupLimit:
    // a skewed group then ships O(k) rows per task, not the whole group
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
  }

  test("latestByKey: argmax matches the window formulation, ties broken by order suffix") {
    val ev = Seq(
      (1L, 10L, 100L, "a", 1.0),
      (1L, 20L, 101L, "b", 2.0), // latest for user 1
      (2L, 30L, 102L, "c", 3.0),
      (2L, 30L, 103L, "d", 4.0), // same ts: event_id 103 wins
      (3L, 5L, 104L, "e", 5.0))
      .toDF("user_id", "ts_ms", "event_id", "event_type", "value")
    val got = Dedup.latestByKey(ev, Seq("user_id"), Seq("ts_ms", "event_id"), Seq("event_type", "value"))
      .as[(Long, Long, Long, String, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 20L, 101L, "b", 2.0),
      (2L, 30L, 103L, "d", 4.0),
      (3L, 5L, 104L, "e", 5.0)))
    // the plan is an aggregate (one keyed shuffle), not a window sort
    val plan = Dedup.latestByKey(ev, Seq("user_id"), Seq("ts_ms", "event_id"), Seq("value"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }

  test("unigram LM score: hand-computed corpus log-likelihoods") {
    // counts: a=2 b=2 c=1, N=5. doc 1: all tokens p=0.4 -> ln(0.4);
    // doc 2: (ln(2/5) + ln(1/5)) / 2.
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = graft.operators.UnigramLm.scoreDocs(d, "doc_id", "text")
      .as[(Long, Double)].collect().toMap
    assert(got(1L) == math.rint(math.log(0.4) * 1e6) / 1e6)
    assert(got(2L) == math.rint((math.log(0.4) + math.log(0.2)) / 2 * 1e6) / 1e6)
    // empty doc drops out
    val withEmpty = Seq((1L, "a"), (2L, "")).toDF("doc_id", "text")
    assert(graft.operators.UnigramLm.scoreDocs(withEmpty, "doc_id", "text").count() == 1)
  }

  test("dedupSpans: global first-occurrence keep, rebuild in order, empty-doc drop") {
    val d = Seq(
      (1L, "a b c d e f"),        // spans "a b c" "d e f" — both first
      (2L, "d e f x y z"),        // "d e f" loses to doc 1; "x y z" survives
      (3L, "a b c d e f"))        // loses everything → drops out
      .toDF("doc_id", "text")
    val got = Dedup.dedupSpans(d, "doc_id", "text", spanWords = 3)
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "a b c d e f", 2L -> "x y z"))
    // first occurrence is (id, position) order, not partition arrival order
    val got2 = Dedup.dedupSpans(d.repartition(7), "doc_id", "text", spanWords = 3)
      .as[(Long, String)].collect().toMap
    assert(got2 == got)
    // a trailing short segment is its own span
    val tail = Dedup.dedupSpans(Seq((1L, "a b c d")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .as[(Long, String)].collect().toMap
    assert(tail == Map(1L -> "a b c d"))
  }

  test("mixEpochs: full epochs always present, fractional epoch deterministic by id hash") {
    val d = (0 until 400).map(i => (i.toLong, if (i % 2 == 0) "up" else "down"))
      .toDF("doc_id", "source")
    val out = Dedup.mixEpochs(d, "doc_id", "source", Map("up" -> 2.5), defaultWeight = 0.5)
      .as[(Long, String, Int)].collect()
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    // every "up" row carries epochs 0 and 1; epoch 2 only for the hash-selected half
    byDoc.filter(_._1 % 2 == 0).values.foreach(e => assert(e.startsWith(Seq(0, 1)) && e.size <= 3))
    val upCnt = out.count(_._2 == "up")
    assert(upCnt >= 400 && upCnt <= 600, s"up rows=$upCnt for 200 docs @2.5x") // ~500 expected
    val downCnt = out.count(_._2 == "down")
    assert(downCnt >= 60 && downCnt <= 140, s"down rows=$downCnt for 200 docs @0.5x")
    out.filter(_._2 == "down").foreach { case (_, _, e) => assert(e == 0) }
    // pure function of the id: identical output under another partitioning
    val out2 = Dedup.mixEpochs(d.repartition(5), "doc_id", "source", Map("up" -> 2.5), 0.5)
      .as[(Long, String, Int)].collect()
    assert(out2.toSet == out.toSet)
    intercept[IllegalArgumentException] {
      Dedup.mixEpochs(d, "doc_id", "source", Map("up" -> 0.0))
    }
  }

  test("TfIdf.topTerms: ln-idf ranking with term tie-break; k cut; WindowGroupLimit in plan") {
    val d = Seq(
      (1L, "apple apple banana", "s1"),
      (2L, "apple cherry", "s1"),
      (3L, "banana banana banana", "s2"),
      (4L, "apple", "s2"))
      .toDF("doc_id", "text", "source")
    val out = graft.operators.TfIdf.topTerms(d, "source", "doc_id", "text", k = 2)
    val got = out.select("source", "term", "rank").as[(String, String, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // apple: df=3 idf=ln(4/3); banana: df=2 idf=ln2; cherry: df=1 idf=ln4
    // s1: banana 1*ln2=.69 < cherry 1*ln4=1.39 > apple 3*ln(4/3)=.86
    assert(got("s1") == Seq("cherry", "apple"))
    // s2: banana 3*ln2=2.08 > apple 1*ln(4/3)=.29
    assert(got("s2") == Seq("banana", "apple"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("lshPairsIncremental: equals the batch answer's at-least-one-new slice") {
    val corpus = (0L until 30L).map { i =>
      // groups of 3 near-identical docs so pairs cross the old/new boundary
      val base = s"shared prefix tokens for group ${i / 3} body body body"
      (i, if (i % 3 == 0) base else base + s" tail$i")
    }.toDF("doc_id", "text")
    val full = Dedup.minHashLshPairs(corpus, "doc_id", "text", n = 3, numHashes = 12, bands = 4)
      .as[(Long, Long)].collect().toSet
    val idx = Dedup.minHashBands(corpus.where(col("doc_id") < 20), "doc_id", "text",
      n = 3, numHashes = 12, bands = 4)
    val inc = Dedup.lshPairsIncremental(corpus.where(col("doc_id") >= 20), idx,
      "doc_id", "text", n = 3, numHashes = 12, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(inc === full.filter { case (a, b) => a >= 20 || b >= 20 })
    assert(inc.nonEmpty) // the fixture must actually exercise the boundary
  }

  // ------------------------------------------------------------------ PQ
  // Two well-separated clusters per subspace: vectors are [a,a, b,b] with
  // a ∈ {0,1}, b ∈ {10,11} so the m=2/subDim=2 quantizer must discover the
  // {low, high} split in each subspace regardless of seeding.
  private def pqCorpus = {
    val rows = for (i <- 0L until 40L) yield {
      val a = if (i % 2 == 0) 0.0f else 1.0f
      val b = if ((i / 2) % 2 == 0) 10.0f else 11.0f
      (i, Seq(a + (i % 4) * 0.01f, a, b + (i % 4) * 0.01f, b))
    }
    rows.toDF("vec_id", "embedding")
  }

  test("pqTrain/pqEncode: m codes per vector, codes within [0,k); retrain is deterministic") {
    val cb = Similarity.pqTrain(pqCorpus, "vec_id", "embedding", m = 2, subDim = 2, k = 2, iters = 2)
    val enc = Similarity.pqEncode(pqCorpus, cb, "vec_id", "embedding", m = 2, subDim = 2)
    val perId = enc.groupBy("vec_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(perId.size == 40 && perId.values.forall(_ == 2L))
    val codes = enc.select("code").distinct().as[Int].collect().toSet
    assert(codes.subsetOf(Set(0, 1)))
    val cb2 = Similarity.pqTrain(pqCorpus, "vec_id", "embedding", m = 2, subDim = 2, k = 2, iters = 2)
    assert(cb.orderBy("sub", "cid").collect().toSeq ===
      cb2.orderBy("sub", "cid").collect().toSeq)
  }

  test("pqTopK: same-cell vectors rank above cross-cluster ones; self excluded") {
    val cb = Similarity.pqTrain(pqCorpus, "vec_id", "embedding", m = 2, subDim = 2, k = 2, iters = 2)
    val enc = Similarity.pqEncode(pqCorpus, cb, "vec_id", "embedding", m = 2, subDim = 2)
    val out = Similarity.pqTopK(pqCorpus.where(col("vec_id") < 4), enc, cb,
      "vec_id", "embedding", k = 3, m = 2, subDim = 2)
    val rows = out.as[(Long, Long, Int, Double)].collect()
    assert(rows.forall { case (q, n, _, _) => q != n })
    assert(rows.count(_._1 == 0L) == 3)
    // Query 0's nearest quantized neighbors are exactly the lowest-id
    // vectors sharing its full code tuple: same codes → identical ADC
    // distance (the query-to-own-centroid residual), and the tie breaks on
    // neighbor id ascending. Compute the expectation from the encoding
    // itself so a wrong-cell regression cannot slip through.
    val codesById = enc.orderBy("vec_id", "sub").as[(Long, Int, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSeq).toMap
    val sameAs0 = codesById.collect {
      case (id, cs) if id != 0L && cs == codesById(0L) => id
    }.toSeq.sorted.take(3)
    val q0 = rows.filter(_._1 == 0L).sortBy(_._3)
    assert(q0.map(_._2).toSeq === sameAs0)
    assert(q0.map(_._4).distinct.length == 1) // identical adist across the tie
    assert(q0.map(_._3).toSeq == Seq(1, 2, 3))
  }

  test("exactDupSpans: maximal verified spans with exact boundaries; sub-minLen shares drop") {
    // Doc 10 and 11 share one long block (with different flanks) plus a
    // short 12-char tail share that must NOT survive minLen=30. Doc 12 is
    // unrelated. The shared block: chars verify end-to-end and all anchors
    // inside it must collapse to ONE maximal span.
    val block = "0123456789abcdefghijklmnopqrstuvwxyz ABCDEFGH" // 45 chars
    val d = Seq(
      (10L, s"LEFTA $block RIGHTA tail-share"),
      (11L, s"LB $block RB tail-share"),
      (12L, "completely unrelated text with nothing shared at all beyond")
    ).toDF("doc_id", "text")
    val out = Dedup.exactDupSpans(d, "doc_id", "text", minLen = 30, w = 4)
      .as[(Long, Long, Int, Int, Int)].collect().toSeq
    assert(out.map(r => (r._1, r._2)).distinct == Seq((10L, 11L)))
    // Exactly one maximal span: " <block> R" — extension runs into the
    // differing flank chars on both sides. 1-based starts.
    val ta = s"LEFTA $block RIGHTA tail-share"; val tb = s"LB $block RB tail-share"
    val expStartA = ta.indexOf(s" $block R") + 1
    val expStartB = tb.indexOf(s" $block R") + 1
    assert(out == Seq((10L, 11L, expStartA, expStartB, block.length + 3)))
  }

  test("exactDupSpans: two disjoint shared blocks report two spans; reversed doc order normalizes") {
    val b1 = "first shared block of considerable length here"
    val b2 = "second distinct shared run long enough to count"
    val d = Seq(
      (20L, s"xx $b1 yy $b2 zz"),
      (21L, s"qq $b2 ww $b1 ee")
    ).toDF("doc_id", "text")
    val out = Dedup.exactDupSpans(d, "doc_id", "text", minLen = 30, w = 4)
      .as[(Long, Long, Int, Int, Int)].collect().toSeq.sortBy(_._3)
    assert(out.length == 2)
    assert(out.forall(r => r._1 == 20L && r._2 == 21L))
    // Each block's span covers " <block> " including both flanking spaces.
    assert(out.map(_._5) == Seq(b1.length + 2, b2.length + 2))
  }

  test("exactDupSpans: astral-plane prefixes keep spans aligned (code-point walk), string ids work") {
    // U+1F600 is 2 UTF-16 units but 1 code point: a UTF-16 walk would shift
    // doc A's verify window one unit left and silently drop the span.
    val block = "shared run long enough to clear the minimum span floor"
    val d = Seq(
      ("😀😀 " + block + " after", "a1"),
      ("xy " + block + " zz", "b2")
    ).toDF("text", "uid")
    val out = Dedup.exactDupSpans(d, "uid", "text", minLen = 30, w = 4)
      .as[(String, String, Int, Int, Int)].collect().toSeq
    assert(out.length == 1)
    val (idA, idB, sa, sb, len) = out.head
    assert(Set(idA, idB) == Set("a1", "b2"))
    // span = " <block> " in code points: starts after 2 emoji (a-side pos 3)
    assert(len == block.length + 2)
    val (posA, posB) = if (idA == "a1") (sa, sb) else (sb, sa)
    assert(posA == 3 && posB == 3)
  }

  test("exactDupSpansIncremental: new-vs-index pairs only, index-internal dups never reported") {
    val block = "a long run of text shared between the new batch and the index"
    val idx = Seq(
      (100L, s"II $block JJ"),
      (101L, s"KK $block LL"),       // index-internal dup with 100 — must NOT appear
      (102L, "index only content nothing shared with anything else here")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (200L, s"NN $block MM"),
      (201L, "fresh content with no overlap to the index whatsoever today")
    ).toDF("doc_id", "text")
    val out = Dedup.exactDupSpansIncremental(fresh, idx, "doc_id", "text", minLen = 30, w = 4)
      .as[(Long, Long, Int, Int, Int)].collect().toSeq.sortBy(r => (r._1, r._2))
    // 200 matches BOTH index carriers of the block; no (100,101) pair.
    assert(out.map(r => (r._1, r._2)) == Seq((200L, 100L), (200L, 101L)))
    // span = " <block> " (both flanks differ beyond the spaces)
    assert(out.forall(_._5 == block.length + 2))
  }

  test("removeSelfDupText: later occurrence cut, first kept; periodic text collapses; clean docs untouched") {
    val block = "a distinctive block of text that is clearly long enough to trip the floor"
    val periodic = ("xyzw " * 40).trim // 199 chars of period-5 repetition
    val d = Seq(
      (1L, s"HEAD $block MID $block TAIL"),  // second occurrence removed
      (2L, periodic),
      (3L, "perfectly ordinary text with no internal repetition at all today ok")
    ).toDF("doc_id", "text")
    val out = Dedup.removeSelfDupText(d, "doc_id", "text", minLen = 30, w = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: " <block> " repeated around different flanks — the later copy
    // (with its shared flank chars) is cut; the first occurrence survives.
    val (t1, n1, rm1) = out(1L)
    assert(n1 >= 1 && rm1 > 0)
    assert(t1.indexOf(block) >= 0, "first occurrence must survive")
    assert(t1.indexOf(block) == t1.lastIndexOf(block), "later occurrence must be cut")
    assert(t1.length == s"HEAD $block MID $block TAIL".length - rm1.toInt)
    // doc 2: periodic junk collapses — most of the text goes
    val (t2, n2, rm2) = out(2L)
    assert(n2 >= 1 && rm2 > periodic.length / 2)
    assert(t2.length == periodic.length - rm2.toInt && t2.nonEmpty)
    // doc 3: untouched, zero counts
    assert(out(3L) == (("perfectly ordinary text with no internal repetition at all today ok", 0L, 0L)))
  }

  test("mp4Meta: fixture round-trip, v0 fields, first nonzero-dim track wins; malformed degrade") {
    val mp4 = Multimodal.syntheticMp4("mp42", 1200, 7, 640, 360, 2, seed = 5L)
    assert(Multimodal.mp4Meta(mp4).contains(("mp42", 1200L, 7000L, Some(640), Some(360), 2)))
    // duration_ms floors against a non-divisible timescale: 600 units at
    // ts=900 → 666 ms
    val odd = Multimodal.syntheticMp4("isom", 900, 2, 16, 16, 1, 0L)
    // patch mvhd duration to 600 units (offset: ftyp(20) + moov hdr(8) +
    // mvhd hdr(8) + ver/flags(4) + ctime(4) + mtime(4) + timescale(4))
    val patched = odd.clone()
    val durOff = 20 + 8 + 8 + 4 + 4 + 4 + 4
    patched(durOff) = 0; patched(durOff + 1) = 0
    patched(durOff + 2) = 0x02; patched(durOff + 3) = 0x58 // 600
    assert(Multimodal.mp4Meta(patched).map(_._3).contains(666L))
    assert(Multimodal.mp4Meta("not a video".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.mp4Meta(mp4.take(40)).isEmpty) // truncated inside moov
    val d = Multimodal.decodeVideos(
      Seq((1L, "ftypjunk".getBytes("UTF-8"))).toDF("doc_id", "blob"), "doc_id", "blob")
      .select("decoded", "width").as[(Boolean, Option[Int])].head()
    assert(d == ((false, None)))
  }

  test("segmentFilter: rare-token window dropped, doc reassembled in order, counts right") {
    import graft.operators.UnigramLm
    // 3-token windows. Doc 1: two common windows + one window holding the
    // corpus-unique token "zzz" (very low likelihood). Doc 2 pads the
    // common-token mass so the common windows clear the threshold.
    val common = (1 to 30).map(_ => "tok").mkString(" ")
    val d = Seq(
      (1L, "tok tok tok tok tok zzz tok tok tok"),
      (2L, common)
    ).toDF("doc_id", "text")
    // p(tok)=38/39, p(zzz)=1/39; window scores: ln(38/39)≈-0.026 vs the
    // zzz window (2·ln(38/39)+ln(1/39))/3 ≈ -1.238. Threshold between.
    val byId = UnigramLm.segmentFilter(d, "doc_id", "text", segTokens = 3, minScore = -0.5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(byId(1L) == ((3L, 2L, "tok tok tok tok tok tok")))
    assert(byId(2L) == ((10L, 10L, common)))
    // every window below threshold -> empty text_clean, row retained
    val allLow = UnigramLm.segmentFilter(
      Seq((1L, "a b c")).toDF("doc_id", "text"), "doc_id", "text",
      segTokens = 3, minScore = 0.0)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(allLow == ((1L, 0L, "")))
  }
}
