package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for the 100 TB training-data pipeline surface:
  * exact (hash-groupBy), MinHash+LSH, SimHash, and n-gram Jaccard — plus the
  * content-hash selection family that rides the same determinism discipline
  * (systematic/stratified sampling, train/val/test splits, per-group caps,
  * latest-per-key).
  *
  * Design for scale (the whole point of these over naive pairwise):
  *  - every candidate-generation path is *relational* — explode → hash →
  *    groupBy/join — so Catalyst plans partial aggregation map-side and the
  *    only shuffles are keyed by shingle/band/signature, never an O(n²)
  *    cross product;
  *  - all hash primitives are engine-reproducible deterministic functions —
  *    md5 over deterministic strings, plus the polynomial rolling family
  *    ([[graft.expressions.KgramHash]], B=257 mod 1e9+7) for the winnowing
  *    feeds — so the DuckDB oracle replays them bit-for-bit and results are
  *    stable across Spark versions (no Murmur3 seed drift);
  *  - per-row signature computation (simhash, minhash aggs) stays inside
  *    whole-stage codegen — no UDFs.
  */
object Dedup {

  /** Whitespace tokens of trimmed text — the shared primitive (matches
    * [[graft.functions.TextAnalysis.tokens]]).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Word n-gram shingles as an array column; docs with fewer than `n` tokens
    * yield an empty array.
    *
    * NOTE for composition: expressions inside higher-order-function lambdas
    * are interpreted (no whole-stage codegen, no common-subexpression
    * elimination), so `ws` must be a cheap bound reference — pass a
    * materialized array COLUMN, not `tokens(text)`, or the tokenizer re-runs
    * per element. [[shingleTable]] does this; use it as the template.
    */
  def shinglesOf(ws: Column, n: Int): Column = {
    val gram = (i: Column) => concat_ws(" ", (0 until n).map(j => element_at(ws, i + lit(j + 1))): _*)
    when(size(ws) >= n, transform(sequence(lit(0), size(ws) - n), gram))
      .otherwise(array().cast("array<string>"))
  }

  def shingles(text: Column, n: Int): Column = shinglesOf(tokens(text), n)

  /** Per-doc DISTINCT shingle arrays: (id, shingles array<string>). The
    * within-doc dedup is `array_distinct` — a LOCAL per-row pass — instead of
    * a `distinct()` over the exploded table, which at 100 TB would be a full
    * extra shuffle of the ~100x-expanded shingle volume. All near-dup ops
    * derive from this one shape.
    *
    * Shape notes: the tokenizer output is materialized as a column before the
    * gram lambda reads it (see [[shinglesOf]]), and the input is repartitioned
    * BEFORE the expansion — document tables are small on disk relative to
    * their shingle volume, so without this a compact parquet file arrives as
    * one input partition and the ~100x expansion runs on one core. Callers
    * that share this subplan (e.g. [[jaccardPairs]]'s count + posting-list
    * sides) issue the IDENTICAL call so ReuseExchange serves both from one
    * shuffle.
    */
  def shingleArrays(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    // Tokenize AFTER the parallelism exchange (round 15, guide §2.3
    // project-before-the-exchange): the previous shape shuffled the token
    // ARRAYS — the text's bytes again plus per-element array overhead —
    // where the raw text column suffices. Inside the post-exchange
    // projection the token array rides [[Similarity.letBound]] so the
    // tokenizer still runs once per row, not once per shingle element
    // (HOF lambdas have no common-subexpression elimination, and with no
    // exchange between the two projections CollapseProject would inline
    // `tokens` straight into the shingle lambda — the measured 150x
    // re-tokenization trap documented at [[shinglesOf]]).
    df.select(col(idCol), col(textCol).as("_t"))
      .repartition(parallelism, col(idCol))
      .select(col(idCol), array_distinct(
        Similarity.letBound(tokens(col("_t"))) { ws => shinglesOf(ws, n) }).as("shingles"))
  }

  /** (id, shingle) inverted-index table, distinct per doc (shuffle-free —
    * see [[shingleArrays]]).
    *
    * `explode_outer` + null-filter instead of plain `explode` is a measured
    * 12× on this plan, not a style choice: `InferFiltersFromGenerate` infers
    * `size(arr) > 0 AND isnotnull(arr)` from a non-outer explode and predicate
    * pushdown then sinks that filter BELOW the repartition exchange,
    * substituting the whole tokenize→shingle pipeline into it — the map stage
    * re-runs the regex split per element_at, ~150× per document, single-task.
    * The outer variant is exempt from that rule; the explicit `isNotNull` on
    * the OUTPUT column restores explode semantics (drops empty/null-array
    * docs) and cannot be pushed below the Generate that produces it.
    */
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shingleArrays(df, idCol, textCol, n)
      .select(col(idCol), explode_outer(col("shingles")).as("shingle"))
      .where(col("shingle").isNotNull)

  /** C4-style boilerplate SPAN removal — dedup BELOW document granularity:
    * any token covered by a word `n`-gram occurring in more than `maxDocFreq`
    * DISTINCT documents is removed from every document (navigation chrome,
    * license headers, templated footers), and the surviving tokens are
    * re-joined in order. Doc-level dedup misses this entirely: two documents
    * sharing one boilerplate paragraph are not near-dups.
    *
    * Scale shape: ONE positioned-shingle expansion (repartitioned before the
    * explode, outer+filter against the `InferFiltersFromGenerate` pushdown
    * trap — see [[shingleTable]]); the boilerplate set and the covered
    * positions both shuffle keyed by shingle, and ReuseExchange serves the
    * doc-frequency count and the cover join from the same exchange. The
    * REBUILD is local: covered positions collapse to one small per-doc set
    * (`collect_set`, bounded by doc length) joined back on the id, and the
    * surviving text is reassembled with array ops inside the row — the corpus
    * text itself is never exploded a second time.
    */
  def removeBoilerplateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 5,
      maxDocFreq: Int = 2): DataFrame = {
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    val toks = df.select(col(idCol), tokens(col(textCol)).as("_ws"))
      .repartition(parallelism, col(idCol))
    val gram = (i: Column) => concat_ws(" ", (0 until n).map(j => element_at(col("_ws"), i + lit(j + 1))): _*)
    val posSh = toks.select(col(idCol),
        when(size(col("_ws")) >= n,
          transform(sequence(lit(0), size(col("_ws")) - n), i => struct(i.as("p"), gram(i).as("s"))))
        .otherwise(array().cast("array<struct<p:int,s:string>>")).as("_shs"))
      .select(col(idCol), explode_outer(col("_shs")).as("_x"))
      .where(col("_x").isNotNull)
      .select(col(idCol), col("_x.p").as("p"), col("_x.s").as("s"))
    // ONE shuffle of the shingle volume, shared by both consumers: the
    // df-count's distinct rewrite needs ClusteredDistribution(s, id) and the
    // cover join needs (s) — hashpartitioning(s) satisfies both, and the two
    // consumers referencing the identical repartition subplan lets
    // ReuseExchange serve them from one exchange (without this, each side
    // re-ran the whole tokenize→shingle expansion: countDistinct's two-phase
    // plan shuffles on (s, id), which matches nothing).
    val bySh = posSh.repartition(parallelism, col("s"))
    val boiler = bySh.groupBy("s")
      .agg(countDistinct(col(idCol)).as("_df"))
      .where(col("_df") > maxDocFreq)
      .select("s")
    val covered = bySh.join(boiler, "s")
      .select(col(idCol), explode(sequence(col("p"), col("p") + (n - 1))).as("cp"))
    val covSet = covered.groupBy(col(idCol)).agg(collect_set(col("cp")).as("_cov"))
    toks.join(covSet, Seq(idCol), "left_outer")
      .select(col(idCol),
        when(col("_cov").isNull, concat_ws(" ", col("_ws")))
          .otherwise(concat_ws(" ",
            transform(
              filter(sequence(lit(0), size(col("_ws")) - 1), i => !array_contains(col("_cov"), i)),
              i => element_at(col("_ws"), i + 1)))).as("cleaned_text"))
  }

  /** Exact dedup via hash-groupBy: one row per distinct key expression with
    * the minimum id as the survivor and the duplicate count. Map-side partial
    * aggregation makes this a single keyed shuffle at any scale.
    */
  def exact(df: DataFrame, idCol: String, keyExpr: Column): DataFrame =
    df.groupBy(keyExpr.as("dup_key"))
      .agg(min(col(idCol)).as("kept_id"), count(lit(1)).as("dup_cnt"))

  /** 32-bit base hash of a string: first 8 hex chars of its md5, as a Long in
    * [0, 2^32). One md5 per row; every derived hash family is integer math on
    * top of it. Reproducible in any engine with md5 + hex parse.
    */
  def hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Deterministic universal-hash parameters (a_j, b_j) for the minhash
    * family h_j(x) = (a_j * hash32(x) + b_j) mod 2^32. Knuth/Murmur-style odd
    * multipliers; a_j is masked below 2^30 so a_j * h < 2^62 never overflows
    * a signed 64-bit Long (in Spark or in the DuckDB oracle's BIGINT).
    */
  def minHashParams(numHashes: Int): Seq[(Long, Long)] =
    (1 to numHashes).map { j =>
      val a = (0x9E3779B1L * j) & 0x3FFFFFFFL | 1L
      val b = (0x85EBCA77L * j) & 0xFFFFFFFFL
      (a, b)
    }

  /** MinHash signature aggregation exprs over a pre-materialized [[hash32]]
    * column: for family member j, `min((a_j*h + b_j) mod 2^32)`.
    *
    * One md5 per (doc, shingle) row total — the 12-way family is
    * multiply-add on the shared 32-bit base hash (the naive per-seed
    * `md5(seed || shingle)` does numHashes× the hashing work), and the
    * partial-agg state is a Long, not a 32-char string. Pass a COLUMN bound
    * to the materialized hash (not `hash32(shingle)` inline) so the md5 is
    * not re-evaluated per family member.
    */
  def minHashAggs(h32: Column, numHashes: Int): Seq[Column] =
    minHashParams(numHashes).zipWithIndex.map { case ((a, b), j) =>
      min((lit(a) * h32 + lit(b)) % lit(1L << 32)).as(s"mh$j")
    }

  /** The LSH band table `(id, band, band_val)` — the PERSISTABLE dedup
    * index: write it out partitioned/bucketed by `(band, band_val)` and
    * later increments probe it without re-shingling the historical corpus
    * ([[lshPairsIncremental]]).
    *
    * One projection explodes the signature into its bands — the expensive
    * signature aggregation is computed exactly ONCE (a union-of-bands or a
    * self-join would re-evaluate it per branch/side). The band value is
    * md5-hashed: a fixed 32-char key through the shuffle instead of the
    * concatenated signature numbers (md5 keeps it engine-reproducible).
    */
  def minHashBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands evenly")
    val rows = numHashes / bands
    val sh = shingleTable(df, idCol, textCol, n)
      .withColumn("_h32", hash32(col("shingle")))
    val aggs = minHashAggs(col("_h32"), numHashes)
    val sig = sh.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
    val bandStructs = array((0 until bands).map { b =>
      val bv = md5(concat_ws("|", (b * rows until (b + 1) * rows).map(r => col(s"mh$r").cast("string")): _*))
      struct(lit(b).as("band"), bv.as("band_val"))
    }: _*)
    sig
      .select(col(idCol), explode(bandStructs).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.band_val").as("band_val"))
  }

  /** MinHash+LSH candidate pairs: shingle → numHashes minhashes → `bands`
    * bands of `numHashes/bands` rows → distinct `(id_a < id_b)` pairs of
    * docs sharing a `(band, band_val)` bucket. `maxBucket` is the
    * document-frequency cap on one LSH bucket: buckets with more members are
    * DROPPED from pair generation (a bucket that large means thousands of
    * near-identical docs — a data-quality signal to handle upstream, not a
    * pair list worth O(maxBucket²) work). The cap is what makes the plan
    * memory-bounded at 100 TB — see [[bucketPairs]].
    */
  def minHashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      maxBucket: Int = 1000): DataFrame =
    bucketPairs(minHashBands(df, idCol, textCol, n, numHashes, bands),
      Seq("band", "band_val"), idCol, maxBucket)

  /** The one posting-list pair expansion of the dedup family: group
    * `postings` by `keys`, gather `member` per key, drop lists shorter than
    * 2 (a single-member posting can never witness a pair), and expand each
    * list LOCALLY into its ordered member pairs — one keyed exchange, no
    * self-join. Returns `(keys…, a, b)` for every `a`, `b` of one list with
    * `before(a, b)`; `member` may be a struct carrying per-posting payload
    * (positions, sizes) the caller reads as `a.x` / `b.x`.
    *
    * Callers bound the list length BEFORE calling (a df / bucket-size cap
    * counted first in a Long buffer, never a list), so per-key state and the
    * C(len, 2) expansion stay bounded.
    */
  private def postingPairs(
      postings: DataFrame,
      keys: Seq[String],
      member: Column,
      before: (Column, Column) => Column): DataFrame = {
    val ks = keys.map(col)
    postings.groupBy(ks: _*).agg(collect_list(member).as("_ps"))
      .where(size(col("_ps")) > 1)
      .select(ks :+ explode(col("_ps")).as("a") :+ col("_ps"): _*)
      .select(ks :+ col("a") :+ explode(col("_ps")).as("b"): _*)
      .where(before(col("a"), col("b")))
  }

  /** Distinct `(id_a < id_b)` pairs of rows sharing a bucket `keys` of the
    * band table `banded`, with buckets of more than `maxBucket` members
    * dropped. Membership COUNT first (bounded partial-agg state), then
    * gather members for qualifying buckets only. The qualifying set is small
    * (multi-member buckets = near-dup clusters), so AQE broadcasts it back
    * onto `banded`; every collect_list that follows is provably ≤ maxBucket
    * elements.
    */
  private def bucketPairs(
      banded: DataFrame,
      keys: Seq[String],
      idCol: String,
      maxBucket: Int): DataFrame = {
    val qualifying = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n"))
      .where(col("_n") > 1 && col("_n") <= maxBucket)
      .select(keys.map(col): _*)
    postingPairs(banded.join(qualifying, keys), keys, col(idCol), _ < _)
      .select(col("a").as("id_a"), col("b").as("id_b")).distinct()
  }

  /** Incremental near-dup candidates: a NEW batch probes a persisted LSH
    * band index ([[minHashBands]] output read back from storage) — the
    * daily-increment production shape. Emits every candidate pair with at
    * least one new-batch member (new×old and new×new); the historical
    * old×old cross product is NEVER generated — the probe joins new band
    * rows against the union, so per-bucket work is `|new| × |bucket|`, not
    * `|bucket|²`. Bucket membership caps (`maxBucket`, counted over the
    * UNION — same df-cap semantics as the full rebuild, so incremental runs
    * converge to the batch answer) bound the fan-out; with the index laid
    * out bucketed by `(band, band_val)` the join co-locates and only the
    * (small) new batch shuffles.
    */
  def lshPairsIncremental(
      newDocs: DataFrame,
      indexBands: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      maxBucket: Int = 1000): DataFrame = {
    val nb = minHashBands(newDocs, idCol, textCol, n, numHashes, bands)
      .localCheckpoint(true) // consumed by count, index probe and self probe — computed once
    lshPairsIncrementalBands(nb, indexBands, idCol, maxBucket)
  }

  /** [[lshPairsIncremental]] over PRE-COMPUTED new-batch band rows — the
    * entry point for callers that also persist the bands (the streaming
    * increment appends them to the index table): shingle+minhash the batch
    * ONCE, probe with one materialization, append the same frame. Pass a
    * materialized frame (`localCheckpoint`) — the probe consumes it three
    * times (bucket count, index probe, self probe).
    */
  def lshPairsIncrementalBands(
      newBands: DataFrame,
      indexBands: DataFrame,
      idCol: String,
      maxBucket: Int = 1000): DataFrame =
    probeBuckets(newBands, indexBands, Seq("band", "band_val"), idCol, maxBucket)

  /** The incremental bucket probe shared by the MinHash and sign-band
    * paths: distinct `(id_a < id_b)` pairs with at least one member in
    * `newBands`, from buckets `keys` holding at most `maxBucket` members
    * over index ∪ new. Both frames carry `idCol` and `keys`; `newBands` is
    * read three times (bucket count, index probe, self probe), so pass a
    * materialized frame.
    */
  private def probeBuckets(
      newBands: DataFrame,
      indexBands: DataFrame,
      keys: Seq[String],
      idCol: String,
      maxBucket: Int): DataFrame = {
    val kc = keys.map(col)
    val nb = newBands
    val idx = indexBands.select(col(idCol) +: kc: _*)
    // Bucket caps count over index ∪ new — SEPARATE aggregates merged with a
    // full-outer join, NOT a union: a grouped count over the bucketed index
    // table needs no exchange (its bucket-key partitioning satisfies the
    // grouping's distribution), and the merge join co-locates the same way.
    // A union would erase the index's output partitioning and shuffle the
    // ENTIRE index through the aggregation on every increment.
    val nCounts = nb.groupBy(kc: _*).agg(count(lit(1)).as("_nn"))
    val iCounts = idx.groupBy(kc: _*).agg(count(lit(1)).as("_ni"))
    val qualifying = iCounts.join(nCounts, keys, "full_outer")
      .select(kc :+ (coalesce(col("_nn"), lit(0L)) + coalesce(col("_ni"), lit(0L))).as("_n"): _*)
      .where(col("_n") > 1 && col("_n") <= maxBucket)
      .select(kc: _*)
    // New bands in qualifying buckets probe the index and themselves; the
    // nb×idx ∪ nb×nb split reproduces exactly nb×(idx ∪ nb) while keeping
    // the index side of the big join exchange-free on a bucketed layout.
    val probe = nb.select(col(idCol).as("_nid") +: kc: _*).join(qualifying, keys)
    val vsIndex = probe.join(idx.select(col(idCol).as("_mid") +: kc: _*), keys)
      .where(col("_nid") =!= col("_mid"))
    // Self-probe emits each unordered new-new pair ONCE (<, not ≠): both
    // members sit in nb, so the double orientation would only double the
    // rows shuffled into the closing distinct.
    val vsNew = probe.join(nb.select(col(idCol).as("_mid") +: kc: _*), keys)
      .where(col("_nid") < col("_mid"))
    vsIndex.unionByName(vsNew)
      .select(least(col("_nid"), col("_mid")).as("id_a"),
        greatest(col("_nid"), col("_mid")).as("id_b"))
      .distinct()
  }

  /** One CRASH-IDEMPOTENT micro-batch step of the streaming incremental
    * LSH composition (`st_lsh_dedup_increment`'s `foreachBatch` body):
    * probe the persisted band index with this batch, then persist the
    * batch's pairs and bands.
    *
    * `foreachBatch` sinks are at-least-once: a crash after the index append
    * but before the checkpoint commit replays the batch, and a plain
    * `mode("append")` would then write its band rows a SECOND time —
    * permanently inflating bucket counts toward `maxBucket` and potentially
    * dropping candidate pairs relative to the batch oracle. This step is
    * idempotent under replay by construction:
    *  - pairs and bands land in per-batch partition directories
    *    (`.../batch_id=<id>`) written with OVERWRITE — a replayed batch
    *    replaces its own (possibly partial) output instead of appending a
    *    duplicate copy;
    *  - the probe reads the index EXCLUDING the current `batch_id`
    *    partition, so band rows left behind by a crashed first attempt
    *    never double-orient the batch's new×new pairs (the partition filter
    *    also prunes the directory scan — no wasted IO).
    * A nonexistent `indexDir` is the documented FIRST-RUN state (round 15):
    * the step auto-seeds it with a zero-row [[minHashBands]] frame at
    * `indexDir/batch_id=-1` so the first batch's probe reads the table
    * shape it appends to — no caller setup, and idempotent under replay
    * like everything else here (a second run finds the dir and skips the
    * seed). Readers of the accumulated tables get a `batch_id` partition
    * column via discovery; drop it before use.
    */
  def lshIncrementStep(
      batch: DataFrame,
      indexDir: String,
      pairsDir: String,
      batchId: Long,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4,
      maxBucket: Int = 1000): Unit = {
    val ss = batch.sparkSession
    // Auto-seed a nonexistent index dir (round 15, upgraded from the
    // round-14 loud require): first-run-from-nothing is a legitimate
    // state, not a caller bug — write the empty batch_id=-1 partition so
    // the probe below reads the table shape this step appends to. Hadoop
    // FS API, so object stores behave like the local FS here.
    val indexPath = new org.apache.hadoop.fs.Path(indexDir)
    val fs = indexPath.getFileSystem(ss.sparkContext.hadoopConfiguration)
    if (!fs.exists(indexPath)) {
      minHashBands(batch.limit(0), idCol, textCol, n, numHashes, bands)
        .write.mode("overwrite").parquet(s"$indexDir/batch_id=-1")
    }
    // Bands are computed ONCE (shingle+minhash is the dominant cost) — the
    // same materialized frame feeds the probe and the index write.
    val nb = minHashBands(batch, idCol, textCol, n, numHashes, bands)
      .localCheckpoint(true)
    val idx = ss.read.parquet(indexDir).where(col("batch_id") =!= lit(batchId))
    lshPairsIncrementalBands(nb, idx, idCol, maxBucket)
      .write.mode("overwrite").parquet(s"$pairsDir/batch_id=$batchId")
    nb.write.mode("overwrite").parquet(s"$indexDir/batch_id=$batchId")
  }

  /** SimHash over distinct tokens: bit b of the signature is the majority
    * vote of bit b of `md5(token)[0:4]` (16-bit fingerprint) across tokens.
    * Pure per-row Column math — shuffle-free, codegen'd; near-dup docs land
    * on equal or Hamming-close signatures, so a groupBy(simhash) is the
    * cluster step at scale.
    */
  def simHash(text: Column, bits: Int = 16): Column = {
    val tokenFp = (t: Column) => conv(substring(md5(t), 1, 4), 16, 10).cast("int")
    // The md5 fingerprint is materialized ONCE per token, then every bit vote
    // is integer math over that array. HOF lambdas are interpreted with no
    // common-subexpression elimination (see [[shinglesOf]]), so inlining
    // `tokenFp(t)` into per-bit lambdas would hash each token `bits` times —
    // and referencing the transform() from `bits` separate aggregates would
    // re-run the transform per aggregate. One aggregate carries all bit
    // counters as an array accumulator instead.
    val fps = transform(array_distinct(tokens(text)), tokenFp)
    val votes = aggregate(fps, array_repeat(lit(0), bits),
      (acc, f) => zip_with(acc, sequence(lit(0), lit(bits - 1)),
        (v, b) => v + when((call_function("shiftright", f, b) % 2) === 1, 1).otherwise(-1)))
    val bitVals = zip_with(votes, sequence(lit(0), lit(bits - 1)),
      (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
    aggregate(bitVals, lit(0L), (acc, x) => acc + x)
  }

  /** WINNOWING document fingerprints (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS local fingerprinting scheme): character k-gram rolling
    * hashes, then each sliding window of `w` consecutive hashes
    * contributes its MINIMUM — the selected set is position-robust
    * (insertions far away cannot change a window's min) and carries the
    * winnowing guarantee: any shared substring of length ≥ `w + k − 1`
    * produces at least one shared fingerprint. The character-level cousin
    * of [[minHashLshPairs]]' token shingles — the standard family for CODE
    * dedup, where whitespace/identifier noise defeats word shingles.
    *
    * Per-row cost is O(len) end to end: the k-gram hash array comes from
    * the native one-pass [[graft.expressions.KgramHash]] rolling hash
    * (polynomial B=257 mod 1e9+7 over code points — the portable family
    * the oracles replay), and the window-min selection from the native
    * monotonic-deque [[graft.expressions.WinnowSelect]]. Returns one
    * `(idCol, fp)` row per distinct selected fingerprint.
    */
  def winnowingFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    // Native one-pass rolling-hash feed ([[graft.expressions.KgramHash]]):
    // replaces the O(len·k) interpreted per-position md5 HOF (which also
    // needed a let-bound materialization to dodge the per-window re-eval
    // trap) with O(len) codegen'd work — an Expression child evaluates
    // exactly once, so no let-binding is needed either.
    val hs = org.apache.spark.sql.graft.Shim.column(
      graft.expressions.KgramHash(
        org.apache.spark.sql.graft.Shim.expression(col("_t")), k))
    // Native O(len) deque selection (graft_winnow_select) replaces the
    // O(len·w) interpreted window composition — same selections bit for bit
    // (WinnowSelectSpec equivalence property; gates unchanged). Distinct
    // FPs fall out of the distinct (fp, pos) selections: first occurrence
    // of an fp in the pair sequence IS its first window, so order matches
    // the old array_distinct-over-minima exactly.
    val sel = org.apache.spark.sql.graft.Shim.column(
      graft.expressions.WinnowSelect(org.apache.spark.sql.graft.Shim.expression(hs), w))
    val fp = array_distinct(transform(sel, s => s.getField("fp")))
    // Repartitioned BEFORE the expansion (the shingleArrays discipline: a
    // compact parquet file arrives as ONE split, and the per-char hash +
    // window pipeline must not run single-task); explode_outer +
    // null-filter, not explode — InferFiltersFromGenerate would sink an
    // inferred size() filter below the exchange and re-run the whole
    // fingerprint expression on the compact pre-shuffle partition the
    // moment `fp` becomes a named column (the measured 12x trap at
    // shingleTable).
    df.repartition(parallelism, col(idCol))
      .select(col(idCol), col(textCol).as("_t"))
      .select(col(idCol), explode_outer(fp).as("fp"))
      .where(col("fp").isNotNull)
  }

  /** Candidate pairs from shared winnowing fingerprints via the
    * fingerprint inverted index — the [[jaccardPairs]] posting
    * discipline: singleton postings (df = 1, the MAJORITY at char-gram
    * granularity — most k-grams are document-unique) can never witness a
    * pair and leave before the join; postings over `maxDf` leave the
    * space too (a fingerprint in thousands of documents is boilerplate,
    * not evidence), bounding the pair expansion at C(maxDf, 2) per
    * fingerprint. Pairs must share at least `minShared` fingerprints.
    */
  def winnowingPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4,
      minShared: Int = 2,
      maxDf: Int = 1000): DataFrame = {
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    // Posting-list aggregation, not a self-join (the jaccardPairs shape):
    // the df pre-count is a Long-buffer aggregate, survivors group into a
    // list provably ≤ maxDf elements, and the local pair expansion rides
    // the same fp partitioning — ONE exchange of the fingerprint table
    // where a self-join shuffles both sides and joins. On the hostile
    // replica probe (every doc in a factor-clique sharing ~all
    // fingerprints) wall clock is expansion-bound either way — Σ C(df,2)
    // pair rows dominate — but the posting shape halves the shuffled
    // bytes and carries the bounded-state guarantee.
    // (Measured alternative — rejected: an eager localCheckpoint barrier
    // here, on the theory that the two consumers below re-execute the
    // fingerprint selection, REGRESSES 5.2 → 9.1 s in a cold sf0.1 A/B:
    // AQE's runtime exchange reuse already unifies the df pre-count and the
    // posting join on this shared repartition, so the barrier pays full
    // materialization for nothing. Same result shape for
    // winnowingMatchSpans' first-occurrence frame.)
    val fps = winnowingFingerprints(df, idCol, textCol, k, w)
      .repartition(parallelism, col("fp"))
    val keep = fps.groupBy("fp").agg(count(lit(1)).as("_df"))
      .where(col("_df") >= 2 && col("_df") <= maxDf).select("fp")
    postingPairs(fps.join(keep, Seq("fp")), Seq("fp"), col(idCol), _ < _)
      .groupBy(col("a").as("id_a"), col("b").as("id_b")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** [[winnowingFingerprints]] keeping the POSITION of each selected
    * fingerprint — the MOSS report shape needs the matched character
    * offsets, and the positions are already computed inside the window-min
    * pass (each window's minimum sits at a known offset). Tie-break:
    * LEFTMOST minimal hash in the window (`array_position` returns the
    * first occurrence) — deterministic and replayed by the oracle via
    * DuckDB's `list_position`. Returns one `(idCol, fp, pos)` row per
    * distinct (fingerprint, position) selection; `pos` is the 1-based char
    * offset of the k-gram, so the matched span is `[pos, pos+k-1]`.
    */
  def winnowingFingerprintPositions(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4): DataFrame = {
    require(k > 0 && w > 0, "k and w must be positive")
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    // Same native rolling-hash feed as [[winnowingFingerprints]].
    val hs = org.apache.spark.sql.graft.Shim.column(
      graft.expressions.KgramHash(
        org.apache.spark.sql.graft.Shim.expression(col("_t")), k))
    // Native O(len) deque selection — replaces the interpreted O(len·w)
    // slice/array_min/array_position window composition (and the letBound it
    // required: an Expression child evaluates exactly once). Leftmost-min
    // tie-break and first-occurrence distinct are preserved bit for bit —
    // WinnowSelectSpec proves element equality against the old composition.
    val sel = org.apache.spark.sql.graft.Shim.column(
      graft.expressions.WinnowSelect(org.apache.spark.sql.graft.Shim.expression(hs), w))
    df.repartition(parallelism, col(idCol))
      .select(col(idCol), col(textCol).as("_t"))
      .select(col(idCol), explode_outer(sel).as("s"))
      .where(col("s").isNotNull)
      .select(col(idCol), col("s.fp").as("fp"), col("s.pos").as("pos"))
  }

  /** MOSS-style match SPANS for qualified winnowing pairs: for every pair
    * sharing ≥ `minShared` distinct fingerprints, one row per shared
    * fingerprint with the EARLIEST selected position of that fingerprint
    * in each document (`start_a`/`start_b`; spans cover `k` characters).
    * First-occurrence is the deterministic bounded report shape — a
    * repeated fingerprint inside one document reports its earliest span,
    * so rows per pair are bounded by the shared-fingerprint count, never
    * by a positions × positions cross product on repetitive text.
    *
    * Scale shape: one fp-keyed exchange builds first-occurrence postings
    * (df window [2, maxDf] pruned BEFORE the local C(df,2) expansion —
    * the [[winnowingPairs]] posting discipline), then one pair-keyed
    * window counts shared fingerprints for the minShared gate. No
    * self-join, no per-document state beyond the posting list cap.
    */
  def winnowingMatchSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 5,
      w: Int = 4,
      minShared: Int = 2,
      maxDf: Int = 1000): DataFrame = {
    val pairs = winnowingAnchorPairs(df, idCol, textCol, k, w, maxDf)
    val byPair = Window.partitionBy("id_a", "id_b")
    pairs
      .withColumn("n_shared", count(lit(1)).over(byPair))
      .where(col("n_shared") >= minShared)
  }

  /** The anchor-pair stage of [[winnowingMatchSpans]] WITHOUT the per-pair
    * shared-count window — for consumers like [[exactDupSpans]] whose
    * minShared is 1, where the window's exchange+sort over the full
    * candidate expansion (the job's largest intermediate) would gate on a
    * vacuous `n_shared >= 1`. One row per (doc, fp) in `first` → count(*)
    * per fp IS the document frequency; the [2, maxDf] window drops
    * singletons and boilerplate BEFORE the local C(df, 2) expansion.
    */
  private def winnowingAnchorPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      w: Int,
      maxDf: Int): DataFrame = {
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    val first = winnowingFingerprintPositions(df, idCol, textCol, k, w)
      .groupBy(col(idCol), col("fp")).agg(min("pos").as("pos"))
      .repartition(parallelism, col("fp"))
    val keep = first.groupBy("fp").agg(count(lit(1)).as("_df"))
      .where(col("_df") >= 2 && col("_df") <= maxDf).select("fp")
    postingPairs(first.join(keep, Seq("fp")), Seq("fp"),
        struct(col(idCol).as("id"), col("pos")), (a, b) => a.getField("id") < b.getField("id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("fp"),
        col("a.pos").as("start_a"), col("b.pos").as("start_b"))
  }

  /** VERIFIED exact duplicate spans — the ExactSubstr surface of Lee et
    * al., "Deduplicating Training Data Makes Language Models Better"
    * (2022): report maximal character spans of length ≥ `minLen` that two
    * documents share EXACTLY. Where [[winnowingMatchSpans]] reports
    * fingerprint evidence (hash-level, unverified), this operator extends
    * every shared-fingerprint anchor by actual character comparison and
    * reports only verified spans — soundness is absolute (every reported
    * span is a true byte-exact match), recall carries winnowing's guarantee
    * (any shared span of length ≥ minLen contains a selected shared
    * fingerprint, k = minLen − w + 1) modulo earliest-occurrence collapse
    * on self-repetitive text.
    *
    * Scale shape: candidate anchors come from the posting-list discipline
    * of [[winnowingMatchSpans]] (fp-keyed exchange, df ∈ [2, maxDf] pruned
    * before the C(df,2) expansion); verification joins each candidate pair
    * to its two texts (two idCol-keyed hash joins — a document's text
    * travels once per pair partner, bounded by maxDf, never broadcast) and
    * extends anchors with a per-row two-pointer walk in `mapPartitions`
    * (genuinely imperative per-row logic — O(span) per candidate, no
    * quadratic re-scan). All anchors inside one maximal span extend to the
    * SAME (start_a, start_b, len) triple, so the trailing distinct yields
    * maximal spans exactly once.
    *
    * Returns (id_a, id_b, start_a, start_b, match_len), 1-based starts.
    */
  def exactDupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 40,
      w: Int = 8,
      maxDf: Int = 1000): DataFrame = {
    require(minLen > w, "minLen must exceed the winnowing window")
    val k = minLen - w + 1
    val anchors = winnowingAnchorPairs(df, idCol, textCol, k, w, maxDf)
    val texts = df.select(col(idCol), col(textCol))
    verifyExtendSpans(anchors, texts, texts, idCol, textCol, k, minLen)
  }

  /** INCREMENTAL [[exactDupSpans]] — the production daily shape: verified
    * exact spans between a NEW batch and an already-curated INDEX corpus,
    * without re-pairing the index against itself. In production the index
    * side's earliest-position fingerprint postings are a stored table
    * (computed once, appended per increment); here they are derived from
    * `indexDf` in the same job — the pairing cost is
    * O(new fingerprints × matched postings), never O(index²).
    *
    * The df cap applies to the INDEX posting lists (boilerplate guard —
    * a fingerprint carried by thousands of index docs is template noise);
    * new-batch fingerprints are matched exactly. Output orientation:
    * `id_a` = new doc, `id_b` = index doc.
    */
  def exactDupSpansIncremental(
      newDf: DataFrame,
      indexDf: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 40,
      w: Int = 8,
      maxDf: Int = 1000): DataFrame = {
    require(minLen > w, "minLen must exceed the winnowing window")
    val k = minLen - w + 1
    val parallelism = newDf.sparkSession.sessionState.conf.numShufflePartitions
    def firstPos(df: DataFrame): DataFrame =
      winnowingFingerprintPositions(df, idCol, textCol, k, w)
        .groupBy(col(idCol), col("fp")).agg(min("pos").as("pos"))
        .repartition(parallelism, col("fp"))
    val newFp = firstPos(newDf)
    val idxFp = firstPos(indexDf)
    val idxKeep = idxFp.groupBy("fp").agg(count(lit(1)).as("_df"))
      .where(col("_df") <= maxDf).select("fp")
    val anchors = newFp
      .join(idxFp.join(idxKeep, Seq("fp"))
        .select(col("fp"), col(idCol).as("id_b"), col("pos").as("start_b")), Seq("fp"))
      .select(col(idCol).as("id_a"), col("id_b"),
        col("pos").as("start_a"), col("start_b"))
    verifyExtendSpans(anchors,
      newDf.select(col(idCol), col(textCol)),
      indexDf.select(col(idCol), col(textCol)), idCol, textCol, k, minLen)
  }

  /** INTRA-document self-duplicate spans: maximal character spans of length
    * ≥ `minLen` that repeat WITHIN one document (start_a < start_b, both in
    * the same text) — the within-doc half of the ExactSubstr surface
    * (repeated boilerplate blocks, periodic junk, copy-paste stutter).
    * Candidates come from same-fingerprint position pairs inside one doc
    * (ALL winnow-selected positions, no earliest-occurrence collapse — the
    * later occurrence is exactly what we're hunting); `maxOcc` caps the
    * per-(doc, fingerprint) occurrence list before the local C(n, 2)
    * expansion, the same loud-cap discipline as `maxDf` on the cross-doc
    * path. Verification and maximal extension reuse [[exactDupSpans]]'
    * per-diagonal walk against the document's own text.
    */
  def selfDupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 40,
      w: Int = 8,
      maxOcc: Int = 100): DataFrame = {
    require(minLen > w, "minLen must exceed the winnowing window")
    val k = minLen - w + 1
    val pos = winnowingFingerprintPositions(df, idCol, textCol, k, w)
    val ps = pos.groupBy(col(idCol), col("fp"))
      .agg(sort_array(collect_list(col("pos"))).as("_ps"))
      .where(size(col("_ps")) >= 2 && size(col("_ps")) <= maxOcc)
    val anchors = ps
      .select(col(idCol), explode(col("_ps")).as("p1"), col("_ps"))
      .select(col(idCol), col("p1"), explode(col("_ps")).as("p2"))
      .where(col("p1") < col("p2"))
      .select(col(idCol).as("id_a"), col(idCol).as("id_b"),
        col("p1").as("start_a"), col("p2").as("start_b"))
    val texts = df.select(col(idCol), col(textCol))
    verifyExtendSpans(anchors, texts, texts, idCol, textCol, k, minLen)
      .select(col("id_a").as(idCol), col("start_a"), col("start_b"), col("match_len"))
  }

  /** [[selfDupSpans]] applied as REMOVAL — Lee et al.'s cut semantics at
    * document scope: for every repeated span, the LATER occurrence(s)
    * (`[start_b, start_b + len)`) are deleted and the first kept;
    * overlapping removal intervals merge, so periodic text collapses to
    * one period plus the remainder shorter than `minLen`. Single pass (a
    * duplicate formed ACROSS a cut seam is not re-hunted — the standard
    * production contract). Every document returns a row:
    * `(idCol, text_clean, n_spans, n_removed_chars)`; untouched docs carry
    * their original text with zero counts. Removal positions are CODE
    * POINTS, matching the span coordinates.
    */
  def removeSelfDupText(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 40,
      w: Int = 8,
      maxOcc: Int = 100): DataFrame = {
    val spans = selfDupSpans(df, idCol, textCol, minLen, w, maxOcc)
    cutIntervalsRebuild(df, idCol, textCol,
      spans.select(col(idCol), col("start_b").as("s"), col("match_len").as("l")))
  }

  /** Shared removal tail of the span-cut family: per-document interval
    * union + code-point text rebuild. `cuts` is one row per removal
    * interval `(idCol, s, l)` — `s` 1-based code-point start, `l` length;
    * overlapping intervals merge in the flatten. Every document of `df`
    * returns a row `(idCol, text_clean, n_spans, n_removed_chars)`;
    * untouched docs carry their original text with zero counts. Per-doc
    * interval lists are bounded by the document's own length (one interval
    * per span position at worst), so the `collect_list` is doc-sized, not
    * corpus-sized.
    */
  private[operators] def cutIntervalsRebuild(
      df: DataFrame,
      idCol: String,
      textCol: String,
      cuts: DataFrame): DataFrame = {
    val ivs = cuts
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("s"), col("l")))).as("_ivs"),
        count(lit(1)).as("n_spans"))
    val joined = df.select(col(idCol), col(textCol))
      .join(ivs, Seq(idCol), "left")
    val idType = df.schema(idCol).dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol, idType, nullable = false),
      org.apache.spark.sql.types.StructField("text_clean", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_spans", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_removed_chars", org.apache.spark.sql.types.LongType, nullable = false)))
    joined.mapPartitions { rows =>
      rows.map { r =>
        val id = r.get(0)
        val text = r.getString(1)
        val ivsOpt = Option(r.get(2)).map(_.asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]])
        val nSpans = if (r.isNullAt(3)) 0L else r.getLong(3)
        ivsOpt match {
          case None => org.apache.spark.sql.Row(id, text, 0L, 0L)
          case Some(list) =>
            val cps = graft.expressions.KgramHashImpl.codePoints(text)
            val removed = new Array[Boolean](cps.length)
            list.foreach { iv =>
              val s = iv.getAs[Number](0).intValue() - 1 // 0-based
              val l = iv.getAs[Number](1).intValue()
              var i = s
              val end = math.min(s + l, cps.length)
              while (i < end) { removed(i) = true; i += 1 }
            }
            val sb = new java.lang.StringBuilder(cps.length)
            var kept = 0
            var i = 0
            while (i < cps.length) {
              if (!removed(i)) { sb.appendCodePoint(cps(i)); kept += 1 }
              i += 1
            }
            org.apache.spark.sql.Row(id, sb.toString, nSpans, (cps.length - kept).toLong)
        }
      }
    }(org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema))
  }

  /** Shared verify+extend stage of the ExactSubstr family: join candidate
    * anchor pairs to their two texts (a-side from `textsA`, b-side from
    * `textsB` — anchors are the small side, texts travel once per pair
    * partner), character-verify the k-gram anchor (hash collisions must
    * not produce phantom spans), extend maximally with a two-pointer walk,
    * keep spans ≥ minLen, distinct (all anchors inside one maximal span
    * extend to the same triple).
    */
  private def verifyExtendSpans(
      anchors: DataFrame,
      textsA: DataFrame,
      textsB: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minLen: Int): DataFrame = {
    // Anchors inside ONE maximal span share the alignment DIAGONAL
    // (start_a − start_b) and all extend to the same triple, so near-copy
    // pairs — which carry one anchor per winnow window over the whole
    // shared text — would otherwise drag both full texts through the join
    // once PER ANCHOR. Grouping per (pair, diagonal) first makes the text
    // join O(pair-diagonals) rows (≈ O(pairs) on near-copies), and the
    // walk below skips anchors a previously-extended span already covers
    // (a covered anchor reproduces the same span; a boundary-straddling
    // anchor fails its character verify — either way, emitting nothing new
    // is exact, not an approximation). Output is bit-identical to
    // per-anchor extension + distinct, which is what the oracles replay.
    val grouped = anchors
      .withColumn("_diag", col("start_a") - col("start_b"))
      .groupBy(col("id_a"), col("id_b"), col("_diag"))
      .agg(sort_array(collect_list(struct(col("start_a"), col("start_b")))).as("_as"))
    val joined = grouped
      .join(textsA.select(col(idCol).as("id_a"), col(textCol).as("_ta")), Seq("id_a"))
      .join(textsB.select(col(idCol).as("id_b"), col(textCol).as("_tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("_as"), col("_ta"), col("_tb"))
    // Ids pass through untyped (the rest of the Dedup family is id-type
    // generic — string ids must work here too).
    val idType = textsA.schema(idCol).dataType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id_a", idType, nullable = false),
      org.apache.spark.sql.types.StructField("id_b", idType, nullable = false),
      org.apache.spark.sql.types.StructField("start_a", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("start_b", org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("match_len", org.apache.spark.sql.types.IntegerType, nullable = false)))
    joined.mapPartitions { rows =>
      rows.flatMap { r =>
        val idA = r.get(0)
        val idB = r.get(1)
        // Anchor positions are CODE-POINT offsets (KgramHash hashes code
        // points; DuckDB substr indexes them) — decode before the walk, or
        // any supplementary-plane character shifts the verify window and
        // silently drops or mis-measures spans.
        val ta = graft.expressions.KgramHashImpl.codePoints(r.getAs[String]("_ta"))
        val tb = graft.expressions.KgramHashImpl.codePoints(r.getAs[String]("_tb"))
        val as = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("_as")
        val out = Seq.newBuilder[org.apache.spark.sql.Row]
        var coveredEndA = -1 // exclusive 0-based end of the last span on this diagonal
        as.foreach { a =>
          val sa = a.getAs[Number](0).intValue() - 1 // 0-based anchor
          val sb = a.getAs[Number](1).intValue() - 1
          if (sa >= coveredEndA) {
            var ok = sa >= 0 && sb >= 0 && sa + k <= ta.length && sb + k <= tb.length
            var i = 0
            while (ok && i < k) {
              if (ta(sa + i) != tb(sb + i)) ok = false
              i += 1
            }
            if (ok) {
              var left = 0
              while (sa - left - 1 >= 0 && sb - left - 1 >= 0 &&
                ta(sa - left - 1) == tb(sb - left - 1)) left += 1
              var right = k
              while (sa + right < ta.length && sb + right < tb.length &&
                ta(sa + right) == tb(sb + right)) right += 1
              val len = left + right
              coveredEndA = sa + right
              if (len >= minLen)
                out += org.apache.spark.sql.Row(idA, idB, sa - left + 1, sb - left + 1, len)
            }
          }
        }
        out.result()
      }
    }(org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema))
      .distinct()
  }

  /** n-gram Jaccard with an IN-PLAN stop-shingle cap: shingles whose document
    * frequency exceeds `maxDf` are removed from the shingle space entirely
    * (both intersection AND union counts — standard stop-word-filtered
    * Jaccard), so no posting list ever exceeds `maxDf` ids and the pair
    * expansion is bounded by C(maxDf, 2) per shingle. A df-1000+ shingle is
    * boilerplate (headers, license text) that contributes no discrimination
    * anyway.
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.3,
      maxDf: Int = 1000): DataFrame = {
    // Inverted-index aggregation instead of a self-join: group the shingle
    // table by shingle, DROP singleton postings (a shingle in one document
    // can never witness a pair — the overwhelming majority in natural text)
    // and stop-shingles (df > maxDf), and expand each surviving posting
    // list into its local pairs. The df count is a window count over the
    // shingle partitioning, never a list, so no unbounded aggregation state
    // exists anywhere.
    //
    // Stop-shingle handling stays shingle-KEYED, never a broadcast: the
    // number of df>maxDf shingles GROWS with corpus size (Zipf — at web
    // scale millions of boilerplate n-grams clear any fixed cap), so pinning
    // a broadcast build side would trade away the bounded-memory guarantee
    // this operator exists for.
    //
    // Plan-determinism note (round 14, diagnosed on `x_corpus_pipeline`):
    // the previous shape — posting table JOINs its own df-count aggregate,
    // the join output read by the kept/stop branches — relied on
    // ReuseExchange to serve the posting exchange to its multiple
    // consumers. Under AQE that reuse is a RACE: canonically-equal query
    // stages submitted concurrently each miss the stage cache and execute
    // independently, so per-stage dumps showed the 2.5MB posting exchange
    // re-executed 3× on one pass and 8× on the next WITHIN ONE JVM —
    // nondeterministic shuffle volume (18.7MB vs 39.7MB for the whole
    // pipeline) for a fixed plan+data. The fix is structural, not a hint:
    // (a) df comes from `count() OVER (PARTITION BY shingle)` IN the
    // posting exchange's own partitioning — one shingle-keyed exchange
    // total, no second agg exchange, no join; (b) per-doc totals `_n_all`
    // ride the explode so the doc-count side needs no second tokenize
    // subplan; (c) the resulting (id, _n_all, shingle, _df) frame is
    // materialized ONCE (eager localCheckpoint — the same stage-boundary
    // pattern the pipeline gates use; at 100 TB this is the parquet write
    // between curation stages) and every downstream branch reads the fixed
    // RDD. Post-fix the whole pipeline's shuffle bytes are identical
    // across passes and JVMs.
    val (inter, cnt) = shinglePairCounts(df, idCol, textCol, n, maxDf)
    withSizes(inter, cnt, idCol, "n_sh")
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .where(col("jaccard") > threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Shared pair machinery for [[jaccardPairs]]/[[containmentPairs]]:
    * returns (per-pair intersection counts `(id_a, id_b, n_inter)`, per-doc
    * kept-shingle counts `(id, n_sh)`) over the df-capped distinct-shingle
    * space. All the design notes above (inverted index, singleton drop,
    * keyed — never broadcast — stop-shingle handling, window df count in
    * the posting partitioning, eager single materialization for plan
    * determinism) live here. NOTE: calling this triggers one Spark job
    * (the posting-table materialization); both public wrappers are
    * therefore eager, like [[connectedComponents]].
    *
    * `cnt` rows exist only for docs with ≥1 shingle — sufficient, because
    * its sole consumers are inner joins from `inter` ids, and an id can
    * appear in a pair only if it contributed at least one posting row.
    */
  private def shinglePairCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxDf: Int): (DataFrame, DataFrame) = {
    val withDf = shingleArrays(df, idCol, textCol, n)
      .select(col(idCol), size(col("shingles")).as("_n_all"),
        explode_outer(col("shingles")).as("shingle"))
      .where(col("shingle").isNotNull) // see shingleTable: InferFiltersFromGenerate trap
      .select(col(idCol), col("_n_all"), col("shingle"),
        count(lit(1)).over(Window.partitionBy("shingle")).as("_df"))
      .localCheckpoint(true)
    val cnt = withDf.groupBy(col(idCol))
      .agg((first(col("_n_all")).cast("long") -
        sum(when(col("_df") > maxDf, 1L).otherwise(0L))).as("n_sh"))
    val inter = postingPairs(withDf.where(col("_df") <= maxDf), Seq("shingle"), col(idCol), _ < _)
      .groupBy(col("a").as("id_a"), col("b").as("id_b")).agg(count(lit(1)).as("n_inter"))
    (inter, cnt)
  }

  /** Per-pair intersection counts `inter` `(id_a, id_b, …)` joined with both
    * members' set sizes `n_a`, `n_b`, read from column `sizeCol` of the
    * per-doc frame `sizes` keyed by `idCol`.
    */
  private def withSizes(inter: DataFrame, sizes: DataFrame, idCol: String, sizeCol: String): DataFrame =
    inter
      .join(sizes.select(col(idCol).as("id_a"), col(sizeCol).as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col(sizeCol).as("n_b")), "id_b")

  /** PREFIX-FILTERED n-gram Jaccard pairs (the AllPairs/PPJoin candidate
    * bound, Bayardo et al. 2007 / Xiao et al. 2008): IDENTICAL output to
    * [[jaccardPairs]] — the gate shares that operator's oracle verbatim —
    * with candidate generation cut by the prefix-filtering theorem:
    * `J(A,B) ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉`, so under a CANONICAL global element
    * order two qualifying sets must collide inside their first
    * `|A| − ⌈t·|A|⌉ + 1` elements. Only those PREFIX elements enter the
    * inverted index — under rare-first ordering (ascending document
    * frequency) the indexed postings concentrate on the rarest elements,
    * and the quadratic C(df,2) expansion runs on prefix-only posting
    * lists. Verification then counts FULL intersections for the surviving
    * candidate pairs only (two id-keyed joins against the kept-shingle
    * table, cost ∝ candidates × doc size, never corpus²).
    *
    * The df-capped shingle SPACE (stop shingles out of intersection AND
    * union) is [[jaccardPairs]]'s, applied before the prefix math, so the
    * equivalence is exact. Prefix-length derivation — tied to the STRICT
    * final filter: `J(A,B) > t ⟹ |A∩B| > t·union ≥ t·|A|`, and the
    * intersection is an integer, so the required overlap is
    * `k = ⌊t·|A|⌋ + 1`; two sets sharing ≥ k elements under a canonical
    * total order must collide within their first `|A| − k + 1 =
    * |A| − ⌊t·|A|⌋` elements — EXACTLY the `size − floor(t·size)` used
    * below. This bound is complete for `>` only: relaxing the final filter
    * to `>=` (the ≥-style filter used elsewhere, e.g. Linkage) needs the
    * longer `size − ceil(t·size) + 1` prefix when `t·size` is integral, so
    * the filter's strictness and this slice length must change together —
    * `DedupSpec` pins the pairing with a boundary-integral property.
    */
  def jaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.3,
      maxDf: Int = 1000): DataFrame = {
    val base = shingleArrays(df, idCol, textCol, n)
    val sh = base.select(col(idCol), explode_outer(col("shingles")).as("shingle"))
      .where(col("shingle").isNotNull)
    val dfCnt = sh.groupBy(col("shingle")).agg(count(lit(1)).as("_df"))
    val withDf = sh.join(dfCnt, Seq("shingle"))
    val kept = withDf.where(col("_df") <= maxDf)
      .select(col(idCol), col("shingle"), col("_df"))
    // Canonical rare-first order per doc. ONE doc-keyed aggregate carries
    // both the prefix slice and the full kept-shingle array (the verify
    // side) — the sorted per-doc list is bounded by the doc's own shingle
    // count (the sessionizer bound).
    val perDoc = kept
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("_df"), col("shingle")))).as("_lst"))
      .select(col(idCol),
        transform(col("_lst"), e => e.getField("shingle")).as("_arr"),
        slice(col("_lst"), lit(1),
          greatest(size(col("_lst")) - floor(lit(threshold) * size(col("_lst"))).cast("int"),
            lit(1))).as("_pfx"))
      .localCheckpoint(true) // three consumers: prefix index + both verify sides
    // Prefix postings carry the element's POSITION in the canonical order
    // and the doc's kept-shingle count, enabling PPJoin's positional filter
    // (Xiao et al. 2008) on each collision row (round 15): a collision at
    // 0-based positions (i, j) bounds the overlap by
    // ub = min(|A| - i, |B| - j), and J > t requires
    // n_inter·(1+t) > t·(|A|+|B|) — so a collision row with
    // ub·(1+t) ≤ t·(|A|+|B|) cannot witness a qualifying pair. SOUND as a
    // per-row filter before the distinct: a qualifying pair's EARLIEST
    // shared element lies in both prefixes (the completeness theorem's own
    // witness) and every shared element sits at positions ≥ (i, j) of that
    // row, so its ub covers the true overlap and that row always survives.
    // The 1e-9 slack is in the KEEP direction (a superset never drops a
    // qualifying pair; the strict verify below is unchanged). Measured on
    // the degenerate gate corpus: 645,530 -> far fewer verify pairs.
    val prefix = perDoc.select(col(idCol), size(col("_arr")).as("_n"),
        posexplode(col("_pfx")).as(Seq("_i", "_p")))
      .select(col(idCol), col("_n"), col("_i"), col("_p.shingle").as("shingle"))
    val cand = postingPairs(prefix, Seq("shingle"),
        struct(col(idCol).as("id"), col("_i").as("i"), col("_n").as("n")),
        (a, b) => a.getField("id") < b.getField("id"))
      .where(least(col("a.n") - col("a.i"), col("b.n") - col("b.i"))
        .cast("double") * lit(1.0 + threshold) >
        lit(threshold) * (col("a.n") + col("b.n")).cast("double") - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Verify by ARRAY intersection against the (docs-sized, broadcastable)
    // per-doc kept arrays — on a degenerate low-vocab corpus the candidate
    // set can rival the full pair expansion, and re-joining the exploded
    // shingle table per candidate costs more than the filter saved
    // (measured: 10.2 s vs plain's 3.9 at sf0.1). The docs-sized array
    // frame joins by id (AQE broadcasts it when it fits) and the codegen'd
    // array_intersect keeps verify at O(candidates × doc size).
    val arrs = perDoc.select(col(idCol), col("_arr"), size(col("_arr")).as("_n"))
    val inter = cand
      .join(arrs.select(col(idCol).as("id_a"), col("_arr").as("_aa"),
        col("_n").as("n_a")), "id_a")
      .join(arrs.select(col(idCol).as("id_b"), col("_arr").as("_ab"),
        col("_n").as("n_b")), "id_b")
      .select(col("id_a"), col("id_b"), col("n_a"), col("n_b"),
        size(array_intersect(col("_aa"), col("_ab"))).as("n_inter"))
    inter
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .where(col("jaccard") > threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** ASYMMETRIC containment near-dup pairs: `c(A→B) = |A∩B| / |A|` over the
    * same df-capped distinct-shingle space as [[jaccardPairs]]. Containment
    * is the quote-inclusion detector Jaccard structurally misses: a short
    * document fully embedded in a long one has jaccard ≈ |A|/|B| (tiny) but
    * c(A→B) = 1. Emits both directions for every pair whose LARGER
    * containment clears `threshold`, so downstream policy can distinguish
    * "A is inside B" from "B is inside A" (keep the superset, cut the
    * fragment — the de-facto containment-dedup rule).
    *
    * Scale shape: identical to [[jaccardPairs]] — the pair expansion and
    * doc counts come from the one shared [[shinglePairCounts]] subplan; the
    * containment math is a codegen'd projection on top. Same caps, same
    * bounded-memory guarantees.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.7,
      maxDf: Int = 1000): DataFrame = {
    val (inter, cnt) = shinglePairCounts(df, idCol, textCol, n, maxDf)
    withSizes(inter, cnt, idCol, "n_sh")
      .withColumn("c_ab", col("n_inter").cast("double") / col("n_a"))
      .withColumn("c_ba", col("n_inter").cast("double") / col("n_b"))
      .where(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select("id_a", "id_b", "c_ab", "c_ba")
  }

  /** Deterministic systematic sample: keep rows whose content-hash bucket
    * falls below `percent` of the 0–9999 space. Unlike seeded `sample()`,
    * the selection is a pure function of the key — reproducible across
    * engines, runs, partitionings, and retries, and stable under appends
    * (old rows never flip in or out), which is what training-data splits
    * need. md5-based so any engine can replay it.
    */
  def systematicSample(df: DataFrame, keyCol: Column, percent: Double): DataFrame = {
    // The bucket space is 10000 wide, so the resolution floor is one basis
    // point; below it the floor would silently select ZERO rows — fail loudly
    // instead (and require whole-bucket rates so the floor is exact).
    require(percent >= 0.01 && percent <= 100, "percent must be in [0.01, 100] (selection granularity is 0.01%)")
    df.where(hashBucket(keyCol) < lit(math.round(percent * 100).toInt))
  }

  /** Stratified deterministic sample — the corpus-MIXING primitive: each
    * stratum (source, language, quality band, …) gets its own keep rate, so
    * one pass re-weights the training mix ("keep 100% of books, 10% of
    * common-crawl"). Selection per row is the same pure content-hash bucket
    * as [[systematicSample]] (append-stable, engine-reproducible, no seed
    * drift across retries/partitionings); the stratum only chooses the
    * THRESHOLD, so this is a shuffle-free codegen'd filter the scan can
    * absorb. Strata absent from `ratesPercent` fall back to
    * `defaultPercent` (0.0 = drop unlisted strata — explicit mixes stay
    * explicit).
    */
  def stratifiedSample(
      df: DataFrame,
      keyCol: Column,
      stratumCol: Column,
      ratesPercent: Map[String, Double],
      defaultPercent: Double = 0.0): DataFrame = {
    (ratesPercent.values.toSeq :+ defaultPercent).foreach { p =>
      require(p == 0.0 || (p >= 0.01 && p <= 100),
        s"rate $p must be 0 (drop) or in [0.01, 100] (selection granularity is 0.01%)")
    }
    val threshold = ratesPercent.foldLeft(lit(math.round(defaultPercent * 100).toInt)) {
      case (acc, (stratum, pct)) =>
        when(stratumCol === stratum, lit(math.round(pct * 100).toInt)).otherwise(acc)
    }
    df.where(hashBucket(keyCol) < threshold)
  }

  /** Content-hash selection bucket in [0, 10000). Derived from 8 hex chars
    * (32 bits) of md5, NOT 4: `uint16 % 10000` over-selects residues
    * 0–5535 by 7/6 (up to ~8% relative rate error); over 32 bits the modulo
    * bias is 2.3e-6 — negligible. Oracle twin:
    * `('0x'||substr(md5(k),1,8))::BIGINT % 10000`.
    */
  private def hashBucket(keyCol: Column): Column =
    (conv(substring(md5(keyCol.cast("string")), 1, 8), 16, 10).cast("long") % 10000).cast("int")

  /** Deterministic train/val/test split ASSIGNMENT: every row gets a split
    * label from contiguous ranges of the same content-hash bucket as
    * [[systematicSample]]. Pure function of the key — append-stable (new
    * rows never move old rows between splits), reproducible across engines
    * and retries, and a shuffle-free codegen'd projection the scan absorbs.
    * `splits` is an ORDERED (name, percent) list; percents are whole basis
    * points (granularity 0.01%) and must sum to exactly 100.
    */
  def splitAssign(
      df: DataFrame,
      keyCol: Column,
      splits: Seq[(String, Double)],
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    val bps = splits.map { case (name, p) =>
      require(p >= 0.01 && p <= 100, s"split $name: percent $p outside [0.01, 100]")
      name -> math.round(p * 100).toInt
    }
    require(bps.map(_._2).sum == 10000,
      s"split percents must sum to exactly 100 (got ${bps.map(_._2).sum / 100.0})")
    val cum = bps.scanLeft(0) { case (acc, (_, b)) => acc + b }.tail
    val assign = bps.map(_._1).zip(cum).init.foldRight(lit(bps.last._1)) {
      case ((name, hi), acc) => when(hashBucket(keyCol) < hi, name).otherwise(acc)
    }
    df.withColumn(outCol, assign)
  }

  /** Train/test split LEAKAGE audit: near-dup pairs (MinHash-LSH candidate
    * generation, [[minHashLshPairs]]) whose two members landed in DIFFERENT
    * splits of [[splitAssign]] — the in-corpus contamination a held-out
    * evaluation silently inherits when dedup runs before splitting but the
    * near-dup tail survives (or dedup never ran). Deduplicating and
    * splitting are both declared operators here; this is the audit that
    * keeps their COMPOSITION honest. Emits (id_a, id_b, split_a, split_b)
    * for every crossing pair.
    *
    * Scale shape: the candidate pairs are the expensive part and reuse the
    * banded LSH machinery unchanged (bucket caps and all); the split labels
    * are a shuffle-free hash projection of the id, so the audit adds only
    * two id-keyed joins of the (pair-sized, ≪ corpus) candidate set against
    * that projection — AQE turns them into broadcasts whenever the pair set
    * is small, which is the healthy-corpus common case.
    */
  def splitLeakage(
      df: DataFrame,
      idCol: String,
      textCol: String,
      splits: Seq[(String, Double)],
      n: Int = 3,
      numHashes: Int = 12,
      bands: Int = 4): DataFrame = {
    val pairs = minHashLshPairs(df, idCol, textCol, n = n, numHashes = numHashes, bands = bands)
    val asg = splitAssign(df, col(idCol), splits).select(col(idCol), col("split"))
    pairs
      .join(asg.select(col(idCol).as("id_a"), col("split").as("split_a")), "id_a")
      .join(asg.select(col(idCol).as("id_b"), col("split").as("split_b")), "id_b")
      .where(col("split_a") =!= col("split_b"))
      .select("id_a", "id_b", "split_a", "split_b")
  }

  /** LEAKAGE-SAFE split ASSIGNMENT — the constructive fix for what
    * [[splitLeakage]] audits: near-dup documents must land on the SAME side
    * of a train/eval boundary, so the split key is the document's near-dup
    * COMPONENT REPRESENTATIVE (min id over [[connectedComponents]] of the
    * candidate `pairs`, the document's own id when it has no near-dup),
    * then the same contiguous-bucket [[splitAssign]] applies to the
    * representative. Properties inherited by construction: every A~B~C
    * chain shares one representative hence one split; singleton documents
    * hash exactly as plain [[splitAssign]] (so the assignment only MOVES
    * near-dup members, nothing else); append-stable as long as components
    * keep their min id.
    *
    * `pairs` is any `(id_a, id_b)` candidate set — MinHash-LSH, n-gram
    * Jaccard, embedding near-dup — so the expensive generation is shared
    * with the dedup pass the pipeline already runs. Scale shape: the CC
    * runs over the pair set (≪ corpus); the representative map joins the
    * corpus once on id (AQE broadcasts it in the healthy-corpus case where
    * near-dups are a small minority), and the bucket assignment stays a
    * shuffle-free codegen'd projection.
    */
  def splitAssignByComponent(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame,
      splits: Seq[(String, Double)],
      outCol: String = "split"): DataFrame = {
    val comp = connectedComponents(pairs).withColumnRenamed("id", idCol)
    val withRep = df.join(comp, Seq(idCol), "left")
      .withColumn("_rep", coalesce(col("component"), col(idCol)))
    splitAssign(withRep, col("_rep"), splits, outCol).drop("_rep", "component")
  }

  /** Per-group document cap — the CommonCrawl "per-host cap" primitive: at
    * most `maxPerGroup` rows survive per group (host, source, license…),
    * chosen deterministically by content-hash order (md5 of the id, id
    * tie-break), NOT arrival order — so the kept subset is stable across
    * runs, partitionings, and engines.
    *
    * Scale shape: the `row_number <= k` filter triggers Spark's
    * InferWindowGroupLimit, which inserts a PARTIAL WindowGroupLimit before
    * the shuffle — each map task forwards at most k rows per group, so a
    * skewed group (one host with 10^9 pages) shuffles O(k × tasks) rows,
    * not the group. Asserted in DedupSimilaritySpec.
    */
  def perGroupCap(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      maxPerGroup: Int): DataFrame = {
    require(maxPerGroup > 0, "maxPerGroup must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= maxPerGroup)
      .drop("_rk")
  }

  /** Latest-row-per-key (SCD-1 "current view" of an insert-only feed, the
    * natural companion of the reference's append-only target table): one
    * map-side-combining `max(struct(order…, payload…))` argmax per key.
    * The struct buffer makes this a partial SortAggregate (a per-partition
    * sort, local CPU), but the SHUFFLE — the scale-limiting resource —
    * carries one combined buffer per key per partition, where the
    * row_number window formulation ships and sorts every version of every
    * key through the exchange. `orderCols` must totally order rows within a
    * key (include a unique tie-breaker like the event id); payload columns
    * ride the struct and are never compared once the order prefix is
    * unique.
    */
  def latestByKey(
      df: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty && orderCols.nonEmpty, "keys and orderCols required")
    val carried = orderCols ++ payloadCols
    df.groupBy(keys.map(col): _*)
      .agg(max(struct(carried.map(col): _*)).as("_m"))
      .select(keys.map(col) ++ carried.map(c => col(s"_m.$c").as(c)): _*)
  }

  /** Embedding-cosine near-duplicate pairs within a blocking column (label,
    * shard, LSH bucket, …) — EXACT within the block: every pair above the
    * threshold is returned; cosine is the strict-left-fold double math of
    * [[Similarity.cosine]] (native codegen'd [[graft.expressions.VecDot]])
    * so any engine reproduces it bit-for-bit.
    *
    * Scale contract: pair generation inside a block is inherently O(block²)
    * — at a LOW threshold (weakly similar pairs, e.g. 0.4) no LSH family
    * can prune without losing recall, so exactness costs the quadratic.
    * What makes this safe at 100 TB is the `maxBlock` guard: any block
    * whose membership exceeds it fails LOUDLY (raise_error in the executed
    * plan, not a driver check that a re-plan could skip) instead of
    * silently launching a quadratic join on a hot key. Pre-shard oversized
    * blocks upstream, or — for HIGH thresholds where sign-band recall is
    * real — use [[embeddingNearDupPairsBanded]], the subquadratic path.
    */
  def embeddingNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      maxBlock: Int = 100000): DataFrame = {
    val n = df.select(col(blockCol).as("block"), col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.norm(col(vecCol)).as("nrm"))
    // Membership count first (one tiny partial-agg pass, Long state per
    // block), then broadcast ONLY the oversized blocks: at most
    // totalRows/maxBlock rows, and empty on every healthy run — never a
    // row-per-distinct-block build that would OOM the driver when blockCol
    // is high-cardinality (LSH buckets, shards). A left join against it
    // raises in the executed plan on any match, and the trailing filter
    // keeps the error column alive so pruning can't drop it.
    val over = n.groupBy(col("block")).agg(count(lit(1)).as("_bn"))
      .where(col("_bn") > maxBlock)
    val a = n.join(broadcast(over), Seq("block"), "left")
      .select(col("block"),
        when(col("_bn").isNotNull, raise_error(concat(
          lit(s"embeddingNearDupPairs: block "), col("block").cast("string"),
          lit(" has "), col("_bn").cast("string"),
          lit(s" rows > maxBlock=$maxBlock — refusing O(block²) pair generation;" +
            " pre-shard the block or use embeddingNearDupPairsBanded"))))
          .otherwise(lit(1)).as("_ok"),
        col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a"))
      .where(col("_ok") === 1).drop("_ok")
    val b = n.select(col("block"), col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b"))
    a.join(b, Seq("block")).where(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .where(col("cosine") > threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** The sign-band table `(block, id, band, bucket)` — the PERSISTABLE
    * embedding-dedup index (the [[minHashBands]] analogue): write it out
    * bucketed by `(band, bucket)` and later increments probe it without
    * re-banding the historical corpus ([[embeddingPairsIncremental]]).
    */
  def embeddingBands(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      dims: Int,
      bands: Int = 16): DataFrame = {
    require(bands > 0 && dims % bands == 0, "dims must divide into bands evenly")
    val rows = dims / bands
    val bandStructs = array((0 until bands).map { b =>
      val bucket = (0 until rows).map { r =>
        when(element_at(col(vecCol), b * rows + r + 1) > lit(0.0), lit(1L << r)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }: _*)
    df.select(col(blockCol).as("block"), col(idCol).as("id"), explode(bandStructs).as("bb"))
      .select(col("block"), col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Subquadratic embedding near-dup pairs: sign-band LSH candidate
    * generation + EXACT cosine verification — the high-threshold scale
    * path. The vector's `dims` sign bits are split into `bands` contiguous
    * bands ([[Similarity.signBucket]] per slice); two vectors are
    * candidates iff they agree on EVERY sign in at least one band (within
    * the same block), and only candidates pay the exact cosine.
    *
    * Same banding economics as [[minHashLshPairs]]: membership is COUNTED
    * first (Long buffer per bucket, never a list), buckets larger than
    * `maxBucket` are dropped (that many same-sign-band vectors is a data
    * quality signal, not a pair list worth O(maxBucket²)), and every
    * collect_list that follows is provably ≤ maxBucket elements.
    *
    * Recall is the sign-LSH collision curve: a pair at angle θ agrees on
    * one r-bit band with prob (1−θ/π)^r per band — near 1 for true
    * near-dups (θ→0), vanishing for weakly-similar pairs. Use the exact
    * variant when the threshold sits below ~0.8 and recall must be total.
    *
    * SIZING RULE (measured in ScaleProbe): r = dims/bands must grow with
    * per-block density — candidate volume inside one bucket is
    * C(occupancy, 2), and occupancy ≈ blockSize / 2^r. At 30× replication
    * the probe's 4-bit bands (occupancy ~375) cost 8× the 10× wall clock;
    * 8-bit bands (occupancy ~23) hold the same true-pair recall for
    * near-identical vectors at a fraction of the candidate volume. Pick r
    * ≈ log2(blockSize) − 4..5 so occupancy stays in the tens.
    */
  def embeddingNearDupPairsBanded(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      dims: Int,
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    val banded = embeddingBands(df, idCol, vecCol, blockCol, dims, bands)
    verifyCosine(bucketPairs(banded, Seq("block", "band", "bucket"), "id", maxBucket),
      df, idCol, vecCol, threshold)
  }

  /** Exact cosine verify of candidate pairs `(id_a, id_b)` against the
    * vectors of `vecs`: only candidates pay the cosine; ids are unique
    * across blocks so the vector lookup joins on id alone. Returns
    * `(id_a, id_b, cosine)` above `threshold`.
    */
  private def verifyCosine(
      cand: DataFrame,
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val n = vecs.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.norm(col(vecCol)).as("nrm"))
    cand
      .join(n.select(col("id").as("id_a"), col("v").as("v_a"), col("nrm").as("n_a")), Seq("id_a"))
      .join(n.select(col("id").as("id_b"), col("v").as("v_b"), col("nrm").as("n_b")), Seq("id_b"))
      .withColumn("cosine", Similarity.dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .where(col("cosine") > threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** Incremental embedding near-dup: a NEW vector batch probes a persisted
    * sign-band index ([[embeddingBands]] output read back from storage) —
    * the daily-increment shape, mirroring [[lshPairsIncremental]] exactly:
    * candidates need ≥1 new-batch member (new×old and new×new; the
    * historical old×old cross product is never generated), bucket caps
    * count over the UNION (separate aggregates merged full-outer so a
    * `(band, bucket)`-bucketed index contributes no new exchange), and
    * only candidates pay the exact cosine verify. `corpus` supplies the
    * raw vectors for verification (id → vector lookup; at scale a keyed
    * join against the vector table — the index itself stays vector-free).
    */
  def embeddingPairsIncremental(
      newVecs: DataFrame,
      indexBands: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      blockCol: String,
      threshold: Double,
      dims: Int,
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    val nb = embeddingBands(newVecs, idCol, vecCol, blockCol, dims, bands)
      .localCheckpoint(true) // consumed by count, index probe and self probe
    verifyCosine(probeBuckets(nb, indexBands, Seq("block", "band", "bucket"), "id", maxBucket),
      corpus, idCol, vecCol, threshold)
  }

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
    * arXiv:2303.09540 — k-means the embedding space, then near-dup ONLY
    * within each cluster): the composition that makes embedding dedup
    * tractable when no natural blocking column exists. k-means cells
    * ([[Similarity.trainCentroids]] / [[Similarity.assignCells]] — content-
    * hash seeded, deterministic) become the blocking column for
    * [[embeddingNearDupPairsBanded]] (sign-band LSH candidates + exact
    * cosine verify, `maxBucket`-capped), pairs resolve transitively through
    * [[connectedComponents]], and each component keeps its min-id
    * representative.
    *
    * Scale shape: training is `iters` broadcast-assign passes (the Lloyd
    * loop checkpoints per round); the assigned frame is `localCheckpoint`ed
    * ONCE because four consumers read it (banding, the two verify-side
    * vector lookups, the final membership join) — re-running the broadcast
    * argmax per consumer would quadruple the corpus passes. Pair generation
    * inherits the banded path's economics (bucket membership counted before
    * any list materializes; candidates ≤ C(maxBucket, 2) per bucket); CC
    * runs on the pair sliver only.
    *
    * Returns one row per input vector: (idCol, cid, component, kept) —
    * `component` = min id of the near-dup component (own id when no pair),
    * `kept` = whether this row is the component representative. Callers
    * drop `kept = false` rows; keeping the full frame makes the drop
    * AUDITABLE (per-cell drop rates are one groupBy away — the first thing
    * a data-quality review asks for).
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int,
      threshold: Double,
      dims: Int,
      bands: Int = 16,
      maxBucket: Int = 1000): DataFrame = {
    val cents = Similarity.trainCentroids(df, idCol, vecCol, k = k, iters = iters)
    val cells = Similarity.assignCells(df, cents, idCol, vecCol).localCheckpoint(true)
    val pairs = embeddingNearDupPairsBanded(
      cells, idCol, vecCol, "cid", threshold, dims, bands, maxBucket)
    val comp = connectedComponents(pairs)
    cells.select(col(idCol), col("cid"))
      .join(comp.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol), col("cid"),
        coalesce(col("component"), col(idCol)).as("component"),
        (coalesce(col("component"), col(idCol)) === col(idCol)).as("kept"))
  }

  /** Connected components over an undirected candidate-pair list — the
    * cluster-resolution step that turns [[minHashLshPairs]] /
    * [[jaccardPairs]] / [[embeddingNearDupPairs]] output into duplicate
    * CLUSTERS (pair lists alone under-dedup: A~B and B~C with A!~C must
    * still collapse to one kept document, which is what production
    * near-dedup pipelines do after candidate generation).
    *
    * Algorithm — HYBRID, both phases measured head-to-head at sf0.1:
    *
    * 1. Pregel-style min-label propagation (the fixpoint GraphX's
    *    `ConnectedComponents` computes), ONE Catalyst job per iteration
    *    (keyed join + partial-agg min, convergence observed on the
    *    materialization). Near-dup graphs are unions of near-cliques (an
    *    LSH bucket or a shared-shingle posting list emits ALL its pairs,
    *    not a spanning path), so propagation converges in 2–4 cheap
    *    iterations — measured FASTER per round than star contraction's
    *    multi-shuffle rounds on every CC gate (round-7 A/B: star-only
    *    regressed the four CC gates ~1.5×).
    * 2. If propagation hasn't converged after `starSwitchAfter` iterations
    *    the graph has long chains (transitive bucket overlap does build
    *    them at corpus scale), where propagation needs diameter rounds and
    *    a diameter beyond `maxIter` previously RAISED. The loop then
    *    switches to alternating LARGE-STAR / SMALL-STAR contraction
    *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    *    SoCC 2014): large-star(u) connects every strictly-larger neighbor
    *    to min(Γ(u) ∪ {u}); small-star(u) connects every smaller neighbor
    *    and u itself to the minimum of those. Each large-star at least
    *    halves every propagation distance → O(log² n) rounds worst-case,
    *    so the default budget covers graphs no real corpus can exceed
    *    (propagation would need 2^17 rounds where the hybrid spends 8 + a
    *    few dozen).
    *
    * Every iteration's result is `localCheckpoint`ed to truncate lineage —
    * without it the self-referential plan doubles in depth per round and
    * analysis cost explodes long before data cost does. `maxIter` is the
    * TOTAL round budget across both phases and stays a loud guard: hitting
    * it raises rather than returning a half-converged labeling.
    *
    * Returns (id, component) with `component` = min id reachable; rows cover
    * every id present in `pairs` (ids with no pair are their own singleton
    * component and don't need rows — [[resolveClusters]] treats absence as
    * kept).
    */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 25,
      starSwitchAfter: Int = 8): DataFrame = {
    // Materialize the PAIR list before mirroring it: the union of the two
    // edge orientations would otherwise evaluate the caller's pair plan
    // TWICE (for jaccard/minhash candidates that plan carries the shingle
    // exchanges and the posting join — the most expensive subplan in the
    // whole dedup pipeline). The checkpointed frame is the thresholded pair
    // list — tiny relative to the corpus by construction.
    val p = pairs.select(col(idA).as("u"), col(idB).as("v")).localCheckpoint(true)
    // Size the ITERATION width from the measured pair count (free — `p` is
    // already materialized), not the session shuffle width: the pair graph of
    // a deduped corpus is a sliver of the corpus, and running each tiny
    // iteration at full width makes the loop task-scheduling-bound (32 tasks
    // per job to move a few thousand rows). One partition per ~100k edges
    // (≈ 2 × pairs), capped at the session width for genuinely large graphs.
    val sessionWidth = pairs.sparkSession.sessionState.conf.numShufflePartitions
    val width = math.max(1, math.min(sessionWidth, (2L * p.count() / 100000L).toInt))
    val edges = p.union(p.select(col("v").as("u"), col("u").as("v")))
      .distinct()
      .repartition(width, col("u")).localCheckpoint(true)
    var labels = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("component"))
      .localCheckpoint(true)
    var iter = 0
    var converged = false
    val propBudget = math.min(maxIter, starSwitchAfter)
    while (!converged && iter < propBudget) {
      // The previous label rides along through the union (`_prev` is non-null
      // exactly on the one row each id contributes from `labels`), so the
      // convergence test needs NO second join — and no second JOB either:
      // the changed-row count rides the checkpoint-materialization job as an
      // `observe` metric (min-label is monotone decreasing, so strict `<` is
      // the full test). ONE job per iteration total; on a few-dozen-edge
      // graph the loop cost is pure job scheduling, so halving the job count
      // halves the wall clock.
      val prev = labels.select(col("id"), col("component"),
        col("component").as("_prev"))
      val prop = edges.join(labels.withColumnRenamed("id", "u"), "u")
        .select(col("v").as("id"), col("component"),
          lit(null).cast(labels.schema("component").dataType).as("_prev"))
      val obs = org.apache.spark.sql.Observation()
      val next = prev.union(prop)
        .repartition(width, col("id"))
        .groupBy("id").agg(min("component").as("component"), min("_prev").as("_prev"))
        .observe(obs, count(when(col("component") < col("_prev"), 1)).as("changed"))
        .localCheckpoint(true)
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = next.select("id", "component")
      iter += 1
    }
    if (converged) labels
    else connectedComponentsStar(p, width, maxIter - iter)
  }

  /** Star-contraction phase of [[connectedComponents]] (Kiveris et al. 2014):
    * rewrites the edge set each round until it is a forest of stars centered
    * at each component's min id, then reads the labeling off the edges.
    * Engaged only when min-label propagation exceeded its budget — i.e. the
    * graph has chains — so its heavier rounds (two keyed aggregates + two
    * joins) buy logarithmic convergence where propagation was diameter-bound.
    */
  private def connectedComponentsStar(
      p: DataFrame, width: Int, roundBudget: Int): DataFrame = {
    // Canonical (hi, lo) edges; self-loop pairs carry no connectivity (their
    // ids are re-covered by the final anti-join) — drop them here.
    var edges = p
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .repartition(width, col("u")).localCheckpoint(true)
    var edgeCount = edges.count()
    var rounds = 0
    var converged = edgeCount == 0L
    while (!converged && rounds < roundBudget) {
      // Large-star: m(u) over BOTH orientations, emit (v, m(u)) for v > u.
      // Output stays canonical: v > u ≥ m(u).
      val dir = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mL = dir.groupBy("u").agg(min("v").as("_mn"))
        .select(col("u"), least(col("u"), col("_mn")).as("_m"))
      val ls = dir.join(mL, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("_m").as("v"))
        .distinct()
      // Small-star: every edge already points down (u > v), so Γ⁻(u) is just
      // the neighbor list; emit (v, m(u)) for each small neighbor plus the
      // center's own (u, m(u)); drop the root's self-loop.
      val mS = ls.groupBy("u").agg(min("v").as("_m"))
      val ss = ls.join(mS, "u")
        .select(col("v").as("u"), col("_m").as("v"))
        .where(col("u") =!= col("v"))
        .union(mS.select(col("u"), col("_m").as("v")))
        .distinct()
      // ONE materialization job per round (row count rides it as an observe
      // metric); the set-equality fixpoint test is a short-circuited count
      // compare + an anti-join over two checkpointed sliver frames.
      val obs = org.apache.spark.sql.Observation()
      // FreshStats (round 14): a star round's plan is two keyed aggregates
      // + two joins over the previous round's edges — size stats compound
      // ~quartically per round through a stats-carrying checkpoint, which
      // would hang the driver in BigInteger stats estimation on a deep
      // chain graph (the Bradley-Terry cliff; see
      // Shim.localCheckpointFreshStats). The propagation loop above keeps
      // the plain checkpoint: its growth is linear (one edges-factor per
      // round) and the carried stats let AQE broadcast the label sliver.
      val next = org.apache.spark.sql.graft.Shim.localCheckpointFreshStats(
        ss.repartition(width, col("u"))
          .observe(obs, count(lit(1)).as("n")))
      val nextCount = obs.get("n").asInstanceOf[Long]
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      edgeCount = nextCount
      rounds += 1
    }
    require(converged,
      s"connectedComponents did not converge (star phase exhausted $roundBudget rounds)")
    // Star forest → labels: leaves point at their root (u, v); roots appear
    // only on the v side (v, v); ids whose every pair was a self-loop get
    // their singleton row back via the anti-join.
    val starLabels = edges.select(col("u").as("id"), col("v").as("component"))
      .union(edges.select(col("v").as("id"), col("v").as("component")).distinct())
    val nodes = p.select(col("u").as("id")).union(p.select(col("v").as("id"))).distinct()
    starLabels
      .union(nodes.join(starLabels.select("id"), Seq("id"), "left_anti")
        .select(col("id"), col("id").as("component")))
      .localCheckpoint(true)
  }

  /** Keep-one cluster resolution: drop every document that is NOT its
    * cluster's representative (the min id). Documents absent from
    * `components` (no candidate pair) are kept. One broadcast-able anti-join
    * — the loser set is |pairs-covered docs − clusters|, tiny relative to the
    * corpus.
    */
  def resolveClusters(df: DataFrame, idCol: String, components: DataFrame): DataFrame = {
    val losers = components.where(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cluster resolution keeping the PREFERRED member — argmax of a quality
    * column, ties broken by min id — instead of [[resolveClusters]]' blind
    * min-id keep: when near-dups differ (a clean original vs a
    * boilerplate-wrapped scrape), production dedup keeps the best copy,
    * not the lowest-numbered one.
    *
    * Scale shape: every aggregate runs on the COMPONENT MEMBERSHIP sliver
    * (inner join with `components` — docs without a pair never enter), so
    * the corpus pays exactly the final anti-join; no window over the
    * corpus, no full sort. The argmax is two keyed aggregations (max
    * preference per component, then min id among the maximizers) — generic
    * over any orderable preference/id types, no numeric-negation trick.
    */
  def resolveClustersBy(
      df: DataFrame,
      idCol: String,
      components: DataFrame,
      prefer: Column): DataFrame = {
    val members = df.join(components.withColumnRenamed("id", idCol), Seq(idCol))
      .select(col(idCol).as("_id"), col("component"), prefer.as("_p"))
    val best = members.groupBy("component").agg(max(col("_p")).as("_bp"))
    // Null-SAFE equality: a component whose preference is NULL on every
    // member has _bp = NULL (max ignores nulls), and a plain `===` would
    // produce NO winner — every duplicate would survive. `<=>` makes the
    // all-NULL component fall back to min-id keep; mixed null/non-null
    // components are unaffected (NULL <=> non-null is false).
    val winners = members.join(best, Seq("component"))
      .where(col("_p") <=> col("_bp"))
      .groupBy("component").agg(min(col("_id")).as("_keep"))
    val losers = members.join(winners, Seq("component"))
      .where(col("_id") =!= col("_keep"))
      .select(col("_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥ `minHits`
    * word `n`-grams with a benchmark/eval set — the pre-training hygiene step
    * that keeps test questions out of training data (long n-grams, n≈8–13,
    * are the standard detector: natural text almost never repeats an 8-gram
    * by chance).
    *
    * Scale shape: the benchmark's distinct gram set is tiny relative to the
    * corpus (eval suites are MBs against 100 TB), so the membership probe is
    * a BROADCAST semi-join against the corpus shingle table — no corpus
    * shuffle at all; the only shuffles are the per-doc hit count (keyed by
    * id, map-side combined) and its join back onto the corpus, which AQE
    * turns into a broadcast of the hit table (only contaminated docs have
    * rows). Returns every corpus row's id with `n_hits` and a 0/1
    * `contaminated` flag — a projection the caller filters or reports on.
    */
  def decontaminate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      n: Int = 8,
      minHits: Int = 1): DataFrame = {
    val benchGrams = shingleTable(bench, benchIdCol, benchTextCol, n)
      .select(col("shingle")).distinct()
    val hits = shingleTable(df, idCol, textCol, n)
      .join(broadcast(benchGrams), Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    df.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", when(col("n_hits") >= minHits, 1).otherwise(0))
  }

  /** One row per character position that starts a full `minLen`-code-point
    * window: `(idCol, s, _g)` — `s` 1-based start, `_g` the raw window
    * string. The character-level shingle table of the ExactSubstr family.
    */
  private def charGrams(
      df: DataFrame, idCol: String, textCol: String, minLen: Int): DataFrame =
    df.where(length(col(textCol)) >= minLen)
      .select(col(idCol), col(textCol).as("_t"),
        explode(sequence(lit(1L),
          (length(col(textCol)) - (minLen - 1)).cast("long"))).as("s"))
      .select(col(idCol), col("s"),
        col("_t").substr(col("s").cast("int"), lit(minLen)).as("_g"))

  /** Corpus-wide ExactSubstr cut by DUPLICATED CHAR-GRAMS — the scale path
    * of [[graft.operators.SuffixArray.removeRepeatedText]], provably the
    * SAME function: a position is covered by some >= `minLen` substring
    * appearing twice in the corpus iff some duplicated `minLen`-gram's
    * window covers it (every gram of a repeated substring is itself a
    * repeated >= minLen substring, and conversely), so the union of
    * `[s, s + minLen)` over duplicated gram positions equals the union of
    * the suffix-array cut intervals. Cost: two keyed aggregations over the
    * gram table instead of O(log maxDocLen) doubling rounds — duplicate
    * detection runs on 8-byte `xxhash64` first and confirms survivors on
    * the raw gram (two-phase, so the wide gram strings only shuffle for
    * the duplicate-candidate minority; hash collisions can only ever ADD
    * candidates, the raw-gram confirm removes them). Same output contract
    * as the suffix-array cut; `n_spans` counts duplicated gram positions
    * per document (a denser attribution than adjacent-pair sides — the
    * cleaned text and removed-char counts are identical, asserted by
    * spec).
    */
  def exactSubstrCutByGrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    val grams = charGrams(df, idCol, textCol, minLen)
      .withColumn("_h", xxhash64(col("_g")))
    val dupH = grams.groupBy("_h").agg(count(lit(1)).as("_c"))
      .where(col("_c") > 1).select("_h")
    val cand = grams.join(dupH, Seq("_h"), "left_semi")
    val dupG = cand.groupBy("_g").agg(count(lit(1)).as("_c"))
      .where(col("_c") > 1).select("_g")
    val cuts = cand.join(dupG, Seq("_g"), "left_semi")
      .select(col(idCol), col("s"), lit(minLen).as("l"))
    cutIntervalsRebuild(df, idCol, textCol, cuts)
  }

  /** EXACT-substring benchmark contamination — the character-level exact
    * companion of [[decontaminate]]'s token n-gram flag: a corpus document
    * is contaminated iff it shares a VERBATIM >= `minLen`-code-point
    * substring with any benchmark document, and the contaminated character
    * mass is reported exactly. Same reduction as
    * [[exactSubstrCutByGrams]]: shared->=minLen-substring ⇔ shared
    * `minLen`-gram, so the probe is one broadcast semi-join of the corpus
    * gram table against the DISTINCT benchmark grams (benchmark = an eval
    * set, small by contract — it broadcasts; the corpus grams never
    * shuffle). Covered characters come from the fixed-interval union,
    * computed relationally: per doc in position order, each hit
    * contributes `min(gap-to-previous-hit, minLen)` — no rebuild pass.
    * Output one row per corpus document: `(idCol, n_hits,
    * n_contaminated_chars, contaminated)`.
    */
  def exactContamination(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      minLen: Int): DataFrame =
    exactContaminationAgainstGrams(df, idCol, textCol,
      benchmarkGrams(bench, benchIdCol, benchTextCol, minLen), minLen)

  /** The frozen probe set of [[exactContamination]]: one `gram` column of
    * DISTINCT `minLen`-code-point benchmark windows. Build it ONCE offline
    * (persist/parquet it) and probe every arriving corpus batch against it
    * via [[exactContaminationAgainstGrams]] — the online-decontamination
    * serving shape, where per-batch work never re-derives the eval set.
    */
  def benchmarkGrams(
      bench: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      minLen: Int): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    charGrams(bench, benchIdCol, benchTextCol, minLen)
      .select(col("_g").as("gram")).distinct()
  }

  /** Probe phase of [[exactContamination]] against a prebuilt
    * [[benchmarkGrams]] frame. Per-document independent and stateless, so
    * the result is batching-invariant — a streaming `foreachBatch` over
    * arriving documents accumulates exactly the full-corpus batch answer.
    */
  def exactContaminationAgainstGrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      benchGrams: DataFrame,
      minLen: Int): DataFrame = {
    require(minLen >= 2, "minLen must be >= 2")
    val hits = charGrams(df, idCol, textCol, minLen)
      .join(broadcast(benchGrams.select(col("gram").as("_g"))), Seq("_g"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("s"))
    val stats = hits
      .withColumn("_cov",
        coalesce(least(col("s") - lag(col("s"), 1).over(w), lit(minLen.toLong)),
          lit(minLen.toLong)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"), sum("_cov").as("n_contaminated_chars"))
    df.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_contaminated_chars"), lit(0L)).as("n_contaminated_chars"))
      .withColumn("contaminated", when(col("n_hits") >= 1, 1).otherwise(0))
  }

  /** GRADED decontamination report — the eval-rigor companion of
    * [[decontaminate]]'s binary flag: per document, the DISTINCT n-gram
    * overlap share against the benchmark set (`n_hit_grams /
    * n_doc_grams`), so borderline contamination (one shared idiom vs a
    * verbatim leaked question) is rankable instead of thresholded blind.
    * Same scale shape as the flag: benchmark grams broadcast, one corpus
    * shingle expansion, no corpus shuffle beyond the id-keyed aggregate.
    * Documents shorter than `n` tokens report zero grams and zero share.
    */
  def decontaminationReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      n: Int = 8): DataFrame = {
    val benchGrams = shingleTable(bench, benchIdCol, benchTextCol, n)
      .select(col("shingle")).distinct()
    val docGrams = shingleTable(df, idCol, textCol, n)
      .distinct() // DISTINCT grams per doc: the share is set overlap, not occurrence count
    val stats = docGrams
      .join(broadcast(benchGrams).withColumn("_hit", lit(1)), Seq("shingle"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0))).cast("long").as("n_hit_grams"))
    df.select(col(idCol))
      .join(stats, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        round(coalesce(col("n_hit_grams"), lit(0L)).cast("double") /
          greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 6).as("overlap_share"))
  }

  /** C4-style GLOBAL span dedup: each document is cut into consecutive
    * `spanWords`-word segments, only the corpus-wide FIRST occurrence of
    * each distinct segment survives (first = lowest (id, position) — content
    * order, so the kept set is stable across runs and partitionings), and
    * surviving segments re-join in document order. This is dedup BELOW
    * document granularity — the C4 paper's "discard every repeated
    * three-sentence span but keep one occurrence" rule with fixed word
    * windows standing in for sentences (the corpus has no sentence
    * punctuation); [[removeBoilerplateSpans]] is the df-threshold cousin that
    * removes ALL occurrences instead of keeping one.
    *
    * Scale shape: one segment expansion (repartitioned before the explode,
    * outer+filter per the [[shingleTable]] pushdown note), then ONE shuffle
    * keyed by the md5 of the segment text — the winner per segment is a
    * `min(struct(id, seg, span))` argmin whose aggregation buffer is one
    * candidate row, never a list, and the span text rides the buffer so no
    * join back to the corpus is needed. The rebuild groups winners by doc
    * (`collect_list` bounded by segments-per-document = doc length /
    * `spanWords`). Documents whose every segment lost disappear — that is
    * the operator's contract.
    */
  def dedupSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      spanWords: Int = 10): DataFrame = {
    require(spanWords > 0, "spanWords must be positive")
    val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
    val id = col(idCol)
    val spans = df
      .select(id, tokens(col(textCol)).as("_ws"))
      .repartition(parallelism, id)
      .select(id, col("_ws"),
        explode_outer(sequence(lit(0), floor((size(col("_ws")) - 1) / lit(spanWords)).cast("int"))).as("seg"))
      .where(col("seg").isNotNull)
      .select(id, col("seg"),
        array_join(slice(col("_ws"), col("seg") * spanWords + 1, lit(spanWords)), " ").as("span"))
    val winners = spans
      .groupBy(md5(col("span")).as("_h"))
      .agg(min(struct(id, col("seg"), col("span"))).as("_w"))
      .select(col(s"_w.$idCol").as(idCol), col("_w.seg").as("seg"), col("_w.span").as("span"))
    winners
      .groupBy(id)
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("seg"), col("span")))),
          x => x.getField("span")), " ").as(textCol))
  }

  /** WEIGHTED (multiset) Jaccard similarity pairs: `Σ min(cA, cB) /
    * Σ max(cA, cB)` over per-token occurrence counts capped at `cap` —
    * repetition-aware near-dup detection where set-Jaccard saturates (a doc
    * that repeats a template's words ten times looks identical to the
    * template under sets, but not under multisets).
    *
    * The reduction to the proven machinery: an n-gram's i-th occurrence
    * becomes the ELEMENT `(gram, i)` (i ≤ cap), and weighted Jaccard over
    * capped counts IS set Jaccard over that occurrence-expanded element
    * space (`Σ min = |A∩B|`, `Σ max = |A|+|B|−|A∩B|` — the multiset
    * identity). So the plan is the [[jaccardPairs]] inverted index verbatim:
    * df-capped elements (an element in > `maxDf` docs leaves intersection
    * AND union), singleton-posting drop, keyed — never broadcast — stop
    * joins, pair expansion bounded by C(maxDf, 2) per element.
    *
    * `n` controls the shingle width. n = 1 (unigram multisets) is the
    * textbook weighted Jaccard but DEGENERATE on small vocabularies —
    * every occurrence-element's document frequency approaches the corpus
    * size, so posting lists fatten toward the maxDf cap and the pair
    * expansion goes quadratic (measured 9.2M pre-agg pair rows at sf0.1
    * unigram vs 1.3M at n = 3 on the gate corpus). n ≥ 2 keeps element
    * df Zipf-thin, which is what makes this operator 100 TB-shaped.
    *
    * The occurrence cap bounds the per-doc expansion at `cap × |grams(doc)|`
    * rows and is itself the standard weighted-minhash practice (unbounded
    * counts let one degenerate repeated-gram doc dominate every bucket).
    */
  def weightedJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      cap: Int = 5,
      threshold: Double = 0.5,
      maxDf: Int = 1000): DataFrame = {
    require(cap >= 1, "cap must be >= 1")
    require(n >= 1, "n must be >= 1")
    // Materialize the token array as a COLUMN before the gram lambda —
    // element_at over the raw split() expression re-embeds the split per
    // gram position (the O(len²) re-tokenize trap topNgrams measured at
    // 9×; reproduced here as most of an 10 s gate before the fix).
    val ws = col("_ws")
    val grams =
      if (n == 1) ws
      // sequence() rejects start > stop: short docs get an explicit empty
      else when(size(ws) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), size(ws) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(o => element_at(ws, i + o)): _*)))
    val counts = df
      .withColumn("_ws", split(trim(col(textCol)), "\\s+"))
      .select(col(idCol), explode(grams).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
    // The element table feeds THREE consumers (df-count, per-doc counts,
    // posting expansion); without a materialization the gram tokenize +
    // (id, gram) aggregate re-executes for each — measured 3× the gate's
    // cost at sf0.1. localCheckpoint also truncates the lineage the way
    // the CC/pageRank iteratives do.
    val el = counts.select(col(idCol),
      explode(transform(sequence(lit(1), least(col("c"), lit(cap)).cast("int")),
        k => concat(col("tok"), lit("#"), k))).as("e"))
      .localCheckpoint(true)
    val dfCnt = el.groupBy(col("e")).agg(count(lit(1)).as("_df"))
    val kept = el.join(dfCnt, Seq("e")).where(col("_df") <= maxDf)
      .select(col(idCol), col("e"))
    val cnt = kept.groupBy(col(idCol)).agg(count(lit(1)).as("n_el"))
    val inter = postingPairs(kept, Seq("e"), col(idCol), _ < _)
      .groupBy(col("a").as("id_a"), col("b").as("id_b")).agg(count(lit(1)).as("n_inter"))
    withSizes(inter, cnt, idCol, "n_el")
      .withColumn("wjaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")))
      .where(col("wjaccard") > threshold)
      .select("id_a", "id_b", "wjaccard")
  }

  /** Corpus-level LINE deduplication (the CCNet/FineWeb line-dedup shape):
    * lines whose exact text appears in at least `minDf` DISTINCT documents
    * are removed from every document (all occurrences — shared lines are
    * navigation/boilerplate, not content), and each document is reassembled
    * from its surviving lines in original order.
    *
    * Output: `(id, text, n_kept, n_removed)` — documents whose every line
    * was removed stay present with empty text, so the operator never
    * changes corpus membership.
    *
    * Scale shape: `posexplode` keeps the line's position so reassembly is
    * an order-insensitive `max(struct(pos, line))`-style sorted aggregate
    * (here `sort_array(collect_list(struct(pos, line)))` — per-doc state
    * bounded by the doc's own line count, the sessionizer bound); the
    * line-frequency table is a line-keyed DISTINCT-doc count (two keyed
    * exchanges: dedup + count), and the verdict joins back on the line key.
    * Empty lines are never counted as duplicates (blank separators would
    * otherwise dedup the whole corpus's paragraph structure away).
    */
  def lineDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Int = 2): DataFrame = {
    require(minDf >= 2, "minDf < 2 would remove every line")
    val lines = docLines(df, idCol, textCol)
    dropDupLines(lines, lineDocFreq(lines, idCol), idCol, minDf)
  }

  /** `(idCol, pos, line)`: every line of every document with its position.
    * coalesce: split(NULL) is NULL and posexplode of NULL emits NO row — a
    * NULL-text doc would silently vanish from the output, violating
    * [[lineDedup]]'s never-changes-corpus-membership contract (empty-string
    * docs already survive as one empty line). NULL text ≡ empty text here.
    */
  private def docLines(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")), "\n")).as(Seq("pos", "line")))

  /** `(line, _df)`: distinct-document count of each non-blank line. */
  private def lineDocFreq(lines: DataFrame, idCol: String): DataFrame =
    lines.where(trim(col("line")) =!= "")
      .select(col(idCol), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("_df"))

  /** The verdict and ordered reassembly of the line-dedup family: lines
    * whose `_df` in `lineDf` reaches `minDf` are dropped, the survivors
    * re-joined in position order — [[lineDedup]]'s output shape.
    */
  private def dropDupLines(lines: DataFrame, lineDf: DataFrame, idCol: String, minDf: Int): DataFrame =
    lines.join(lineDf, Seq("line"), "left")
      .withColumn("_dup", coalesce(col("_df"), lit(0L)) >= minDf)
      .groupBy(col(idCol)).agg(
        array_join(transform(
          filter(sort_array(collect_list(struct(col("pos"), col("_dup"), col("line")))),
            e => !e.getField("_dup")),
          e => e.getField("line")), "\n").as("text"),
        sum(when(col("_dup"), 0L).otherwise(1L)).as("n_kept"),
        sum(when(col("_dup"), 1L).otherwise(0L)).as("n_removed"))
      .select(col(idCol), col("text"), col("n_kept"), col("n_removed"))

  /** Persistable line-frequency index for [[lineDedupIncremental]]:
    * `(line, df)` distinct-doc counts over the corpus seen so far — the
    * state a daily line-dedup ingest carries between runs.
    */
  def lineIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      explode(split(col(textCol), "\n")).as("line"))
      .where(trim(col("line")) =!= "")
      .select(col(idCol), col("line")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("df"))

  /** INCREMENTAL line dedup — the daily-ingest shape of [[lineDedup]]: the
    * NEW batch is cleaned against the accumulated [[lineIndex]] PLUS its
    * own lines, so a line crossing `minDf` across old∪batch is removed
    * from the batch exactly as a full replay over old∪batch would remove
    * it from those docs (old docs are immutable once written — the same
    * already-ingested contract as [[lshPairsIncremental]] and
    * [[exactDupSpansIncremental]]).
    *
    * Returns the cleaned batch in [[lineDedup]]'s output shape; callers
    * advance the index with `lineIndex(batch) summed into the stored one`
    * (a line-keyed union+sum — demonstrated in the gate and spec).
    *
    * Scale shape: per-batch work is batch-lines keyed against the index
    * (one line-keyed join — the index never rescans old text), and the
    * per-doc reassembly is [[lineDedup]]'s order-restoring bounded
    * aggregate.
    */
  def lineDedupIncremental(
      index: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      minDf: Int = 2): DataFrame = {
    require(minDf >= 2, "minDf < 2 would remove every line")
    val lines = docLines(batch, idCol, textCol)
    val combined = lineDocFreq(lines, idCol)
      .join(index.select(col("line"), col("df").as("_idf")), Seq("line"), "left")
      .select(col("line"), (col("_df") + coalesce(col("_idf"), lit(0L))).as("_df"))
    dropDupLines(lines, combined, idCol, minDf)
  }

  /** Deterministic corpus MIXING — per-source epoch weights, the "sample
    * web 0.5×, upsample wiki 2.4×" knob of a training-data recipe: each row
    * is replicated `floor(weight)` times (epochs 0…floor-1) and gains one
    * extra epoch when its content-hash bucket falls under the fractional
    * remainder, so the realized rate converges to the requested weight and
    * is a pure function of the id — append-stable, reproducible across
    * engines/retries, and identical for a row in every run regardless of
    * which snapshot it arrives in.
    *
    * Weights resolve in basis points (1e-4 resolution, same floor as
    * [[stratifiedSample]]); every weight must be positive — a 0× source is
    * a filter, not a mix entry. Scale shape: the weight lookup is a literal
    * `when`-chain (config-sized), the replication is a shuffle-free
    * `explode(sequence(...))` the scan absorbs, and the fractional keep is
    * the same codegen'd md5 bucket as the sampling family — no shuffle
    * anywhere, output size = Σ weight_s × |source_s| by construction.
    */
  def mixEpochs(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      weights: Map[String, Double],
      defaultWeight: Double = 1.0): DataFrame = {
    def bpOf(w: Double): Int = {
      val bp = math.round(w * 10000).toInt
      require(bp >= 1, s"mix weight must be >= 0.0001, got $w")
      bp
    }
    val bp = weights.foldLeft(lit(bpOf(defaultWeight))) { case (acc, (s, w)) =>
      when(col(sourceCol) === s, lit(bpOf(w))).otherwise(acc)
    }
    df.select(col(idCol), col(sourceCol), bp.as("_bp"))
      .select(col(idCol), col(sourceCol), col("_bp"),
        explode(sequence(lit(0), floor((col("_bp") + 9999) / 10000).cast("int") - 1)).as("epoch"))
      .where(col("epoch") < floor(col("_bp") / 10000).cast("int") ||
        hashBucket(col(idCol)) < col("_bp") % 10000)
      .select(col(idCol), col(sourceCol), col("epoch"))
  }
}
