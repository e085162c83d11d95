package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config.K6FilterConfig

/** J1/J2 — the reference's two (Oracle-delegated) joins, re-expressed as
  * Spark joins with explicit scale strategy.
  */
object Joins {

  /** J1: K6/K7 privacy screening (`/root/reference/src/oracle_target.py:53-93`).
    *
    * Semantics: a row whose person-id appears in the screening dimension with
    * a validity interval containing the row's (day-truncated) timestamp gets
    * `kafka_message := NULL` — masked, never dropped.
    *
    * Scale shape: ONE pass over the batch. The dimension (pre-filtered to
    * `skjermet_kode IN (6,7)` — pushed to the JDBC source when it is one) is
    * aggregated to one row per person carrying its validity intervals as an
    * array, then joined on person-id alone; interval containment is an
    * `exists(...)` over that (tiny) array in the projection. One dim row per
    * pid means NO row multiplication from overlapping validity rows, and
    * nothing data-dependent is ever broadcast — the earlier shape probed a
    * distinct (pid, day) set (second scan of the batch subplan) and broadcast
    * the resulting hit set back.
    *
    * `broadcastDim = true` (default) pins the broadcast — correct while the
    * screened population is small, which it is by construction. If it ever
    * is not, pass false: the join runs as a plain equi-join on pid (shuffle,
    * AQE still free to convert back to broadcast at runtime).
    *
    * Divergence (documented, deliberate): the reference probes with the LAST
    * message's timestamp for the whole batch (`src/oracle_target.py:56-57`);
    * graft evaluates the interval per-row, which is order-independent — the
    * only semantics that is well-defined under distributed execution.
    */
  def k6Mask(
      batch: DataFrame,
      dim: DataFrame,
      cfg: K6FilterConfig,
      payloadField: String = "payload",
      broadcastDim: Boolean = true,
      maxIntervalsPerPid: Int = 1000): DataFrame = {
    val pid = {
      val segs = PayloadOps.splitPath(cfg.col, cfg.colKeypathSeparator)
      segs.foldLeft(col(payloadField))((c, s) => c.getField(s)).cast("string")
    }
    val day = date_trunc("DAY", timestamp_millis(col(cfg.timestamp)))
    // collect_set, not collect_list: a malformed dimension feed (the same
    // validity row duplicated many times) would otherwise concentrate one
    // pid's rows into one unbounded agg buffer AND one broadcast row. The
    // set dedups inside the aggregation, and the cap fails LOUDLY on a
    // genuinely pathological dim (distinct intervals beyond any plausible
    // person history) instead of silently building a multi-MB broadcast row.
    val ivals = collect_set(struct(
      dim("gyldig_fra_dato").as("fra"), dim("gyldig_til_dato").as("til")))
    val dimAgg0 = dim.groupBy(dim(cfg.filterCol).cast("string").as("_pid"))
      .agg(when(size(ivals) > maxIntervalsPerPid,
          raise_error(concat(lit(s"k6 screening dimension has >$maxIntervalsPerPid distinct validity intervals for pid "), col("_pid"))))
        .otherwise(ivals).as("_ivals"))
    val dimAgg = if (broadcastDim) broadcast(dimAgg0) else dimAgg0
    val screened = exists(col("_ivals"),
      i => day.between(i.getField("fra"), i.getField("til")))
    batch
      .join(dimAgg, pid === col("_pid"), "left_outer")
      .withColumn("kafka_message",
        when(col("_ivals").isNotNull && screened, lit(null).cast("string")).otherwise(col("kafka_message")))
      .drop("_pid", "_ivals")
  }

  /** J2: `skip-duplicates-with` (`/root/reference/src/oracle_target.py:99-104`) —
    * insert only rows with no existing match on the key column set, and (like
    * the reference's row-by-row NOT EXISTS inside one transaction) drop
    * intra-batch duplicates too.
    *
    * Documented divergence: among intra-batch rows sharing a key but
    * differing in non-key columns, the reference keeps the FIRST in consume
    * order; `dropDuplicates` keeps an arbitrary one — "first" is undefined
    * under distributed consumption, and the reference's own dedup keys
    * (partition/offset/topic or content hash) make colliding rows identical
    * anyway.
    *
    * Scale shape: both sides shuffle on the key columns — the correct plan
    * when `existing` is the full sink table; when the existing key set is
    * known-small, pass `broadcastExisting = true` to pin a broadcast
    * anti-join. With AQE on, a small filtered `existing` converts to
    * broadcast at runtime anyway.
    */
  def dedupAgainst(
      batch: DataFrame,
      existing: DataFrame,
      keys: Seq[String],
      broadcastExisting: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "skip-duplicates-with requires at least one key column")
    val ex0 = existing.select(keys.map(col): _*).dropDuplicates(keys)
    val ex = if (broadcastExisting) broadcast(ex0) else ex0
    batch.dropDuplicates(keys).join(ex, keys, "left_anti")
  }

  /** J2 with a BLOOM-FILTER pre-prune — the incremental-load shape at scale:
    * the batch is overwhelmingly NEW rows (a bounded Kafka interval past the
    * delta watermark), so shuffling the whole batch against the whole sink
    * table wastes the common case. A Bloom filter over the sink's key set
    * (one pass, fixed `numBits` of driver/executor memory, broadcast in the
    * closure) routes each batch row in a codegen'd filter:
    *   - definitely-absent rows (the bulk) skip the join entirely;
    *   - possibly-present rows (true dups + `fpp` false positives) take the
    *     exact anti-join, which keeps the result EXACTLY equal to
    *     [[dedupAgainst]] — the filter only prunes, never decides.
    * Result: the anti-join's shuffled batch side shrinks from |batch| to
    * |dups| + fpp·|batch|, and the sink side still shuffles once (same as
    * before). Worst case (everything a dup) degrades gracefully to the plain
    * plan plus one cheap filter.
    *
    * The two routes are union branches, so `batch`'s subplan is scanned
    * twice — hand this operator a cached / checkpointed / cheap-scan batch.
    * The savings target is the SHUFFLE (the expensive stage at scale), not
    * the scan.
    */
  def dedupAgainstBloom(
      batch: DataFrame,
      existing: DataFrame,
      keys: Seq[String],
      expectedExisting: Long,
      fpp: Double = 0.01): DataFrame = {
    require(keys.nonEmpty, "skip-duplicates-with requires at least one key column")
    // NUL-separated composite key (as the ESCAPE, not a raw byte in source:
    // a literal NUL makes git/grep treat the file as binary) - a printable
    // separator would let ("a b","c") collide with ("a","b c").
    val keyCol = concat_ws("\u0000", keys.map(c => col(c).cast("string")): _*)
    // The deduped key set is materialized once: the bloom build is an action,
    // and without the checkpoint the anti-join would re-run the whole
    // `existing` subplan (a second full sink scan at scale; key set << sink).
    val ex0 = existing.select(keys.map(col): _*).dropDuplicates(keys).localCheckpoint(true)
    val bf = ex0.stat.bloomFilter(keyCol, expectedExisting, fpp)
    val mightContain = udf((s: String) => s != null && bf.mightContain(s))
    val pruned = batch.dropDuplicates(keys)
    val maybe = pruned.where(mightContain(keyCol))
      .join(ex0, keys, "left_anti")
    // unionByName: the USING-style anti-join moves the key columns to the
    // front, so a positional union would silently misalign the branches; the
    // final select restores dedupAgainst's exact column order (keys first)
    // so the two operators are drop-in interchangeable even positionally.
    val restored = pruned.where(!mightContain(keyCol)).unionByName(maybe)
    val order = keys ++ batch.columns.filterNot(keys.contains)
    restored.select(order.map(col): _*)
  }

  /** AS-OF join: each fact row gets the dimension row with the greatest
    * `dimTime` at-or-before its `factTime`, per key — the temporal-lookup
    * join (price as of trade time, profile as of event time) that plain
    * equi-joins can't express.
    *
    * Scale shape: NOT a join at all but ONE shuffle+sort — dim and fact rows
    * are tagged and unioned, partitioned by key, sorted by (time, dim-first),
    * and a running `last(dim-payload, ignoreNulls)` window carries the most
    * recent dim row forward onto every fact row. This is the canonical
    * distributed as-of plan: no row multiplication, no range-join explosion,
    * memory O(1) per row in the running frame. A dim row at exactly
    * `factTime` IS visible (at-or-before): equal timestamps sort dim-first.
    *
    * Determinism: multiple dim rows sharing (key, time) collapse BEFORE the
    * union via `max(struct(dimCols))` — lexicographic on `dimCols` order, so
    * the caller's column order is the tie-break contract.
    *
    * Facts with no prior dim row get NULL as-of columns (left semantics).
    * `_t`/`_isdim`/`_dval`/`_asof` are reserved internal names.
    */
  def asOf(
      facts: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      factTime: String,
      dimTime: String,
      dimCols: Seq[String],
      prefix: String = "asof_"): DataFrame =
    asOfWindowed(facts, dim, keys, factTime, dimTime, dimCols, prefix, forward = false)

  /** FORWARD as-of join: each fact row gets the dimension row with the
    * SMALLEST `dimTime` at-or-after its `factTime`, per key — "the next
    * scheduled price change", "the first reading after the alarm". Same
    * union+window plan as [[asOf]] with the scan direction reversed (sort
    * descending, carry the nearest later dim value back), same
    * `max(struct(dimCols))` collapse contract on duplicate (key, time) dim
    * rows, same left semantics (no later dim row → NULLs).
    */
  def asOfForward(
      facts: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      factTime: String,
      dimTime: String,
      dimCols: Seq[String],
      prefix: String = "asof_"): DataFrame =
    asOfWindowed(facts, dim, keys, factTime, dimTime, dimCols, prefix, forward = true)

  private def asOfWindowed(
      facts: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      factTime: String,
      dimTime: String,
      dimCols: Seq[String],
      prefix: String,
      forward: Boolean): DataFrame = {
    require(keys.nonEmpty, "asOf requires at least one key column")
    require(dimCols.nonEmpty, "asOf requires at least one dim payload column")
    import org.apache.spark.sql.expressions.Window
    val factCols = facts.columns.toSeq
    val dval = struct(dimCols.map(dim(_)): _*)
    val dimPrep = dim.groupBy((keys.map(dim(_)) :+ dim(dimTime).as("_t")): _*)
      .agg(max(dval).as("_dval"))
      .withColumn("_isdim", lit(1))
    val factPrep = facts
      .withColumn("_t", col(factTime))
      .withColumn("_isdim", lit(0))
      .withColumn("_dval", lit(null).cast(dimPrep.schema("_dval").dataType))
    val unioned = factPrep.unionByName(dimPrep, allowMissingColumns = true)
    // Backward: ascending time, dim-first at ties → last dim at-or-before.
    // Forward: descending time, dim-first at ties → nearest dim at-or-after.
    val order = if (forward) col("_t").desc else col("_t").asc
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(order, col("_isdim").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned.withColumn("_asof", last(col("_dval"), ignoreNulls = true).over(w))
      .where(col("_isdim") === 0)
      .select(factCols.map(col) ++ dimCols.map(c => col("_asof").getField(c).as(prefix + c)): _*)
  }

  /** [[asOf]] through the NATIVE physical operator
    * ([[graft.plans.AsOfJoinExec]]): identical semantics and output schema,
    * but planned as a first-class as-of merge — each side shuffled and
    * sorted separately, then a forward-only two-pointer pass with O(1)
    * state — instead of the union+window encoding. See the plan node's
    * scaladoc for the cost comparison; AsOfJoinSpec pins the row-for-row
    * equivalence of the two.
    *
    * Duplicate (key, time) dim rows collapse by `max(struct(dimCols))`
    * exactly as in [[asOf]] — same tie-break contract.
    */
  def asOfNative(
      facts: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      factTime: String,
      dimTime: String,
      dimCols: Seq[String],
      prefix: String = "asof_"): DataFrame = {
    require(keys.nonEmpty, "asOfNative requires at least one key column")
    require(dimCols.nonEmpty, "asOfNative requires at least one dim payload column")
    import org.apache.spark.sql.graft.Shim
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    val spark = facts.sparkSession
    val dval = struct(dimCols.map(dim(_)): _*)
    val dimPrep = dim.groupBy((keys.map(dim(_)) :+ dim(dimTime).as("_t")): _*)
      .agg(max(dval).as("_dval"))
      .select(keys.map(col) ++ Seq(col("_t")) ++
        dimCols.map(c => col("_dval").getField(c).as(prefix + c)): _*)
    // Wrap each side in a fresh-alias Project: when both sides derive from
    // the SAME base relation, the analyzer's DeduplicateRelations remaps the
    // conflicting subtree's exprIds — it rewrites the Project's child refs
    // (a standard node) but cannot rewrite the attributes a CUSTOM node
    // stores, so the node must anchor on alias ids that survive the remap.
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    def fresh(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      Project(plan.output.map(a => Alias(a, a.name)()), plan)
    val lp = fresh(Shim.logicalPlan(facts))
    val rp = fresh(Shim.logicalPlan(dimPrep))
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"asOfNative: no column `$name` in ${plan.output.map(_.name)}"))
    val payload = dimCols.map(c => attr(rp, prefix + c))
    val outAttrs = payload.map(a =>
      AttributeReference(a.name, a.dataType, nullable = true)())
    Shim.ofRows(spark, graft.plans.AsOfJoinPlan(
      lp, rp,
      leftKeys = keys.map(attr(lp, _)),
      rightKeys = keys.map(attr(rp, _)),
      leftTime = attr(lp, factTime),
      rightTime = attr(rp, "_t"),
      payload = payload,
      outAttrs = outAttrs))
  }

  /** Range (interval-containment) join: every (fact, dim) pair where the
    * fact's time falls in the dim row's half-open interval `[lo, hi)`,
    * optionally also matching on equality `keys`.
    *
    * Scale shape: Spark plans a bare `t >= lo AND t < hi` join as a
    * broadcast-nested-loop (O(|facts|·|dim|) comparisons) — unusable beyond a
    * tiny dim. Instead time is bucketized: each dim interval is exploded to
    * the `bucketMs`-wide buckets it overlaps, each fact row computes the ONE
    * bucket containing its time, and the join becomes a plain shuffled
    * EQUI-join on (bucket, keys...) followed by the residual range filter.
    * Each qualifying pair appears exactly once — the fact's bucket is unique,
    * and a dim interval contributes one row per bucket. Comparisons drop from
    * |facts|·|dim| to |facts|·(dim rows per bucket); both sides shuffle on
    * the bucket key, so the plan is fully distributed, AQE-skew-splittable,
    * and needs no broadcast of either side.
    *
    * `bucketMs` tuning: ≈ the typical interval width. Too small explodes dim
    * rows (`maxBucketsPerInterval` fails LOUDLY rather than letting one
    * open-ended interval fan out into millions of rows); too large piles
    * unrelated dim rows into each bucket. Inner-join semantics: facts with no
    * containing interval are dropped. `_b` is a reserved internal name.
    */
  def rangeJoin(
      facts: DataFrame,
      dim: DataFrame,
      factTime: String,
      lo: String,
      hi: String,
      bucketMs: Long,
      keys: Seq[String] = Nil,
      maxBucketsPerInterval: Int = 1024): DataFrame = {
    require(bucketMs > 0, "rangeJoin requires a positive bucket width")
    val bLo = floor(dim(lo) / bucketMs).cast("long")
    // hi is exclusive: an interval ending exactly on a bucket boundary does
    // not reach into the next bucket.
    val bHi = floor((dim(hi) - 1) / bucketMs).cast("long")
    val nB = bHi - bLo + lit(1L)
    val dimB = dim.withColumn("_b", explode(
      when(nB > maxBucketsPerInterval,
        raise_error(concat(lit(s"rangeJoin: interval spans more than $maxBucketsPerInterval buckets of $bucketMs ms: ["),
          dim(lo), lit(", "), dim(hi), lit(")"))))
      .otherwise(sequence(bLo, bHi))))
    val factB = facts.withColumn("_b", floor(facts.col(factTime) / bucketMs).cast("long"))
    val cond = keys.map(k => factB(k) === dimB(k))
      .foldLeft(factB("_b") === dimB("_b") &&
        factB(factTime) >= dimB(lo) && factB(factTime) < dimB(hi))(_ && _)
    factB.join(dimB, cond).drop("_b")
  }
}
