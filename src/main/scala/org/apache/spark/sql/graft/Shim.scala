package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's custom Catalyst [[Expression]]s and the public
  * [[Column]] API. Spark 4 removed `new Column(expr)` in favor of
  * connect-compatible `ColumnNode`s; the classic bridge lives in
  * `org.apache.spark.sql.classic.ExpressionUtils` (`private[sql]`), so this
  * one-file subpackage exposes exactly the two conversions graft needs.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a custom logical plan as a DataFrame (`Dataset.ofRows` went
    * `private[sql]` with the connect split) — the construction path for
    * graft's own logical nodes ([[graft.plans.AsOfJoinPlan]]).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The ANALYZED logical plan of a DataFrame — child material for custom
    * logical nodes; analyzed (not the raw parsed plan) so attribute
    * references resolved here stay valid inside the new parent.
    */
  def logicalPlan(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.analyzed

  /** Idempotently register a planner strategy on a LIVE session.
    * `SparkSessionExtensions.injectPlannerStrategy` only works at session
    * build time, which the driver owns — `experimental.extraStrategies` is
    * the equivalent public hook for an already-running session.
    */
  def registerStrategy(spark: org.apache.spark.sql.SparkSession,
      strategy: org.apache.spark.sql.execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Idempotently register an optimizer rule on a LIVE session — the
    * `experimental.extraOptimizations` counterpart of [[registerStrategy]]
    * (`injectOptimizerRule` is build-time-only the same way).
    */
  def registerOptimizerRule(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }

  /** Execute `df` and return every node of its EXECUTED plan — descending
    * through AQE stages, exchange reuse and (dynamic-partition-pruning)
    * subqueries, which is why this needs the `private[sql]` plan surfaces.
    * The executed-metric probes below read their facts off these nodes.
    */
  private def executedNodes(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    df.collect()
    nodes(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan).distinct
  }

  private def nodes(p: org.apache.spark.sql.execution.SparkPlan): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => nodes(r.child)
      case other => other +: (other.children.flatMap(nodes) ++ other.subqueries.flatMap(nodes))
    }
  }

  private def fileScans(df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.execution.FileSourceScanExec] =
    executedNodes(df).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }

  /** Execute `df` and return the `numFiles` metric of every parquet scan in
    * the executed plan. The partition-pruning specs assert on this: "the
    * probe touched ≤ nProbe/nCells of the files" is a metrics fact, not a
    * plan-string grep.
    */
  def scannedFileCounts(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    fileScans(df).map(_.metrics("numFiles").value)

  /** Execute `df` and return the summed `numOutputRows` of every parquet
    * scan in the executed plan — rows SURVIVING parquet-level pruning
    * (row-group/page statistics skipping under pushed filters). Layout
    * claims ("z-ordered files skip row groups on either dimension") are
    * asserted on this: fewer scan output rows for the same logical result
    * is the executed-metric definition of a working clustering layout.
    */
  def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long =
    fileScans(df).map(_.metrics.get("numOutputRows").map(_.value).getOrElse(0L)).sum

  /** Execute `df` and return total records written into EVERY shuffle
    * exchange of the executed plan (AQE stages and exchange reuse included).
    * Shuffle-VOLUME claims ("the bounded agg moves O(k·P) rows, not O(N)")
    * are asserted on this — an executed-metric fact, not a plan-string grep.
    */
  def shuffleRecordsWritten(df: org.apache.spark.sql.DataFrame): Long =
    executedNodes(df).collect { case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s }
      .map(_.metrics.get("shuffleRecordsWritten").map(_.value).getOrElse(0L)).sum

  /** What a [[org.apache.spark.sql.SparkSessionExtensions]] instance would
    * inject at session build time — `buildPlannerStrategies` /
    * `buildOptimizerRules` are `private[sql]`, hence these live in the
    * shim. The extensions-injection spec asserts graft's
    * `spark.sql.extensions` entry point wires exactly the objects the
    * running-session path registers (one JVM = one live session in the
    * test harness, so build-time injection itself is proven at this
    * unit level rather than by constructing a second session).
    */
  def builtPlannerStrategies(
      e: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession): Seq[org.apache.spark.sql.execution.SparkStrategy] =
    e.buildPlannerStrategies(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  def builtOptimizerRules(
      e: org.apache.spark.sql.SparkSessionExtensions,
      spark: org.apache.spark.sql.SparkSession): Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    e.buildOptimizerRules(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  /** Block until every queued listener event is delivered — `listenerBus` is
    * `private[spark]`, hence the shim. The bench's per-gate task-metric
    * deltas are only exact if the bus is drained at both snapshot edges;
    * without this, a slow listener thread bleeds one gate's task-end events
    * into the next gate's window. A bus that stays busy past the timeout
    * degrades telemetry precision for that one snapshot; it must never abort
    * the bench run itself, so the timeout is swallowed (with a stderr note).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        System.err.println(s"[graft] listener bus not drained after ${timeoutMs}ms; " +
          "telemetry for this snapshot may include bleed-over from the previous gate")
    }

  /** The exact parser `try_to_timestamp(col, lit(pattern))` uses under the
    * session's (CORRECTED) time-parser policy — `TimestampFormatter` is
    * `private[sql]`, hence the shim. Native expressions that replace a
    * `try_to_timestamp` ladder ([[graft.expressions.LenientDate]]) parse
    * through THIS, so their per-pattern semantics are identical to the
    * builtin's by construction, not by re-implementation.
    */
  def timestampFormatter(pattern: String, zoneId: java.time.ZoneId)
      : org.apache.spark.sql.catalyst.util.TimestampFormatter =
    org.apache.spark.sql.catalyst.util.TimestampFormatter(pattern, zoneId, isParsing = true)

  /** Eager `localCheckpoint` that also TRUNCATES plan statistics — the
    * stage-boundary primitive for ITERATIVE join loops (round 14, found by
    * `PreferenceSpec`'s convergence test hanging the driver).
    *
    * Spark 4's `Dataset.localCheckpoint` truncates LINEAGE but the
    * resulting [[org.apache.spark.sql.execution.LogicalRDD]] carries the
    * ORIGIN plan's `Statistics` (`LogicalRDD.fromDataset` computes and
    * pins them so AQE/broadcast planning keeps working across the
    * checkpoint). For a loop whose per-iteration plan JOINS the previous
    * checkpoint k times, `SizeInBytesOnlyStatsPlanVisitor` multiplies the
    * carried sizes, so the recorded `sizeInBytes` BigInt grows k× in BIT
    * LENGTH per iteration — exponential. Bradley–Terry (one crossJoin +
    * three keyed joins per MM iteration) reaches ~400k-bit sizes by
    * iteration 8 and by ~iteration 12 the driver disappears into
    * million-bit `BigInteger.multiplyToomCook3` inside stats estimation:
    * the DATA is a few item-sized rows, the hang is pure planning. Any
    * iterative operator that checkpoints per round inherits the same
    * cliff once rounds × joins-per-round is large enough (linear chains
    * like connectedComponents only grow bits linearly — harmless; it is
    * the multiplicative shapes that explode).
    *
    * This helper rebuilds the checkpointed Dataset's LogicalRDD WITHOUT
    * `originStats`/`originConstraints`, so downstream planning sees the
    * session default size — constant per iteration, no compounding. Use
    * it for loop-carried frames; plain `localCheckpoint` remains right
    * for one-shot stage boundaries where the carried stats HELP (they
    * let AQE broadcast a small materialized side).
    */
  def localCheckpointFreshStats(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ck = df.localCheckpoint(true).asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val session = ck.sparkSession
    ck.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        org.apache.spark.sql.classic.Dataset.ofRows(session,
          new org.apache.spark.sql.execution.LogicalRDD(
            l.output, l.rdd, l.outputPartitioning, l.outputOrdering,
            l.isStreaming, l.stream)(session, None, None))
      case _ => ck // unexpected shape; checkpointed frame is still correct
    }
  }

  /** A frame over the MATERIALIZED cache of the persisted `df`, with a
    * [[org.apache.spark.sql.execution.LogicalRDD]] as its whole plan — the
    * one-shot stage-boundary primitive of [[graft.CurateMain]]. Call it
    * after an action has filled the cache: the leaf then reads the cached
    * rows and runs no job of its own.
    *
    * A frame read through its `InMemoryRelation` keeps the cached plan
    * below it, and Spark's description of every query prints that plan in
    * full, nested once per cached stage under it; a `LogicalRDD` prints as
    * one line. `LogicalRDD.fromDataset` keeps the origin's statistics (the
    * cache's measured size, so broadcast planning does not change), and the
    * leaf takes the cached scan's output partitioning and ordering (the
    * first of a join's partitionings, as `fromDataset` does), so a
    * downstream join or aggregate on the same key adds no exchange.
    */
  def cachedLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.physical.PartitioningCollection
    import org.apache.spark.sql.execution.LogicalRDD
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val qe = ds.queryExecution
    val l = LogicalRDD.fromDataset(qe.toRdd, ds, isStreaming = false)
    val leaf = nodes(qe.executedPlan).collectFirst {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        def first(p: org.apache.spark.sql.catalyst.plans.physical.Partitioning)
            : org.apache.spark.sql.catalyst.plans.physical.Partitioning = p match {
          case c: PartitioningCollection => first(c.partitionings.head)
          case _ => p
        }
        new LogicalRDD(l.output, l.rdd, first(s.outputPartitioning), s.outputOrdering,
          isStreaming = false)(ds.sparkSession, Some(l.computeStats()), Some(l.constraints))
    }
    org.apache.spark.sql.classic.Dataset.ofRows(ds.sparkSession, leaf.getOrElse(l))
  }

  /** Register a named SQL function backed by a `Column => Column` composition
    * of built-in (codegen'd) expressions — unlike `spark.udf.register` this
    * adds no black-box UDF call: the function inlines into the caller's plan
    * and stays inside whole-stage codegen. `sessionState` is `private[sql]`,
    * hence this lives in the shim package.
    */
  def registerColumnFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      arity: Int,
      f: Seq[Column] => Column): Unit = {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.functionRegistry.createOrReplaceTempFunction(
      name,
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity, s"$name expects $arity argument(s), got ${exprs.length}")
        expression(f(exprs.map(column)))
      },
      "built-in")
  }

  /** Execute `df` and return (selectedBuckets, totalBuckets) for every
    * BUCKETED parquet scan in the executed plan. Bucket pruning does NOT
    * show in the `numFiles` metric (that counts selected partitions before
    * the bucket filter); the executed fact lives in the scan's
    * `optionalBucketSet` — a None means the scan is bucketed but unpruned
    * (reported as total/total).
    */
  def selectedBuckets(df: org.apache.spark.sql.DataFrame): Seq[(Int, Int)] =
    fileScans(df).flatMap { s =>
      s.relation.bucketSpec.map { spec =>
        (s.optionalBucketSet.map(_.cardinality()).getOrElse(spec.numBuckets),
          spec.numBuckets)
      }
    }

  /** Partition-preserving `mapPartitions` over INTERNAL rows — the
    * zero-codec path for per-partition scans of corpus-sized frames
    * (round 15, built for [[graft.operators.SuffixArray]]). The public
    * `Dataset.mapPartitions` round-trips every row through the external
    * codec (`CreateExternalRow` → `GenericRowWithSchema` + boxed fields →
    * serializer): ~6 short-lived objects PER ROW per pass, which at the
    * 46M-suffix growth probe turned into GC storms that tripled build
    * wall. This variant hands the function the executed plan's
    * `InternalRow` iterator directly (`queryExecution.toRdd`, so an
    * upstream `repartitionByRange` + `sortWithinPartitions` arrives
    * partitioned and sorted) and wraps the result back via
    * `internalCreateDataFrame` — both `private[sql]`, hence the shim
    * home.
    *
    * CONTRACT for `fn` (the standard internal-row iterator discipline):
    * input rows are REUSED buffers — copy any field you hold across a
    * `next()` (`UTF8String.clone()`, `InternalRow.copy()`); emitted rows
    * may themselves be a reused buffer (e.g. one `UnsafeProjection`
    * output) because every Spark consumer copies when it buffers.
    */
  def mapPartitionsInternal(
      df: org.apache.spark.sql.DataFrame,
      schema: org.apache.spark.sql.types.StructType)(
      fn: Iterator[org.apache.spark.sql.catalyst.InternalRow] =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame = {
    val ds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    ds.sparkSession.internalCreateDataFrame(
      ds.queryExecution.toRdd.mapPartitions(fn), schema)
  }

  /** The catalog bucket spec of a saved table: (numBuckets, bucketCols,
    * sortCols), None for unbucketed tables. `sessionState.catalog` is
    * `private[sql]`, hence the shim home — [[graft.operators.Bucketing]]
    * validates co-located joins on this before trusting the plan shape.
    */
  def bucketSpec(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[(Int, Seq[String], Seq[String])] = {
    val cat = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    val id = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.sqlParser.parseTableIdentifier(table)
    cat.getTableMetadata(id).bucketSpec
      .map(b => (b.numBuckets, b.bucketColumnNames, b.sortColumnNames))
  }
}
