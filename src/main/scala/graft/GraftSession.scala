package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a graft session is built or configured.
  *
  * Local runs use one JVM (`local[N]`, one shuffle partition per core), but
  * every other knob here is chosen for the 1000-executor / 100 TB target:
  *   - AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
  *   - `nanosAsLong` because upstream parquet carries TIMESTAMP(NANOS), which
  *     Spark's vectorized reader otherwise rejects; graft converts explicitly
  *     via [[functions.Conversions.nanosToTimestamp]].
  *   - session TZ pinned UTC so timestamp semantics are deployment-invariant
  *     (the reference's Europe/Oslo wall-clock outputs are produced by
  *     explicit `from_utc_timestamp` conversions, never by session TZ).
  *   - a 1000-entry codegen cache, set by [[builder]] only (a static conf):
  *     a host session that runs graft repeatedly passes it with `--conf`.
  */
object GraftSession {

  /** Shuffle partition count the builder gives a session on `master`
    * (`SPARK_GRAFT_SHUFFLE` overrides it). A local master gets one partition
    * per core: `local[N]` and `local[N,F]` give N, `local[*]` the available
    * processors, `local` 1. Operators that size an exchange from
    * `numShufflePartitions`, and the persisted stage frames whose width
    * Spark keeps, then run one task per core instead of queueing small
    * tasks. Any other master gets 32; on a real cluster set the override to
    * 2-3x total executor cores (or leave AQE's coalescing to trim it down
    * from a high initial value).
    */
  def defaultShufflePartitions(master: String): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", master match {
      case "local" => "1"
      case LocalMaster("*") => Runtime.getRuntime.availableProcessors.toString
      case LocalMaster(n) => n
      case _ => "32"
    })

  /** `local[N]` or `local[N,F]` (N a count or `*`, F max task failures). */
  private val LocalMaster = """local\[([0-9]+|\*)\s*(?:,\s*[0-9]+\s*)?\]""".r

  /** The settings every graft session carries: [[builder]] passes them to a
    * new session, [[configure]] sets them on a live one.
    */
  private val settings: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // The Confluent-Avro decode builds its Row schema from the registry at
    // plan time — that dynamic shape needs the untyped ScalaUDF API.
    "spark.sql.legacy.allowUntypedScalaUDF" -> "true",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // Streaming state store: RocksDB when SPARK_GRAFT_ROCKSDB=1 — the
    // production choice once keyed state (sessionization, stream-stream
    // join buffers, dedup keys) outgrows executor heap; the default
    // HDFS-backed in-memory provider is faster for the small local gates.
    "spark.sql.streaming.stateStore.providerClass" -> (
      if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
      else "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"),
    // Each streaming query runs on a clone of the session; with artifact
    // isolation on, every clone gets a new executor classloader, and
    // Spark's codegen cache (keyed on classloader and source) then misses
    // on every scheduled run. graft adds no session artifacts. On a live
    // session the setting takes effect for the sessions cloned from it
    // later (one per streaming query), which is what matters.
    "spark.sql.artifact.isolation.enabled" -> "false")

  /** Builder for a new graft session on `master`: the graft settings, a
    * shuffle width from [[defaultShufflePartitions]], no UI and a codegen
    * cache that keeps a run's generated classes for the next run. The default
    * master is the one `spark-submit` (or `spark-shell`) was given, so a
    * submitted run keeps its cluster; without one it is
    * `local[$SPARK_GRAFT_CPUS]`, else `local[*]`. Call [[configure]] on the
    * built session before use; [[get]] does both.
    */
  def builder(master: String = new SparkConf().getOption("spark.master")
      .getOrElse(sys.env.get("SPARK_GRAFT_CPUS").fold("local[*]")(n => s"local[$n]")))
      : SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", defaultShufflePartitions(master))
      .config("spark.ui.enabled", "false")
      // A static conf, read once per JVM when CodeGenerator sizes its cache
      // on first use, so it cannot go in `settings`. 1000 entries hold the
      // classes of a curate run (135) and a subscribe tick (about 32) with
      // headroom; at Spark's default of 100 every curate run after the
      // first compiles its classes again.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config(settings.toMap)

  /** Session for every main: the active or default session when one exists
    * (a notebook, the test suite, a gate calling an entry point), else a new
    * one from [[builder]], passed through [[configure]] either way. A reused
    * session keeps the host's master and sizing: `getOrCreate` would copy
    * the builder's `spark.sql.shuffle.partitions` onto it, undoing e.g. a
    * gate's `withStatePartitions(8)`.
    */
  def get(): SparkSession = {
    val spark = configure(SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .getOrElse(builder().getOrCreate()))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Make `spark` a graft session: set the graft settings, register the
    * `graft_*` SQL functions and the planner extensions (the as-of join
    * strategy and its filter-pushdown rule, through `experimental.*` on the
    * live session; [[GraftExtensions]] injects the same objects into a
    * session built with `spark.sql.extensions`). The session TZ
    * must be UTC: the Conversions timestamp semantics (naive-parse +
    * `from_utc_timestamp`) depend on it, so a host session in another TZ
    * must not silently shift datetime-no outputs.
    *
    * Idempotent per session: a session carrying the marker conf is returned
    * untouched, so the per-query calls (every SparkEntry query wraps its
    * body in configure) cost nothing after the first. Everything configure
    * sets is session-constant (per-gate shuffle-partition overrides go
    * through `withStatePartitions`, which restores). The marker is set
    * here, never by [[builder]]: a `newSession()` inherits the builder's
    * settings but not the session-scoped functions.
    */
  def configure(spark: SparkSession): SparkSession = {
    if (!spark.conf.getOption(ConfiguredMarker).contains("true")) {
      settings.foreach { case (k, v) => spark.conf.set(k, v) }
      functions.GraftFunctions.register(spark)
      org.apache.spark.sql.graft.Shim.registerStrategy(spark, plans.AsOfJoinStrategy)
      org.apache.spark.sql.graft.Shim.registerOptimizerRule(spark, plans.PushFilterThroughAsOfJoin)
      spark.conf.set(ConfiguredMarker, "true")
    }
    spark
  }

  private val ConfiguredMarker = "spark.graft.configured"
}
