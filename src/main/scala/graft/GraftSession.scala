package graft

import org.apache.spark.sql.SparkSession

/** Session factory with graft's scale-oriented defaults.
  *
  * Local testing runs `local[32]` in one JVM, but every knob here is chosen
  * for the 1000-executor / 100 TB target:
  *   - AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
  *   - `nanosAsLong` because upstream parquet carries TIMESTAMP(NANOS), which
  *     Spark's vectorized reader otherwise rejects; graft converts explicitly
  *     via [[functions.Conversions.nanosToTimestamp]].
  *   - session TZ pinned UTC so timestamp semantics are deployment-invariant
  *     (the reference's Europe/Oslo wall-clock outputs are produced by
  *     explicit `from_utc_timestamp` conversions, never by session TZ).
  */
object GraftSession {

  /** Shuffle partition count: on a real cluster set this to 2-3x total
    * executor cores (or leave AQE's coalescing to trim it down from a high
    * initial value); locally match the core count.
    */
  def defaultShufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32")

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", defaultShufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // The Confluent-Avro decode builds its Row schema from the registry at
      // plan time — that dynamic shape needs the untyped ScalaUDF API.
      .config("spark.sql.legacy.allowUntypedScalaUDF", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Streaming state store: RocksDB when SPARK_GRAFT_ROCKSDB=1 — the
      // production choice once keyed state (sessionization, stream-stream
      // join buffers, dedup keys) outgrows executor heap; the default
      // HDFS-backed in-memory provider is faster for the small local gates.
      .config("spark.sql.streaming.stateStore.providerClass", stateStoreProvider)
      // Each streaming query runs on a clone of the session; with artifact
      // isolation on, every clone gets a new executor classloader, and
      // Spark's codegen cache (keyed on classloader and source) then misses
      // on every scheduled run. graft adds no session artifacts.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.ui.enabled", "false")

  /** Session for the library entry points (GraftMain/CurateMain). When a
    * session already EXISTS (an embedding host — Bench, Verify, a notebook,
    * a gate), it is reused via [[configure]] and its parallelism settings
    * are left alone: `builder().getOrCreate()` would re-apply the builder's
    * `spark.sql.shuffle.partitions` onto the live session (getOrCreate
    * copies builder options onto an existing session), silently clobbering
    * the host's sizing — found in round 15 as `withStatePartitions(8)`
    * being undone mid-gate by the e2e pipeline's internal `get()`. Only
    * when no session exists does the builder (with its scale defaults,
    * including the partition count) construct one.
    */
  def get(): SparkSession = {
    val spark = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .map(configure)
      .getOrElse(builder().getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    functions.GraftFunctions.register(spark)
    registerPlanExtensions(spark)
    spark
  }

  /** graft's planner extensions: the native as-of join strategy. Registered
    * through `experimental.extraStrategies` (idempotent) because the driver
    * owns session construction — a session built WITH
    * `SparkSessionExtensions` would inject the same strategy object at
    * build time.
    */
  def registerPlanExtensions(spark: SparkSession): Unit = {
    org.apache.spark.sql.graft.Shim.registerStrategy(spark, plans.AsOfJoinStrategy)
    org.apache.spark.sql.graft.Shim.registerOptimizerRule(
      spark, plans.PushFilterThroughAsOfJoin)
  }

  /** Apply graft settings to an externally-built session (Verify/Bench).
    * Pins session TZ to UTC: the Conversions timestamp semantics
    * (naive-parse + from_utc_timestamp) depend on it, so a host session in
    * another TZ must not silently shift datetime-no outputs.
    *
    * Idempotent per session (round 15): every SparkEntry query wraps its
    * body in configure, so a 250-gate bench re-ran the 22 temp-function
    * registrations and 8 conf writes 250 times on one session — pure
    * driver-side overhead (and 5,000+ "function replaced" log lines)
    * between timed gates. A session already carrying the marker conf is
    * returned untouched; everything configure sets is session-constant
    * (the per-gate shuffle-partition overrides go through
    * withStatePartitions, which restores, never through configure).
    */
  def configure(spark: SparkSession): SparkSession = {
    if (spark.conf.getOption(ConfiguredMarker).contains("true")) return spark
    spark.conf.set(ConfiguredMarker, "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.legacy.allowUntypedScalaUDF", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", stateStoreProvider)
    // See the builder. On a live session this takes effect for the sessions
    // cloned from it later (one per streaming query), which is what matters.
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")
    functions.GraftFunctions.register(spark)
    registerPlanExtensions(spark)
    spark
  }

  /** Session marker: set by [[configure]] on first application so repeated
    * per-query configure calls (the SparkEntry wrapper) are no-ops.
    */
  private val ConfiguredMarker = "spark.graft.configured"

  /** See the builder: RocksDB behind SPARK_GRAFT_ROCKSDB=1, else the
    * in-memory HDFS-backed default.
    */
  private def stateStoreProvider: String =
    if (sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1"))
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    else
      "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
}
