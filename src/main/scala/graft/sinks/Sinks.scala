package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{ColumnTypeOverride, TargetConfig}

/** S8/S9/S10 + S11: sinks and the delta-watermark scan.
  *
  * A sink is anything that can (a) write a batch and (b) expose the existing
  * rows needed by the J2 dedup anti-join and the S11 watermark. JDBC/Oracle is
  * the production target; parquet backs the test pyramid (no DB containers in
  * this environment — same split as SURVEY §5).
  */
trait GraftSink {
  def write(df: DataFrame): Unit
  /** Existing sink rows projected to `cols` (for J2); empty frame if the sink
    * target does not exist yet.
    */
  def existing(spark: SparkSession, cols: Seq[String]): Option[DataFrame]
  /** S11/A1: `SELECT max(deltaColumn)` over the sink — the incremental-load
    * high watermark (`/root/reference/src/oracle_target.py:30-43`). Pushed to
    * the source where the connector supports aggregate pushdown.
    */
  def maxWatermark(spark: SparkSession, deltaColumn: String): Option[java.sql.Timestamp] = {
    existing(spark, Seq(deltaColumn)).flatMap { df =>
      val r = df.agg(max(col(deltaColumn))).head()
      if (r.isNullAt(0)) None else Some(r.get(0) match {
        case t: java.sql.Timestamp => t
        case other => java.sql.Timestamp.valueOf(other.toString)
      })
    }
  }
}

/** S8: JDBC sink (Oracle in production). `columnTypes` is the whitelisted
  * replacement for the reference's eval'd `custom-config` bind overrides
  * (`/root/reference/src/base.py:35-42`): it becomes explicit casts plus
  * `createTableColumnTypes`. `batchsize` mirrors `batch-size`-per-executemany
  * (`/root/reference/src/oracle_target.py:113`); rows flow straight from
  * executors to the DB — the driver never materializes a batch.
  */
final class JdbcSink(
    url: String,
    table: String,
    connProps: Map[String, String] = Map.empty,
    columnTypes: Seq[ColumnTypeOverride] = Nil,
    batchSize: Int = 5000) extends GraftSink {

  private def props: java.util.Properties = {
    val p = new java.util.Properties()
    connProps.foreach { case (k, v) => p.setProperty(k, v) }
    p.setProperty("batchsize", batchSize.toString)
    p
  }

  /** The `createTableColumnTypes` option text — the declarative stand-in for
    * the reference's eval'd `setinputsizes` bind coercions
    * (`/root/reference/src/base.py:35-42`, e.g. a CLOB override for
    * `kafka_message`). Golden-pinned by SourcesSinksSpec so dialect drift in
    * the emitted DDL fragment is caught without a DB.
    */
  private[graft] def createTableTypesOption: Option[String] =
    if (columnTypes.isEmpty) None
    else Some(columnTypes.map(o => s"${o.column} ${o.sqlType}").mkString(", "))

  override def write(df: DataFrame): Unit = {
    val w = df.write.mode("append")
    val withTypes = createTableTypesOption.fold(w)(w.option("createTableColumnTypes", _))
    withTypes.jdbc(url, table, props)
  }

  /** Existing rows for the J2 anti-join. ONLY "table does not exist" maps to
    * None (first run against a fresh target); connectivity/auth/any other
    * JDBC failure propagates. Swallowing those would silently degrade the
    * skip-duplicates guarantee to intra-batch-only and double-insert.
    */
  override def existing(spark: SparkSession, cols: Seq[String]): Option[DataFrame] =
    try Some(spark.read.jdbc(url, table, props).select(cols.map(col): _*))
    catch { case e: Throwable if JdbcSink.isMissingTable(e) => None }

  /** J2 write with the dup-check INSIDE each INSERT — the reference's exact
    * SQL shape (`INSERT INTO t (cols) SELECT :binds FROM dual WHERE NOT
    * EXISTS (dup-check)`, `/root/reference/src/oracle_target.py:99-104`) —
    * instead of the read-existing-then-append anti-join, whose existing-set
    * snapshot is stale for the whole batch: a concurrent writer (or a task
    * retry after a partial commit) lands duplicates the snapshot never saw.
    * Here every row's check and insert are one statement in one transaction,
    * so retries are idempotent and the only remaining race is two writers
    * passing the SAME row's NOT EXISTS concurrently — close that end-state
    * with a unique index on the keys, exactly as the reference deployment
    * does.
    *
    * Executor-side streaming: each partition opens one connection, binds a
    * prepared statement per row, `executeBatch` + commit every `batchSize`
    * rows (the reference's executemany-then-commit cadence). The driver
    * never materializes the batch. Returns the number of rows actually
    * inserted (batch update counts; a 0 count = duplicate skipped).
    *
    * Count caveat: the SINK state is exact under any failure (every statement
    * is idempotent), but the returned count is exact only absent Spark TASK
    * retries — a task that dies after committing some mini-batches loses
    * those accumulator updates, and its replacement re-observes the rows as
    * duplicates (0 counts): the total under-reports what this call inserted.
    * Audit-grade counts should query the sink, not trust the return.
    */
  def writeSkipDuplicates(df: DataFrame, keys: Seq[String], numConnections: Int = 8): Long = {
    require(keys.nonEmpty, "writeSkipDuplicates needs at least one dedup key column")
    val schema = df.schema
    require(keys.forall(schema.fieldNames.contains), s"keys $keys must be columns of the frame")
    // Spark's JDBC writer creates columns as QUOTED (case-exact) identifiers;
    // unquoted refs would resolve case-insensitively and miss them.
    val q = (c: String) => "\"" + c + "\""
    // Target must exist for the NOT EXISTS probe: create it empty on first
    // run (same DDL path as append — createTableColumnTypes honored), plus a
    // unique index on the keys: it turns the probe into an index lookup
    // (instead of a table scan that lock-conflicts every concurrent writer)
    // and closes the two-writers-pass-the-same-NOT-EXISTS race at the
    // constraint level — the violation is absorbed by the idempotent-replay
    // flush below.
    if (existing(df.sparkSession, Seq(schema.fieldNames.head)).isEmpty) {
      write(df.limit(0))
    }
    ensureUniqueIndex(keys, q)
    val sql = mergeSql(schema, keys)
    // Locals only in the task closure — capturing fields would drag `this`
    // (and a non-serializable Properties) into every task.
    val (u, bs) = (url, batchSize)
    val cp = connProps
    val keyIdx = keys.map(schema.fieldIndex).toArray
    val jdbcTypes = schema.fields.map(f => JdbcSink.jdbcTypeCode(f.dataType))
    val inserted = df.sparkSession.sparkContext.longAccumulator("graft.merge.inserted")
    // Bounded connection fan-in: a 1000-executor stage must not open 32k
    // sessions against one DB — the sink, not the upstream plan, owns the
    // write parallelism (the reference is the degenerate numConnections=1).
    df.coalesce(numConnections).foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val p = new java.util.Properties()
        cp.foreach { case (k, v) => p.setProperty(k, v) }
        val conn = java.sql.DriverManager.getConnection(u, p)
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(sql)
          val buf = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](bs)
          // Flush with idempotent replay: on deadlock / lock-timeout /
          // unique-violation the transaction is rolled back and the SAME
          // mini-batch re-executed — safe precisely because each statement
          // skips rows that already landed. Anything non-retriable (or the
          // 6th consecutive failure) propagates and fails the task.
          def flush(): Unit = if (buf.nonEmpty) {
            var attempt = 0
            var done = false
            while (!done) {
              try {
                buf.foreach { row =>
                  var i = 0
                  while (i < row.length) {
                    if (row.isNullAt(i)) ps.setNull(i + 1, jdbcTypes(i))
                    else ps.setObject(i + 1, row.get(i))
                    i += 1
                  }
                  keyIdx.zipWithIndex.foreach { case (ki, j) =>
                    if (row.isNullAt(ki)) ps.setNull(row.length + j + 1, jdbcTypes(ki))
                    else ps.setObject(row.length + j + 1, row.get(ki))
                  }
                  ps.addBatch()
                }
                val counts = ps.executeBatch().map(_.max(0).toLong).sum
                conn.commit()
                // Count only AFTER the commit: a retriable failure at commit
                // time replays the mini-batch, and counts added before it
                // would double-tally rows whose insert never became durable.
                inserted.add(counts)
                done = true
              } catch {
                case e: java.sql.SQLException if attempt < 5 && JdbcSink.isRetriableWrite(e) =>
                  attempt += 1
                  try conn.rollback() catch { case _: java.sql.SQLException => () }
                  ps.clearBatch()
                  Thread.sleep(50L * attempt + java.util.concurrent.ThreadLocalRandom.current().nextInt(50))
              }
            }
            buf.clear()
          }
          rows.foreach { row =>
            buf += row
            if (buf.size >= bs) flush()
          }
          flush()
          ps.close()
        } finally conn.close()
      }
    }
    inserted.value
  }

  /** The exact dup-check INSERT text — the engine's rendering of the
    * reference's `insert into t (cols) select :binds from dual where 1=1 and
    * not exists ( select null from t where k=:k and ... )`
    * (`/root/reference/src/oracle_target.py:95-104`), with three deliberate
    * deltas: bind markers are JDBC `?` with explicit `CAST`s (Derby rejects
    * untyped parameters in a SELECT list; the casts also carry the
    * [[ColumnTypeOverride]] coercions the reference routes through
    * `setinputsizes`), identifiers are quoted case-exact (Spark's JDBC
    * writer creates quoted columns), and the dual relation is
    * dialect-dispatched (`dual` on Oracle, `SYSIBM.SYSDUMMY1` on
    * Derby/DB2). Factored out so the spec can golden-pin the emitted text
    * per dialect without a database. The reference's tuple-IN
    * `(1,:n)`-list workaround for Oracle's 1000-item IN limit
    * (`oracle_target.py:63-66`) has no analogue here by design: the k6
    * mask is a distributed semi-join, never an IN list.
    */
  private[graft] def mergeSql(schema: org.apache.spark.sql.types.StructType, keys: Seq[String]): String = {
    val q = (c: String) => "\"" + c + "\""
    val overrides = columnTypes.map(o => o.column -> o.sqlType).toMap
    val castType = schema.fields.map(f => f.name ->
      overrides.getOrElse(f.name, JdbcSink.sqlCastType(f.dataType))).toMap
    val cols = schema.fieldNames.toSeq
    val binds = cols.map(c => s"CAST(? AS ${castType(c)})").mkString(", ")
    val dupCheck = keys.map(k => s"x.${q(k)} = CAST(? AS ${castType(k)})").mkString(" AND ")
    s"""INSERT INTO $table (${cols.map(q).mkString(", ")})
       |SELECT $binds FROM ${JdbcSink.dualTable(url)}
       |WHERE NOT EXISTS (SELECT 1 FROM $table x WHERE $dupCheck)""".stripMargin
  }

  /** The unique key index is attempted on EVERY dup-check write, not only
    * when this writer creates the table: a target created earlier by a plain
    * append would otherwise never get the constraint, leaving the
    * two-writers-pass-the-same-NOT-EXISTS race open with no signal.
    * "Already exists" is the steady state and stays silent; any OTHER
    * failure is logged loudly — the NOT EXISTS probe remains the correctness
    * path, but operators must know the concurrent-writer backstop is absent.
    */
  private def ensureUniqueIndex(keys: Seq[String], q: String => String): Unit = {
    val name = s"${table.replace('.', '_')}_gdx"
    val conn = java.sql.DriverManager.getConnection(url, props)
    try conn.createStatement().execute(
      s"CREATE UNIQUE INDEX $name ON $table (${keys.map(q).mkString(", ")})")
    catch {
      case e: java.sql.SQLException if JdbcSink.isIndexAlreadyExists(e) => ()
      case e: java.sql.SQLException =>
        System.err.println(
          s"""{"level":"WARN","msg":"unique index $name on $table(${keys.mkString(",")}) could not be created; """ +
            s"""concurrent-writer dedup backstop absent: ${Option(e.getMessage).getOrElse("").replace('"', '\'').replace('\n', ' ')}"}""")
    } finally conn.close()
  }
}

object JdbcSink {
  /** The single-row dummy relation for `INSERT … SELECT binds FROM <dual>`:
    * Oracle's `dual`, Derby/DB2's `SYSIBM.SYSDUMMY1`.
    */
  private[sinks] def dualTable(url: String): String =
    if (url.startsWith("jdbc:oracle")) "dual" else "SYSIBM.SYSDUMMY1"

  /** SQL type for binding casts (Derby rejects untyped `?` in a SELECT list;
    * Oracle infers but the cast is harmless). Overridable per column via
    * [[ColumnTypeOverride]].
    */
  private[sinks] def sqlCastType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "BIGINT"
      case IntegerType | ShortType | ByteType => "INTEGER"
      case DoubleType | FloatType => "DOUBLE"
      case BooleanType => "BOOLEAN"
      case TimestampType | TimestampNTZType => "TIMESTAMP"
      case DateType => "DATE"
      case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
      case _ => "VARCHAR(4000)"
    }
  }

  private[sinks] def jdbcTypeCode(dt: org.apache.spark.sql.types.DataType): Int = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => java.sql.Types.BIGINT
      case IntegerType | ShortType | ByteType => java.sql.Types.INTEGER
      case DoubleType | FloatType => java.sql.Types.DOUBLE
      case BooleanType => java.sql.Types.BOOLEAN
      case TimestampType | TimestampNTZType => java.sql.Types.TIMESTAMP
      case DateType => java.sql.Types.DATE
      case _: DecimalType => java.sql.Types.DECIMAL
      case _ => java.sql.Types.VARCHAR
    }
  }

  /** `e` and its causes, at most 16 deep (a cyclic cause chain ends there). */
  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)

  /** Retriable write failures for the idempotent-replay flush: deadlock
    * (SQLState 40001, Oracle ORA-00060), Derby lock timeouts (40XL1/40XL2),
    * and unique-key violation (23505 — two writers passed the same row's
    * NOT EXISTS; replay skips it).
    */
  private[sinks] def isRetriableWrite(e: java.sql.SQLException): Boolean =
    causes(e).exists {
      case s: java.sql.SQLException =>
        val state = Option(s.getSQLState).getOrElse("")
        state == "40001" || state == "40XL1" || state == "40XL2" || state == "23505" ||
          s.getErrorCode == 60
      case _ => false
    }

  /** Duplicate-index detection for the idempotent ensure-index call: Derby
    * X0Y32 ("already exists"), standard 42S11/42S01 variants, Oracle
    * ORA-00955 ("name is already used by an existing object").
    */
  private[sinks] def isIndexAlreadyExists(e: java.sql.SQLException): Boolean =
    causes(e).exists {
      case s: java.sql.SQLException =>
        val state = Option(s.getSQLState).getOrElse("")
        state == "X0Y32" || state == "42S11" || state == "42S01" || s.getErrorCode == 955
      case _ => false
    }

  /** True iff the exception chain denotes a missing table/view, by SQLState
    * (ANSI/MySQL 42S02, Postgres 42P01, Derby 42X05), vendor code (Oracle
    * ORA-00942) or, for wrapped analysis errors, message text.
    */
  private[sinks] def isMissingTable(e: Throwable): Boolean =
    causes(e).exists {
      case s: java.sql.SQLException =>
        val state = Option(s.getSQLState).getOrElse("")
        state == "42S02" || state == "42P01" || state == "42X05" || s.getErrorCode == 942
      case other =>
        val m = Option(other.getMessage).getOrElse("")
        m.matches("(?is).*(table or view does not exist|table or view .* not found|table .* (does not exist|not found)).*")
    }
}

/** Parquet-backed sink for the file test pyramid; append semantics like the
  * Oracle INSERT path.
  */
final class ParquetSink(path: String) extends GraftSink {
  override def write(df: DataFrame): Unit = df.write.mode("append").parquet(path)
  /** Resolved through the Hadoop FS API, so a `file://`, `hdfs://` or
    * `s3a://` target is found like a plain local path.
    */
  override def existing(spark: SparkSession, cols: Seq[String]): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(path).select(cols.map(col): _*))
    else None
  }
}

/** S10: console sink (`/root/reference/src/console_target.py:10-15`). */
final class ConsoleSink(numRows: Int = 20) extends GraftSink {
  override def write(df: DataFrame): Unit = df.show(numRows, truncate = false)
  override def existing(spark: SparkSession, cols: Seq[String]): Option[DataFrame] = None
}

object Sinks {

  /** S9 (`/root/reference/src/kafka_target.py:79-90`): serialize rows to the
    * Confluent-Avro wire format as a canonical Kafka producer frame
    * (`key BINARY, value BINARY`) — `.write.format("kafka")` ready. The
    * reference keys messages with uuid4; a random key's only job is
    * partition spreading, so graft uses a deterministic spread key derived
    * from the row content (replay-stable, same distribution).
    */
  def kafkaAvroFrame(
      df: org.apache.spark.sql.DataFrame,
      datum: org.apache.spark.sql.Column,
      writerSchemaJson: String,
      schemaId: Int): org.apache.spark.sql.DataFrame = {
    val value = graft.sources.ConfluentAvro.encode(datum, writerSchemaJson, schemaId)
    df.select(
      sha2(to_json(datum), 256).cast("binary").as("key"),
      value.as("value"))
  }
  /** Build the sink described by a [[TargetConfig]]: `jdbc:…` URLs → JDBC,
    * `console` → console, anything else → parquet path.
    */
  def forTarget(t: TargetConfig, jdbcUrl: Option[String] = None, batchSize: Int = 5000): GraftSink =
    jdbcUrl match {
      case Some(u) => new JdbcSink(u, t.table, columnTypes = t.columnTypes, batchSize = batchSize)
      case None if t.table == "console" => new ConsoleSink()
      case None => new ParquetSink(t.table)
    }
}
