package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator for the three workloads.
  *
  * Every record is built driver-side from one `SplittableRandom(seed)`, so
  * the same seed yields the same records in the same order; `digest` is a
  * SHA-256 over their canonical bytes. The generator also keeps the ground
  * truth the output checks compare against. Spark is used only to write the
  * records as parquet (one file per table).
  */
object Gen {

  /** Message categories planted in the topic. */
  sealed trait Kind
  case object Normal extends Kind     // well-formed, passes the message filter
  case object Mismatch extends Kind   // well-formed, fails `message-filters`
  case object Malformed extends Kind  // truncated JSON -> error channel
  case object Tombstone extends Kind  // NULL value

  final case class Msg(
      offset: Long, userId: Long, tsMs: Long, kind: Kind, value: String /* null = tombstone */) {
    /** Masked by the k6 join iff well-formed, filter-matching and screened. */
    def masked(screen: Screening): Boolean = kind == Normal && screen.masks(userId, tsMs)
  }

  /** Screened persons: pid -> validity interval in UTC day numbers
    * (`skjermet_kode` 6/7), plus decoys the dimension holds but that never
    * mask (code 1, or a validity interval in the past).
    */
  final case class Screening(active: Map[Long, (Long, Long)], decoys: Seq[(Long, Int, Long, Long)]) {
    def masks(pid: Long, tsMs: Long): Boolean = active.get(pid).exists { case (fra, til) =>
      val day = Math.floorDiv(tsMs, DayMs)
      day >= fra && day <= til
    }
  }

  /** Expected `ProcessSummary` counters and sink effects of one run over `msgs`
    * against a sink that already holds the values in `delivered`.
    */
  final case class Expect(
      events: Long, empty: Long, errors: Long, written: Long,
      nullMessagesWritten: Long, maskedWritten: Long) {
    def nonEmpty: Long = events - empty
  }

  val DayMs = 86400000L
  /** 2024-06-10T00:00:00Z: far from the Europe/Oslo DST switches. */
  val EpochStartMs = 1717977600000L
  val Users = 2000L
  val AllowedStatus = Seq("ACTIVE", "PENDING")

  val PayloadDdl: String =
    "id LONG, status STRING, person STRUCT<id: LONG, name: STRING, email: STRING>, " +
      "amount DOUBLE, created STRING, tags ARRAY<STRING>, " +
      "meta STRUCT<source: STRING, version: INT, secret: STRING>, " +
      "items ARRAY<STRUCT<sku: STRING, qty: INT, note: STRING>>"

  def expect(msgs: Seq[Msg], delivered: collection.Set[String], screen: Screening): Expect = {
    val fresh = msgs.filter(m => m.value != null && !delivered.contains(m.value))
      .map(_.value).distinct
    val freshSet = fresh.toSet
    // A run drops intra-batch duplicates on kafka_hash; every tombstone has a
    // NULL hash, so a run's tombstones collapse into one written row, and a
    // NULL hash never matches the sink, so that row is always written.
    val tomb = if (msgs.exists(_.kind == Tombstone)) 1L else 0L
    val writtenMsgs = msgs.filter(m => m.value != null && freshSet.contains(m.value))
      .groupBy(_.value).values.map(_.head).toSeq
    Expect(
      events = msgs.size.toLong,
      empty = msgs.count(_.kind != Normal).toLong,
      errors = msgs.count(_.kind == Malformed).toLong,
      written = fresh.size.toLong + tomb,
      nullMessagesWritten = tomb + writtenMsgs.count(m => m.kind != Normal || m.masked(screen)),
      maskedWritten = writtenMsgs.count(_.masked(screen)).toLong)
  }

  // ------------------------------------------------------------ messages

  final class MessageGen(seed: Long, salt: Long) {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)
    private var nextOffset = 0L
    private var clockMs = EpochStartMs + rnd.nextLong(3600000L)

    val screening: Screening = {
      val pids = (1L to Users).filter(_ % 23 == 0)
      val active = pids.map { p =>
        // Most screenings cover the whole window; some end on day 1, so
        // masking depends on the message day as well as the person.
        val fraDay = Math.floorDiv(EpochStartMs, DayMs) - 400
        val tilDay = if (p % 3 == 0) Math.floorDiv(EpochStartMs, DayMs) + 1 else fraDay + 4000
        p -> (fraDay, tilDay)
      }.toMap
      val decoys = (1L to Users).filter(p => p % 31 == 0 && !active.contains(p)).map { p =>
        if (p % 2 == 0) (p, 1, Math.floorDiv(EpochStartMs, DayMs) - 400, Math.floorDiv(EpochStartMs, DayMs) + 4000)
        else (p, 7, Math.floorDiv(EpochStartMs, DayMs) - 900, Math.floorDiv(EpochStartMs, DayMs) - 500)
      }
      Screening(active, decoys)
    }

    private def word(n: Int): String = {
      val syl = Array("ka", "ro", "mi", "te", "su", "na", "vo", "li", "de", "ga")
      val sb = new StringBuilder
      var x = n
      do { sb.append(syl(x % 10)); x /= 10 } while (x > 0)
      sb.toString
    }

    private def payload(id: Long, pid: Long, tsMs: Long, status: String): String = {
      val sb = new StringBuilder(512)
      sb.append(s"""{"id": $id, "status": "$status", """)
      sb.append(s""""person": {"id": $pid, "name": "${word(rnd.nextInt(5000))} ${word(rnd.nextInt(5000))}", """)
      sb.append(s""""email": "${word(rnd.nextInt(100000))}@example.no"}, """)
      val cents = rnd.nextInt(1000000)
      sb.append(s""""amount": ${cents / 100}.${cents % 100 / 10}${cents % 10}, """)
      val created = java.time.Instant.ofEpochMilli(tsMs - rnd.nextLong(86400000L))
        .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime.withNano(0).toString.replace('T', ' ')
      sb.append(s""""created": "$created", """)
      val nTags = rnd.nextInt(5)
      sb.append((0 until nTags).map(_ => "\"" + word(rnd.nextInt(300)) + "\"").mkString("\"tags\": [", ", ", "], "))
      sb.append(s""""meta": {"source": "${word(rnd.nextInt(20))}", "version": ${1 + rnd.nextInt(4)}, """)
      sb.append(s""""secret": "${java.lang.Long.toHexString(rnd.nextLong())}"}, """)
      // Zipf-ish nesting: most messages carry 1-2 items, a few carry many.
      val nItems = 1 + (math.floor(math.pow(rnd.nextDouble(), 3.0) * 8)).toInt
      sb.append((0 until nItems).map { _ =>
        val note = (0 until (1 + rnd.nextInt(6))).map(_ => word(rnd.nextInt(2000))).mkString(" ")
        s"""{"sku": "S${rnd.nextInt(90000) + 10000}", "qty": ${1 + rnd.nextInt(9)}, "note": "$note"}"""
      }.mkString("\"items\": [", ", ", "]"))
      sb.append("}")
      sb.toString
    }

    /** Next message; `kindOverride` pins the category (boundary messages). */
    def next(stepMs: Long, kindOverride: Option[Kind] = None): Msg = {
      val offset = nextOffset; nextOffset += 1
      clockMs += stepMs / 2 + rnd.nextLong(stepMs) + 1
      val pid = 1 + rnd.nextLong(Users)
      val r = rnd.nextDouble()
      val kind = kindOverride.getOrElse(
        if (r < 0.01) Tombstone else if (r < 0.02) Malformed else if (r < 0.10) Mismatch else Normal)
      val value = kind match {
        case Tombstone => null
        case Mismatch => payload(offset, pid, clockMs, "TEST")
        case Normal => payload(offset, pid, clockMs, AllowedStatus(rnd.nextInt(2)))
        case Malformed =>
          val full = payload(offset, pid, clockMs, "ACTIVE")
          // Cut after the unique id so every malformed value stays distinct.
          val from = full.indexOf(',') + 1
          full.substring(0, from + rnd.nextInt(full.length - 2 - from))
      }
      Msg(offset, pid, clockMs, kind, value)
    }
  }

  def digestOf(parts: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach { p =>
      md.update(Option(p).getOrElse("\u0000null").getBytes(UTF_8)); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def msgDigest(msgs: Seq[Msg]): Iterator[String] =
    msgs.iterator.map(m => s"${m.offset}|${m.userId}|${m.tsMs}|${m.kind}|${m.value}")

  /** Write `rows` as exactly one parquet file under `path`. */
  def writeParquet(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite").parquet(path)

  def writeDim(spark: SparkSession, s: Screening, path: String): Unit = {
    val schema = StructType(Seq(
      StructField("off_id", StringType), StructField("gyldig_fra_dato", TimestampType),
      StructField("gyldig_til_dato", TimestampType), StructField("skjermet_kode", IntegerType)))
    def ts(day: Long) = new java.sql.Timestamp(day * DayMs)
    val rows = s.active.toSeq.sortBy(_._1).map { case (p, (f, t)) =>
      Row(p.toString, ts(f), ts(t), if (p % 2 == 0) 6 else 7)
    } ++ s.decoys.map { case (p, code, f, t) => Row(p.toString, ts(f), ts(t), code) }
    writeParquet(spark, rows, schema, path)
  }

  /** The canonical message frame (`MessageSource.schema`) for topic files. */
  def topicRows(msgs: Seq[Msg]): Seq[Row] = msgs.map { m =>
    Row(m.userId.toString.getBytes(UTF_8), Option(m.value).map(_.getBytes(UTF_8)).orNull,
      "events", (m.userId % 8).toInt, m.offset, m.tsMs)
  }

  /** The `events` table shape that `MessageSource.fromEvents` reads. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("props", StringType), StructField("ts", LongType)))

  def eventRows(msgs: Seq[Msg]): Seq[Row] =
    msgs.map(m => Row(m.offset, m.userId, m.value, m.tsMs * 1000000L))

  // -------------------------------------------------------------- corpus

  final case class Corpus(
      docs: IndexedSeq[(Long, String)],
      bench: IndexedSeq[(Long, String)],
      contaminated: Set[Long],
      tokens: Long)

  def corpus(seed: Long, nDocs: Int, nBench: Int): Corpus = {
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 3)
    val vocabSize = 20000
    val vocab = Array.tabulate(vocabSize) { i =>
      val syl = Array("ba", "ke", "di", "lo", "mu", "sa", "ti", "vo", "ne", "ra", "gu", "pe")
      val sb = new StringBuilder
      var x = i + 12
      while (x > 0) { sb.append(syl(x % 12)); x /= 12 }
      sb.toString
    }
    // Zipf(1.05) over the vocabulary by inverse CDF.
    val cdf = {
      val w = Array.tabulate(vocabSize)(r => 1.0 / math.pow(r + 1, 1.05))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def draw(): String = {
      val u = rnd.nextDouble()
      var lo = 0; var hi = vocabSize - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      vocab(lo)
    }
    def words(lo: Int, hi: Int): Array[String] = Array.fill(lo + rnd.nextInt(hi - lo + 1))(draw())

    val bench = (0 until nBench).map(i => (1000000L + i, words(50, 100).mkString(" ")))
    // Planted shares are exact counts, not per-document draws, so every seed
    // carries the same amount of duplicate work: ~10% exact duplicates, ~10%
    // near duplicates, ~2% too short, ~1% contaminated, the rest original.
    val nExact = nDocs / 10
    val nNear = nDocs / 10
    val nShort = nDocs / 50
    val nContam = math.max(1, nDocs / 100)
    val originals = IndexedSeq.fill(nDocs - nExact - nNear - nShort - nContam)(words(60, 300))
    def pick() = originals(rnd.nextInt(originals.size))
    val texts = mutable.ArrayBuffer.empty[(String, Boolean)]
    texts ++= originals.map(w => (w.mkString(" "), false))
    texts ++= (0 until nExact).map(_ => (pick().mkString(" "), false))
    texts ++= (0 until nNear).map { _ =>
      // Near duplicate: replace ~2% of the words (at least one).
      val w = pick().clone()
      (0 until math.max(1, w.length / 50)).foreach(_ => w(rnd.nextInt(w.length)) = draw())
      (w.mkString(" "), false)
    }
    texts ++= (0 until nShort).map(_ => (words(4, 12).mkString(" "), false)) // below min-words
    texts ++= (0 until nContam).map { _ =>
      // Contaminated: a 20-word passage of a benchmark document.
      val b = bench(rnd.nextInt(nBench))._2.split(' ')
      val at = rnd.nextInt(b.length - 20)
      ((words(30, 120) ++ b.slice(at, at + 20) ++ words(10, 60)).mkString(" "), true)
    }
    // Seeded Fisher-Yates shuffle, then ids in the shuffled order.
    for (i <- texts.indices.reverse.dropRight(1)) {
      val j = rnd.nextInt(i + 1)
      val t = texts(i); texts(i) = texts(j); texts(j) = t
    }
    val docs = texts.zipWithIndex.map { case ((t, _), i) => (i.toLong, t) }.toIndexedSeq
    val contaminated = texts.zipWithIndex.collect { case ((_, true), i) => i.toLong }
    Corpus(docs, bench, contaminated.toSet, docs.map(_._2.count(_ == ' ') + 1L).sum)
  }

  val corpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
}
