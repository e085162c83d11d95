package graft

import org.apache.spark.sql.functions._

/** Differential-fuzz emitter for the T8/T9 epoch→Oslo converters (dev
  * tool): seeded random epoch-millis — uniform over 1960–2030 plus a dense
  * slice within ±3 h of every real Europe/Oslo zone transition — rendered
  * through [[graft.functions.Conversions.unixMillisOslo]] and printed as
  * `epochMs<TAB>yyyy-MM-dd HH:mm:ss.SSS` lines. `tools/epochoslo_diff.py`
  * executes the REFERENCE'S OWN `int_ms_to_date`/`_adjust_timezone`
  * (extracted verbatim from `/root/reference/src/transform.py`, pytz and
  * all) on every input and compares, classifying any mismatch by its
  * distance to the nearest transition instant — so the documented
  * divergence (the reference offsets by pytz's lookup AT THE NAIVE UTC
  * WALL, which lags the instant's true offset for 1–2 h after each
  * transition) is MEASURED, not just asserted.
  *
  * `Test/runMain graft.EpochOsloFuzz [n] [seed] [outFile]`
  */
object EpochOsloFuzz {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(100000)
    val seed = args.drop(1).headOption.map(_.toLong).getOrElse(12L)
    val outFile = args.drop(2).headOption
    val rnd = new scala.util.Random(seed)

    val rules = java.time.ZoneId.of("Europe/Oslo").getRules
    val transitions = {
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      var t = rules.nextTransition(java.time.Instant.parse("1960-01-01T00:00:00Z"))
      while (t != null && t.getInstant.getEpochSecond < 1893456000L) {
        buf += t.getInstant.toEpochMilli
        t = rules.nextTransition(t.getInstant)
      }
      buf.toIndexedSeq
    }
    val lo = -315619200000L // 1960
    val hi = 1893456000000L // 2030
    val epochs = (0 until n).map { _ =>
      if (rnd.nextInt(5) == 0 && transitions.nonEmpty) {
        // dense near-transition slice: ±3 h around a real transition
        transitions(rnd.nextInt(transitions.size)) +
          (rnd.nextLong() % (3L * 3600 * 1000))
      } else lo + math.floorMod(rnd.nextLong(), hi - lo)
    }

    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = epochs.toDF("ms")
      .select(col("ms"), date_format(
        graft.functions.Conversions.unixMillisOslo(col("ms")),
        "yyyy-MM-dd HH:mm:ss.SSS").as("oslo"))
      .as[(Long, String)].collect()
    val sink: java.io.OutputStream = outFile
      .map(p => new java.io.FileOutputStream(p))
      .getOrElse(System.out)
    val out = new java.io.PrintStream(new java.io.BufferedOutputStream(sink, 1 << 20), false, "UTF-8")
    rows.foreach { case (ms, s) => out.println(s"$ms\t$s") }
    out.flush()
    spark.stop()
  }
}
