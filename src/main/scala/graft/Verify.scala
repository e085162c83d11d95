package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [nameRegex] — the optional filter is a local
    // dev convenience (the driver always passes exactly two args); it
    // selects both the gates run and the oracles written, so a filtered
    // dump checks only that family.
    val (sfDir, outDir) = (args(0), args(1))
    val nameFilter: String => Boolean =
      if (args.length > 2) { val re = args(2).r; n => re.findFirstIn(n).isDefined }
      else _ => true
    val spark = GraftSession.get()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(e => nameFilter(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape (backslash, quote, ALL control chars): a tab or CR
    // in an oracle's SQL would otherwise make oracle_sql.json unreadable to
    // any JSON parser, and every gate with it.
    def q(s: String): String = "\"" + GraftMain.jsonEscape(s) + "\""
    val json = SparkEntry.oracleSql.filter(e => nameFilter(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
