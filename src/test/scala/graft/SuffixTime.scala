package graft

import org.apache.spark.sql.functions._

/** Dev-only phase-timing probe for the SuffixArray family on the gate
  * corpus slice — prints wall per stage (build / spans-extra / cut-extra)
  * so the round's perf work measures the right thing. Not a gate.
  */
object SuffixTime {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 5 === 0).select("doc_id", "text")
      .localCheckpoint(true)
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[sufftime] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    // warm
    t("warm-count")(docs.count())
    for (i <- 1 to (if (args.isEmpty) 2 else args(0).toInt)) {
      t(s"build#$i")(
        graft.operators.SuffixArray.build(docs, "doc_id", "text").count())
      t(s"spans#$i")(graft.operators.SuffixArray
        .repeatedSpans(docs, "doc_id", "text", minLen = 20).count())
      t(s"cut#$i")(graft.operators.SuffixArray
        .removeRepeatedText(docs, "doc_id", "text", minLen = 20).count())
    }
    spark.stop()
  }
}
