package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the spec pyramid (one JVM-wide session — Spark
  * startup dominates test wall-time otherwise). It is the production session
  * from [[GraftSession]], four cores wide, with its own warehouse dir.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(GraftSession.builder("local[4]")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark
}
