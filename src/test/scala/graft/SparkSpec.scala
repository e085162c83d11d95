package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for the spec pyramid (one JVM-wide session — Spark
  * startup dominates test wall-time otherwise). It is the production session
  * from [[GraftSession]], four cores wide, with its own warehouse dir, which
  * is deleted when the JVM exits.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-warehouse")
    sys.addShutdownHook(QueriesExt.rmTree(warehouse.toFile))
    val s = GraftSession.configure(GraftSession.builder("local[4]")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  private val scratchDirs = mutable.ArrayBuffer.empty[Path]

  /** A new directory in the temp dir, deleted with its contents after the suite. */
  protected def scratchDir(prefix: String): Path = scratchDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    scratchDirs += dir
    dir
  }

  override protected def afterAll(): Unit =
    try scratchDirs.foreach(d => QueriesExt.rmTree(d.toFile)) finally super.afterAll()
}
