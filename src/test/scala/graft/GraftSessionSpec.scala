package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

class GraftSessionSpec extends SparkSpec {

  // SPARK_GRAFT_SHUFFLE overrides every master.
  private def expect(width: Int) = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", width.toString)

  test("defaultShufflePartitions: one per core on local masters, 32 elsewhere") {
    assert(GraftSession.defaultShufflePartitions("local[3]") == expect(3))
    assert(GraftSession.defaultShufflePartitions("local[3,2]") == expect(3))
    assert(GraftSession.defaultShufflePartitions("local[*]") ==
      expect(Runtime.getRuntime.availableProcessors))
    assert(GraftSession.defaultShufflePartitions("local") == expect(1))
    assert(GraftSession.defaultShufflePartitions("spark://host:7077") == expect(32))
  }

  test("builder: the master spark-submit set wins over the default, and sizes the width") {
    // spark-submit and spark-shell pass --master as this system property.
    val prior = sys.props.get("spark.master")
    sys.props("spark.master") = "local[3]"
    try {
      val b = GraftSession.builder()
      val options = b.getClass.getMethod("options").invoke(b)
        .asInstanceOf[scala.collection.Map[String, String]]
      assert(options.get("spark.master").contains("local[3]"))
      assert(options.get("spark.sql.shuffle.partitions").contains(expect(3)))
      assert(options.get("spark.sql.codegen.cache.maxEntries").contains("1000"))
      assert(!options.contains("spark.graft.configured"))
    } finally prior match {
      case Some(m) => System.setProperty("spark.master", m)
      case None => System.clearProperty("spark.master")
    }
  }

  test("configure: a live session keeps the builder's codegen cache bound and is not asked to set it") {
    // A static conf: setting it on a live session throws.
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.conf.set("spark.sql.codegen.cache.maxEntries", "1000")
    }
    val fresh = spark.newSession()
    assert(!fresh.conf.getOption("spark.graft.configured").contains("true"))
    GraftSession.configure(fresh)
    assert(fresh.conf.get("spark.sql.codegen.cache.maxEntries") == "1000")
  }

  test("get(): a configured session registers no function again") {
    spark // built first, so get() finds it
    val replaced = new AtomicInteger
    val appender = new AbstractAppender("graft-replaced", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
          replaced.incrementAndGet()
    }
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = "org.apache.spark.sql.catalyst.analysis"
    val logConfig = new LoggerConfig(logger, Level.WARN, false)
    logConfig.addAppender(appender, Level.WARN, null)
    appender.start()
    ctx.getConfiguration.addLogger(logger, logConfig)
    ctx.updateLoggers()
    try {
      assert(GraftSession.get() eq spark)
      GraftSession.get()
    } finally {
      ctx.getConfiguration.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
      spark.sparkContext.setLogLevel("ERROR")
    }
    assert(replaced.get == 0)
  }
}
