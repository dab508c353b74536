package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.GraftSession
import graft.plans.TopKPerKeyStrategy

/** The activation contract: the factory activates its own sessions, and
  * `SparkEntry.queries` activates a session the driver built — once,
  * whatever the number of calls. */
class GraftSessionSpec extends AnyFunSuite with SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  private def strategies(s: SparkSession): Int =
    s.experimental.extraStrategies.count(_ == TopKPerKeyStrategy)

  /** Formatted WARN+ messages from `SimpleFunctionRegistry` (it logs one
    * per replaced temp function) while `body` runs. */
  private def registryWarnings(body: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val appender = new AbstractAppender("registry-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLoggerName.endsWith("SimpleFunctionRegistry"))
          seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(appender)
    try body
    finally { root.removeAppender(appender); appender.stop() }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("factory session resolves poly_hash and fnv1a32 (known answers)") {
    assert(spark.sql("SELECT poly_hash('hello') AS h").collect().head.getLong(0) == 418513571L)
    assert(spark.sql("SELECT fnv1a32('') AS h").collect().head.getLong(0) == 2166136261L)
  }

  test("SparkEntry activates a session it did not build: t4 and x17 match the factory session") {
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("poly_hash"))
    assert(strategies(fresh) == 0)
    for (name <- Seq("t4_fingerprint", "x17_topk_per_key")) {
      val got = SparkEntry.queries(name)(fresh, sf)
      assert(got.collect().toSeq == SparkEntry.queries(name)(spark, sf).collect().toSeq, name)
      if (name == "x17_topk_per_key")
        assert(got.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    }
    assert(strategies(fresh) == 1)
  }

  test("activate is idempotent: one strategy after two activations") {
    val fresh = spark.newSession()
    GraftSession.activate(fresh)
    GraftSession.activate(fresh)
    assert(strategies(fresh) == 1)
    assert(strategies(spark) == 1)
  }

  test("no function-registry replace warning over two factory calls and a query call") {
    val warnings = registryWarnings {
      GraftSession.local(4, "graft-session-spec-a")
      GraftSession.local(4, "graft-session-spec-b")
      SparkEntry.queries("t4_fingerprint")(spark, sf).collect()
    }
    assert(warnings.isEmpty, warnings.take(3).mkString(" | "))
  }
}
