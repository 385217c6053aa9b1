package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Cache-lifetime hook: library-internal caches register themselves
  * and a host can bulk-unpersist at its query-face boundary, so
  * long-lived sessions running stats queries repeatedly don't
  * accumulate pins. */
class CacheRegistrySpec extends SparkSpec {

  test("sequential stats queries register caches; unpersistAll frees and recompute still works") {
    CacheRegistry.unpersistAll() // start clean of other suites' pins
    val r1 = operators.Relational.q11(spark, sf()).collect()
    val n1 = CacheRegistry.registeredCount
    assert(n1 >= 1) // the value-counts state

    operators.Fraud.f05(spark, sf()).collect()
    assert(CacheRegistry.registeredCount > n1) // the scored frame

    val freed = CacheRegistry.unpersistAll()
    assert(freed >= 2)
    assert(CacheRegistry.registeredCount == 0)

    // after the bulk unpersist the same query recomputes correctly
    // (and re-registers its state)
    val r2 = operators.Relational.q11(spark, sf()).collect()
    assert(r2.map(_.toSeq).toSet == r1.map(_.toSeq).toSet)
    assert(CacheRegistry.registeredCount >= 1)
    CacheRegistry.unpersistAll()
  }

  test("registering one plan twice caches it once and logs no cache-twice warning") {
    CacheRegistry.unpersistAll()
    def plan = spark.range(100).toDF("x").filter(col("x") % 7 === 3)
    val messages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("graft-cache-warnings", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        messages.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.CacheManager").asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      CacheRegistry.register(plan)
      CacheRegistry.register(plan)
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    assert(CacheRegistry.registeredCount == 1)
    assert(plan.storageLevel != StorageLevel.NONE)
    val twice = messages.toArray.map(_.toString).filter(_.contains("already cached"))
    assert(twice.isEmpty, s"cache-twice warnings: ${twice.mkString("; ")}")
    assert(CacheRegistry.unpersistAll() == 1)
    assert(plan.storageLevel == StorageLevel.NONE)
  }
}
