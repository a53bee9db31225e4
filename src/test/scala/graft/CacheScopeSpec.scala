package graft

import graft.operators.IvfPqPortable
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class CacheScopeSpec extends SparkSpec {

  import spark.implicits._

  /** Runs `body` and returns what Spark's CacheManager logged meanwhile. */
  private def cacheManagerLog(body: => Unit): Seq[String] = {
    spark // a starting session reconfigures logging, dropping the appender
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val app = new AbstractAppender("cache-manager-log", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.synchronized { seen += e.getMessage.getFormattedMessage }
    }
    app.start()
    val logger = LogManager
      .getLogger("org.apache.spark.sql.execution.CacheManager")
      .asInstanceOf[CoreLogger]
    logger.addAppender(app)
    try body finally { logger.removeAppender(app); app.stop() }
    seen.synchronized(seen.toSeq)
  }

  test("track registers an already-cached plan without persisting it again") {
    def plan = spark.range(50).toDF("id").withColumn("x", col("id") * 3)
    CacheScope.releaseAll(blocking = true)
    // two separately built frames of the same plan
    val log = cacheManagerLog { CacheScope.track(plan); CacheScope.track(plan) }
    assert(log.isEmpty, log)
    assert(plan.storageLevel === StorageLevel.MEMORY_AND_DISK)
    assert(CacheScope.trackedCount === 2)
    CacheScope.releaseAll(blocking = true)
    assert(CacheScope.trackedCount === 0)
    assert(plan.storageLevel === StorageLevel.NONE)
  }

  test("topKTwoLevel caches its routed base once: no re-cache of the trainer's route") {
    val r = new scala.util.Random(7)
    val emb = (0 until 60).map(i => (i.toLong, Array.fill(4)(r.nextDouble())))
      .toDF("vec_id", "embedding")
    val log = cacheManagerLog {
      assert(IvfPqPortable.topKTwoLevel(emb, col("id") < 4, k = 3,
        nlist = 4, coarseIters = 2, m = 2, ksub = 4, subIters = 2,
        nprobe = 2, rerank = 8).collect().nonEmpty)
    }
    CacheScope.releaseAll(blocking = true)
    assert(!log.exists(_.contains("Asked to cache already cached data")), log)
  }
}
