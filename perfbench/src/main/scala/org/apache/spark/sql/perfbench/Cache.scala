package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** Surgical cache cleanup between queries: drop every cache entry and
  * persisted RDD a query left behind while keeping the pinned tables, so
  * cleanup never has to clear the whole cache and re-pin. Spark keeps the
  * list of cache entries private, so it is read reflectively. */
object Cache {
  private val entriesField = {
    val f = classOf[CacheManager].getDeclaredField("cachedData")
    f.setAccessible(true)
    f
  }

  private def manager(spark: SparkSession): CacheManager =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  /** The current cache entries, as opaque handles. */
  def entries(spark: SparkSession): Seq[AnyRef] =
    entriesField.get(manager(spark)).asInstanceOf[IndexedSeq[CachedData]]

  /** Uncaches every entry not in `keep` (compared by identity) and
    * unpersists every RDD whose id is not in `keepRdds`. */
  def dropExcept(spark: SparkSession, keep: Seq[AnyRef], keepRdds: Set[Int]): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    for (e <- entries(spark) if !keep.exists(_ eq e)) {
      val plan = e.asInstanceOf[CachedData].plan
      manager(spark).uncacheQuery(classic.Dataset.ofRows(s, plan), cascade = false, blocking = true)
    }
    for ((id, rdd) <- spark.sparkContext.getPersistentRDDs if !keepRdds(id))
      rdd.unpersist(blocking = true)
  }
}
