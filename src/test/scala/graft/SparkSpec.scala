package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for Spark-backed suites (same JVM → getOrCreate
  * reuses one session across suites).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The session's cached state: persistent RDD ids and CacheManager
    * entry count — both grow when an operator leaks a cache.
    */
  def cacheState(): (Set[Int], Int) = (
    spark.sparkContext.getPersistentRDDs.keySet.toSet,
    org.apache.spark.sql.CacheProbe.cachedEntries(spark))

  /** Fails unless the cached state holds nothing beyond `before`. */
  def assertNoCacheBeyond(before: (Set[Int], Int), what: String): Unit = {
    val (rdds, entries) = cacheState()
    assert(rdds.subsetOf(before._1) && entries <= before._2,
      s"$what left cached state behind: RDDs ${rdds -- before._1}, " +
        s"CacheManager entries $entries (was ${before._2})")
  }
}
