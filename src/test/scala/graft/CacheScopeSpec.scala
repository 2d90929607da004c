package graft

import graft.pipeline.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.storage.StorageLevel.{MEMORY_AND_DISK, NONE}

class CacheScopeSpec extends SparkSpec {

  // one plan per call site, so no test shares a cache entry with another
  private def frame(n: Int): DataFrame = spark.range(n).toDF("id")

  test("kept frames are cached inside the scope and released on return") {
    val before = cacheState()
    val (a, b) = CacheScope { cache =>
      val a = cache.keep(frame(101))
      val b = cache.keep(frame(102))
      assert(a.storageLevel === MEMORY_AND_DISK && b.storageLevel === MEMORY_AND_DISK)
      assert(a.count() + b.count() === 203)
      (a, b)
    }
    assert(a.storageLevel === NONE && b.storageLevel === NONE)
    assertNoCacheBeyond(before, "a returning scope")
  }

  test("kept frames are released when the body throws after keeping two") {
    val before = cacheState()
    var kept = Seq.empty[DataFrame]
    val boom = intercept[IllegalStateException] {
      CacheScope { cache =>
        kept = Seq(cache.keep(frame(111)), cache.keep(frame(112)))
        kept.foreach(_.count())
        throw new IllegalStateException("boom")
      }
    }
    assert(boom.getMessage === "boom")
    assert(kept.size === 2 && kept.forall(_.storageLevel == NONE))
    assertNoCacheBeyond(before, "a throwing scope")
  }

  test("eager: the result stays cached until the caller unpersists it") {
    val before = cacheState()
    var input: DataFrame = null
    val out = CacheScope.eager { cache =>
      input = cache.keep(frame(121))
      input.filter("id % 2 = 0")
    }
    assert(input.storageLevel === NONE)
    assert(out.storageLevel === MEMORY_AND_DISK)
    // materialized before the scope closed: its cached RDD already exists
    val (rdds, entries) = cacheState()
    assert((rdds -- before._1).size === 1 && entries === before._2 + 1)
    assert(out.count() === 61)
    out.unpersist()
    assertNoCacheBeyond(before, "an unpersisted eager result")
  }

  test("eager: a result that fails to materialize is released too") {
    val before = cacheState()
    intercept[Exception] {
      CacheScope.eager { cache =>
        cache.keep(frame(131)).filter(expr("assert_true(id < 100) IS NULL"))
      }
    }
    assertNoCacheBeyond(before, "a failed eager scope")
  }

  test("release retires a frame early; an already cached frame is not re-persisted") {
    val before = cacheState()
    val outer = frame(141).persist()
    outer.count()
    CacheScope { cache =>
      val a = cache.keep(frame(142))
      cache.release(a)
      assert(a.storageLevel === NONE)
      // keeping a cached frame adopts it: released with the scope
      assert(cache.keep(outer).storageLevel === MEMORY_AND_DISK)
    }
    assert(outer.storageLevel === NONE)
    assertNoCacheBeyond(before, "an adopting scope")
  }

  test("inParallel chains keeping into one scope: a failing side releases both") {
    val before = cacheState()
    val boom = intercept[IllegalStateException] {
      CacheScope { cache =>
        Dedup.inParallel(
          cache.keep(frame(151)).count(),
          { cache.keep(frame(152)).count(); throw new IllegalStateException("right") })
      }
    }
    assert(boom.getMessage === "right")
    assertNoCacheBeyond(before, "a failed parallel scope")
  }
}
