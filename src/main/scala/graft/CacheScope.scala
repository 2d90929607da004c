package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of cached frames. A frame the body [[keep]]s is
  * persisted at MEMORY_AND_DISK and released (non-blocking unpersist) when
  * the scope ends, whether the body returns or throws — so a failed
  * operator, or a sibling chain cancelled by
  * [[graft.pipeline.Dedup.inParallel]], leaves no cache behind in a
  * long-lived session.
  *
  * The rule: every cache is kept in a scope. An operator or gate whose
  * result reads a cached frame materializes that result through [[eager]],
  * keeping the frames it persists and the cached results other operators
  * hand it; its result is then the only cache left, and the caller
  * unpersists it. An operator with a LAZY result over a cached frame takes
  * its caller's scope and keeps into it, so the frame lives exactly as
  * long as the caller reads the result.
  *
  * {{{
  * CacheScope.eager { cache =>
  *   val sh = cache.keep(shingles)   // consumed by several plan branches
  *   pairsFrom(sh)                   // persisted + counted, then sh released
  * }
  * }}}
  */
final class CacheScope private () {
  private val kept = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Persist `df` until the scope ends; returns it for chaining. A frame
    * that is already cached (another operator's materialized result) is
    * not persisted again, only released with the scope. Thread-safe, so
    * the two chains of [[graft.pipeline.Dedup.inParallel]] may keep into
    * one scope.
    */
  def keep(df: DataFrame): DataFrame = synchronized {
    if (df.storageLevel == StorageLevel.NONE) df.persist(CacheScope.Level)
    kept += df
    df
  }

  /** Release a kept frame before the scope ends — a loop retiring the
    * previous round's frame once the next one is materialized.
    */
  def release(df: DataFrame): Unit = synchronized {
    kept -= df
    df.unpersist()
  }

  private def close(): Unit = synchronized {
    kept.foreach(_.unpersist())
    kept.clear()
  }
}

object CacheScope {
  private val Level = StorageLevel.MEMORY_AND_DISK

  /** Run `body` with a fresh scope; every frame it kept is released when
    * it returns or throws. A returned frame that the body kept is
    * released too: hand results out through [[eager]], or keep them in
    * the caller's scope.
    */
  def apply[T](body: CacheScope => T): T = {
    val scope = new CacheScope
    try body(scope)
    finally scope.close()
  }

  /** [[apply]] for an operator that returns a materialized frame: the
    * body's result is persisted and counted BEFORE the kept frames are
    * released, so it is the only cache that outlives the scope (the
    * caller may unpersist it once consumed).
    */
  def eager(body: CacheScope => DataFrame): DataFrame = apply { scope =>
    val out = body(scope).persist(Level)
    try { out.count(); out }
    catch { case t: Throwable => out.unpersist(); throw t }
  }
}
