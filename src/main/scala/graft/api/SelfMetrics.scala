package graft.api

import java.util.concurrent.ConcurrentLinkedQueue

import graft.model.Dp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Self-metrics: the engine measures its own query executions and exposes
  * them as ordinary data points, like the reference's `ticktock.*` metrics
  * that are written back into the store itself
  * (`src/utils/stats.cpp:230-600`, `src/core/query.cpp:1311-1314`).
  *
  * A [[QueryExecutionListener]] records one latency sample per completed
  * DataFrame action; [[SelfMetrics.toDp]] shapes the samples as
  * canonical data points, so they are written through the store's
  * ingest and queried with the same planner as any other metric.
  */
object SelfMetrics {

  final case class Sample(
      metric: String,
      func: String,
      status: String,
      tsMs: Long,
      value: Double)

  /** Listener + in-memory buffer. Install once per session; `drain()`
    * moves the accumulated samples out (ingest-then-clear, like the
    * reference's periodic stats flush).
    */
  final class Recorder extends QueryExecutionListener {
    private val buf = new ConcurrentLinkedQueue[Sample]
    // strictly increasing sample timestamps: two actions completing in
    // the same millisecond must not share (series, ts) — the TSDB's
    // last-wins dedup would silently collapse them
    private val lastTs = new java.util.concurrent.atomic.AtomicLong(0L)

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      record(funcName, "ok", durationNs)

    override def onFailure(funcName: String, qe: QueryExecution,
        error: Exception): Unit =
      record(funcName, "error", 0L)

    private def record(func: String, status: String, durationNs: Long): Unit = {
      val now = lastTs.updateAndGet(prev =>
        math.max(System.currentTimeMillis(), prev + 1))
      buf.add(Sample("graft.query.latency.ms", func, status, now, durationNs / 1e6))
      buf.add(Sample("graft.query.count", func, status, now, 1.0))
    }

    def drain(): Seq[Sample] = {
      val out = Seq.newBuilder[Sample]
      var s = buf.poll()
      while (s != null) { out += s; s = buf.poll() }
      out.result()
    }
  }

  def install(spark: SparkSession): Recorder = {
    val r = new Recorder
    spark.listenerManager.register(r)
    r
  }

  /** Drained samples as canonical data points, ready for the driver-side
    * [[graft.store.Store.ingest]]. `baseSeq` offsets the within-batch
    * index so repeated flushes into a maintained store keep seq
    * increasing across batches (the store's dedup contract).
    */
  def toDp(samples: Seq[Sample], baseSeq: Long = 0L): Seq[Dp] =
    samples.zipWithIndex.map { case (s, i) =>
      Dp(s.metric, Map("func" -> s.func, "status" -> s.status), s.tsMs, s.value,
        baseSeq + i.toLong)
    }
}
