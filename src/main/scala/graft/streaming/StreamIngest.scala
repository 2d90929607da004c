package graft.streaming

import graft.functions.GraftFunctions.quant4
import graft.ingest.Ingest
import graft.model.Dp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming ingest — the Spark shape of the reference's write
  * path (SURVEY.md §3.3): socket/Kafka/file lines → parse → date-partitioned
  * Parquet, plus a streaming hourly-rollup aggregation. The streaming
  * checkpoint replaces the reference's WAL (`include/append.h`); watermark +
  * late-data handling replaces its out-of-order page machinery.
  */
object StreamIngest {

  /** Parse a streaming Dataset of wire-format lines into dp rows. The
    * same parsers run in batch and streaming (Ingest.from*).
    */
  def dpStream(lines: Dataset[String], format: String,
      nowMs: Long = System.currentTimeMillis()): DataFrame = format match {
    case "plain" => Ingest.fromPlain(lines)
    case "influx" => Ingest.fromInflux(lines, nowMs)
    case "json" => Ingest.fromJson(lines)
    case other => throw new IllegalArgumentException(s"unknown format: $other")
  }

  /** Raw-point sink: append to Parquet partitioned by UTC date (the 1-day
    * Tsdb rotation, `include/tsdb.h:219-221`). Queries get partition
    * pruning on `date` for free.
    */
  def writeRaw(dp: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): DataStreamWriter[Row] =
    dp.withColumn("date", to_date(timestamp_millis(col("ts"))))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .partitionBy("date")
      .outputMode(OutputMode.Append)
      .trigger(trigger)

  /** Streaming hourly rollup {cnt,min,max,sum} per series — the write-time
    * accumulator of the reference (`src/agg/rollup.cpp:180-286`). The
    * watermark bounds state: points later than `lateness` are dropped from
    * the rollup exactly like the reference invalidates rollups for
    * out-of-order series and falls back to raw (`rollup.cpp:237-243`) —
    * the raw table remains the source of truth for late data.
    */
  def rollup1hStream(dp: DataFrame, lateness: String = "1 hour"): DataFrame =
    Dp.withSeriesKey(dp)
      .withColumn("ets", timestamp_millis(col("ts")))
      .withWatermark("ets", lateness)
      .groupBy(window(col("ets"), "1 hour"), col("skey"))
      .agg(
        count(col("value")).as("cnt"),
        min(col("value")).as("min"),
        max(col("value")).as("max"),
        sum(col("value")).as("sum"))
      .select(
        col("skey"),
        unix_millis(col("window.start")).as("wts"),
        col("cnt"), col("min"), col("max"), col("sum"))

  /** Stream straight into a maintained [[graft.store.Store]]: every
    * micro-batch runs the full incremental ingest — raw append, series
    * index, write-time OOO marks, merged hourly rollup — so queries see
    * maintained metadata with micro-batch freshness. `foreachBatch` is
    * the Structured Streaming shape for multi-table transactional-ish
    * sinks; the checkpoint makes delivery at-least-once and the
    * metadata updates are idempotent per batch content.
    */
  def writeStore(dp: DataFrame, store: graft.store.Store, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): DataStreamWriter[Row] =
    dp.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) store.ingest(batch)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)

  /** Per-series silence detection — the custom-state streaming operator
    * ([[org.apache.spark.sql.KeyValueGroupedDataset.flatMapGroupsWithState]]):
    * emits one alert row (skey, lastTs, gapMs) when a series resumes
    * after more than `silenceMs` of EVENT-time silence. State per series
    * is just the max event ts seen — O(#series), not O(#points), the
    * same cardinality the series index already carries. The reference
    * has no direct analogue (its alerting is external); this is the
    * Spark-native shape a monitoring deployment runs beside ingest.
    */
  def silenceAlerts(dp: DataFrame, silenceMs: Long): org.apache.spark.sql.Dataset[(String, Long, Long)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = dp.sparkSession
    import spark.implicits._
    Dp.withSeriesKey(dp)
      .select(col("skey"), col("ts"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (skey: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          // walk the batch's timestamps in event order so gaps that fall
          // entirely INSIDE one micro-batch (bursty sources, catch-up
          // reads) alert too, not only state→batch gaps
          val tss = rows.map(_._2).toArray.sorted
          val alerts = Seq.newBuilder[(String, Long, Long)]
          var prev = state.getOption.getOrElse(Long.MinValue)
          tss.foreach { t =>
            if (prev != Long.MinValue && t - prev > silenceMs)
              alerts += ((skey, prev, t - prev))
            prev = math.max(prev, t)
          }
          state.update(prev)
          alerts.result().iterator
      }
  }

  /** Streaming CUSUM drift alerts (Page 1954) against REFERENCE stats:
    * a live monitor scores incoming points against a trained (μ, σ) —
    * the batch [[graft.query.Forecast.cusum]] derives them corpus-side —
    * with the IDENTICAL integer recurrence on the 1e-4 grid
    * (`S = max(0, S + y_q − μ_q − κ_q)`, κ = σ/2, alarm at 5σ). For
    * IN-ORDER arrival (per-series monotone ts across batches) a
    * replayed stream walks the same states as the batch walk no matter
    * where micro-batch boundaries fall — rows are ts-sorted within each
    * batch, but a LATE row whose ts precedes an already-processed batch
    * is folded in arrival order and breaks parity with the batch walk
    * (CUSUM state is order-dependent; buffering for reorder would cost
    * O(lateness) state per series). State per series is one long —
    * O(#series). Emits (key, ts, score) rows only while S is above the
    * threshold. Input: a (key, ts, value) frame.
    */
  def cusumAlerts(series: DataFrame, mu: Double, sigma: Double,
      keyCol: String = "skey", tsCol: String = "ts",
      valCol: String = "value"): Dataset[(String, Long, Double)] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    val spark = series.sparkSession
    import spark.implicits._
    val muQ = quant4(mu)
    val devQ = sigma * 10000.0
    val kQ = math.floor(devQ / 2.0).toLong
    val hQ = math.floor(devQ * 5.0).toLong
    series
      .select(col(keyCol).cast("string"), col(tsCol).cast("long"),
        quant4(col(valCol)))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (String, Long, Double)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long, Long)],
            state: GroupState[Long]) =>
          // event-order walk inside the batch, state carries across
          val sorted = rows.toArray.sortBy(_._2)
          var s = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[(String, Long, Double)]
          sorted.foreach { case (_, ts, q) =>
            s = math.max(0L, s + q - muQ - kQ)
            if (s > hQ) out += ((key, ts, s / 10000.0))
          }
          state.update(s)
          out.result().iterator
      }
  }
}
