package graft.store

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import graft.CacheScope
import graft.model.Dp
import graft.query.Planner
import graft.rollup.Rollup
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The maintained store: raw data plus the three metadata tables the
  * reference keeps write-time state for, updated incrementally on every
  * ingest batch — queries never derive them from fact data.
  *
  * Raw data lives in date partitions, one parquet file per batch and date
  * (compacted per date on a batch cadence). Each row carries the dp
  * columns and its canonical series key `skey`, written next to them, so
  * a query reads the key instead of deriving it per row (see
  * [[readDataFiles]] for files written without it).
  *
  *   - `series_index` (skey, metric, tags): the per-metric series
  *     registry (`g_metric_map` + `Mapping`, reference
  *     `src/core/tsdb.cpp:1586-1609`). Append-only: each batch anti-joins
  *     its distinct series against the index and appends only new ones.
  *   - `slice_state` (skey, day, hwm, ooo): per-(series, day-slice)
  *     high-water-mark and out-of-order flag. The reference marks OOO at
  *     WRITE time — a point at or before the slice's high water mark
  *     routes to the OOO page and sets `out_of_order2`
  *     (`src/core/ts.cpp:281-324`, `src/agg/rollup.cpp:214-243`) — so a
  *     routed query reads the marks, never re-derives them by sorting
  *     raw data. Within a batch, order is the batch's `seq`; across
  *     batches, the stored hwm carries the comparison.
  *   - `rollup_1h` (skey, wts, cnt, min, max, sum): the write-time hourly
  *     accumulator (`src/agg/rollup.cpp:180-286`), merged per batch.
  *     Duplicate/OOO points make a slice's rollup wrong by construction —
  *     exactly the slices `slice_state` marks, which
  *     [[Rollup.downsampleWithFallback]] recomputes from raw.
  *
  * `slice_state` and `rollup_1h` are MANIFEST-COMMITTED: each table is a
  * set of immutable per-(day, generation) directories plus a numbered
  * manifest file naming every day's current directory. A batch commit
  * writes the touched days' new dirs, then publishes one new manifest
  * (hidden write + atomic file rename) — readers resolve the newest
  * manifest and read exactly the dirs it names, so they observe the
  * previous commit or the new one, never a missing or half-swapped day.
  * This is a miniature of the Delta/Iceberg commit protocol, chosen over
  * delete+rename partition swaps whose listing window can expose a
  * half-swapped table. The previous generation's dirs survive one more
  * commit (in-flight readers may hold its manifest) before GC. A batch
  * still rewrites ONLY the day dirs it touches — at 100 TB an ingest
  * batch spanning a few days moves a few days of tiny metadata, not
  * history.
  *
  * Queries resolve series and OOO marks from a driver-resident catalog:
  * local (LocalRelation) snapshots of `series_index` and of the
  * slice_state rows marked OOO, the reference's in-memory registry. A
  * snapshot is replaced, never mutated: it reloads only the index files
  * and state day dirs it has not read, and only when the index's file
  * set or the state manifest seq moved (one listing and one manifest
  * read per query tell). The writer reloads it as the last step of each
  * commit, so the queries after a put run no Spark job for metadata.
  *
  * Contract: batches arrive with `seq` monotonically increasing across
  * batches (what [[graft.ingest.Ingest]] produces — batch-stamped under
  * streaming), because query-time last-wins dedup on the DATA still
  * resolves by seq. Writes are single-threaded per store (the reference
  * serializes ingest per shard the same way), and one store instance is
  * the only writer of its root — which is what keeps the catalog current
  * without a reload per query; reads are concurrency-safe against a
  * writer.
  */
final class Store(spark: SparkSession, root: String,
    compactEveryBatches: Int = 8,
    // how long a superseded metadata generation survives after being
    // replaced: a query that resolved a manifest gets this long to
    // finish before its generation dirs can be GC'd (the newest two
    // generations are always kept regardless)
    gcGraceMs: Long = 10 * 60 * 1000L) {

  private val dataPath = s"$root/data"
  private val indexPath = s"$root/series_index"
  private val statePath = s"$root/slice_state"
  private val rollupPath = s"$root/rollup_1h"
  private val rollup1dPath = s"$root/rollup_1d"

  private def fs = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(p: String) = fs.exists(new Path(p))

  private val stateSchema = StructType(Seq(
    StructField("skey", StringType), StructField("hwm", LongType),
    StructField("ooo", BooleanType), StructField("day", LongType)))
  private val indexSchema = StructType(Seq(
    StructField("skey", StringType), StructField("metric", StringType),
    StructField("tags", MapType(StringType, StringType))))
  private val rollupSchema = StructType(Seq(
    StructField("skey", StringType), StructField("cnt", LongType),
    StructField("min", DoubleType), StructField("max", DoubleType),
    StructField("sum", DoubleType), StructField("wts", LongType)))
  private val rollupDaySchema =
    StructType(rollupSchema.fields :+ StructField("day", LongType))

  // a LocalRelation (not an empty RDD): PropagateEmptyRelation then
  // collapses first-batch joins/unions against it at PLAN time — an
  // empty-RDD frame looks non-empty to the optimizer and keeps its
  // shuffle stages alive
  private def emptyFrame(schema: StructType): DataFrame = localFrame(Nil, schema)

  private def localFrame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Manifest-resolved read: load exactly the day dirs the newest
    * manifest names (day is a data column inside the files).
    */
  private def readManifested(path: String, schema: StructType): DataFrame = {
    val (_, entries) = currentManifest(path)
    if (entries.isEmpty) emptyFrame(schema)
    else spark.read.schema(schema)
      .parquet(entries.values.map(n => s"$path/$n").toSeq: _*)
  }

  /** [[readManifested]] restricted to the batch's touched days, resolved
    * on the driver: the read names only those days' dirs, so it neither
    * joins nor grows with history. No committed dir for any of the days
    * (a first batch) is a provably empty frame.
    */
  private def readManifestedForDays(path: String, schema: StructType,
      days: Seq[Long]): DataFrame = {
    val dirs = currentManifest(path)._2.view.filterKeys(days.toSet).values.toSeq
    if (dirs.isEmpty) emptyFrame(schema)
    else spark.read.schema(schema).parquet(dirs.map(n => s"$path/$n"): _*)
  }

  private val dpSchema = StructType(Seq(
    StructField("metric", StringType),
    StructField("tags", MapType(StringType, StringType)),
    StructField("ts", LongType), StructField("value", DoubleType),
    StructField("seq", LongType)))
  // the data files' schema: the dp columns plus the canonical series key
  // the store writes next to them (null when read from a file written
  // without it)
  private val dataFileSchema = dpSchema.add(StructField("skey", StringType))
  // the name suffix of the data files that carry it
  private val KeyedSuffix = ".sk.parquet"

  /** Raw data as the canonical dp frame (empty before the first ingest —
    * a freshly-booted server must answer queries with [] not a scan
    * error). Manifest-resolved like the metadata tables: the read names
    * exactly the files the newest manifest commits, so a reader sees a
    * whole batch or none of it, and a compaction swap is invisible
    * (the superseded files survive the GC grace window for in-flight
    * scans). A data dir written by an external tool (no manifest) falls
    * back to directory listing with the explicit schema — a concurrent
    * reader can land while a write holds only `_temporary` content, and
    * schema inference over zero committed files throws where an explicit
    * schema yields the correct empty result.
    */
  def data: DataFrame = currentDataManifest() match {
    case Some((_, entries)) =>
      readDataFiles(entries.values.flatten.toSeq).select(Dp.columns.map(col): _*)
    case None =>
      if (!exists(dataPath)) emptyFrame(dpSchema)
      else spark.read.schema(dpSchema).parquet(dataPath)
        .select(Dp.columns.map(col): _*)
  }

  /** The query scan: day-pruned data read, only the date partitions that
    * can contain `[startMs - slackMs, endMs + slackMs]` (±1 local date of
    * extra slack covers a UTC/session-timezone straddle). At scale this
    * is the difference between opening every day's file footers per
    * query and opening the queried window's. Besides the dp columns it
    * carries each row's `skey` as stored, so series selection filters a
    * scan column instead of deriving the key per row.
    */
  def dataForRange(startMs: Long, endMs: Long, slackMs: Long = 0L): DataFrame =
    currentDataManifest() match {
      case Some((_, entries)) =>
        val zone = java.time.ZoneId.of(
          spark.conf.get("spark.sql.session.timeZone",
            java.util.TimeZone.getDefault.getID))
        def ld(ms: Long) = java.time.Instant.ofEpochMilli(ms).atZone(zone).toLocalDate
        val lo = ld(startMs - slackMs).minusDays(1).toString
        val hi = ld(endMs + slackMs).plusDays(1).toString
        // ISO date strings order lexicographically = chronologically
        readDataFiles(entries.view.filterKeys(d => d >= lo && d <= hi)
          .values.flatten.toSeq)
      case None => data
    }

  /** Committed data files as dp columns + `skey`. Files the store wrote
    * carry the key (named `*.sk.parquet`), and the scan reads it as a
    * plain column. A file named otherwise was written without it (by an
    * earlier store, or adopted from [[graft.ingest.Ingest.writePartitioned]]
    * output): a scan naming one reads the key as
    * `coalesce(skey, Dp.seriesKey(metric, tags))` — one expression, whose
    * derivation runs only for the rows that lack the column.
    */
  private def readDataFiles(files: Seq[String]): DataFrame = {
    val skey =
      if (files.forall(_.endsWith(KeyedSuffix))) col("skey")
      else coalesce(col("skey"), Dp.seriesKey(col("metric"), col("tags")))
    (if (files.isEmpty) emptyFrame(dataFileSchema)
     else spark.read.schema(dataFileSchema).parquet(files.map(f => s"$dataPath/$f"): _*))
      .select(Dp.columns.map(col) :+ skey.as("skey"): _*)
  }

  /** Root of the date-partitioned raw data (what [[Maintenance]] and the
    * admin commands operate on).
    */
  def dataLocation: String = dataPath

  /** The series index as of the newest commit: the catalog's local
    * (skey, metric, tags) snapshot.
    */
  def seriesIndex: DataFrame = catalog().index

  /** The maintained `(skey, day)` invalidation frame — what
    * [[Planner.Options.oooMarks]] wants: the catalog's local snapshot of
    * the slice_state rows marked OOO.
    */
  def oooMarks: DataFrame = catalog().marks

  def rollup1h: DataFrame =
    readManifested(rollupPath, rollupDaySchema)
      .select("skey", "wts", "cnt", "min", "max", "sum")

  /** The maintained level-2 (daily) rollup — the reference's
    * `RollupManager` level-2 files (`src/agg/rollup.cpp`, level2 query
    * path `include/mmap.h:299-315`). A year-long daily query reads 24×
    * fewer rows here than composing from the hourly table.
    */
  def rollup1d: DataFrame =
    readManifested(rollup1dPath, rollupDaySchema)
      .select("skey", "wts", "cnt", "min", "max", "sum")

  /** Default planner options over this store: index scans, maintained OOO
    * marks, and both rollup levels — the configuration every query should
    * run with (what the reference's QuerySuperTask always has).
    */
  def plannerOptions(): Planner.Options = {
    val c = catalog()
    Planner.Options(
      seriesIndex = Some(c.index),
      oooMarks = Some(c.marks),
      rollup1h = Some(rollup1h),
      rollup1d = Some(rollup1d))
  }

  // ---- driver-resident catalog ------------------------------------------

  /** One immutable snapshot of the series index and the OOO marks, and
    * the on-disk state it was loaded from: the index's file names and the
    * slice_state manifest seq, with the marks of each day dir it names.
    */
  private final class Catalog(val indexFiles: Set[String], val indexRows: Seq[Row],
      val stateSeq: Long, val markDirs: Map[String, Seq[Row]]) {
    lazy val index: DataFrame = localFrame(indexRows, indexSchema)
    lazy val marks: DataFrame = localFrame(markDirs.values.flatten.toSeq, marksSchema)
  }

  private val marksSchema = StructType(Seq(
    StructField("skey", StringType), StructField("day", LongType)))

  @volatile private var snapshot = new Catalog(Set.empty, Nil, 0L, Map.empty)
  private val catalogLock = new Object

  /** The catalog, current with the store's files. Each call costs one
    * listing of the index dir and one manifest read; a changed index file
    * set or state manifest seq reloads what changed — the new index files
    * (the index is append-only and its files are immutable) and the day
    * dirs the new manifest names that the snapshot has not read — in one
    * small Spark job each. [[ingest]] calls it as its commit's last step,
    * so queries served after a put find it current and run no job for
    * metadata. That relies on the single-writer contract: a commit by
    * another process on the same root is picked up by the next caller's
    * check instead, at the cost of that reload.
    */
  private def catalog(): Catalog = catalogLock.synchronized {
    val c = snapshot
    val files = indexFileNames()
    val (seq, days) = currentManifest(statePath)
    if (files != c.indexFiles || seq != c.stateSeq) {
      val indexRows =
        if (files == c.indexFiles) c.indexRows
        else {
          val grown = c.indexFiles.subsetOf(files)
          val added = (if (grown) files -- c.indexFiles else files).toSeq.sorted
          (if (grown) c.indexRows else Nil) ++ (
            if (added.isEmpty) Nil
            else spark.read.schema(indexSchema)
              .parquet(added.map(f => s"$indexPath/$f"): _*).collect().toSeq)
        }
      val markDirs =
        if (seq == c.stateSeq) c.markDirs
        else {
          val unread = days.filter { case (_, dir) => !c.markDirs.contains(dir) }
          val read =
            if (unread.isEmpty) Map.empty[Long, Seq[Row]]
            else spark.read.schema(stateSchema)
              .parquet(unread.values.map(d => s"$statePath/$d").toSeq: _*)
              .filter(col("ooo")).select("skey", "day").collect().toSeq
              .groupBy(_.getLong(1))
          days.map { case (day, dir) =>
            dir -> c.markDirs.getOrElse(dir, read.getOrElse(day, Nil)) }
        }
      snapshot = new Catalog(files, indexRows, seq, markDirs)
    }
    snapshot
  }

  private def indexFileNames(): Set[String] =
    if (!exists(indexPath)) Set.empty
    else fs.listStatus(new Path(indexPath)).iterator.map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))
      .toSet

  // Serializes writers: ServerMain wires several ingest edges into one
  // store (HTTP pool threads, two TCP batchers, UDP, self-metrics
  // flusher), and two interleaved ingests would race the manifest
  // commit (both read prevSeq=N, one manifest.(N+1) rename silently
  // loses) and share the raw append's _temporary dir. The reference
  // serializes ingest per shard the same way; queries never take it.
  private val writeLock = new Object

  // overlaps the data append with the metadata window pass — Spark job
  // submission is thread-safe, and each job alone underfills the
  // cluster. Daemon threads: an abandoned store must not pin the JVM.
  private val ingestPool = ExecutionContext.fromExecutor(
    java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "graft-store-commit")
      t.setDaemon(true)
      t
    }))

  /** Replication-checkpoint bookkeeping tied to this store's flush cycle
    * (see [[CheckPoints]]): ingest edges `add()` checkpoint strings, and
    * every [[ingest]] commit snapshots-then-persists them in the
    * reference's order (`tsdb.cpp:3297,3341`), so a persisted checkpoint
    * implies its preceding data is durably committed.
    */
  val checkpoints = new CheckPoints(spark, root)

  /** Ingest one batch: append the data, then update the three metadata
    * tables incrementally. Thread-safe: batches from concurrent edges
    * are serialized on [[writeLock]].
    */
  def ingest(batch: DataFrame): Unit = writeLock.synchronized {
    // snapshot BEFORE the flush: checkpoints that arrive mid-commit wait
    // for the next cycle, exactly the reference's rotate-task ordering
    checkpoints.takeSnapshot()
    CacheScope { cache =>
      val keyed = cache.keep(Dp.withSeriesKey(batch.select(Dp.columns.map(col): _*)))
      // shuffle-free append (unlike Ingest.writePartitioned's
      // repartition-by-date): ingest batches are micro-batch sized, so
      // densifying per write would pay a shuffle per batch for nothing —
      // auto-compaction rewrites partitions densely on a batch cadence,
      // exactly the reference's compaction split of responsibilities
      // the data append and the slice aggregation race on materializing
      // the SAME cached `keyed` blocks (the block manager serializes
      // per-partition computes), so the append's write overlaps the
      // metadata window pass instead of following it
      val dataCommit = Future(appendData(keyed))(ingestPool)
      // slice aggregation first: its cached (skey, day) frame also feeds
      // the series-index update, so the index pass reads the tiny slice
      // aggregate instead of re-scanning the whole batch for distinct
      // skeys — one fewer full-batch pass per ingest
      val days = CacheScope { sliceCache =>
        val (slices, mergedState, days) = computeSliceState(sliceCache, keyed)
        // metadata must not commit before the data it describes: a crash
        // window may lose metadata for committed data (queries then see
        // raw-only, still correct) but never the reverse
        Await.result(dataCommit, Duration.Inf)
        // all four metadata updates (slice state, both rollup levels,
        // series index) commit as ONE Spark write job — each alone is a
        // tiny write whose wall time is job-launch overhead, not data,
        // so an ingest's latency is job-COUNT-bound: one unioned write
        // beats four concurrent ones on a busy or cold driver
        commitMetadata(keyed, slices, mergedState, days)
      }
      maybeCompact(days)
    }
    // load this commit's new series and marks into the catalog now, so
    // the queries that follow find it current; a failed load only defers
    // it to the next caller's check
    try catalog()
    catch { case NonFatal(e) =>
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"catalog reload failed (batch already committed): $e")
    }
    // the batch (and everything before it) is committed: the snapshot's
    // checkpoints are now safe to serve to replication followers. A
    // checkpoint-file failure must NOT fail the ingest that already
    // committed — the reference logs and keeps the prior persisted map
    // (cp.cpp:187-194); the live map still carries the state forward
    try checkpoints.persist()
    catch { case e: Exception =>
      org.apache.log4j.Logger.getLogger(getClass)
        .warn(s"checkpoint persist failed (data batch already committed): $e")
    }
  }

  /** Append the batch's files under their date partitions and commit
    * them to the data manifest: write to a hidden tmp, move the part
    * files in under generation names, publish. Readers resolve the
    * manifest, so the batch appears atomically.
    */
  private def appendData(keyed: DataFrame): Unit = {
    val gen = System.nanoTime()
    val tmp = s"$dataPath/.ingest_tmp_$gen"
    keyed.select((Dp.columns :+ "skey").map(col): _*)
      .withColumn("date", to_date(timestamp_millis(col("ts"))))
      .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(tmp)
    // adopting a pre-manifest layout: fold the existing files into the
    // first manifest so nothing already on disk goes unreferenced
    val (prevSeq, prevEntries) = currentDataManifest()
      .getOrElse((0L, bootstrapDataEntries()))
    val entries = scala.collection.mutable.Map(prevEntries.toSeq: _*)
    val touched = Seq.newBuilder[String]
    fs.listStatus(new Path(tmp)).filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("date=")).foreach { dp =>
        val date = dp.getName.stripPrefix("date=")
        touched += date
        val liveDir = new Path(s"$dataPath/date=$date")
        fs.mkdirs(liveDir)
        var i = 0
        fs.listStatus(dp)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .foreach { f =>
            val name = s"g${gen}_$i$KeyedSuffix"
            i += 1
            fs.rename(f.getPath, new Path(liveDir, name))
            entries(date) = entries.getOrElse(date, Nil) :+ s"date=$date/$name"
          }
      }
    publishDataManifest(prevSeq + 1, entries.toMap)
    fs.delete(new Path(tmp), true)
    gcDataFiles(touched.result())
  }

  // per-date count of shuffle-free appends since that date's data
  // partition was last rewritten densely — the auto-compaction cadence
  // the reference runs as a background task (`Tsdb::compact`). Without
  // it, micro-batch appends accrete one small file per batch per
  // partition forever.
  private val batchesSinceCompact =
    scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)

  private def maybeCompact(days: Seq[Long]): Unit = {
    if (compactEveryBatches <= 0) return
    // the data partition's date= value comes from to_date() under the
    // SESSION timezone, while `days` are UTC-floored slice keys — in a
    // non-UTC session one UTC day straddles TWO local dates, so count
    // both candidates (dedup'd) and let the existence check skip the one
    // this batch didn't actually write. Sessions on UTC collapse to the
    // single exact date.
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone",
        java.util.TimeZone.getDefault.getID))
    def localDate(ms: Long) =
      java.time.Instant.ofEpochMilli(ms).atZone(zone).toLocalDate.toString
    days.flatMap(d => Seq(localDate(d), localDate(d + Rollup.DayMs - 1)))
      .distinct.foreach { date =>
        val n = batchesSinceCompact(date) + 1
        if (n >= compactEveryBatches && exists(s"$dataPath/date=$date")) {
          compactDay(date) // reentrant under the ingest's writeLock
          batchesSinceCompact(date) = 0
        } else batchesSinceCompact(date) = n
      }
  }

  /** Series not yet in the index (append-only — no rewrite of existing
    * rows). Input is the cached slice aggregate — one row per
    * (skey, day), so the distinct runs over a frame the size of the
    * batch's series set, never the batch itself. The distinct runs on
    * the skey STRING and metric/tags re-derive from it afterwards —
    * `first(tags)` would force a SortAggregate on every ingest batch
    * (maps have no hash buffer).
    */
  private def newSeries(slices: DataFrame): DataFrame = {
    val batchSeries = slices
      .select(col("skey")).distinct()
      .select(col("skey"),
        Dp.metricFromKey(col("skey")).as("metric"),
        Dp.tagsFromKey(col("skey")).as("tags"))
    if (!exists(indexPath)) batchSeries
    else batchSeries.join(
      spark.read.schema(indexSchema).parquet(indexPath).select("skey"),
      Seq("skey"), "left_anti")
  }

  /** Compute the batch's slice-state merge; returns the slice aggregate,
    * kept in the caller's `cache` until the commit job has read it, the
    * merged state frame for the caller to commit, and the batch's
    * touched days. Within-batch OOO is detected with a window over the
    * BATCH's rows (bounded by batch size — the reference's in-memory page
    * state); cross-batch OOO compares the batch's min ts against the
    * stored hwm. One action runs here: collecting the touched days
    * materializes the kept slice aggregate (which the commit job then
    * reads from cache), and the prior state and rollup reads name only
    * those days' dirs — no join against history, no broadcast jobs.
    */
  private def computeSliceState(cache: CacheScope,
      keyed: DataFrame): (DataFrame, DataFrame, Seq[Long]) = {
    val w = Window.partitionBy(col("skey"), col("day")).orderBy(col("seq"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // kept: consumed by the state merge AND the series-index branch of
    // the same commit job; one row per touched slice, so the cache is
    // tiny but saves a second window pass over the batch
    val slices = cache.keep(keyed
      .withColumn("day", col("ts") - pmod(col("ts"), lit(Rollup.DayMs)))
      .withColumn("prior", max(col("ts")).over(w))
      .withColumn("bad",
        (col("prior").isNotNull && col("ts") <= col("prior")) ||
          isnan(col("value")) ||
          col("value") === Double.PositiveInfinity ||
          col("value") === Double.NegativeInfinity)
      .groupBy(col("skey"), col("day"))
      .agg(
        min(col("ts")).as("bmin"),
        max(col("ts")).as("bmax"),
        max(col("bad")).as("booo")))
    // the batch's touched days, resolved once on the driver: the prior
    // state and rollup reads then name only those days' dirs
    val days = slices.select("day").distinct().collect().map(_.getLong(0)).toSeq
    val prev = readManifestedForDays(statePath, stateSchema, days)
    val merged = prev.as("p")
      .join(slices.as("b"), Seq("skey", "day"), "full_outer")
      .select(
        col("skey"),
        greatest(col("p.hwm"), col("b.bmax")).as("hwm"),
        (coalesce(col("p.ooo"), lit(false)) ||
          coalesce(col("b.booo"), lit(false)) ||
          coalesce(col("b.bmin") <= col("p.hwm"), lit(false))).as("ooo"),
        col("day"))
    (slices, merged, days)
  }

  // the unioned metadata frame's superset schema: every table's columns,
  // null where a table doesn't carry them (parquet readers project by
  // name, so the dead columns cost bytes in tiny files, not correctness)
  private val metaUnionCols: Seq[(String, DataType)] = Seq(
    "skey" -> StringType, "hwm" -> LongType, "ooo" -> BooleanType,
    "cnt" -> LongType, "min" -> DoubleType, "max" -> DoubleType,
    "sum" -> DoubleType, "wts" -> LongType,
    "metric" -> StringType, "tags" -> MapType(StringType, StringType),
    "day" -> LongType)

  private def widen(df: DataFrame, tbl: String): DataFrame =
    df.select(lit(tbl).as("tbl") +: metaUnionCols.map { case (c, t) =>
      if (df.columns.contains(c)) col(c) else lit(null).cast(t).as(c)
    }: _*)

  /** Merge and commit ALL the batch's metadata in one Spark write job:
    * the slice-state merge, the touched days' merged hourly rollup, the
    * daily rollup re-derived from it (each touched day's 1d entry is
    * always the aggregate of its full, fresh 1h set — sum of sums, min
    * of mins, the same composition rule the reference's level-2 build
    * uses), and the batch's new series-index rows. The four frames
    * union under a `tbl` discriminator and write once, partitioned by
    * (tbl, day); each manifested table's day dirs then rename in and
    * its manifest publishes. Rationale: each table's write alone is a
    * tiny job whose wall time is scheduler/codegen launch overhead, so
    * four concurrent jobs still pay 4× the fixed cost — on a cold or
    * GC-pressured driver that fixed cost dominates the batch. One job
    * bounds it once. The 1h merge is cached so the 1d branch reads the
    * merge result instead of recomputing the batch aggregation.
    */
  private def commitMetadata(keyed: DataFrame, slices: DataFrame,
      mergedState: DataFrame, days: Seq[Long]): Seq[Long] = CacheScope { cache =>
    val batchRollup = Rollup.rollup1hKeyed(keyed)
      .withColumn("day", col("wts") - pmod(col("wts"), lit(Rollup.DayMs)))
    val prev = readManifestedForDays(rollupPath, rollupDaySchema, days)
    // kept: consumed by both level branches of the union; tiny (touched
    // days' rollup rows). Both branches materialize inside the ONE write
    // job — the block manager serializes per-partition computes.
    val merged = cache.keep(prev.unionByName(batchRollup)
      .groupBy(col("skey"), col("wts"), col("day"))
      .agg(
        sum(col("cnt")).as("cnt"),
        min(col("min")).as("min"),
        max(col("max")).as("max"),
        sum(col("sum")).as("sum"))
      .select("skey", "cnt", "min", "max", "sum", "wts", "day"))
    val merged1d = merged
      .groupBy(col("skey"), col("day"))
      .agg(
        sum(col("cnt")).as("cnt"),
        min(col("min")).as("min"),
        max(col("max")).as("max"),
        sum(col("sum")).as("sum"))
      .withColumn("wts", col("day"))
      .select("skey", "cnt", "min", "max", "sum", "wts", "day")
    // index rows carry day = -1: a real partition dir (not the Hive
    // default-null one) that the per-table rename below can address
    val index = newSeries(slices).withColumn("day", lit(-1L))
    val union = Seq(
      widen(mergedState, "slice_state"),
      widen(merged, "rollup_1h"), widen(merged1d, "rollup_1d"),
      widen(index, "series_index")).reduce(_ unionByName _)
    commitUnioned(union)
  }

  /** Write the unioned metadata frame once, then per table: rename its
    * generation dirs in and publish its manifest (series_index is
    * append-only plain files — its parts just move in, no manifest).
    * The `day_p` duplicate keeps `day` as a DATA column inside the
    * files (partitionBy drops its own column), so manifest reads need
    * no partition discovery. The batch's touched days come from the
    * written partition dirs themselves (no driver-side collect), and
    * are returned for the compaction cadence. Every touched day has
    * rows in ALL three manifested tables by construction (a batch row
    * in day d yields a slice row, an hourly row, and a daily row), so
    * a day listed under one table but absent under another would be a
    * bug — the defensive `entries.remove` keeps the manifest honest.
    */
  private def commitUnioned(union: DataFrame): Seq[Long] = {
    val gen = System.nanoTime()
    val tmp = s"$root/.meta_tmp_$gen"
    union.withColumn("day_p", col("day"))
      .repartition(col("tbl"), col("day_p"))
      .write.mode(SaveMode.Overwrite).partitionBy("tbl", "day_p").parquet(tmp)
    def tmpDays(tbl: String): Seq[Long] = {
      val d = new Path(s"$tmp/tbl=$tbl")
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("day_p="))
        .flatMap(_.stripPrefix("day_p=").toLongOption)
    }
    val days = Seq("slice_state", "rollup_1h", "rollup_1d")
      .flatMap(tmpDays).distinct.sorted
    Seq("slice_state" -> statePath, "rollup_1h" -> rollupPath,
        "rollup_1d" -> rollup1dPath).foreach { case (tbl, live) =>
      if (days.nonEmpty) {
        fs.mkdirs(new Path(live))
        val (prevSeq, prevEntries) = currentManifest(live)
        val entries =
          scala.collection.mutable.Map[Long, String](prevEntries.toSeq: _*)
        days.foreach { d =>
          val tmpPart = new Path(s"$tmp/tbl=$tbl/day_p=$d")
          if (fs.exists(tmpPart)) {
            val dirName = s"d_${d}_$gen"
            fs.rename(tmpPart, new Path(s"$live/$dirName"))
            entries(d) = dirName
          } else entries.remove(d) // see scaladoc: defensive
        }
        publishManifestLines(live, prevSeq + 1,
          entries.toSeq.sortBy(_._1).map { case (d, n) => (d.toString, n) })
        gcGenerations(live)
      }
    }
    val idxTmp = new Path(s"$tmp/tbl=series_index/day_p=-1")
    if (fs.exists(idxTmp)) {
      fs.mkdirs(new Path(indexPath))
      var i = 0
      fs.listStatus(idxTmp)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .foreach { f =>
          fs.rename(f.getPath, new Path(indexPath, s"g${gen}_$i.parquet"))
          i += 1
        }
    }
    fs.delete(new Path(tmp), true)
    days
  }

  // ---- data-table manifest (date -> file list) --------------------------

  /** Newest committed (seq, date -> relative file paths). None = never
    * manifest-committed (legacy or externally-written layout).
    */
  private def currentDataManifest(): Option[(Long, Map[String, Seq[String]])] = {
    if (!exists(dataPath)) return None
    val seqs = fs.listStatus(new Path(dataPath)).filter(_.isFile)
      .map(_.getPath.getName).filter(_.startsWith("manifest."))
      .flatMap(_.stripPrefix("manifest.").toLongOption)
    if (seqs.isEmpty) None
    else {
      val s = seqs.max
      Some((s, readManifestLines(dataPath, s).groupBy(_._1)
        .map { case (d, ls) => d -> ls.map(_._2) }))
    }
  }

  private def publishDataManifest(seq: Long,
      entries: Map[String, Seq[String]]): Unit =
    publishManifestLines(dataPath, seq,
      entries.toSeq.sortBy(_._1)
        .flatMap { case (d, fls) => fls.sorted.map(f => (d, f)) })

  /** Committed parquet files under one date dir (bootstrap + GC). */
  private def listDateFiles(date: String): Seq[String] = {
    val dir = new Path(s"$dataPath/date=$date")
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .map(f => s"date=$date/${f.getPath.getName}").toSeq
  }

  private def bootstrapDataEntries(): Map[String, Seq[String]] =
    if (!exists(dataPath)) Map.empty
    else fs.listStatus(new Path(dataPath)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith("date="))
      .map(_.stripPrefix("date="))
      .map(d => d -> listDateFiles(d)).filter(_._2.nonEmpty).toMap

  /** Rewrite one date partition densely (ts-sorted for row-group
    * pruning) and swap it in via the manifest — readers either resolve
    * the small files or the dense one, never a half-swapped dir; the
    * superseded files survive the GC grace window for in-flight scans.
    * The reference's `Tsdb::compact` with the WAL-era visibility rules
    * replaced by the commit protocol.
    */
  def compactDay(date: String, numFiles: Int = 1): Unit = writeLock.synchronized {
    currentDataManifest() match {
      case Some((seq, entries)) if entries.get(date).exists(_.size > numFiles) =>
        val gen = System.nanoTime()
        val tmp = s"$dataPath/.compact_tmp_$gen"
        readDataFiles(entries(date))
          .repartition(numFiles)
          .sortWithinPartitions("metric", "ts")
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        val liveDir = new Path(s"$dataPath/date=$date")
        fs.mkdirs(liveDir)
        var i = 0
        val moved = fs.listStatus(new Path(tmp))
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .map { f =>
            val name = s"c${gen}_$i$KeyedSuffix"
            i += 1
            fs.rename(f.getPath, new Path(liveDir, name))
            s"date=$date/$name"
          }.toSeq
        publishDataManifest(seq + 1, entries.updated(date, moved))
        fs.delete(new Path(tmp), true)
        gcDataFiles(Seq(date))
      case Some(_) => () // nothing to compact
      case None => // legacy layout: dir-swap compaction
        Maintenance.compactPartition(spark, dataPath, date, numFiles)
    }
  }

  /** Retention purge: unreference and delete partitions strictly older
    * than `cutoffDate`, and drop the purged days from the metadata
    * manifests (cutoff interpreted at UTC midnight for the day-keyed
    * tables). Returns the dropped dates.
    */
  def purgeBefore(cutoffDate: String): Seq[String] = writeLock.synchronized {
    val victims = currentDataManifest() match {
      case Some((seq, entries)) =>
        val v = entries.keys.filter(_ < cutoffDate).toSeq.sorted
        if (v.nonEmpty) {
          publishDataManifest(seq + 1, entries -- v)
          v.foreach(d => fs.delete(new Path(s"$dataPath/date=$d"), true))
        }
        v
      case None => Maintenance.purgeOlderThan(spark, dataPath, cutoffDate)
    }
    if (victims.nonEmpty) {
      val cutoffDay = java.time.LocalDate.parse(cutoffDate)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
      Seq(statePath, rollupPath, rollup1dPath).foreach { live =>
        val (seq, entries) = currentManifest(live)
        val keep = entries.filter { case (day, _) => day >= cutoffDay }
        if (keep.size != entries.size)
          publishManifestLines(live, seq + 1,
            keep.toSeq.sortBy(_._1).map { case (d, n) => (d.toString, n) })
      }
    }
    victims
  }

  /** Drop files in the touched date dirs that no surviving manifest
    * references and that are older than the grace window (superseded by
    * compaction, or orphaned by an interrupted commit). Untouched days'
    * leftovers wait until that day is next written or compacted —
    * bounded by the compaction cadence.
    */
  private def gcDataFiles(dates: Seq[String]): Unit = {
    val cutoff = System.currentTimeMillis() - gcGraceMs
    val referenced = gcManifests(dataPath, cutoff)
      .flatMap(s => readManifestLines(dataPath, s)).map(_._2).toSet
    dates.distinct.foreach { d =>
      val dir = new Path(s"$dataPath/date=$d")
      if (fs.exists(dir))
        fs.listStatus(dir)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .filter(f => !referenced.contains(s"date=$d/${f.getPath.getName}") &&
            f.getModificationTime < cutoff)
          .foreach(f => fs.delete(f.getPath, false))
    }
  }

  // ---- manifest commit protocol -----------------------------------------


  /** Newest committed (seq, day → dir). (0, empty) before any commit. */
  private def currentManifest(live: String): (Long, Map[Long, String]) = {
    val dir = new Path(live)
    if (!fs.exists(dir)) return (0L, Map.empty)
    val seqs = fs.listStatus(dir).filter(_.isFile)
      .map(_.getPath.getName).filter(_.startsWith("manifest."))
      .flatMap(_.stripPrefix("manifest.").toLongOption)
    if (seqs.isEmpty) (0L, Map.empty)
    else (seqs.max, readManifestFile(live, seqs.max))
  }

  /** Raw manifest lines (key, value); metadata tables use one line per
    * day, the data table many lines per date.
    */
  private def readManifestLines(live: String, seq: Long): Seq[(String, String)] = {
    val in = fs.open(new Path(s"$live/manifest.$seq"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t')
        l.substring(0, i) -> l.substring(i + 1)
      }.toList
    finally in.close()
  }

  private def readManifestFile(live: String, seq: Long): Map[Long, String] =
    readManifestLines(live, seq).map { case (k, v) => k.toLong -> v }.toMap

  /** Hidden write + atomic rename: the manifest appears fully written or
    * not at all.
    */
  private def publishManifestLines(live: String, seq: Long,
      lines: Seq[(String, String)]): Unit = {
    val tmp = new Path(s"$live/.manifest_tmp_$seq")
    val out = fs.create(tmp, true)
    try out.write(lines
      .map { case (d, n) => s"$d\t$n" }.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    // a failed rename means another writer published this seq — the
    // single-writer lock should make that impossible in-process, so
    // surface it instead of silently dropping the commit
    if (!fs.rename(tmp, new Path(s"$live/manifest.$seq")))
      throw new IllegalStateException(
        s"manifest.$seq already published under $live — concurrent writer?")
  }

  /** Keep the two newest manifests (a reader may hold the previous one
    * mid-scan) and every dir either names; drop older manifests and
    * unreferenced generation dirs.
    */
  /** Delete superseded manifests and return the survivors' seqs.
    * Survivors: the 2 newest plus anything younger than the grace
    * window — a DataFrame resolved against manifest N (e.g. a
    * plannerOptions() captured at query start) keeps its generation
    * dirs/files readable for gcGraceMs even while fast micro-batches
    * keep committing.
    */
  private def gcManifests(live: String, cutoff: Long): Seq[Long] = {
    val manifests = fs.listStatus(new Path(live)).toSeq.filter(_.isFile)
      .flatMap(f => f.getPath.getName.stripPrefix("manifest.").toLongOption
        .filter(_ => f.getPath.getName.startsWith("manifest."))
        .map(s => (s, f)))
      .sortBy(_._1)
    val newest = manifests.takeRight(2).map(_._1).toSet
    val (keep, retire) = manifests.partition { case (s, f) =>
      newest.contains(s) || f.getModificationTime >= cutoff }
    retire.foreach { case (_, f) => fs.delete(f.getPath, false) }
    keep.map(_._1)
  }

  private def gcGenerations(live: String): Unit = {
    val cutoff = System.currentTimeMillis() - gcGraceMs
    val referenced = gcManifests(live, cutoff)
      .flatMap(s => readManifestFile(live, s).values).toSet
    fs.listStatus(new Path(live)).toSeq.filter(_.isDirectory)
      .filter(d => d.getPath.getName.startsWith("d_") &&
        !referenced.contains(d.getPath.getName) &&
        d.getModificationTime < cutoff)
      .foreach(d => fs.delete(d.getPath, true))
  }
}
