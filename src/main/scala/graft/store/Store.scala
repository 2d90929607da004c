package graft.store

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.CacheScope
import graft.model.Dp
import graft.query.Planner
import graft.rollup.Rollup
import graft.store.Store.{Catalog, Day, Slice}
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The maintained store: raw data plus the three metadata tables the
  * reference keeps write-time state for. Each ingest batch appends its
  * own increment to them, reading back only the slice state of days
  * older than the catalog's resident week; queries never derive them
  * from fact data.
  *
  * A batch comes in through one of two entry points, which differ only
  * in their data writer. A batch already on the driver (an HTTP put, a
  * socket batch, the self-metrics flush) is `ingest(Seq[Dp])`: the
  * driver writes one parquet file per date and runs no Spark job. A
  * DataFrame (a streaming micro-batch, a bulk load) is
  * `ingest(DataFrame)`: Spark writes one file per batch partition and
  * date. Both compute the metadata partials with one kernel,
  * [[Store.slicePartials]] — on the driver, or in the tasks of one
  * shuffle by (skey, day) — and share the rest of the commit. Raw data
  * lives in date partitions, compacted per date on a batch cadence. Each
  * row carries the dp columns and its canonical series key `skey`,
  * written next to them, so a query reads the key instead of deriving it
  * per row (see [[readDataFiles]] for files written without it).
  *
  *   - `series_index` (skey, metric, tags): the per-metric series
  *     registry (`g_metric_map` + `Mapping`, reference
  *     `src/core/tsdb.cpp:1586-1609`). Append-only: a batch appends the
  *     series the catalog (below) does not hold yet.
  *   - `slice_state` (skey, day, hwm, ooo): per-(series, day-slice)
  *     high-water-mark and out-of-order flag. The reference marks OOO at
  *     WRITE time — a point at or before the slice's high water mark
  *     routes to the OOO page and sets `out_of_order2`
  *     (`src/core/ts.cpp:281-324`, `src/agg/rollup.cpp:214-243`) — so a
  *     routed query reads the marks, never re-derives them by sorting
  *     raw data. Within a batch, order is the batch's `seq`; across
  *     batches, the catalog's hwm carries the comparison. A batch
  *     appends the new state of the slices it touched; a slice's state
  *     is the max hwm and the or of ooo over its day's rows.
  *   - `rollup_1h` and `rollup_1d` (skey, wts, cnt, min, max, sum): the
  *     write-time hourly accumulator and its daily level
  *     (`src/agg/rollup.cpp:180-286`). A batch appends its own partials
  *     as a delta; a window's value is the merge of its deltas (sum of
  *     cnts and sums, min of mins, max of maxes). A rollup-answered
  *     downsample aggregates those four per bucket anyway, so the planner
  *     reads the deltas unmerged, and only the public [[rollup1h]] and
  *     [[rollup1d]] views merge them. Duplicate/OOO points make a slice's
  *     rollup wrong by construction — exactly the slices `slice_state`
  *     marks, which [[Rollup.downsampleWithFallback]] recomputes from raw.
  *
  * The three day-keyed tables are MANIFEST-COMMITTED: each is a set of
  * immutable generation directories, one per (day, batch), plus a
  * numbered manifest listing every day's directories. A batch writes its
  * deltas into new directories, then publishes each table's next
  * manifest (hidden write + atomic file rename); readers resolve the
  * newest manifest and read exactly the directories it names, so they
  * observe the previous commit or the new one, never half of it. This is
  * a miniature of the Delta/Iceberg commit protocol, chosen over
  * delete+rename partition swaps whose listing window can expose a
  * half-swapped table. [[compactDay]] folds a day's deltas into one
  * generation on the compaction cadence — the reference's
  * flush/compaction split (`Tsdb::compact`) — which bounds the
  * directories a read lists. Superseded generations survive the GC grace
  * window for in-flight readers. A store written with one merged
  * generation per day reads as one delta per day.
  *
  * Series, OOO marks and recent slice state live in a driver-resident
  * catalog, the reference's in-memory registry: the series index, every
  * day's marked slices, and each series' hwm for the resident days — the
  * [[Store.ResidentDays]] newest, as the reference keeps a week of
  * partitions in memory before it archives them (`include/tsdb.h:48-77`).
  * A batch is checked against it (cross-batch OOO, new series) on the
  * driver; a batch that reaches an older day reads that day's state in
  * one small Spark job. Its metadata files are a few rows per touched
  * slice, so the driver writes them, and the commit replaces the
  * snapshot with one that includes them: the queries after it run no
  * metadata job. A snapshot is replaced, never mutated. A commit by
  * another process on the same root is found by the next check (one
  * listing and one manifest read) and read in one small Spark job.
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
  private val indexSchema = Store.indexSchema
  private val rollupSchema = StructType(Seq(
    StructField("skey", StringType), StructField("cnt", LongType),
    StructField("min", DoubleType), StructField("max", DoubleType),
    StructField("sum", DoubleType), StructField("wts", LongType),
    StructField("day", LongType)))

  // a LocalRelation (not an empty RDD): PropagateEmptyRelation then
  // collapses first-batch joins/unions against it at PLAN time — an
  // empty-RDD frame looks non-empty to the optimizer and keeps its
  // shuffle stages alive
  private def emptyFrame(schema: StructType): DataFrame = Store.localFrame(spark, Nil, schema)

  /** A rollup table's deltas as the newest manifest names them,
    * unmerged: a window has one row per delta that touched it.
    */
  private def rollupDeltas(path: String): DataFrame = {
    val dirs = currentManifest(path)._2.values.flatten.toSeq
    (if (dirs.isEmpty) emptyFrame(rollupSchema)
     else spark.read.schema(rollupSchema).parquet(dirs.map(n => s"$path/$n"): _*))
      .select("skey", "wts", "cnt", "min", "max", "sum")
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
        val lo = localDate(startMs - slackMs).minusDays(1).toString
        val hi = localDate(endMs + slackMs).plusDays(1).toString
        // ISO date strings order lexicographically = chronologically
        readDataFiles(entries.view.filterKeys(d => d >= lo && d <= hi)
          .values.flatten.toSeq)
      case None => data
    }

  private def sessionZone = java.time.ZoneId.of(
    spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))

  /** The date of `ms` in `zone`: a data row's `date=` partition under the
    * session timezone, as `to_date` derives it.
    */
  private def localDate(ms: Long, zone: java.time.ZoneId = sessionZone) =
    java.time.Instant.ofEpochMilli(ms).atZone(zone).toLocalDate

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
    * the slices marked OOO.
    */
  def oooMarks: DataFrame = catalog().marks

  /** The maintained hourly rollup, one row per (series, hour): its
    * deltas merged.
    */
  def rollup1h: DataFrame = mergeDeltas(rollupPath,
    currentManifest(rollupPath)._2.toSeq.sortBy(_._1).flatMap(_._2))

  /** The maintained level-2 (daily) rollup — the reference's
    * `RollupManager` level-2 files (`src/agg/rollup.cpp`, level2 query
    * path `include/mmap.h:299-315`). A year-long daily query reads 24×
    * fewer rows here than composing from the hourly table.
    */
  def rollup1d: DataFrame = mergeDeltas(rollup1dPath,
    currentManifest(rollup1dPath)._2.toSeq.sortBy(_._1).flatMap(_._2))

  /** A rollup table's deltas in `dirs` merged to one row per (series,
    * window): cnt, min and max combine in any order, and the sums add in
    * the order of `dirs` (oldest delta first). A merged value is then the
    * one an accumulator fed batch by batch holds, whatever files hold
    * the deltas — the same before and after [[compactDay]] folds them.
    */
  private def mergeDeltas(path: String, dirs: Seq[String]): DataFrame = {
    val deltas =
      if (dirs.isEmpty) emptyFrame(rollupSchema).withColumn("delta", lit(0))
      else spark.read.schema(rollupSchema).parquet(dirs.map(d => s"$path/$d"): _*)
        .withColumn("delta", element_at(typedLit(dirs.zipWithIndex.toMap),
          regexp_extract(col("_metadata.file_path"), "/(d_[^/]+)/[^/]+$", 1)))
    deltas
      .groupBy(col("skey"), col("wts"))
      .agg(
        sum(col("cnt")).as("cnt"),
        min(col("min")).as("min"),
        max(col("max")).as("max"),
        aggregate(array_sort(collect_list(struct(col("delta"), col("sum")))),
          lit(null).cast(DoubleType),
          (acc, d) => coalesce(acc + d("sum"), acc, d("sum"))).as("sum"))
  }

  /** Default planner options over this store: index scans, maintained OOO
    * marks, and both rollup levels — the configuration every query should
    * run with (what the reference's QuerySuperTask always has). The
    * rollups are the unmerged deltas: the routed downsample's own
    * aggregation merges them.
    */
  def plannerOptions(): Planner.Options = {
    val c = catalog()
    Planner.Options(
      seriesIndex = Some(c.index),
      oooMarks = Some(c.marks),
      rollup1h = Some(rollupDeltas(rollupPath)),
      rollup1d = Some(rollupDeltas(rollup1dPath)))
  }

  // ---- driver-resident catalog ------------------------------------------

  @volatile private var snapshot =
    Catalog(Set.empty, Vector.empty, Set.empty, 0L, Map.empty)(spark)
  private val catalogLock = new Object

  /** The catalog, current with the store's files. Each call costs one
    * listing of the index dir and one manifest read. A changed index
    * file set or state manifest reloads what changed, in one small Spark
    * job each: the new index files (the index is append-only and its
    * files are immutable), and the state dirs the snapshot has not read
    * — a day whose dirs only grew folds in its new deltas, a day whose
    * dirs were replaced (compacted by another process) is re-read whole,
    * and a day no longer listed is dropped. Of a day outside the
    * resident window the read keeps only the marked rows. The writer
    * replaces the snapshot as its commit's last step, so this check
    * finds it current unless another process wrote to the root.
    */
  private def catalog(): Catalog = catalogLock.synchronized {
    val c = snapshot
    val files = indexFileNames()
    val (seq, dayDirs) = currentManifest(statePath)
    if (files != c.indexFiles || seq != c.stateSeq) {
      val (indexRows, keys) =
        if (files == c.indexFiles) (c.indexRows, c.keys)
        else {
          val grown = c.indexFiles.subsetOf(files)
          val added = readRows(indexPath, indexSchema,
            (if (grown) files -- c.indexFiles else files).toSeq.sorted)
          if (grown) (c.indexRows ++ added, c.keys ++ added.map(_.getString(0)))
          else (added, added.map(_.getString(0)).toSet)
        }
      val days =
        if (seq == c.stateSeq) c.days
        else {
          val from = Store.residentFrom(dayDirs.keys)
          // what the snapshot read of a day still listed, while its dirs
          // only grew; a resident day must hold its hwm
          val kept = dayDirs.flatMap { case (day, dirs) =>
            c.days.get(day)
              .filter(d => d.dirs.forall(dirs.contains) && (d.hwm.isDefined || day < from))
              .map(d => day -> (if (day >= from) d else d.copy(hwm = None)))
          }
          val read = readRows(statePath, stateSchema,
            dayDirs.toSeq.flatMap { case (day, dirs) =>
              dirs.filterNot(kept.get(day).fold(Seq.empty[String])(_.dirs).contains)
            },
            col("ooo") || col("day") >= from).groupBy(_.getLong(3))
          dayDirs.map { case (day, dirs) =>
            val base = kept.getOrElse(day,
              Day(Nil, Set.empty, Option.when(day >= from)(Map.empty)))
            day -> base.add(dirs, read.getOrElse(day, Nil))
          }
        }
      snapshot = Catalog(files, indexRows, keys, seq, days)(spark)
    }
    snapshot
  }

  /** Each series' hwm on each of `days`: the catalog's for a resident
    * day, read from the day's state dirs for an older one (one small
    * Spark job for all of them), empty for a day with no state yet.
    */
  private def hwmOf(c: Catalog, days: Seq[Long]): Map[Long, Map[String, Long]] = {
    val older = days.filter(d => c.days.get(d).exists(_.hwm.isEmpty))
    val read = readRows(statePath, stateSchema, older.flatMap(c.days(_).dirs))
      .groupBy(_.getLong(3))
    days.map { d =>
      d -> c.days.get(d).flatMap(_.hwm).getOrElse(Store.foldHwm(Map.empty, read.getOrElse(d, Nil)))
    }.toMap
  }

  private def readRows(dir: String, schema: StructType, names: Seq[String],
      where: Column = lit(true)): Vector[Row] =
    if (names.isEmpty) Vector.empty
    else spark.read.schema(schema).parquet(names.map(n => s"$dir/$n"): _*)
      .where(where).collect().toVector

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

  // overlaps the data append with the slice aggregation — Spark job
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

  /** Ingest one batch held as a DataFrame (a streaming micro-batch, a
    * bulk load): Spark writes its data ([[appendData]]) while the
    * partials are computed in one shuffle ([[computeSliceState]]).
    * Thread-safe: batches from concurrent edges are serialized on
    * [[writeLock]].
    */
  def ingest(batch: DataFrame): Unit = commit {
    CacheScope { cache =>
      val keyed = cache.keep(Dp.withSeriesKey(batch.select(Dp.columns.map(col): _*)))
      // The append and the slice partials race on materializing the
      // SAME cached `keyed` blocks (the block manager serializes
      // per-partition computes), so the append's write overlaps the
      // partials instead of following it
      val dataCommit = Future(appendData(keyed))(ingestPool)
      val partials = computeSliceState(keyed)
      Await.result(dataCommit, Duration.Inf)
      partials
    }
  }

  /** Ingest one batch already on the driver (an HTTP put, a socket
    * batch, a self-metrics flush): the driver keys it, writes one data
    * file per date ([[appendLocal]]) and runs [[Store.slicePartials]]
    * itself — no Spark job and no generated class. Thread-safe like the
    * DataFrame form.
    */
  def ingest(dps: Seq[Dp]): Unit = commit {
    val keyed = dps.map(d => Dp.seriesKey(d.metric, d.tags) -> d)
    appendLocal(keyed)
    keyed.groupBy { case (k, d) => (k, Store.floorTo(d.ts, Rollup.DayMs)) }.toSeq
      .flatMap { case ((k, day), rows) =>
        Store.slicePartials(k, day,
          rows.map(_._2).sortBy(_.seq).map(d => (d.ts, Double.box(d.value))))
      }
  }

  /** The commit both ingest forms share around their data writer:
    * snapshot the checkpoints, take the catalog the batch is checked
    * against, let `writeData` commit the data and return its partials,
    * then commit the metadata, run the compaction cadence and persist the
    * checkpoints.
    */
  private def commit(writeData: => Seq[Store.Partial]): Unit = writeLock.synchronized {
    // snapshot BEFORE the flush: checkpoints that arrive mid-commit wait
    // for the next cycle, exactly the reference's rotate-task ordering
    checkpoints.takeSnapshot()
    // the state this batch is checked against: current without a job
    // unless another process committed since the last check
    val prior = catalog()
    // metadata must not commit before the data it describes: a crash
    // window may lose metadata for committed data but never the reverse
    val partials = writeData
    maybeCompact(commitMetadata(prior, partials))
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
    * manifest, so the batch appears atomically. Each of the batch's
    * partitions writes its own file per date, with no shuffle (unlike
    * Ingest.writePartitioned's repartition-by-date): auto-compaction
    * rewrites partitions densely on a batch cadence — the reference's
    * compaction split of responsibilities.
    */
  private def appendData(keyed: DataFrame): Unit = {
    val gen = System.nanoTime()
    val tmp = s"$dataPath/.ingest_tmp_$gen"
    keyed.select((Dp.columns :+ "skey").map(col): _*)
      .withColumn("date", to_date(timestamp_millis(col("ts"))))
      .write.mode(SaveMode.Overwrite).partitionBy("date").parquet(tmp)
    publishAppended(fs.listStatus(new Path(tmp)).toSeq.filter(_.isDirectory)
      .map(_.getPath).filter(_.getName.startsWith("date=")).flatMap { dp =>
        val date = dp.getName.stripPrefix("date=")
        val liveDir = new Path(s"$dataPath/date=$date")
        fs.mkdirs(liveDir)
        fs.listStatus(dp).toSeq
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
          .zipWithIndex.map { case (f, i) =>
            val name = s"g${gen}_$i$KeyedSuffix"
            fs.rename(f.getPath, new Path(liveDir, name))
            date -> s"date=$date/$name"
          }
      })
    fs.delete(new Path(tmp), true)
  }

  /** [[appendData]] for a batch on the driver: one file per date,
    * written hidden by [[writeLocal]] and renamed in, then committed to
    * the data manifest the same way.
    */
  private def appendLocal(keyed: Seq[(String, Dp)]): Unit = {
    val gen = System.nanoTime()
    val zone = sessionZone
    publishAppended(keyed.groupBy { case (_, d) => localDate(d.ts, zone).toString }.toSeq
      .sortBy(_._1).map { case (date, rows) =>
        val name = s"g${gen}_0$KeyedSuffix"
        val tmp = new Path(s"$dataPath/date=$date/.$name")
        writeLocal(tmp.toString, dataFileSchema, rows.map { case (k, d) =>
          Row(d.metric, d.tags, d.ts, d.value, d.seq, k)
        })
        fs.rename(tmp, new Path(s"$dataPath/date=$date/$name"))
        date -> s"date=$date/$name"
      })
  }

  /** Publish the data manifest with the files `moveIn` puts in place
    * (date, relative path) appended, then drop the touched dates'
    * unreferenced files. Adopting a pre-manifest layout: the files on
    * disk before `moveIn` runs fold into the first manifest, so nothing
    * already there goes unreferenced.
    */
  private def publishAppended(moveIn: => Seq[(String, String)]): Unit = {
    val (prevSeq, prevEntries) = currentDataManifest()
      .getOrElse((0L, bootstrapDataEntries()))
    val files = moveIn
    publishDataManifest(prevSeq + 1, files.foldLeft(prevEntries) { case (m, (date, f)) =>
      m.updated(date, m.getOrElse(date, Nil) :+ f)
    })
    gcDataFiles(files.map(_._1).distinct)
  }

  // per-date count of shuffle-free appends since that date's data
  // partition was last rewritten densely — the auto-compaction cadence
  // the reference runs as a background task (`Tsdb::compact`). Without
  // it, micro-batch appends accrete one small file per batch per
  // partition forever, and one metadata delta per batch per day.
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
    days.flatMap(d => Seq(localDate(d), localDate(d + Rollup.DayMs - 1)).map(_.toString))
      .distinct.foreach { date =>
        val n = batchesSinceCompact(date) + 1
        if (n >= compactEveryBatches && exists(s"$dataPath/date=$date")) {
          compactDay(date) // reentrant under the ingest's writeLock
          batchesSinceCompact(date) = 0
        } else batchesSinceCompact(date) = n
      }
  }

  /** The batch's partials, collected once: one shuffle by (skey, day),
    * sorted by `seq` within each slice, whose tasks run
    * [[Store.slicePartials]] on each run of one slice's rows.
    */
  private def computeSliceState(keyed: DataFrame): Seq[Store.Partial] =
    keyed
      .withColumn("day", col("ts") - pmod(col("ts"), lit(Rollup.DayMs)))
      .repartition(col("skey"), col("day"))
      .sortWithinPartitions("skey", "day", "seq")
      .select("skey", "day", "ts", "value")
      .rdd.mapPartitions { it =>
        val rows = it.buffered
        Iterator.continually(rows).takeWhile(_.hasNext).flatMap { _ =>
          val (k, day) = (rows.head.getString(0), rows.head.getLong(1))
          val points = Vector.newBuilder[(Long, java.lang.Double)]
          while (rows.hasNext && rows.head.getLong(1) == day && rows.head.getString(0) == k) {
            val r = rows.next()
            points += r.getLong(2) -> (if (r.isNullAt(3)) null else Double.box(r.getDouble(3)))
          }
          Store.slicePartials(k, day, points.result())
        }
      }.collect().toSeq

  /** Commit the batch's metadata from its partials, reading back only
    * the state of days older than the resident week ([[hwmOf]]): per
    * touched day, the hourly partials as a 1h delta, their per-series
    * fold as a 1d delta (sum of sums, min of mins — the composition rule
    * of the reference's level-2 build), and the touched slices' new
    * state — the batch's slice checked against the catalog's (`hwm` =
    * max, `ooo` = or, plus the cross-batch test: a batch point at or
    * before the stored hwm) — plus the series the catalog lacks. The
    * driver writes each as one file into a new generation dir, publishes
    * the manifests, and replaces the catalog snapshot with one that holds
    * the new state and series. Returns the touched days, for the
    * compaction cadence.
    */
  private def commitMetadata(prior: Catalog, partials: Seq[Store.Partial]): Seq[Long] = {
    if (partials.isEmpty) return Nil
    val gen = System.nanoTime()
    val bySlice = partials.groupBy(p => (p.day, p.skey))
    val days = bySlice.keys.map(_._1).toSeq.distinct.sorted
    // Spark's aggregate rules: nulls skipped, min/max as Store.minOf/maxOf
    def fold(hours: Seq[Store.Partial])(v: Store.Partial => java.lang.Double)(
        f: (Double, Double) => Double): java.lang.Double =
      hours.flatMap(h => Option(v(h))).map(_.doubleValue).reduceOption(f)
        .map(Double.box).orNull
    val daily = bySlice.toSeq.map { case ((day, k), slice) =>
      val hours = slice.sortBy(_.wts)
      day -> Row(k, hours.map(_.cnt).sum, fold(hours)(_.min)(Store.minOf),
        fold(hours)(_.max)(Store.maxOf), fold(hours)(_.sum)(_ + _), day, day)
    }
    val hwm = hwmOf(prior, days)
    val state = bySlice.toSeq.map { case ((day, k), hours) =>
      val bmin = hours.map(_.bmin).min
      val bmax = hours.map(_.bmax).max
      val ooo = hours.exists(_.ooo)
      (day, k, hwm(day).get(k).fold(Slice(bmax, ooo))(h => Slice(h max bmax,
        ooo || bmin <= h || prior.days.get(day).exists(_.marked(k)))))
    }
    def deltas(live: String, schema: StructType, rows: Seq[(Long, Row)]): Map[Long, String] =
      rows.groupMap(_._1)(_._2).map { case (day, rs) =>
        val dir = s"d_${day}_$gen"
        writeLocal(s"$live/$dir/part-0.parquet", schema, rs)
        day -> dir
      }
    // state first: a reader between the publishes may see a slice marked
    // before its rollup delta lands, which routes it to raw (correct)
    val stateDirs = deltas(statePath, stateSchema,
      state.map { case (day, k, s) => day -> Row(k, s.hwm, s.ooo, day) })
    val (stateSeq, stateEntries) = appendToManifest(statePath, stateDirs)
    appendToManifest(rollupPath, deltas(rollupPath, rollupSchema, partials.map(p =>
      p.day -> Row(p.skey, p.cnt, p.min, p.max, p.sum, p.wts, p.day))))
    appendToManifest(rollup1dPath, deltas(rollup1dPath, rollupSchema, daily))
    // new series: the append-only index gains one file, written hidden
    // and renamed in, since readers list the index dir
    val newRows = partials.map(_.skey).distinct.filterNot(prior.keys).sorted
      .map { k => val (metric, tags) = Dp.parseKey(k); Row(k, metric, tags) }
    val indexFile = if (newRows.isEmpty) None else {
      val name = s"g$gen.parquet"
      val tmp = new Path(s"$indexPath/.$name")
      writeLocal(tmp.toString, indexSchema, newRows)
      fs.rename(tmp, new Path(s"$indexPath/$name"))
      Some(name)
    }
    val from = Store.residentFrom(stateEntries.keys)
    val touched = state.groupBy(_._1)
    val nextDays = stateEntries.map { case (day, dirs) =>
      val d = touched.get(day).fold(prior.days(day)) { ss =>
        Day(dirs,
          prior.days.get(day).fold(Set.empty[String])(_.marked) ++
            ss.collect { case (_, k, s) if s.ooo => k },
          Some(hwm(day) ++ ss.map { case (_, k, s) => k -> s.hwm }))
      }
      day -> (if (day >= from) d else d.copy(hwm = None))
    }
    catalogLock.synchronized {
      snapshot = prior.copy(
        indexFiles = prior.indexFiles ++ indexFile,
        indexRows = prior.indexRows ++ newRows,
        keys = prior.keys ++ newRows.map(_.getString(0)),
        stateSeq = stateSeq,
        days = nextDays)(spark)
    }
    days
  }

  /** Writes `rows` as one parquet file at `path` from the driver, with
    * the writer a Spark write task uses: no Spark job. For metadata
    * deltas — a few rows per touched slice — a job's launch would cost
    * more than the write.
    */
  private def writeLocal(path: String, schema: StructType, rows: Seq[Row]): Unit = {
    val job = Job.getInstance(spark.sparkContext.hadoopConfiguration)
    val writer = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
      .newInstance(path, schema,
        new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID()))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
  }

  /** Publish `live`'s next manifest: the current one with each day's new
    * dir listed after its earlier deltas. Returns the published
    * (seq, day -> dirs).
    */
  private def appendToManifest(live: String,
      added: Map[Long, String]): (Long, Map[Long, Seq[String]]) = {
    val (seq, entries) = currentManifest(live)
    val next = added.foldLeft(entries) { case (m, (day, dir)) =>
      m.updated(day, m.getOrElse(day, Nil) :+ dir)
    }
    publishManifest(live, seq + 1, next)
    gcGenerations(live)
    (seq + 1, next)
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
      Some((s, readManifestLines(dataPath, s).groupMap(_._1)(_._2)))
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
    * Then fold the metadata deltas of the UTC days the date covers
    * ([[foldDeltas]]). The reference's `Tsdb::compact` with the WAL-era
    * visibility rules replaced by the commit protocol.
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
    // the UTC days of the date's first and last ms (one day on UTC)
    val local = java.time.LocalDate.parse(date)
    def startMs(d: java.time.LocalDate) = d.atStartOfDay(sessionZone).toInstant.toEpochMilli
    Seq(startMs(local), startMs(local.plusDays(1)) - 1)
      .map(Store.floorTo(_, Rollup.DayMs)).distinct
      .foreach(foldDeltas)
  }

  /** Fold one UTC day's deltas into one generation per table, so reads
    * list a bounded number of dirs. The rollups merge in one Spark
    * aggregation each ([[mergeDeltas]]); the slice state is the
    * catalog's, written from the driver (an older day's hwm is read
    * first, [[hwmOf]]). Answers do not change: the
    * merge is what every reader of the deltas computes.
    */
  private def foldDeltas(day: Long): Unit = {
    Seq(rollupPath, rollup1dPath).foreach { live =>
      val dirs = currentManifest(live)._2.getOrElse(day, Nil)
      if (dirs.size > 1) {
        val gen = System.nanoTime()
        val tmp = s"$live/.fold_tmp_$gen"
        mergeDeltas(live, dirs).withColumn("day", lit(day))
          .write.mode(SaveMode.Overwrite).parquet(tmp)
        val dir = s"d_${day}_$gen"
        fs.rename(new Path(tmp), new Path(s"$live/$dir"))
        replaceDay(live, day, dir)
      }
    }
    val c = catalog()
    c.days.get(day).filter(_.dirs.size > 1).foreach { d =>
      val dir = s"d_${day}_${System.nanoTime()}"
      writeLocal(s"$statePath/$dir/part-0.parquet", stateSchema,
        hwmOf(c, Seq(day))(day).toSeq.sortBy(_._1)
          .map { case (k, h) => Row(k, h, d.marked(k), day) })
      val (seq, _) = replaceDay(statePath, day, dir)
      catalogLock.synchronized {
        snapshot = c.copy(stateSeq = seq, days = c.days.updated(day, d.copy(dirs = Seq(dir))))(spark)
      }
    }
  }

  /** Publish `live`'s next manifest with `day`'s dirs replaced by `dir`. */
  private def replaceDay(live: String, day: Long,
      dir: String): (Long, Map[Long, Seq[String]]) = {
    val (seq, entries) = currentManifest(live)
    val next = entries.updated(day, Seq(dir))
    publishManifest(live, seq + 1, next)
    gcGenerations(live)
    (seq + 1, next)
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
        if (keep.size != entries.size) publishManifest(live, seq + 1, keep)
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

  /** Newest committed (seq, day → dirs, oldest delta first). (0, empty)
    * before any commit.
    */
  private def currentManifest(live: String): (Long, Map[Long, Seq[String]]) = {
    val dir = new Path(live)
    if (!fs.exists(dir)) return (0L, Map.empty)
    val seqs = fs.listStatus(dir).filter(_.isFile)
      .map(_.getPath.getName).filter(_.startsWith("manifest."))
      .flatMap(_.stripPrefix("manifest.").toLongOption)
    if (seqs.isEmpty) (0L, Map.empty)
    else (seqs.max, readManifestFile(live, seqs.max))
  }

  /** Raw manifest lines (key, value), one per dir or file: a metadata
    * day lists one line per delta, a data date one per file.
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

  private def readManifestFile(live: String, seq: Long): Map[Long, Seq[String]] =
    readManifestLines(live, seq).groupMap(_._1.toLong)(_._2)

  private def publishManifest(live: String, seq: Long,
      entries: Map[Long, Seq[String]]): Unit =
    publishManifestLines(live, seq, entries.toSeq.sortBy(_._1)
      .flatMap { case (day, dirs) => dirs.map(d => (day.toString, d)) })

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

  /** Keep every generation dir a surviving manifest names; drop the
    * unreferenced ones older than the grace window.
    */
  private def gcGenerations(live: String): Unit = {
    val cutoff = System.currentTimeMillis() - gcGraceMs
    val referenced = gcManifests(live, cutoff)
      .flatMap(s => readManifestFile(live, s).values.flatten).toSet
    fs.listStatus(new Path(live)).toSeq.filter(_.isDirectory)
      .filter(d => d.getPath.getName.startsWith("d_") &&
        !referenced.contains(d.getPath.getName) &&
        d.getModificationTime < cutoff)
      .foreach(d => fs.delete(d.getPath, true))
  }
}

private object Store {

  /** One slice's write-time state: its high-water mark, and whether a
    * point arrived at or before it (or was NaN/Inf).
    */
  final case class Slice(hwm: Long, ooo: Boolean)

  /** One hour of one slice in a batch: the rollup accumulators (`min`,
    * `max` and `sum` null when no point carries a value), the min and max
    * ts, and whether a point was out of order within the batch or NaN/Inf.
    */
  final case class Partial(skey: String, day: Long, wts: Long, cnt: Long,
      min: java.lang.Double, max: java.lang.Double, sum: java.lang.Double,
      bmin: Long, bmax: Long, ooo: Boolean)

  /** `ms` floored to a multiple of `unit` (a UTC day or hour). */
  def floorTo(ms: Long, unit: Long): Long = ms - Math.floorMod(ms, unit)

  /** Spark's `min` and `max` of doubles, one value at a time: NaN above
    * every number and -0.0 equal to 0.0 (`compareDoubles`), and the
    * running value changes only for a strictly smaller (larger) one, so
    * of equal values the first stays.
    */
  def minOf(acc: Double, x: Double): Double = if (compareDoubles(x, acc) < 0) x else acc
  def maxOf(acc: Double, x: Double): Double = if (compareDoubles(x, acc) > 0) x else acc

  /** The partials kernel: one (series, day) slice's points (ts, value) in
    * `seq` order to its per-hour [[Partial]]s. A point is out of order
    * when it is at or before the max ts of the points before it — the
    * reference's in-memory page test, bounded by batch size. Spark's
    * aggregate rules hold: a null value counts only in the ts columns,
    * min and max are [[minOf]]/[[maxOf]] in `seq` order, and the sum adds
    * in `seq` order from 0.0. Both ingest forms run it, so their
    * metadata agree bit for bit.
    */
  def slicePartials(skey: String, day: Long,
      points: Seq[(Long, java.lang.Double)]): Seq[Partial] = {
    final class Hour(val wts: Long, var bmin: Long, var bmax: Long) {
      var cnt = 0L
      var min, max, sum = 0.0
      var ooo = false
    }
    val hours = scala.collection.mutable.TreeMap.empty[Long, Hour]
    var hwm: Option[Long] = None
    points.foreach { case (ts, v) =>
      val wts = floorTo(ts, Rollup.HourMs)
      val h = hours.getOrElseUpdate(wts, new Hour(wts, ts, ts))
      h.bmin = h.bmin min ts
      h.bmax = h.bmax max ts
      h.ooo ||= hwm.exists(ts <= _)
      hwm = Some(hwm.fold(ts)(_ max ts))
      if (v != null) {
        val x = v.doubleValue
        h.ooo ||= x.isNaN || x.isInfinite
        h.min = if (h.cnt == 0) x else minOf(h.min, x)
        h.max = if (h.cnt == 0) x else maxOf(h.max, x)
        h.sum += x
        h.cnt += 1
      }
    }
    hours.values.map { h =>
      def valued(x: Double): java.lang.Double = if (h.cnt == 0) null else Double.box(x)
      Partial(skey, day, h.wts, h.cnt, valued(h.min), valued(h.max), valued(h.sum),
        h.bmin, h.bmax, h.ooo)
    }.toSeq
  }

  /** Days whose hwm the catalog holds: the newest week of days with
    * slice state — the reference's archive threshold.
    */
  val ResidentDays = 7

  /** The first resident day, given the days with slice state. */
  def residentFrom(days: Iterable[Long]): Long =
    days.maxOption.fold(Long.MinValue)(_ - (ResidentDays - 1) * Rollup.DayMs)

  private val indexSchema = StructType(Seq(
    StructField("skey", StringType), StructField("metric", StringType),
    StructField("tags", MapType(StringType, StringType))))
  private val marksSchema = StructType(Seq(
    StructField("skey", StringType), StructField("day", LongType)))

  /** One day's slice state as the catalog holds it: the state dirs read,
    * the series marked OOO, and each series' hwm while the day is
    * resident (None for an older day).
    */
  final case class Day(dirs: Seq[String], marked: Set[String],
      hwm: Option[Map[String, Long]]) {
    /** This day listed at `dirs`, with state rows (skey, hwm, ooo, day)
      * folded in: a slice's hwm is the max, its mark the or.
      */
    def add(dirs: Seq[String], rows: Seq[Row]): Day = Day(dirs,
      marked ++ rows.filter(_.getBoolean(2)).map(_.getString(0)),
      hwm.map(foldHwm(_, rows)))
  }

  /** `hwm` with state rows (skey, hwm, ooo, day) folded in: the max. */
  def foldHwm(hwm: Map[String, Long], rows: Seq[Row]): Map[String, Long] =
    rows.foldLeft(hwm) { (m, r) =>
      m.updated(r.getString(0), m.get(r.getString(0)).fold(r.getLong(1))(_ max r.getLong(1)))
    }

  /** One immutable snapshot of the series index and the slice state,
    * and the on-disk state it holds: the index's file names and the
    * slice_state manifest's seq.
    */
  final case class Catalog(indexFiles: Set[String], indexRows: Vector[Row],
      keys: Set[String], stateSeq: Long, days: Map[Long, Day])(spark: SparkSession) {
    lazy val index: DataFrame = localFrame(spark, indexRows, indexSchema)
    lazy val marks: DataFrame = localFrame(spark,
      for ((day, d) <- days.toSeq; k <- d.marked.toSeq) yield Row(k, day), marksSchema)
  }

  def localFrame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}
