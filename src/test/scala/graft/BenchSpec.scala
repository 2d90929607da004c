package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerProbe
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Bench's per-gate counters: attribution to the labelled gate only,
  * equal deterministic counters across runs, and the record's shape; and
  * that every gate leaves the session as it found it.
  */
class BenchSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Jobs of any gate, or none, started while `f` ran. */
  private def allJobs(f: => Unit): Long = {
    val sc = spark.sparkContext
    val n = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerProbe.drain(sc)
    sc.addSparkListener(l)
    try { f; ListenerProbe.drain(sc) }
    finally sc.removeSparkListener(l)
    n.get
  }

  test("counters: a gate's AQE, broadcast and streaming jobs count for it only") {
    import spark.implicits._
    val sc = spark.sparkContext
    val counters = new GateCounters
    sc.addSparkListener(counters)
    try {
      val a = spark.range(0, 20000).selectExpr("id % 97 AS k", "id AS v")
      val b = spark.range(0, 500).selectExpr("id AS k", "id * 2 AS w")
      // shuffled aggregate (AQE query stages) joined to a broadcast side
      val joined = a.groupBy("k").agg(sum("v").as("s")).join(broadcast(b), "k")
      val j1 = allJobs(GateCounters.counted(sc, "g1")(joined.collect()))
      // between two gates: counted for neither
      val between = allJobs(spark.range(0, 1000).repartition(3).count())
      // a micro-batch query started inside the gate: its batches run on
      // the stream's own thread, under its own job description
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Int]
      mem.addData(1 to 100: _*)
      val j2 = allJobs(GateCounters.counted(sc, "g2") {
        val q = mem.toDF().groupBy(($"value" % 5).as("m")).count()
          .writeStream.format("memory").queryName("bench_spec_counts")
          .outputMode("complete").start()
        try q.processAllAvailable() finally q.stop()
      })
      ListenerProbe.drain(sc)
      val got = counters.snapshot
      assert(got.keySet === Set("g1", "g2"))
      assert(j1 >= 3, s"expected AQE + broadcast jobs, saw $j1")
      assert(between >= 1)
      assert(got("g1").jobs === j1)
      assert(got("g2").jobs === j2 && j2 >= 1)
      assert(got("g1").stages >= 2 && got("g1").tasks >= got("g1").stages)
      assert(got("g1").shuffleWriteBytes > 0 && got("g1").shuffleReadBytes > 0)
      assert(got.values.map(_.jobs).sum === j1 + j2)
    } finally sc.removeSparkListener(counters)
  }

  test("counters: a gate over a cached input reports its scans' rows, not cached batches") {
    val sc = spark.sparkContext
    val counters = new GateCounters
    // three partitions of 10,000 rows: one cached column batch each
    val cached = spark.range(0, 30000, 1, 3).selectExpr("id AS k", "id % 7 AS v").cache()
    sc.addSparkListener(counters)
    try {
      cached.count()
      GateCounters.counted(sc, "cached")(
        cached.filter(col("v") === 3).groupBy("v").count().collect())
      // the cached side runs in the final stage, the range under a broadcast
      GateCounters.counted(sc, "joined")(
        cached.join(broadcast(spark.range(0, 10).toDF("k")), "k").collect())
      ListenerProbe.drain(sc)
      // every batch holds each residue, so no batch is pruned
      assert(counters.snapshot("cached").rowsRead === 30000)
      assert(counters.snapshot("joined").rowsRead === 30010)
    } finally {
      sc.removeSparkListener(counters)
      cached.unpersist(true)
    }
  }

  test("counters: a streaming gate reports its micro-batches' scan rows") {
    import spark.implicits._
    val sc = spark.sparkContext
    val counters = new GateCounters
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Int]
    sc.addSparkListener(counters)
    try {
      GateCounters.counted(sc, "stream") {
        val q = mem.toDF().groupBy(($"value" % 5).as("m")).count()
          .writeStream.format("memory").queryName("bench_spec_stream_rows")
          .outputMode("complete").start()
        try {
          // two micro-batches, 100 and 50 rows
          mem.addData(1 to 100: _*)
          q.processAllAvailable()
          mem.addData(1 to 50: _*)
          q.processAllAvailable()
        } finally q.stop()
      }
      ListenerProbe.drain(sc)
      assert(counters.snapshot("stream").rowsRead === 150)
    } finally sc.removeSparkListener(counters)
  }

  test("bench sweep: equal deterministic counters across runs, one record shape") {
    val gates = Seq("=q_scan_range", "=q_rollup_1h")
    Bench.warmUp(spark, sf)
    try {
      val first = Bench.sweep(spark, sf, gates)
      val second = Bench.sweep(spark, sf, gates)
      assert(first.map(_.name) === Seq("q_rollup_1h", "q_scan_range"))
      assert(second.map(_.name) === first.map(_.name))
      first.zip(second).foreach { case (x, y) =>
        assert(x.median > 0 && y.median > 0, s"${x.name} failed")
        assert(x.counters.jobs >= 1 && x.counters.rowsRead > 0, x.name)
        assert((x.counters.jobs, x.counters.stages, x.counters.rowsRead) ===
          (y.counters.jobs, y.counters.stages, y.counters.rowsRead), x.name)
      }
      val out = java.nio.file.Files.createTempFile("bench_full", ".json")
      Bench.emit(first, sf, 4, None, out)
      val rec = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(out.toFile)
      import scala.jdk.CollectionConverters._
      def keys(field: String) = rec.get(field).fieldNames.asScala.toSet
      assert(keys("queries") === first.map(_.name).toSet)
      assert(keys("counters") === keys("queries"))
      assert(rec.get("cpus").asInt === 4)
      val c = rec.get("counters").get("q_scan_range")
      assert(c.fieldNames.asScala.toSeq === Seq("jobs", "stages", "tasks",
        "task_cpu_ms", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes", "rows_read"))
      assert(c.get("jobs").asLong === first.find(_.name == "q_scan_range").get.counters.jobs)
    } finally Seq("events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet").unpersist(true)
    }
  }

  test("every gate, its result unpersisted, leaves no cache behind") {
    // what Bench, Verify and Explain rely on now that nothing sweeps the
    // session between gates: a gate owns its caches (CacheScope)
    val leaks = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val (rdds, entries) = cacheState()
      val outcome =
        try {
          val df = fn(spark, sf)
          df.count()
          df.unpersist(true)
          None
        } catch { case e: Exception => Some(s"$name failed: ${e.getMessage}") }
      val (rddsAfter, entriesAfter) = cacheState()
      val leaked = rddsAfter -- rdds
      outcome.orElse(Option.when(leaked.nonEmpty || entriesAfter > entries)(
        s"$name: ${leaked.size} RDDs, ${entriesAfter - entries} CacheManager entries"))
    }
    assert(leaks.isEmpty, s"${leaks.size} gates left cached state:\n" +
      leaks.mkString("\n"))
  }
}
