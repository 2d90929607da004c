package graft.wirebench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.api.{HttpApi, QueryApi}
import graft.ingest.LineParsers
import graft.store.Store
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Wire-to-answer benchmark: boots a [[Store]] plus [[HttpApi]] in this
  * JVM (no timer threads, no socket batchers), drives it over loopback
  * HTTP from one closed-loop client, checks every answer, and prints
  * one JSON result line. `--trace 1` adds a per-layer breakdown from a
  * SparkListener and a QueryExecutionListener registered here.
  *
  *   graft.wirebench.Main --workload ingest|serve|batch --seed N
  *     --seconds S --trace 0|1 --workdir DIR --cpus N --heap H
  *     [--spans FILE] [--expected FILE] [--record FILE] [--dump-ops]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      workdir: Path, cpus: Int, heap: String, spans: Option[Path],
      expected: Option[Path], record: Option[Path], dumpOps: Boolean)

  private def parseArgs(args: Array[String]): Args = {
    val kv = mutable.HashMap.empty[String, String]
    var flags = Set.empty[String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (k == "dump-ops") { flags += k; i += 1 }
      else { kv(k) = args(i + 1); i += 2 }
    }
    val workload = kv("workload")
    require(Set("ingest", "serve", "batch").contains(workload), s"unknown workload $workload")
    Args(workload, kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("workdir")).toAbsolutePath, kv("cpus").toInt, kv("heap"),
      kv.get("spans").map(Paths.get(_)), kv.get("expected").map(Paths.get(_)),
      kv.get("record").map(Paths.get(_)), flags.contains("dump-ops"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    if (a.dumpOps) { print(Ops.dump(a.workload, a.seed, a.seconds)); return }
    val run = new Run(a)
    val ok =
      try run.execute()
      catch { case e: Throwable => e.printStackTrace(); false }
    System.out.flush()
    // no orderly Spark shutdown: its local dirs sit in the run's workdir,
    // which the launcher deletes, and its non-daemon threads must not keep
    // the JVM alive
    Runtime.getRuntime.halt(if (ok) 0 else 1)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One timed op as the client saw it. */
final case class OpRec(id: Int, kind: String, shape: String, start: Long, end: Long,
    nanos: Long, points: Int, responseBytes: Int, dps: Int)

final class Run(a: Main.Args) {
  import Main._

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  private val trace = if (a.trace) Some(new Trace) else None
  private var failures = Vector.empty[String]
  private var attempted = 0
  private val ops = mutable.ArrayBuffer.empty[OpRec]
  // the end-to-end figures
  private var setupS, passS, heapMb = 0.0
  private val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var sparkOpt: Option[SparkSession] = None

  /** A progress line in the run log (stderr), seconds since JVM start. */
  private def phase(what: String): Unit =
    System.err.println(f"[wirebench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s: $what")

  private def fail(what: String): Unit = { failures :+= what; System.err.println(s"[wirebench] FAIL $what") }

  // ---- session -----------------------------------------------------------

  /** [[graft.ServerMain]]'s session settings (the batch workload adds
    * [[graft.Bench]]'s two AQE settings); local dirs stay in the workdir.
    */
  private def boot(): SparkSession = {
    val b = SparkSession.builder()
      .appName("graft")
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.ignoreMissingFiles", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.workdir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.workdir.resolve("warehouse").toString)
    if (a.workload == "batch")
      b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    sparkOpt = Some(spark)
    spark
  }

  // ---- HTTP client ----------------------------------------------------------

  private lazy val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(java.time.Duration.ofSeconds(120))
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    (resp.statusCode(), resp.body())
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Result sets of a well-formed query answer, or None. */
  private def resultSets(body: String): Option[Seq[com.fasterxml.jackson.databind.JsonNode]] =
    try {
      val root = mapper.readTree(body)
      if (root != null && root.isArray) Some(root.elements().asScala.toSeq) else None
    } catch { case _: Exception => None }

  private def dpsOf(sets: Seq[com.fasterxml.jackson.databind.JsonNode]): Int =
    sets.map(s => Option(s.get("dps")).map(_.size).getOrElse(0)).sum

  /** One put or query over HTTP; `timed` ops are recorded. Returns the
    * response body of a successful op.
    */
  private def send(port: Int, kind: String, shape: String, body: String, points: Int,
      timed: Boolean): Option[String] = {
    attempted += 1
    val path = if (kind == "put") "/api/put" else "/api/query"
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (status, text) =
      try post(port, path, body)
      catch { case e: Exception => (-1, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    val nanos = System.nanoTime() - t0
    val end = System.currentTimeMillis()
    val sets = if (kind == "query") resultSets(text) else None
    val ok = status / 100 == 2 && (kind == "put" || sets.exists(_.nonEmpty))
    if (!ok) fail(s"$kind $shape: status $status ${text.take(200)}")
    if (timed) ops += OpRec(ops.size, kind, shape, start, end, nanos, points,
      text.getBytes(UTF_8).length, sets.map(dpsOf).getOrElse(0))
    if (ok) Some(text) else None
  }

  /** Full-range `0all-count` / `0all-sum` per metric against the truth. */
  private def checkAnswers(port: Int, truth: Ops.Truth): Unit =
    Ops.checkQueries(truth).foreach { case (name, body, want) =>
      send(port, "query", name, body, 0, timed = false).foreach { text =>
        val got = resultSets(text).flatMap(_.headOption)
          .flatMap(s => Option(s.get("dps"))).flatMap(d => d.elements().asScala.toSeq.headOption)
          .map(_.asDouble)
        if (!got.contains(want.toDouble)) fail(s"$name: got ${got.getOrElse("nothing")}, want $want")
      }
    }

  // ---- JVM counters -----------------------------------------------------------

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime).getOrElse(0L)

  private var gc0, jit0 = 0L
  private var timedStart = 0L
  private var timedEnd = 0L

  private def startTimed(): Unit = {
    gc0 = gcMs; jit0 = jitMs
    timedStart = System.currentTimeMillis()
  }

  /** Close the timed phase: JVM counters, then the heap after forced GCs. */
  private def endTimed(): Unit = {
    timedEnd = System.currentTimeMillis()
    phase("timed ops (ms): " + ops.map(o => f"${o.shape} ${o.nanos / 1e6}%.0f").mkString(", "))
    layer("jvm.gc_ms", (gcMs - gc0).toDouble, "ms")
    layer("jvm.jit_ms", (jitMs - jit0).toDouble, "ms")
    // the first GC lets Spark's ContextCleaner see dead broadcasts and
    // shuffles; the second collects what the cleaner then released
    System.gc()
    Thread.sleep(500)
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapMb = heap / 1048576.0
  }

  private def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  // ---- filesystem ---------------------------------------------------------

  private def treeStats(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }

  // ---- workloads ----------------------------------------------------------

  def execute(): Boolean = {
    Files.createDirectories(a.workdir)
    a.workload match {
      case "ingest" => ingest()
      case "serve" => serve()
      case "batch" => batch()
    }
    report()
  }

  private def setupDone(): Unit =
    setupS = (System.currentTimeMillis() - jvmStart) / 1000.0

  private def ingest(): Unit = {
    val plan = Ops.ingest(a.seed, a.seconds)
    val spark = boot()
    val root = a.workdir.resolve("store")
    val store = new Store(spark, root.toString)
    val http = new HttpApi(spark, store, port = 0, recorder = None)
    http.start()
    val port = http.boundPort
    plan.warmup.foreach(p => send(port, "put", "put", p.body, p.points, timed = false))
    setupDone()
    startTimed()
    val t0 = System.nanoTime()
    plan.timed.foreach(timedPut(port, root, _))
    passS = (System.nanoTime() - t0) / 1e9
    endTimed()
    checkAnswers(port, plan.truth)
    if (a.trace) storeLayers(root, plan.truth)
  }

  private val parseMs = mutable.ArrayBuffer.empty[Double]
  private val putLines = mutable.ArrayBuffer.empty[Double]
  private val putFiles = mutable.ArrayBuffer.empty[Double]
  private val putBytes = mutable.ArrayBuffer.empty[Double]

  /** One timed put; the traced run also times the parser over its body
    * and the store's file growth, outside the op's window.
    */
  private def timedPut(port: Int, root: Path, p: Ops.Put): Unit = {
    val before = if (a.trace) {
      val t0 = System.nanoTime()
      val lines = p.body.linesIterator.toSeq
      val n = lines.count(l => LineParsers.parsePlain(l).isDefined)
      parseMs += (System.nanoTime() - t0) / 1e6
      putLines += n
      treeStats(root)
    } else (0L, 0L)
    send(port, "put", "put", p.body, p.points, timed = true)
    if (a.trace) {
      val (f, b) = treeStats(root)
      putFiles += (f - before._1).toDouble
      putBytes += (b - before._2).toDouble
    }
  }

  private val resolveMs = mutable.ArrayBuffer.empty[Double]

  private def serve(): Unit = {
    val plan = Ops.serve(a.seed, a.seconds)
    val spark = boot()
    val root = a.workdir.resolve("store")
    val store = new Store(spark, root.toString)
    phase("session up")
    preload(spark, store)
    phase("history preloaded")
    val http = new HttpApi(spark, store, port = 0, recorder = None)
    http.start()
    val port = http.boundPort
    def round(r: Seq[Ops.Op], timed: Boolean): Unit = r.foreach {
      case Ops.PutOp(p) =>
        if (timed) timedPut(port, root, p)
        else send(port, "put", "put", p.body, p.points, timed = false)
      case Ops.QueryOp(q) =>
        if (timed && a.trace) {
          // the resolve step the HTTP edge runs first, timed on its own
          val t0 = System.nanoTime()
          val tq = QueryApi.parseRequest(q.body)
          QueryApi.storeFrame(store, tq)
          store.plannerOptions()
          resolveMs += (System.nanoTime() - t0) / 1e6
        }
        send(port, "query", q.shape, q.body, 0, timed)
    }
    plan.warmup.foreach(round(_, timed = false))
    phase("warm-up done")
    setupDone()
    startTimed()
    plan.timed.foreach(round(_, timed = true))
    endTimed()
    phase("timed phase done")
    passS = medianPass(ops.toSeq)
    if (a.trace) layer("rollup.ooo_slices", store.oooMarks.count().toDouble, "count")
    checkAnswers(port, plan.truth)
    phase("answers checked")
    if (a.trace) storeLayers(root, plan.truth)
  }

  /** Bytes under the store root per distinct point sent (superseded
    * generations included: the run ends inside the store's GC grace
    * period), and points acknowledged per second of timed put wall time.
    */
  private def storeLayers(root: Path, truth: Ops.Truth): Unit = {
    val (_, bytes) = treeStats(root)
    layer("store.bytes_per_dp", bytes.toDouble / truth.distinctPoints, "B")
    val puts = ops.filter(_.kind == "put")
    layer("ingest.dps_per_s", puts.map(_.points).sum / (puts.map(_.nanos).sum / 1e9), "1/s")
  }

  /** The served history, written through the store's own commit path:
    * one [[Store.ingest]] of every day, then a [[Store.compactDay]] per day.
    * The value column is [[Ops.historyValue]] as a Spark expression, so
    * the truth's totals describe exactly these rows.
    */
  private def preload(spark: SparkSession, store: Store): Unit = {
    val frames = Ops.Histories.map { h =>
      val id = col("id")
      val host = pmod(id, lit(h.hosts.toLong))
      val step = floor(id / h.hosts).cast("long")
      val value =
        if (h.counter) step * (host.mod(7) + 1) + lit(Math.floorMod(a.seed, 97L))
        else pmod(host * 7919L + step * 104729L + lit(a.seed * 31L), lit(1000L))
      val late = host.mod(Ops.OooEvery) === 0 && step.mod(Ops.DayMs / Ops.ServeStepMs) === 17
      spark.range(h.rows).select(
        lit(h.metric).as("metric"),
        map(lit("dc"), concat(lit("dc"), host.mod(4).cast("string")),
          lit("host"), format_string("h%04d", host)).as("tags"),
        (lit(h.start) + step * Ops.ServeStepMs).as("ts"),
        value.cast("double").as("value"),
        when(late, id + 3L * h.hosts).otherwise(id).as("seq"))
    }
    store.ingest(frames.reduce(_ unionByName _))
    phase("history ingested")
    (0 until Ops.ServeDays).foreach { d =>
      val day = java.time.LocalDate.ofEpochDay((Ops.Epoch - Ops.ServeDays * Ops.DayMs) / Ops.DayMs + d)
      store.compactDay(day.toString)
      phase(s"$day compacted")
    }
  }

  // ---- batch ------------------------------------------------------------------

  private val gateSec = mutable.LinkedHashMap.empty[String, Double]
  private var leaked = 0

  private def batch(): Unit = {
    val spark = boot()
    val dir = a.workdir.resolve("data").toString
    phase("session up")
    BatchData.write(spark, dir)
    phase("tables written")
    val queries = graft.SparkEntry.queries
    val order = Ops.Gates
    val expected = a.expected.filter(p => a.record.isEmpty && Files.exists(p))
      .map(BatchData.readExpected).getOrElse(Map.empty)
    val inputs = spark.sparkContext.getPersistentRDDs.keySet
    def sweep(): Int = {
      val left = spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !inputs.contains(id) }
      left.values.foreach(_.unpersist(blocking = true))
      left.size
    }
    val answers = mutable.LinkedHashMap.empty[String, (Long, String)]
    // warm-up pass: untimed, and where each gate's answer is first checked.
    // Every run, warm-up and timed, computes the answer's fingerprint (one
    // action over every row and column), so the JIT trains on the code the
    // timed passes run, and every timed answer is checked too
    order.foreach { g =>
      attempted += 1
      try {
        val df = queries(g)(spark, dir)
        val got = BatchData.fingerprint(df)
        df.unpersist(true)
        answers(g) = got
        expected.get(g) match {
          case Some(want) if want != got => fail(s"gate $g: got $got, want $want")
          case None if a.record.isEmpty => fail(s"gate $g: no stored answer")
          case _ => ()
        }
      } catch { case e: Exception => fail(s"gate $g: $e"); answers(g) = (-1L, "") }
      sweep()
    }
    a.record.foreach(BatchData.writeExpected(_, answers.toMap))
    phase("warm-up pass done")
    setupDone()
    startTimed()
    val passes = (0 until Ops.BatchTimedPasses).map { _ =>
      order.map { g =>
        System.gc() // let the cleaner reclaim the previous gate's state, untimed
        attempted += 1
        val start = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val sec = try {
          val df = queries(g)(spark, dir)
          val got = BatchData.fingerprint(df)
          val nanos = System.nanoTime() - t0
          df.unpersist(true)
          ops += OpRec(ops.size, "gate", g, start, System.currentTimeMillis(), nanos, 0, 0, 0)
          if (got != answers(g)) fail(s"gate $g: timed pass got $got, want ${answers(g)}")
          nanos / 1e9
        } catch { case e: Exception => fail(s"gate $g: $e"); 0.0 }
        leaked += sweep()
        g -> sec
      }
    }
    endTimed()
    order.foreach(g => gateSec(g) = median(passes.map(_.toMap.apply(g))))
    passS = medianPass(ops.toSeq)
  }

  /** One pass over the rotation, built from each op's median over the
    * timed rounds or passes.
    */
  private def medianPass(timed: Seq[OpRec]): Double =
    timed.groupBy(o => (o.kind, o.shape)).values.map(os => median(os.map(_.nanos / 1e9))).sum

  // ---- report -------------------------------------------------------------

  private def report(): Boolean = {
    val timedOps = ops.toSeq
    // each shape's (or gate's) median over the timed rounds, then the
    // median over shapes: the median op of the median pass
    val lat = timedOps.filter(o => o.kind == primaryKind).groupBy(_.shape).values
      .map(os => median(os.map(_.nanos / 1e6))).toSeq
    if (lat.isEmpty) fail("no timed op completed")
    val endToEnd = Seq(
      "setup_s" -> (setupS, "s"),
      "op_ms_p50" -> (if (lat.isEmpty) 0.0 else median(lat), "ms"),
      "pass_s" -> (passS, "s"),
      "heap_mb" -> (heapMb, "MB"))
    if (a.trace) traceLayers(timedOps, endToEnd)
    val metrics = if (a.trace) perLayer.toSeq else endToEnd
    val correct = failures.isEmpty
    println(s"# host $hostStamp")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":${failures.size},""" +
      s""""metrics":${metricsJson(metrics)}}""")
    correct
  }

  private def metricsJson(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
      .mkString("{", ",", "}")

  private def primaryKind: String = a.workload match {
    case "ingest" => "put"
    case "serve" => "query"
    case "batch" => "gate"
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def hostStamp: String = {
    val rt = ManagementFactory.getRuntimeMXBean
    s"""{"cpus":${Runtime.getRuntime.availableProcessors()},"master":"local[${a.cpus}]",""" +
      s""""heap":"${a.heap}","java":"${System.getProperty("java.version")}",""" +
      s""""spark":"${org.apache.spark.SPARK_VERSION}","workload":"${a.workload}",""" +
      s""""seed":${a.seed},"seconds":${a.seconds},"trace":${if (a.trace) 1 else 0},""" +
      s""""jvm":"${rt.getVmName} ${rt.getVmVersion}"}"""
  }

  // ---- per-layer breakdown --------------------------------------------------

  private def traceLayers(timedOps: Seq[OpRec], endToEnd: Seq[(String, (Double, String))]): Unit = {
    val t = trace.get
    org.apache.spark.WirebenchShim.drainListeners(sparkOpt.get.sparkContext)
    val jobs = t.jobs.filter(j => j.start >= timedStart && j.start <= timedEnd)
    val actions = t.actions.filter(x => x.at >= timedStart && x.at <= timedEnd)
    def opOf(j: Job): Option[OpRec] = timedOps.find(o => j.start >= o.start && j.start <= o.end)
    val byOp = jobs.groupBy(j => opOf(j).map(_.id).getOrElse(-1))
    val layerOfJob = jobs.map(j => j.id -> Trace.layerOf(opOf(j).map(_.kind).getOrElse("none"), j)).toMap
    layer("trace.unattributed_jobs", layerOfJob.values.count(_ == "unattributed").toDouble, "count")

    def jobSpans(js: Seq[Job]) = js.map(j => (j.start, if (j.end < 0) j.start else j.end))
    def opJobs(o: OpRec) = byOp.getOrElse(o.id, Nil)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def driverMs(o: OpRec) = o.nanos / 1e6 - Trace.unionMs(jobSpans(opJobs(o)))

    // api
    val puts = timedOps.filter(_.kind == "put")
    val queries = timedOps.filter(_.kind == "query")
    layer("api.put.driver_ms", mean(puts.map(driverMs)), "ms")
    layer("api.put.ms_p50", if (puts.isEmpty) 0.0 else median(puts.map(_.nanos / 1e6)), "ms")
    layer("api.query.driver_ms", mean(queries.map(driverMs)), "ms")
    layer("api.query.response_bytes", mean(queries.map(_.responseBytes.toDouble)), "B")
    // ingest
    layer("ingest.parse_ms", mean(parseMs.toSeq), "ms")
    layer("ingest.lines", mean(putLines.toSeq), "count")
    if (!perLayer.contains("ingest.dps_per_s")) layer("ingest.dps_per_s", 0.0, "1/s")
    // store
    val putJobs = puts.flatMap(opJobs)
    def perPut(x: Double) = if (puts.isEmpty) 0.0 else x / puts.size
    def phaseMs(ph: String) = perPut(puts.map(o =>
      Trace.unionMs(jobSpans(opJobs(o).filter(j => layerOfJob(j.id) == s"store.$ph"))).toDouble).sum)
    layer("store.jobs_per_put", perPut(putJobs.size), "count")
    layer("store.stages_per_put", perPut(putJobs.map(_.stages).sum), "count")
    layer("store.tasks_per_put", perPut(putJobs.map(_.tasks).sum), "count")
    layer("store.append_ms", phaseMs("append"), "ms")
    layer("store.meta_ms", phaseMs("meta"), "ms")
    layer("store.other_ms", phaseMs("other"), "ms")
    // a day compacts on its 8th batch, which only `ingest` reaches
    if (a.workload == "ingest") {
      layer("store.compact_ms", phaseMs("compact"), "ms")
      layer("store.compactions", puts.count(o => opJobs(o).exists(j => layerOfJob(j.id) == "store.compact")).toDouble, "count")
    }
    layer("store.task_cpu_ms_per_put", perPut(putJobs.map(_.cpuNs).sum / 1e6), "ms")
    layer("store.files_per_put", mean(putFiles.toSeq), "count")
    layer("store.bytes_per_put", mean(putBytes.toSeq), "B")
    if (!perLayer.contains("store.bytes_per_dp")) layer("store.bytes_per_dp", 0.0, "B")
    // query
    val qJobs = queries.flatMap(opJobs)
    def perQ(x: Double) = if (queries.isEmpty) 0.0 else x / queries.size
    val qActions = actions.filter(x => queries.exists(o => x.at >= o.start && x.at <= o.end))
    layer("query.resolve_ms", mean(resolveMs.toSeq), "ms")
    layer("query.plan_ms", perQ(qActions.map(_.planMs).sum), "ms")
    layer("query.jobs", perQ(qJobs.size), "count")
    layer("query.tasks", perQ(qJobs.map(_.tasks).sum), "count")
    layer("query.exec_ms", perQ(queries.map(o => Trace.unionMs(jobSpans(opJobs(o))).toDouble).sum), "ms")
    layer("query.task_cpu_ms", perQ(qJobs.map(_.cpuNs).sum / 1e6), "ms")
    layer("query.shuffle_bytes", perQ(qJobs.map(_.shuffleWrite).sum.toDouble), "B")
    val rowsRead = qJobs.map(_.rowsRead).sum.toDouble
    layer("query.rows_read", perQ(rowsRead), "count")
    val dps = queries.map(_.dps).sum
    layer("query.rows_read_per_dp_returned", if (dps == 0) 0.0 else rowsRead / dps, "1")
    // per shape: latency, and how much of it is Spark jobs vs driver work
    Ops.Shapes.foreach { s =>
      val qs = queries.filter(_.shape == s)
      def p50(f: OpRec => Double) = if (qs.isEmpty) 0.0 else median(qs.map(f))
      layer(s"query.$s.ms_p50", p50(_.nanos / 1e6), "ms")
      layer(s"query.$s.exec_ms", p50(o => Trace.unionMs(jobSpans(opJobs(o))).toDouble), "ms")
      layer(s"query.$s.driver_ms", p50(driverMs), "ms")
    }
    if (!perLayer.contains("rollup.ooo_slices")) layer("rollup.ooo_slices", 0.0, "count")
    // batch
    val gates = timedOps.filter(_.kind == "gate")
    Ops.Gates.foreach { g =>
      layer(s"batch.$g.s", gateSec.getOrElse(g, 0.0), "s")
      val runs = gates.filter(_.shape == g).map(o => opJobs(o).size.toDouble)
      layer(s"batch.$g.jobs", if (runs.isEmpty) 0.0 else median(runs), "count")
    }
    // per timed pass
    val gJobs = gates.flatMap(opJobs)
    def perPass(x: Double) = if (gates.isEmpty) 0.0 else x / Ops.BatchTimedPasses
    layer("batch.task_cpu_s", perPass(gJobs.map(_.cpuNs).sum / 1e9), "s")
    layer("batch.shuffle_bytes", perPass(gJobs.map(_.shuffleWrite).sum.toDouble), "B")
    layer("batch.spill_bytes", perPass(gJobs.map(_.spill).sum.toDouble), "B")
    layer("batch.leaked_rdds", perPass(leaked.toDouble), "count")
    a.spans.foreach(writeSpans(_, timedOps, jobs, layerOfJob, opOf, endToEnd))
  }

  /** The `graft.*` frames of a call site, innermost first. */
  private def graftFrames(site: String): String =
    site.split('\n').map(_.trim).filter(_.startsWith("graft.")).distinct.mkString(" < ")

  /** Spans (name, start, end, parent, op) as JSON lines: one per op, one
    * per job under the op that contains it; the first lines hold the host
    * stamp and the traced run's own end-to-end figures (for the tracing
    * overhead).
    */
  private def writeSpans(path: Path, timedOps: Seq[OpRec], jobs: Seq[Job],
      layerOfJob: Map[Int, String], opOf: Job => Option[OpRec],
      endToEnd: Seq[(String, (Double, String))]): Unit = {
    Files.createDirectories(path.toAbsolutePath.getParent)
    val lines = mutable.ArrayBuffer(s"""{"host":$hostStamp}""",
      s"""{"end_to_end":${metricsJson(endToEnd)}}""")
    timedOps.foreach { o =>
      lines += s"""{"span":"op:${o.kind}:${o.shape}","start":${o.start},"end":${o.end},"parent":null,"op":${o.id}}"""
    }
    jobs.foreach { j =>
      val op = opOf(j).map(_.id.toString).getOrElse("null")
      lines += s"""{"span":"job:${j.id}:${layerOfJob(j.id)}","start":${j.start},"end":${j.end},""" +
        s""""parent":${opOf(j).map(o => s""""op:${o.kind}:${o.shape}"""").getOrElse("null")},"op":$op,""" +
        s""""tasks":${j.tasks},"cpu_ns":${j.cpuNs},"site":"${graftFrames(j.site)}"}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
