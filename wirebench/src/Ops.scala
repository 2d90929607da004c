package graft.wirebench

import scala.collection.mutable

/** The op streams: a pure function of (workload, seed, seconds). Every
  * timestamp is absolute epoch milliseconds, values are small integers
  * (so sums are exact in any order), and nothing reads the clock.
  */
object Ops {

  val DayMs: Long = 86400000L
  val HourMs: Long = 3600000L
  /** 2024-03-01T00:00:00Z: the start of the ingest day and the end of the
    * serve history.
    */
  val Epoch: Long = 1709251200000L

  final case class Put(body: String, points: Int)
  final case class Query(shape: String, body: String)

  /** One timed op of a served workload. */
  sealed trait Op
  final case class PutOp(put: Put) extends Op
  final case class QueryOp(query: Query) extends Op

  /** What the generator sent: per metric, the last value written at each
    * (series, ts). History that never collides is kept as running
    * (count, sum) totals instead of a map.
    */
  final class Truth {
    private val cells = mutable.HashMap.empty[String, mutable.HashMap[(String, Long), Long]]
    private val bulk = mutable.HashMap.empty[String, (Long, Long)].withDefaultValue((0L, 0L))
    var minTs: Long = Long.MaxValue
    var maxTs: Long = Long.MinValue

    def put(metric: String, series: String, ts: Long, value: Long): Unit = {
      cells.getOrElseUpdate(metric, mutable.HashMap.empty)((series, ts)) = value
      span(ts)
    }
    /** Points known to be distinct from every other point sent. */
    def addDistinct(metric: String, count: Long, sum: Long, lo: Long, hi: Long): Unit = {
      val (c, s) = bulk(metric); bulk(metric) = (c + count, s + sum)
      span(lo); span(hi)
    }
    private def span(ts: Long): Unit = { minTs = minTs.min(ts); maxTs = maxTs.max(ts) }
    def metrics: Seq[String] = (cells.keySet ++ bulk.keySet).toSeq.sorted
    def count(metric: String): Long =
      bulk(metric)._1 + cells.get(metric).map(_.size.toLong).getOrElse(0L)
    def sum(metric: String): Long =
      bulk(metric)._2 + cells.get(metric).map(_.valuesIterator.sum).getOrElse(0L)
    def distinctPoints: Long = metrics.map(count).sum
  }

  private def line(metric: String, series: String, ts: Long, v: Long): String =
    s"put $metric $ts $v $series"

  /** Tag part of a put line; also the truth's series identity. */
  private def tagsOf(host: Int, dc: Int): String = f"dc=dc$dc host=h$host%04d"

  // ---- ingest --------------------------------------------------------

  final case class IngestPlan(warmup: Seq[Put], timed: Seq[Put], truth: Truth)

  val IngestMetrics = 10
  val IngestSeriesPerMetric = 100
  val IngestPointsPerSeries = 5
  val IngestStepMs = 10000L
  /** Nominal timed seconds per put: sizes the put count from `--seconds`
    * (a constant, never measured, so every host does the same work).
    */
  val IngestNominalPutSec = 1.0
  val IngestWarmupPuts = 3

  def ingestPuts(seconds: Int): Int =
    math.max(4, math.round(seconds / IngestNominalPutSec).toInt)

  /** Large plain puts into a fresh store: every live series gets
    * [[IngestPointsPerSeries]] points at the live edge; per batch about
    * 1 % of the series are new, 1 % of the points arrive late (inside
    * the current day, off the live grid) and 0.5 % rewrite an earlier
    * (series, ts) with a new value.
    */
  def ingest(seed: Long, seconds: Int): IngestPlan = {
    val rnd = new scala.util.Random(seed * 1000003L + 17)
    val truth = new Truth
    val series = mutable.ArrayBuffer.empty[(String, String)] // (metric, tags)
    var nextHost = 0
    def addSeries(m: Int): Unit = {
      series += ((s"wb.m$m", tagsOf(nextHost, nextHost % 4)))
      nextHost += 1
    }
    for (m <- 0 until IngestMetrics; _ <- 0 until IngestSeriesPerMetric) addSeries(m)
    val sent = mutable.ArrayBuffer.empty[(Int, Long)] // (series index, ts)
    // the live edge starts one hour into the day, so late points fit
    val dayStart = Epoch
    var edge = Epoch + HourMs
    val total = IngestWarmupPuts + ingestPuts(seconds)
    val puts = (0 until total).map { _ =>
      (0 until IngestMetrics).foreach(addSeries) // ~1 % new series
      val sb = new StringBuilder
      var n = 0
      def emit(i: Int, ts: Long, v: Long): Unit = {
        val (m, tags) = series(i)
        sb.append(line(m, tags, ts, v)).append('\n')
        truth.put(m, tags, ts, v)
        n += 1
      }
      for (k <- 0 until IngestPointsPerSeries; i <- series.indices) {
        val ts = edge + k * IngestStepMs
        emit(i, ts, rnd.nextInt(1000).toLong)
        sent += ((i, ts))
      }
      val live = n
      // late: off-grid (odd 5 s) timestamps between the day start and
      // the edge, so they are new points behind the high-water mark
      for (_ <- 0 until live / 100) {
        val slots = ((edge - dayStart) / IngestStepMs).toInt
        val ts = dayStart + rnd.nextInt(slots) * IngestStepMs + 5000L
        emit(rnd.nextInt(series.size), ts, rnd.nextInt(1000).toLong)
      }
      // repeats of an earlier batch's (series, ts): last write wins
      val earlier = sent.size - live
      if (earlier > 0) for (_ <- 0 until live / 200) {
        val (i, ts) = sent(rnd.nextInt(earlier))
        emit(i, ts, 1000L + rnd.nextInt(1000))
      }
      edge += IngestPointsPerSeries * IngestStepMs
      Put(sb.result(), n)
    }
    IngestPlan(puts.take(IngestWarmupPuts), puts.drop(IngestWarmupPuts), truth)
  }

  // ---- serve ---------------------------------------------------------

  val ServeDays = 2
  val ServeCpuHosts = 120
  val ServeNetHosts = 40
  val ServeStepMs = 300000L
  val ServeRoundStepMs = 60000L
  val ServeWarmupRounds = 1
  /** Nominal timed seconds per round (one put plus the six shapes). */
  val ServeNominalRoundSec = 6.0
  val Shapes = Seq("dash_6h", "week_1h", "hist_1d", "day_p99", "hist_dev", "rate_6h")

  def serveRounds(seconds: Int): Int =
    math.max(2, math.round(seconds / ServeNominalRoundSec).toInt)

  /** The preloaded history: for each metric, hosts × steps points, one
    * every [[ServeStepMs]] over [[ServeDays]] days ending at [[Epoch]].
    * Row `id` of a `spark.range` maps to (host = id % hosts, step =
    * id / hosts); [[historyValue]] is the value both the loader and the
    * truth compute.
    */
  final case class History(metric: String, hosts: Int, counter: Boolean) {
    val steps: Long = ServeDays * DayMs / ServeStepMs
    val start: Long = Epoch - ServeDays * DayMs
    def rows: Long = hosts * steps
  }
  val Histories = Seq(
    History("sys.cpu", ServeCpuHosts, counter = false),
    History("net.bytes", ServeNetHosts, counter = true))

  def historyValue(h: History, seed: Long, host: Long, step: Long): Long =
    if (h.counter) step * (1 + host % 7) + Math.floorMod(seed, 97L)
    else Math.floorMod(host * 7919L + step * 104729L + seed * 31L, 1000L)

  /** Every `OooEvery`-th host, once per day, sends one point three steps
    * late (the loader pushes its seq back), so the store marks that
    * (series, day) slice out of order and `week_1h` falls back to raw
    * there.
    */
  val OooEvery = 16

  /** Untimed warm-up rounds, then timed rounds. A fresh JVM's first
    * round takes about twice as long as the next, so the six shapes run
    * once untimed. The warm-up round sends no put: the history preload
    * has already run the store's commit path.
    */
  final case class ServePlan(warmup: Seq[Seq[Op]], timed: Seq[Seq[Op]], truth: Truth)

  def serve(seed: Long, seconds: Int): ServePlan = {
    val rnd = new scala.util.Random(seed * 7919L + 3)
    val truth = new Truth
    Histories.foreach { h =>
      var sum = 0L
      for (host <- 0L until h.hosts; step <- 0L until h.steps)
        sum += historyValue(h, seed, host, step)
      truth.addDistinct(h.metric, h.rows, sum, h.start, h.start + (h.steps - 1) * ServeStepMs)
    }
    val lastCounter = mutable.HashMap.empty[Int, Long]
    val net = Histories(1)
    for (host <- 0 until net.hosts)
      lastCounter(host) = historyValue(net, seed, host, net.steps - 1)
    /** One plain put at the live edge: one point per series, plus a few
      * late points behind it, off the round grid.
      */
    def livePut(edge: Long): PutOp = {
      val sb = new StringBuilder
      var n = 0
      def emit(m: String, tags: String, ts: Long, v: Long): Unit = {
        sb.append(line(m, tags, ts, v)).append('\n'); truth.put(m, tags, ts, v); n += 1
      }
      for (host <- 0 until ServeCpuHosts)
        emit("sys.cpu", tagsOf(host, host % 4), edge, rnd.nextInt(1000).toLong)
      for (host <- 0 until ServeNetHosts) {
        val v = lastCounter(host) + 1 + rnd.nextInt(50)
        lastCounter(host) = v
        emit("net.bytes", tagsOf(host, host % 4), edge, v)
      }
      for (_ <- 0 until 3) {
        val host = rnd.nextInt(ServeCpuHosts)
        emit("sys.cpu", tagsOf(host, host % 4),
          edge - (1 + rnd.nextInt(30)) * ServeRoundStepMs - 7000L, rnd.nextInt(1000).toLong)
      }
      PutOp(Put(sb.result(), n))
    }
    val rounds = (0 until ServeWarmupRounds + serveRounds(seconds)).map { r =>
      val edge = Epoch + r * ServeRoundStepMs
      val queries = Shapes.map(s => QueryOp(Query(s, shapeBody(s, edge))))
      if (r < ServeWarmupRounds) queries else livePut(edge) +: queries
    }
    ServePlan(rounds.take(ServeWarmupRounds), rounds.drop(ServeWarmupRounds), truth)
  }

  private def body(start: Long, end: Long, sub: String): String =
    s"""{"start":$start,"end":$end,"queries":[$sub]}"""

  /** The six served shapes, all anchored at the live edge `e`. */
  def shapeBody(shape: String, e: Long): String = {
    val histStart = Epoch - ServeDays * DayMs
    shape match {
      case "dash_6h" => body(e - 6 * HourMs, e,
        """{"metric":"sys.cpu","aggregator":"avg","downsample":"1m-avg","tags":{"host":"wildcard(h000*)"}}""")
      case "week_1h" => body(e - 7 * DayMs, e,
        """{"metric":"sys.cpu","aggregator":"avg","downsample":"1h-avg","tags":{"dc":"*"}}""")
      case "hist_1d" => body(histStart, e,
        """{"metric":"sys.cpu","aggregator":"max","downsample":"1d-max","tags":{"host":"literal_or(h0001|h0005|h0009|h0013)"}}""")
      case "day_p99" => body(e - DayMs, e,
        """{"metric":"sys.cpu","aggregator":"p99","downsample":"15m-avg"}""")
      case "hist_dev" => body(histStart, e,
        """{"metric":"sys.cpu","aggregator":"avg","downsample":"1d-dev","tags":{"dc":"*"}}""")
      case "rate_6h" => body(e - 6 * HourMs, e,
        """{"metric":"net.bytes","aggregator":"sum","rate":true,"rateOptions":{"counter":true},"tags":{"dc":"*"}}""")
    }
  }

  /** Full-range `0all-count` and `0all-sum` per metric: the answer check. */
  def checkQueries(truth: Truth): Seq[(String, String, Long)] =
    truth.metrics.flatMap { m =>
      Seq("count" -> truth.count(m), "sum" -> truth.sum(m)).map { case (fn, want) =>
        (s"check_${fn}_$m", body(truth.minTs, truth.maxTs,
          s"""{"metric":"$m","aggregator":"sum","downsample":"0all-$fn"}"""), want)
      }
    }

  // ---- batch ---------------------------------------------------------

  /** Two pipeline hot-path gates plus one stateful streaming replay. */
  val Gates = Seq("pl_e2e_curation", "pl_textrank", "q_asof_stream")
  val BatchTimedPasses = 2
  // One warm-up pass, then the timed passes, in this order. The tables are
  // one fixed set (the stored answers are per gate) and the order is
  // fixed too: a seed-rotated order moved the pass time by a quarter
  // between otherwise identical runs. So the batch stream ignores the seed.

  // ---- dump (the determinism test reads this) -------------------------

  def dump(workload: String, seed: Long, seconds: Int): String = {
    val sb = new StringBuilder
    def put(tag: String, p: Put): Unit = sb.append(s"== $tag put ${p.points}\n").append(p.body)
    def query(tag: String, q: Query): Unit =
      sb.append(s"== $tag query ${q.shape}\n").append(q.body).append('\n')
    workload match {
      case "ingest" =>
        val p = ingest(seed, seconds)
        p.warmup.foreach(put("warmup", _)); p.timed.foreach(put("timed", _))
        checkQueries(p.truth).foreach { case (n, b, want) => query(s"check=$want", Query(n, b)) }
      case "serve" =>
        val p = serve(seed, seconds)
        def ops(tag: String, os: Seq[Op]): Unit = os.foreach {
          case PutOp(x) => put(tag, x)
          case QueryOp(q) => query(tag, q)
        }
        p.warmup.foreach(ops("warmup", _)); p.timed.foreach(ops("timed", _))
        checkQueries(p.truth).foreach { case (n, b, want) => query(s"check=$want", Query(n, b)) }
      case "batch" =>
        Gates.foreach(g => sb.append(s"== warmup gate $g\n"))
        for (_ <- 0 until BatchTimedPasses; g <- Gates) sb.append(s"== timed gate $g\n")
    }
    sb.result()
  }
}
