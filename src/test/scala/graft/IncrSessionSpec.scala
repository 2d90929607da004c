package graft

/** Session-lifetime contract of the memoized incremental-dedup index
  * fixture ([[PipelineQueries.incrIndexFixture]]): the WRITTEN index is
  * per source dir (built once per JVM), but resolved `DataFrame`s are
  * bound to the resolving `SparkSession` — a dir-keyed frame memo
  * handed a second, fresh session frames referencing a stopped one.
  */
class IncrSessionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("fixture frames are resolved per session; the index builds once") {
    val (b1, s1, n1) = PipelineQueries.incrIndexFixture(spark, sf)
    assert(b1.sparkSession eq spark)
    val pathsAfterFirst = PipelineQueries.incrIndexPaths.size()
    val sess2 = spark.newSession()
    val (b2, s2, n2) = PipelineQueries.incrIndexFixture(sess2, sf)
    // frames belong to the CALLER's session, not whichever session
    // resolved first — the stale-session hazard in one assertion
    assert(b2.sparkSession eq sess2)
    assert(s2.sparkSession eq sess2)
    assert((b1 ne b2) && (s1 ne s2))
    assert(n1 === n2)
    // second session re-resolved, it did not rebuild the parquet index
    assert(PipelineQueries.incrIndexPaths.size() === pathsAfterFirst)
    // memoized per (session, dir): same session → same frames back
    val (b1again, _, _) = PipelineQueries.incrIndexFixture(spark, sf)
    assert(b1again eq b1)
  }

  test("pl_dedup_incr_fixed is runnable from a second session on the same dir") {
    val r1 = SparkEntry.queries("pl_dedup_incr_fixed")(spark, sf)
    val n1 = r1.count()
    val sess2 = spark.newSession()
    val r2 = SparkEntry.queries("pl_dedup_incr_fixed")(sess2, sf)
    assert(r2.count() === n1)
    assert(n1 > 0)
  }

  test("gate survives a STOPPED first session (fresh child JVM e2e)") {
    // The genuine failure mode needs session1.stop(), which kills the
    // shared SparkContext — so it runs in its own JVM (same classpath
    // and JVM flags).
    import scala.jdk.CollectionConverters._
    val javaBin = java.nio.file.Paths.get(
      sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms"))
    val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-Xmx4g",
      "-cp", sys.props("java.class.path"),
      "graft.IncrRestartCheck", sf)).asJava
    val pb = new ProcessBuilder(cmd)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
    val rc = proc.waitFor()
    assert(rc === 0, s"child exited $rc; tail:\n${out.takeRight(2000)}")
    assert(out.contains("INCR_RESTART_OK"))
  }
}

/** Child-JVM main for the stop/restart e2e above: run the gate, STOP
  * the session (and its context), open a brand-new one, run the gate
  * again on the same dir. With a dir-keyed frame memo the second run
  * dies on a stopped-session plan; with the (session, dir) memo it
  * re-resolves and matches.
  */
object IncrRestartCheck {
  import org.apache.spark.sql.SparkSession
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    def fresh(): SparkSession = {
      val s = SparkSession.builder()
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    // both JVM-memoized fixture families: the incremental-dedup index
    // (PipelineQueries.incrIndexFixture) and the maintained store
    // (SparkEntry.storeFixture) — each must survive its first session
    // being STOPPED and re-resolve for the second
    def gates(s: SparkSession): (Long, Long) = (
      SparkEntry.queries("pl_dedup_incr_fixed")(s, dir).count(),
      SparkEntry.queries("q_routed_maintained")(s, dir).count())
    val s1 = fresh()
    val (n1, m1) = gates(s1)
    s1.stop()
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = fresh()
    val (n2, m2) = gates(s2)
    s2.stop()
    if (n1 == n2 && n1 > 0 && m1 == m2 && m1 > 0) {
      println(s"INCR_RESTART_OK $n1 $m1")
    } else {
      println(s"INCR_RESTART_MISMATCH $n1 $n2 $m1 $m2")
      sys.exit(1)
    }
  }
}
