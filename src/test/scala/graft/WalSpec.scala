package graft

import java.io.File
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.api.QueryApi
import graft.ingest.{SeqWindows, TcpLineServer, Wal}
import graft.store.Store

/** Write-ahead-log recovery on the line-ingest edges — the reference's
  * `AppendLog` contract (`include/append.h:36-57`): nothing accepted is
  * lost to an abnormal termination, a clean pass leaves no log behind,
  * and replaying a batch whose store commit DID land (the
  * crash-between-commit-and-delete window) still yields exactly-once
  * query results via OOO marking + raw-path last-wins dedup.
  */
class WalSpec extends SparkSpec {

  private val T0s = 1704412800L // 2024-01-05 00:00:00 UTC
  private val Now = (T0s + 4 * 3600L) * 1000L

  private def newStore() = new Store(
    spark, Files.createTempDirectory("wal_store").toString)

  private def query(store: Store, metric: String): String = {
    val q = QueryApi.parseRequest(
      s"""{"start":$T0s,"end":${T0s + 7200},"queries":[
         |  {"metric":"$metric","aggregator":"sum","tags":{}}]}""".stripMargin,
      nowMs = Now)
    QueryApi.runQuery(store.data, q, store.plannerOptions())
  }

  private def segments(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("wal-")).toSeq

  test("crash tail: lines spooled but never flushed replay at next boot") {
    val store = newStore()
    val walDir = Files.createTempDirectory("wal_tail").toString

    // process 1: accepts two lines into the WAL, then dies before any
    // flush (close() keeps the segment — it IS the crash tail)
    val crashed = new Wal(walDir)
    crashed.append(s"put wal.tail $T0s 1.0 host=a")
    crashed.append(s"put wal.tail ${T0s + 60} 2.0 host=a")
    crashed.close()
    assert(segments(walDir).nonEmpty)

    // process 2: same wal dir; the flush loop drains the tail with no
    // socket traffic at all
    val tcp = new TcpLineServer(store, proto = "plain",
      seqs = new SeqWindows(() => Now), walDir = Some(walDir))
    try {
      tcp.awaitQuiesce()
      val resp = query(store, "wal.tail")
      assert(resp.contains(s""""$T0s":1.0"""))
      assert(resp.contains(s""""${T0s + 60}":2.0"""))
      assert(segments(walDir).isEmpty) // delivered ⇒ deleted
    } finally tcp.stop()
  }

  test("clean pass: socket lines land in the store and the WAL drains to empty") {
    val store = newStore()
    val walDir = Files.createTempDirectory("wal_clean").toString
    val tcp = new TcpLineServer(store, proto = "plain",
      seqs = new SeqWindows(() => Now), walDir = Some(walDir))
    try {
      val sock = new Socket("127.0.0.1", tcp.boundPort)
      sock.getOutputStream.write(Seq(
        s"put wal.clean $T0s 1.5 host=a",
        s"put wal.clean ${T0s + 60} 2.5 host=a",
        "").mkString("\n").getBytes(UTF_8))
      sock.getOutputStream.flush()
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (!query(store, "wal.clean").contains("2.5") &&
        System.currentTimeMillis() < deadline) {
        tcp.awaitQuiesce(); Thread.sleep(50)
      }
      assert(query(store, "wal.clean").contains(s""""$T0s":1.5"""))
      tcp.awaitQuiesce()
      assert(segments(walDir).isEmpty)
    } finally tcp.stop()
  }

  test("replay of an already-committed batch keeps query results exactly-once") {
    val store = newStore()
    val walDir = Files.createTempDirectory("wal_dup").toString
    val lines = Seq(
      s"put wal.dup $T0s 1.0 host=a",
      s"put wal.dup ${T0s + 60} 2.0 host=a")

    // pass 1: normal delivery (commit + segment delete both land);
    // segment written before boot so the server's WAL lists it
    val w = new Wal(walDir)
    lines.foreach(w.append)
    w.close()
    val first = new TcpLineServer(store, proto = "plain",
      seqs = new SeqWindows(() => Now), walDir = Some(walDir))
    first.awaitQuiesce()
    first.stop()
    val clean = query(store, "wal.dup")
    assert(clean.contains(s""""$T0s":1.0""") && clean.contains(s""""${T0s + 60}":2.0"""))

    // crash window: the store commit returned but the segment delete did
    // not — fake the leftover segment and boot again
    val leftover = new Wal(walDir)
    lines.foreach(leftover.append)
    leftover.close()
    val second = new TcpLineServer(store, proto = "plain",
      seqs = new SeqWindows(() => Now + 60000), walDir = Some(walDir))
    try {
      second.awaitQuiesce()
      // raw rows duplicated, but the query dedups last-wins: same answer
      assert(query(store, "wal.dup") === clean)
      // and the touched slice is flagged OOO, so routed queries use the
      // deduped raw path, not the double-counted rollup
      val day = T0s * 1000L - (T0s * 1000L % graft.rollup.Rollup.DayMs)
      val marked = store.oooMarks
        .filter(org.apache.spark.sql.functions.col("skey").startsWith("wal.dup"))
        .collect()
      assert(marked.exists(_.getLong(1) == day))
    } finally second.stop()
  }
}
