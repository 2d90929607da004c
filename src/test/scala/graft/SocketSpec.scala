package graft

import java.net.{DatagramPacket, DatagramSocket, InetAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import graft.api.{Info, QueryApi}
import graft.ingest.{SeqWindows, TcpLineServer, UdpLineServer}
import graft.store.Store

/** Socket transports end-to-end: boot the TCP (plain + influx) and UDP
  * listeners over a maintained store, write wire lines through real
  * sockets, and query the points back through the planner. Mirrors the
  * reference's port table (`include/config.h:78-79`: port id 0 =
  * OpenTSDB plain, id 1 = InfluxDB line) and its on-socket `version`
  * answer.
  */
class SocketSpec extends SparkSpec {

  // epoch anchor in the seconds band (2024-01-05 00:00:00 UTC), matching
  // the magnitude normalization the parsers apply
  private val T0s = 1704412800L
  private val Now = (T0s + 4 * 3600L) * 1000L

  private lazy val store = new Store(
    spark, java.nio.file.Files.createTempDirectory("sock_store").toString)
  // one shared window source: TCP-plain, TCP-influx and UDP ingest into
  // the SAME store, so their batches must order against each other
  private lazy val seqs = new SeqWindows(() => Now)

  private def query(metric: String, agg: String = "none"): String = {
    val q = QueryApi.parseRequest(
      s"""{"start":$T0s,"end":${T0s + 7200},"queries":[
         |  {"metric":"$metric","aggregator":"$agg","tags":{}}]}""".stripMargin,
      nowMs = Now)
    QueryApi.runQuery(store.data, q, store.plannerOptions())
  }

  test("TCP plain: put lines over a real socket become queryable points") {
    val tcp = new TcpLineServer(store, proto = "plain", seqs = seqs)
    try {
      val sock = new Socket("127.0.0.1", tcp.boundPort)
      val out = sock.getOutputStream
      out.write(Seq(
        s"put tcp.m $T0s 1.5 host=a",
        s"put tcp.m ${T0s + 60} 2.5 host=a",
        "garbage line that parses to nothing",
        s"put tcp.m ${T0s + 120} 3.5 host=b",
        "").mkString("\n").getBytes(UTF_8))
      out.flush()
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (!query("tcp.m").contains("3.5") && System.currentTimeMillis() < deadline) {
        tcp.awaitQuiesce(); Thread.sleep(50)
      }
      val resp = query("tcp.m", "sum")
      assert(resp.contains(s""""${T0s}":1.5"""))
      assert(resp.contains(s""""${T0s + 60}":2.5"""))
      assert(resp.contains(s""""${T0s + 120}":3.5"""))
    } finally tcp.stop()
  }

  test("TCP plain: inline version command answered on-socket") {
    val tcp = new TcpLineServer(store, proto = "plain", seqs = seqs)
    try {
      val sock = new Socket("127.0.0.1", tcp.boundPort)
      sock.getOutputStream.write("version\n".getBytes(UTF_8))
      sock.getOutputStream.flush()
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, UTF_8)).readLine()
      assert(line === Info.versionJson)
      sock.close()
    } finally tcp.stop()
  }

  test("TCP plain: inline help answered on-socket") {
    val tcp = new TcpLineServer(store, proto = "plain", seqs = seqs)
    try {
      val sock = new Socket("127.0.0.1", tcp.boundPort)
      sock.getOutputStream.write("help\n".getBytes(UTF_8))
      sock.getOutputStream.flush()
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, UTF_8)).readLine()
      assert(line === "available commands: put stats version help diediedie")
      sock.close()
    } finally tcp.stop()
  }

  test("TCP plain: inline stats drains self-metrics as put lines") {
    val recorder = graft.api.SelfMetrics.install(spark)
    val tcp = new TcpLineServer(store, proto = "plain", seqs = seqs,
      recorder = Some(recorder))
    try {
      // the recorder hears actions via the (async) listener bus: keep
      // generating samples and polling stats until lines come back
      val deadline = System.currentTimeMillis() + 15000
      var line = ""
      while (!line.startsWith("graft.query.") &&
          System.currentTimeMillis() < deadline) {
        spark.range(16).toDF("x").count() // produces recorder samples
        Thread.sleep(100)
        val sock = new Socket("127.0.0.1", tcp.boundPort)
        sock.getOutputStream.write("stats\n".getBytes(UTF_8))
        sock.getOutputStream.flush()
        line = Option(new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream, UTF_8))
          .readLine()).getOrElse("")
        sock.close()
      }
      // put-line shape: metric ts value tag=v ... (Info.statsLines)
      assert(line.startsWith("graft.query."))
      assert(line.contains(" func=") && line.contains(" status="))
    } finally {
      tcp.stop()
      spark.listenerManager.unregister(recorder)
    }
  }

  test("TCP plain: diediedie answers then runs the shutdown hook") {
    val stopped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val tcp = new TcpLineServer(store, proto = "plain", seqs = seqs,
      onShutdownCmd = Some(() => stopped.set(true)))
    try {
      val sock = new Socket("127.0.0.1", tcp.boundPort)
      sock.getOutputStream.write("diediedie\n".getBytes(UTF_8))
      sock.getOutputStream.flush()
      val line = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream, UTF_8)).readLine()
      assert(line === "exiting now.")
      val deadline = System.currentTimeMillis() + 5000
      while (!stopped.get && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(stopped.get)
      sock.close()
    } finally tcp.stop()
  }

  test("TCP influx: line protocol port explodes fields into _field series") {
    val tcp = new TcpLineServer(store, proto = "influx", seqs = seqs,
      nowMs = () => Now)
    try {
      val sock = new Socket("127.0.0.1", tcp.boundPort)
      sock.getOutputStream.write(
        s"tcpflux,host=a temp=65.5,hum=80 ${T0s}000000000\n".getBytes(UTF_8))
      sock.getOutputStream.flush()
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (!query("tcpflux").contains("65.5") && System.currentTimeMillis() < deadline) {
        tcp.awaitQuiesce(); Thread.sleep(50)
      }
      val resp = query("tcpflux")
      assert(resp.contains(""""_field":"temp"""") && resp.contains("65.5"))
      assert(resp.contains(""""_field":"hum"""") && resp.contains("80"))
    } finally tcp.stop()
  }

  test("UDP: datagrams of put lines land best-effort, last-wins vs TCP") {
    val udp = new UdpLineServer(store, seqs = seqs)
    try {
      val sock = new DatagramSocket()
      val payload = Seq(
        s"put udp.m $T0s 7.0 host=a",
        s"put udp.m ${T0s + 60} 8.0 host=a").mkString("\n").getBytes(UTF_8)
      sock.send(new DatagramPacket(payload, payload.length,
        InetAddress.getByName("127.0.0.1"), udp.boundPort))
      sock.close()
      val deadline = System.currentTimeMillis() + 10000
      while (!query("udp.m").contains("8.0") && System.currentTimeMillis() < deadline) {
        udp.awaitQuiesce(); Thread.sleep(50)
      }
      assert(query("udp.m").contains(s""""${T0s}":7.0"""))
    } finally udp.stop()
  }

  test("cross-transport dedup: later seq window wins on the same (series, ts)") {
    val tcp = new TcpLineServer(store, proto = "plain", seqs = seqs)
    try {
      // first write 1.0, quiesce, then overwrite with 9.0 on a later window
      val s1 = new Socket("127.0.0.1", tcp.boundPort)
      s1.getOutputStream.write(s"put dup.m $T0s 1.0 host=a\n".getBytes(UTF_8))
      s1.close()
      val d1 = System.currentTimeMillis() + 10000
      while (!query("dup.m").contains("1.0") && System.currentTimeMillis() < d1) {
        tcp.awaitQuiesce(); Thread.sleep(50)
      }
      val s2 = new Socket("127.0.0.1", tcp.boundPort)
      s2.getOutputStream.write(s"put dup.m $T0s 9.0 host=a\n".getBytes(UTF_8))
      s2.close()
      val d2 = System.currentTimeMillis() + 10000
      while (!query("dup.m").contains("9.0") && System.currentTimeMillis() < d2) {
        tcp.awaitQuiesce(); Thread.sleep(50)
      }
      val resp = query("dup.m")
      assert(resp.contains(s""""${T0s}":9.0""") && !resp.contains("1.0"))
    } finally tcp.stop()
  }
}
