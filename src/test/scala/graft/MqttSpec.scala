package graft

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util.concurrent.LinkedBlockingQueue

import graft.api.QueryApi
import graft.ingest.{MqttCodec, MqttLineClient, SeqWindows}
import graft.store.Store

/** In-process MQTT 3.1.1 mini-broker: accepts one subscriber, performs
  * the CONNECT/SUBSCRIBE handshake, then lets the test push PUBLISH
  * packets and observe PUBACKs. Just enough broker to exercise
  * [[MqttLineClient]] over a real socket.
  */
private final class MiniMqttBroker(
    // delivered between SUBSCRIBE and SUBACK, the way a compliant broker
    // may push retained messages (MQTT 3.1.1 §3.8.4)
    retained: Seq[(String, String)] = Nil,
    fixedPort: Int = 0) { // restart-on-same-port (reconnect test)
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress("127.0.0.1", fixedPort))
  def port: Int = server.getLocalPort

  @volatile private var out: DataOutputStream = _
  @volatile private var in: DataInputStream = _
  val subscribed = new LinkedBlockingQueue[String]()
  val pubacks = new LinkedBlockingQueue[Int]()
  private var sock: Socket = _

  private val acceptor = new Thread(() => {
    try {
      sock = server.accept()
      in = new DataInputStream(sock.getInputStream)
      out = new DataOutputStream(sock.getOutputStream)
      while (true) {
        val (tpe, flags, body) = MqttCodec.readPacket(in)
        tpe match {
          case MqttCodec.Connect =>
            out.write(MqttCodec.connack(0)); out.flush()
          case MqttCodec.Subscribe =>
            val pid = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
            // walk the (utf8 topic, qos) pairs
            var off = 2
            var n = 0
            while (off < body.length) {
              val tlen = ((body(off) & 0xff) << 8) | (body(off + 1) & 0xff)
              subscribed.add(new String(body, off + 2, tlen, "UTF-8"))
              off += 2 + tlen + 1 // + qos byte
              n += 1
            }
            retained.foreach { case (t, p) =>
              out.write(MqttCodec.publish(t, p.getBytes("UTF-8"), 0))
            }
            out.write(MqttCodec.suback(pid, Seq.fill(n)(1))); out.flush()
          case MqttCodec.Puback =>
            pubacks.add(((body(0) & 0xff) << 8) | (body(1) & 0xff))
          case MqttCodec.Pingreq =>
            out.write(MqttCodec.pingresp); out.flush()
          case MqttCodec.Disconnect => ()
          case _ => ()
        }
      }
    } catch { case _: java.io.IOException => () }
  }, "mini-mqtt-broker")
  acceptor.setDaemon(true)
  acceptor.start()

  def publish(topic: String, payload: String, qos: Int, pid: Int = 0): Unit = {
    out.write(MqttCodec.publish(topic, payload.getBytes("UTF-8"), qos, pid))
    out.flush()
  }

  def close(): Unit = { Option(sock).foreach(_.close()); server.close() }
}

/** MQTT ingest end-to-end over a real socket pair: subscribe handshake,
  * per-topic format routing (plain put vs Influx line), the reference's
  * string-payload skip, QoS-1 PUBACK, and multi-line payloads.
  * Reference: `src/utils/mqtt.cpp:255-321`.
  */
class MqttSpec extends SparkSpec {

  private val T0s = 1704412800L // 2024-01-05 00:00:00 UTC
  private val Now = (T0s + 4 * 3600L) * 1000L

  private def freshStore() = new Store(
    spark, java.nio.file.Files.createTempDirectory("mqtt_store").toString)

  private def query(store: Store, metric: String): String = {
    val q = QueryApi.parseRequest(
      s"""{"start":$T0s,"end":${T0s + 7200},"queries":[
         |  {"metric":"$metric","aggregator":"none","tags":{}}]}""".stripMargin,
      nowMs = Now)
    QueryApi.runQuery(store.data, q, store.plannerOptions())
  }

  private def awaitContains(store: Store, client: MqttLineClient,
      metric: String, needle: String): String = {
    val deadline = System.currentTimeMillis() + 15000
    var resp = query(store, metric)
    while (!resp.contains(needle) && System.currentTimeMillis() < deadline) {
      client.awaitQuiesce(); Thread.sleep(50)
      resp = query(store, metric)
    }
    resp
  }

  test("plain-topic publishes land in the store; QoS1 is PUBACKed") {
    val broker = new MiniMqttBroker
    val store = freshStore()
    val client = new MqttLineClient(store, "127.0.0.1", broker.port,
      topics = Seq("tele/plain" -> "plain"), seqs = new SeqWindows(() => Now))
    try {
      assert(broker.subscribed.take() === "tele/plain")
      // multi-line payload, one garbage line, qos 0 and qos 1
      broker.publish("tele/plain",
        s"put mqtt.m $T0s 1.5 host=a\nnot a put line\nput mqtt.m ${T0s + 60} 2.5 host=a",
        qos = 0)
      broker.publish("tele/plain", s"put mqtt.m ${T0s + 120} 3.5 host=b",
        qos = 1, pid = 77)
      assert(broker.pubacks.take() === 77)
      val resp = awaitContains(store, client, "mqtt.m", "3.5")
      assert(resp.contains(s""""$T0s":1.5"""))
      assert(resp.contains(s""""${T0s + 60}":2.5"""))
      assert(resp.contains(s""""${T0s + 120}":3.5"""))
    } finally { client.stop(); broker.close() }
  }

  test("retained PUBLISH delivered before SUBACK still ingests (§3.8.4)") {
    val broker = new MiniMqttBroker(
      retained = Seq("tele/plain" -> s"put mqtt.ret $T0s 4.5 host=r"))
    val store = freshStore()
    // construction must survive the PUBLISH-before-SUBACK interleaving
    val client = new MqttLineClient(store, "127.0.0.1", broker.port,
      topics = Seq("tele/plain" -> "plain"), seqs = new SeqWindows(() => Now))
    try {
      val resp = awaitContains(store, client, "mqtt.ret", "4.5")
      assert(resp.contains(s""""$T0s":4.5"""))
    } finally { client.stop(); broker.close() }
  }

  test("broker restart: client re-subscribes and keeps ingesting") {
    val broker1 = new MiniMqttBroker
    val store = freshStore()
    val client = new MqttLineClient(store, "127.0.0.1", broker1.port,
      topics = Seq("tele/plain" -> "plain"), keepAliveSec = 1,
      seqs = new SeqWindows(() => Now))
    try {
      assert(broker1.subscribed.take() === "tele/plain")
      broker1.publish("tele/plain", s"put mqtt.rc $T0s 1.0 host=a", qos = 0)
      awaitContains(store, client, "mqtt.rc", "1.0")
      val p = broker1.port
      broker1.close() // connection drops; client reconnects to the same port
      val broker2 = new MiniMqttBroker(fixedPort = p)
      try {
        // re-subscription proves the full re-handshake ran
        assert(broker2.subscribed.poll(30, java.util.concurrent.TimeUnit.SECONDS)
          === "tele/plain")
        broker2.publish("tele/plain", s"put mqtt.rc ${T0s + 60} 2.0 host=a", qos = 0)
        val resp = awaitContains(store, client, "mqtt.rc", "2.0")
        assert(resp.contains(s""""$T0s":1.0""")) // pre-restart point intact
      } finally broker2.close()
    } finally client.stop()
  }

  test("line-topic publishes parse as Influx; string payloads skipped") {
    val broker = new MiniMqttBroker
    val store = freshStore()
    val client = new MqttLineClient(store, "127.0.0.1", broker.port,
      topics = Seq("tele/line" -> "line", "tele/plain" -> "plain"),
      seqs = new SeqWindows(() => Now))
    try {
      assert(Set(broker.subscribed.take(), broker.subscribed.take()) ===
        Set("tele/line", "tele/plain"))
      broker.publish("tele/line",
        s"cpu,host=a usage=0.5,idle=99.5 ${T0s}000000000", qos = 0)
      // reference guard (mqtt.cpp:281-283): payload with a quote skipped
      broker.publish("tele/line",
        s"""cpu,host=a label="oops" ${T0s}000000000""", qos = 0)
      val resp = awaitContains(store, client, "cpu", "99.5")
      assert(resp.contains(""""_field":"usage""""))
      assert(resp.contains(s""""$T0s":0.5"""))
      assert(resp.contains(""""_field":"idle""""))
      assert(!resp.contains("label"))
    } finally { client.stop(); broker.close() }
  }
}
