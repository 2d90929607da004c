package graft.ingest

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicBoolean

import graft.store.Store

/** Minimal MQTT 3.1.1 wire codec — just the packets a subscribing
  * telemetry client needs (CONNECT/CONNACK, SUBSCRIBE/SUBACK, PUBLISH/
  * PUBACK, PING, DISCONNECT). Public protocol per the OASIS MQTT 3.1.1
  * spec; shared by [[MqttLineClient]] and the test broker.
  */
object MqttCodec {
  val Connect = 1; val Connack = 2; val Publish = 3; val Puback = 4
  val Subscribe = 8; val Suback = 9
  val Pingreq = 12; val Pingresp = 13; val Disconnect = 14

  /** Variable-length "remaining length" encoding (7 bits/byte, MSB =
    * continuation).
    */
  def encodeRemaining(len: Int): Array[Byte] = {
    require(len >= 0 && len <= 268435455, "remaining length out of range")
    val out = Array.newBuilder[Byte]
    var x = len
    do {
      val d = x % 128; x /= 128
      out += (if (x > 0) (d | 0x80).toByte else d.toByte)
    } while (x > 0)
    out.result()
  }

  /** UTF-8 string with 2-byte big-endian length prefix. */
  def utf8(s: String): Array[Byte] = {
    val b = s.getBytes(UTF_8)
    Array[Byte]((b.length >> 8).toByte, (b.length & 0xff).toByte) ++ b
  }

  private def packet(tpe: Int, flags: Int, body: Array[Byte]): Array[Byte] =
    Array(((tpe << 4) | flags).toByte) ++ encodeRemaining(body.length) ++ body

  /** CONNECT: protocol "MQTT" level 4, clean session, no will/auth. */
  def connect(clientId: String, keepAliveSec: Int): Array[Byte] =
    packet(Connect, 0,
      utf8("MQTT") ++ Array[Byte](4, 0x02,
        (keepAliveSec >> 8).toByte, (keepAliveSec & 0xff).toByte) ++
        utf8(clientId))

  /** CONNACK with return code (0 = accepted). */
  def connack(rc: Int): Array[Byte] =
    packet(Connack, 0, Array[Byte](0, rc.toByte))

  /** SUBSCRIBE (flags 0b0010 mandated by the spec): packet id + one
    * (topic, qos) pair per topic.
    */
  def subscribe(pid: Int, topics: Seq[String], qos: Int): Array[Byte] =
    packet(Subscribe, 0x2,
      Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte) ++
        topics.flatMap(t => utf8(t) :+ qos.toByte))

  def suback(pid: Int, grantedQos: Seq[Int]): Array[Byte] =
    packet(Suback, 0,
      Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte) ++
        grantedQos.map(_.toByte))

  /** PUBLISH; packet id present only when qos > 0. */
  def publish(topic: String, payload: Array[Byte], qos: Int,
      pid: Int = 0): Array[Byte] =
    packet(Publish, qos << 1,
      utf8(topic) ++
        (if (qos > 0) Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte)
         else Array.emptyByteArray) ++ payload)

  def puback(pid: Int): Array[Byte] =
    packet(Puback, 0, Array[Byte]((pid >> 8).toByte, (pid & 0xff).toByte))

  def pingreq: Array[Byte] = packet(Pingreq, 0, Array.emptyByteArray)
  def pingresp: Array[Byte] = packet(Pingresp, 0, Array.emptyByteArray)
  def disconnect: Array[Byte] = packet(Disconnect, 0, Array.emptyByteArray)

  /** One raw packet off the stream: (type, flags, body). Blocks; throws
    * EOFException at clean stream end, IOException on a malformed
    * remaining-length (spec caps it at 4 bytes — without the cap a
    * corrupt peer could drive `mult` into Int overflow).
    */
  def readPacket(in: DataInputStream): (Int, Int, Array[Byte]) = {
    val h = in.readUnsignedByte()
    var len = 0; var mult = 1; var b = 0; var n = 0
    do {
      if (n >= 4) throw new java.io.IOException("malformed remaining length")
      b = in.readUnsignedByte()
      len += (b & 0x7f) * mult; mult *= 128; n += 1
    } while ((b & 0x80) != 0)
    val body = new Array[Byte](len)
    in.readFully(body)
    (h >> 4, h & 0xf, body)
  }

  /** Topic, packet id (0 for qos 0), and payload of a PUBLISH body. */
  def parsePublish(flags: Int, body: Array[Byte]): (String, Int, Array[Byte]) = {
    val qos = (flags >> 1) & 0x3
    val tlen = ((body(0) & 0xff) << 8) | (body(1) & 0xff)
    val topic = new String(body, 2, tlen, UTF_8)
    var off = 2 + tlen
    var pid = 0
    if (qos > 0) {
      pid = ((body(off) & 0xff) << 8) | (body(off + 1) & 0xff)
      off += 2
    }
    (topic, pid, java.util.Arrays.copyOfRange(body, off, body.length))
  }
}

/** MQTT ingest — the Spark-side twin of the reference's mosquitto
  * subscriber (`src/utils/mqtt.cpp:48-321`, `include/mqtt.h`): connect
  * to a broker, subscribe to topics each tagged with a payload format
  * ("line" = InfluxDB line protocol routed through the write handler,
  * anything else = OpenTSDB plain put, `mqtt.cpp:293-320`), and batch
  * received payloads into the maintained store through the same
  * [[LineBatcher]] as the TCP/UDP edges. Mirrors the reference's
  * message guard: payloads containing `"` are skipped (string values,
  * `mqtt.cpp:281-283`). QoS 1 subscription like the reference
  * (`my_qos`, `mqtt.cpp:45`); received QoS-1 publishes are PUBACKed.
  *
  * A deployment needing more than one subscriber socket fronts with
  * Kafka instead — same parsers, same store ([[graft.streaming.StreamIngest]]).
  */
final class MqttLineClient(
    store: Store,
    broker: String,
    port: Int,
    topics: Seq[(String, String)], // (topic, format): "line" | "plain"
    clientId: String = "graftdb", // reference uses "ticktockdb", mqtt.cpp:120
    keepAliveSec: Int = 10, // reference keepalive, mqtt.cpp:132
    lingerMs: Long = 200L,
    maxBatch: Int = 1 << 16,
    nowMs: () => Long = () => System.currentTimeMillis(),
    seqs: SeqWindows = new SeqWindows(),
    walDir: Option[String] = None) {
  require(topics.nonEmpty, "at least one topic")

  private val formatOf = topics.toMap
  private val plainBatcher = new LineBatcher(
    store, l => LineParsers.parsePlain(l).toSeq, lingerMs, maxBatch,
    seqs, walDir.map(d => new Wal(d + "/plain")))
  private val lineBatcher = new LineBatcher(
    store, l => LineParsers.parseInflux(l, nowMs()), lingerMs,
    maxBatch, seqs, walDir.map(d => new Wal(d + "/line")))

  private val running = new AtomicBoolean(true)
  @volatile private var socket: Socket = _
  @volatile private var in: DataInputStream = _
  @volatile private var out: DataOutputStream = _
  private val outLock = new Object
  private def send(b: Array[Byte]): Unit = outLock.synchronized {
    val o = out
    if (o != null) { o.write(b); o.flush() }
  }

  /** Connect + full handshake (CONNECT → CONNACK, SUBSCRIBE → SUBACK)
    * with an overall 30 s deadline — the per-read SoTimeout alone would
    * reset on every retained PUBLISH a broken broker drips out. Fails
    * loudly on a refused connection (rc != 0); cleans up its socket on
    * any failure.
    */
  private def connect(): Unit = {
    val s = new Socket()
    try {
      s.connect(new java.net.InetSocketAddress(broker, port), 15000)
      s.setSoTimeout(15000)
      val i = new DataInputStream(s.getInputStream)
      val o = new DataOutputStream(s.getOutputStream)
      o.write(MqttCodec.connect(clientId, keepAliveSec)); o.flush()
      val (t0, _, body) = MqttCodec.readPacket(i)
      require(t0 == MqttCodec.Connack && body.length >= 2 && body(1) == 0,
        s"MQTT CONNECT refused (type=$t0 rc=${if (body.length >= 2) body(1) else -1})")
      // publish fields now: a retained PUBLISH during the SUBSCRIBE
      // handshake routes (and PUBACKs) through the normal path
      outLock.synchronized { socket = s; in = i; out = o }
      send(MqttCodec.subscribe(1, topics.map(_._1), qos = 1))
      // MQTT 3.1.1 §3.8.4: the broker may deliver matching PUBLISHes
      // (e.g. retained messages) BEFORE the SUBACK — process them
      // instead of failing the handshake
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var acked = false
      while (!acked) {
        require(System.nanoTime() < deadline, "no SUBACK within 30s")
        val (t, flags, pkt) = MqttCodec.readPacket(i)
        if (t == MqttCodec.Suback) acked = true
        else if (t == MqttCodec.Publish) handlePublish(flags, pkt)
        else require(t == MqttCodec.Pingresp,
          s"unexpected packet type $t in handshake")
      }
      s.setSoTimeout(0)
    } catch {
      case e: Throwable =>
        try s.close() catch { case _: java.io.IOException => () }
        throw e
    }
  }

  private def route(topic: String, payload: Array[Byte]): Unit = {
    val text = new String(payload, UTF_8)
    // reference guard: skip string-valued payloads (mqtt.cpp:281-283)
    if (!text.contains('"')) {
      val batcher =
        if (formatOf.getOrElse(topic, "plain") == "line") lineBatcher
        else plainBatcher
      text.linesIterator.map(_.trim).filter(_.nonEmpty).foreach(batcher.enqueue)
    }
  }

  /** Route first, THEN ack: with a WAL configured the line is on disk
    * before the broker is told to forget the message, so QoS 1 stays
    * at-least-once across a crash (ack-first would drop an acked,
    * unspooled message).
    */
  private def handlePublish(flags: Int, body: Array[Byte]): Unit = {
    val (topic, pid, payload) = MqttCodec.parsePublish(flags, body)
    route(topic, payload)
    if (((flags >> 1) & 0x3) > 0) send(MqttCodec.puback(pid))
  }

  // initial connection: a failed construction releases the batchers
  // (and their WAL handles) it started above
  try connect()
  catch {
    case e: Throwable =>
      running.set(false)
      plainBatcher.stop(); lineBatcher.stop()
      throw e
  }

  /** Re-establish the session until it works or the client stops — the
    * behavior mosquitto's loop gives the reference for free
    * (`mosquitto_loop_start`, mqtt.cpp:91): a broker restart costs
    * messages published while down (QoS-1 redelivery of unacked ones
    * aside) but never the subscription.
    */
  private def reconnect(): Unit = {
    while (running.get()) {
      try { connect(); System.err.println("[graft-mqtt] reconnected"); return }
      catch {
        case _: InterruptedException => return
        case e: Throwable =>
          System.err.println(s"[graft-mqtt] reconnect failed: ${e.getMessage}")
          Thread.sleep(math.max(keepAliveSec * 1000L, 1000L))
      }
    }
  }

  private val reader = new Thread(() => {
    while (running.get()) {
      try {
        val (tpe, flags, body) = MqttCodec.readPacket(in)
        tpe match {
          case MqttCodec.Publish => handlePublish(flags, body)
          case _ => () // PINGRESP etc.
        }
      } catch {
        case e: java.io.IOException if running.get() =>
          System.err.println(s"[graft-mqtt] connection lost (${e.getMessage}), reconnecting")
          reconnect()
        case _: java.io.IOException => () // stopped
        case _: InterruptedException => ()
        case e: Throwable if running.get() =>
          // a malformed packet desyncs the stream — drop the connection
          // and re-handshake rather than read garbage forever
          System.err.println(s"[graft-mqtt] reader failed: ${e.getMessage}")
          try socket.close() catch { case _: java.io.IOException => () }
          reconnect()
      }
    }
  }, "graft-mqtt-reader")
  reader.setDaemon(true)
  reader.start()

  private val pinger = new Thread(() => {
    try {
      while (running.get()) {
        Thread.sleep(math.max(keepAliveSec * 500L, 500L))
        // a send on a dropped connection is survivable: the reader is
        // already reconnecting, and pings resume on the new session
        if (running.get())
          try send(MqttCodec.pingreq)
          catch { case _: java.io.IOException => () }
      }
    } catch { case _: InterruptedException => () }
  }, "graft-mqtt-ping")
  pinger.setDaemon(true)
  pinger.start()

  /** Block until everything received so far is ingested (tests). */
  def awaitQuiesce(): Unit = { plainBatcher.awaitQuiesce(); lineBatcher.awaitQuiesce() }

  def stop(): Unit = {
    running.set(false)
    pinger.interrupt()
    reader.interrupt() // a reconnect backoff sleep ends immediately
    try send(MqttCodec.disconnect) catch { case _: java.io.IOException => () }
    try socket.close() catch { case _: java.io.IOException => () }
    plainBatcher.stop(); lineBatcher.stop()
  }
}
