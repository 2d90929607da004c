package graft.ingest

import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.io.Source

import graft.model.Dp
import graft.store.Store

/** Monotonic per-batch seq windows for driver-side ingest edges (HTTP
  * request bodies, TCP connections, UDP packets). Each batch claims a
  * window of 2^22 seqs seeded from the wall clock, strictly advancing
  * even when two batches land in the same millisecond — the same scheme
  * as the streaming seq ([[Ingest]]), so edge-ingested points and
  * stream-ingested points order consistently under the maintained
  * store's cross-batch last-wins dedup.
  */
final class SeqWindows(nowMs: () => Long = () => System.currentTimeMillis()) {
  private val SeqEpochMs = 1577836800000L
  private val base = new AtomicLong((nowMs() - SeqEpochMs) << 22)

  /** Claim the base of a fresh window (room for 2^22 points). */
  def next(): Long =
    base.updateAndGet(prev =>
      math.max((nowMs() - SeqEpochMs) << 22, prev + (1L << 22)))

  /** Stamp a parsed batch with one window. */
  def stamp(dps: Seq[Dp]): Seq[Dp] = {
    val b = next()
    dps.iterator.zipWithIndex.map { case (d, i) => d.copy(seq = b + i) }.toSeq
  }
}

/** Line-batching core shared by the socket transports: receiver threads
  * enqueue raw lines; one flusher thread drains them into
  * [[Store.ingest]] batches (parse → seq-stamp → one store commit per
  * micro-batch). Batching is the load-bearing part — one commit per LINE
  * would write a file set per point; one commit per accumulated batch is
  * the same shape as Structured Streaming's micro-batches and the
  * reference's per-connection buffer flush (`src/core/tcp.cpp:460-534`).
  *
  * The driver JVM hosts the listener (like the HTTP edge), and a batch is
  * already on the driver, so the store commits it there without a Spark
  * job. A deployment that needs more edge bandwidth than one driver
  * socket puts Kafka in front and uses [[graft.streaming.StreamIngest]] —
  * same parsers, same store, its DataFrame ingest.
  */
private[graft] final class LineBatcher(
    store: Store,
    parse: String => Seq[Dp],
    lingerMs: Long,
    maxBatch: Int,
    seqs: SeqWindows,
    // durable mode ([[Wal]]): received lines hit disk before the batch
    // queue, and a crashed process's tail replays at next boot through
    // the same flush loop (the reference's append.log restore,
    // include/append.h:50-52). None = in-memory hand-off (UDP-grade
    // best-effort, the round-2 contract).
    wal: Option[Wal] = None) {

  private val queue = new ConcurrentLinkedQueue[String]()
  private val running = new AtomicBoolean(true)
  private val stopped = new CountDownLatch(1)
  // flush() is synchronized: the flusher thread and awaitQuiesce callers
  // (tests, shutdown) share it so a batch is never ingested twice
  private val lock = new Object

  def enqueue(line: String): Unit = wal match {
    case Some(w) => w.append(line)
    case None => queue.add(line)
  }

  private def ingestLines(lines: Seq[String]): Unit = {
    // one store batch per maxBatch chunk: a fat WAL segment (or queue
    // burst) becomes several scheduler-friendly jobs, not one huge one
    lines.grouped(maxBatch).foreach { chunk =>
      // the plain protocol's inline replication checkpoints
      // (`_cp <leader>:<channel>:<cp>`, tsdb.cpp:2440-2450) ride the same
      // queue/WAL as data so they stay ordered with it; crediting them
      // AFTER the chunk's commit keeps the invariant that a checkpoint is
      // only ever persisted once its preceding data is durable
      val (cps, data) = chunk.partition(_.startsWith("_cp "))
      val dps = seqs.stamp(data.flatMap(parse))
      // credit the chunk's checkpoints even when the data batch throws
      // (the finally): the reference adds checkpoints in stream order
      // regardless of data-point failures (tsdb.cpp:2440-2450) — a data
      // error must not silently drop replication progress markers
      try {
        if (dps.nonEmpty) store.ingest(dps)
      } finally cps.foreach(l => store.checkpoints.add(l.stripPrefix("_cp ").trim))
    }
  }

  private def flush(): Unit = lock.synchronized {
    wal match {
      case Some(w) =>
        // segment = batch: delete only after the store commit returned,
        // so every received line is either on disk here or in parquet
        var seg = w.roll()
        while (seg.isDefined) {
          val s = seg.get
          try { ingestLines(Wal.readLines(s)); w.delete(s) }
          catch { case e: Throwable => w.requeue(s); throw e }
          seg = w.roll()
        }
      case None =>
        val buf = Seq.newBuilder[String]
        var n = 0
        var l = queue.poll()
        while (l != null && n < maxBatch) { buf += l; n += 1; l = if (n < maxBatch) queue.poll() else null }
        ingestLines(buf.result())
    }
  }

  // a failed flush must not kill the flusher: the transport would go
  // silently deaf and stop() would deadlock on the latch. In-memory
  // mode loses the failed batch's drained lines (logged) — the same
  // best-effort contract as the reference's UDP path; WAL mode requeues
  // the segment and retries next tick, losing nothing.
  private def flushLogged(): Unit =
    try flush()
    catch { case e: Throwable =>
      System.err.println(s"[graft] ingest flush failed (batch dropped): ${e.getMessage}")
    }

  private val flusher = new Thread(() => {
    try {
      while (running.get()) {
        flushLogged()
        if (queue.isEmpty) Thread.sleep(lingerMs)
      }
      flushLogged() // drain what arrived during shutdown
    } finally stopped.countDown()
  }, "graft-ingest-flusher")
  flusher.setDaemon(true)
  flusher.start()

  /** Block until everything enqueued so far is ingested (tests). */
  def awaitQuiesce(): Unit = {
    def dirty = wal.map(w => !w.isEmpty).getOrElse(!queue.isEmpty)
    while (dirty) flush()
    lock.synchronized(())
  }

  def stop(): Unit = {
    running.set(false); stopped.await()
    wal.foreach(_.close())
  }
}

/** TCP line ingest — the Spark-side twin of the reference's TCP write
  * path (`src/core/tcp.cpp:339,460-534`): a listener per protocol, port
  * id 0 speaking OpenTSDB plain put and port id 1 InfluxDB line protocol
  * (`include/config.h:78-79`). Fire-and-forget like the reference:
  * data lines get no response; the inline `version` command is answered
  * on the same socket (the reference's socket loop dispatches non-put
  * commands to the HTTP handler table).
  *
  * @param proto "plain" (OpenTSDB put) or "influx" (line protocol)
  */
final class TcpLineServer(
    store: Store,
    proto: String = "plain",
    port: Int = 0, // 0 = ephemeral (tests)
    lingerMs: Long = 200L,
    maxBatch: Int = 1 << 16,
    nowMs: () => Long = () => System.currentTimeMillis(),
    seqs: SeqWindows = new SeqWindows(),
    // durable receive: spool lines to a WAL in this dir (replayed at
    // next boot after a crash). None = in-memory hand-off.
    walDir: Option[String] = None,
    // loopback by default (tests, embedded); "0.0.0.0" to serve remotely
    bindAddr: String = "127.0.0.1",
    // feeds the inline `stats` command (drain → self-ingest → put lines,
    // the same loop as HttpApi's /api/stats); None answers empty
    recorder: Option[graft.api.SelfMetrics.Recorder] = None,
    // what `diediedie` runs (host shutdown hook); default stops this
    // server only. Invoked from a fresh thread like the reference's
    // timer task (admin.cpp:317-331) — a conn thread must not join the
    // flusher it is itself feeding.
    onShutdownCmd: Option[() => Unit] = None) {

  private val parse: String => Seq[Dp] = proto match {
    case "plain" => l => LineParsers.parsePlain(l).toSeq
    case "influx" => l => LineParsers.parseInflux(l, nowMs())
    case other => throw new IllegalArgumentException(s"unknown protocol: $other")
  }

  private val batcher = new LineBatcher(
    store, parse, lingerMs, maxBatch, seqs, walDir.map(new Wal(_)))
  private val server = new ServerSocket()
  server.bind(new InetSocketAddress(bindAddr, port))

  def boundPort: Int = server.getLocalPort

  private val running = new AtomicBoolean(true)

  // inline commands answered on-socket in the plain-put stream only —
  // the reference's put handler dispatches them (tsdb.cpp:2397-2417);
  // its influx write handler does not (tsdb.cpp:2498+)
  private def serve(sock: Socket): Unit = {
    val out = sock.getOutputStream
    def reply(s: String): Unit = { out.write((s + "\n").getBytes(UTF_8)); out.flush() }
    try Source.fromInputStream(sock.getInputStream, "UTF-8").getLines().foreach { line =>
      line.trim match {
        case "version" if proto == "plain" =>
          reply(graft.api.Info.versionJson)
        case "stats" if proto == "plain" =>
          // drain → self-ingest → answer as put lines, the same loop as
          // HttpApi's /api/stats (tsdb.cpp:2403-2406 → stats handler)
          val samples = recorder.map(_.drain()).getOrElse(Nil)
          if (samples.nonEmpty)
            store.ingest(graft.api.SelfMetrics.toDp(samples, seqs.next()))
          reply(graft.api.Info.statsLines(samples))
        case "help" if proto == "plain" =>
          reply("available commands: put stats version help diediedie")
        case "diediedie" if proto == "plain" =>
          reply("exiting now.")
          val stopper = new Thread(
            () => onShutdownCmd.getOrElse(() => stop()).apply(),
            "graft-tcp-stop")
          stopper.setDaemon(true)
          stopper.start()
        case t if t.nonEmpty => batcher.enqueue(line)
        case _ => ()
      }
    } catch { case _: java.io.IOException => () } // peer reset mid-stream
    finally sock.close()
  }

  private val acceptor = new Thread(() => {
    while (running.get()) {
      try {
        val sock = server.accept()
        val t = new Thread(() => serve(sock), s"graft-tcp-conn-${sock.getPort}")
        t.setDaemon(true)
        t.start()
      } catch { case _: java.io.IOException => () } // closed during accept
    }
  }, s"graft-tcp-$proto")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Block until all received lines are ingested (tests). */
  def awaitQuiesce(): Unit = batcher.awaitQuiesce()

  def stop(): Unit = {
    running.set(false)
    server.close()
    batcher.stop()
  }
}

/** UDP line ingest — best-effort datagrams of OpenTSDB plain-put lines,
  * one or more per packet (`src/core/udp.cpp:1-240`). No response path
  * by construction; drops under overload are the protocol's contract.
  */
final class UdpLineServer(
    store: Store,
    port: Int = 0,
    lingerMs: Long = 200L,
    maxBatch: Int = 1 << 16,
    seqs: SeqWindows = new SeqWindows(),
    walDir: Option[String] = None,
    bindAddr: String = "127.0.0.1") {

  private val batcher = new LineBatcher(
    store, l => LineParsers.parsePlain(l).toSeq, lingerMs, maxBatch,
    seqs, walDir.map(new Wal(_)))
  private val socket = new DatagramSocket(new InetSocketAddress(bindAddr, port))

  def boundPort: Int = socket.getLocalPort

  private val running = new AtomicBoolean(true)

  private val receiver = new Thread(() => {
    val buf = new Array[Byte](65536) // max UDP payload
    while (running.get()) {
      try {
        val pkt = new DatagramPacket(buf, buf.length)
        socket.receive(pkt)
        new String(pkt.getData, pkt.getOffset, pkt.getLength, UTF_8)
          .linesIterator.filter(_.nonEmpty).foreach(batcher.enqueue)
      } catch { case _: java.io.IOException => () } // closed during receive
    }
  }, "graft-udp")
  receiver.setDaemon(true)
  receiver.start()

  /** Block until all received packets are ingested (tests). */
  def awaitQuiesce(): Unit = batcher.awaitQuiesce()

  def stop(): Unit = {
    running.set(false)
    socket.close()
    batcher.stop()
  }
}
