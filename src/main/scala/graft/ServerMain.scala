package graft

import graft.api.{HttpApi, SelfMetrics}
import graft.ingest.{MqttLineClient, SeqWindows, TcpLineServer, UdpLineServer}
import graft.store.Store
import org.apache.spark.sql.SparkSession

/** Runnable engine: the full port table of the reference
  * (`src/core/http.cpp:95-116` HTTP endpoints; `include/config.h:78-79`
  * TCP data ports; `src/core/udp.cpp` best-effort ingest) over ONE
  * maintained [[Store]], plus the periodic self-metrics flush the
  * reference runs as a background stats task (`src/utils/stats.cpp`).
  *
  *   sbt "runMain graft.ServerMain /tmp/graft_store 6182 6181 6180 6180"
  *
  * args: storeDir [httpPort tcpPlainPort tcpInfluxPort udpPort
  * flushSeconds] — ports default to the reference's 6182/6181/6180,
  * UDP shares 6180's number on its own protocol (under a config file
  * the reference's udp.server.port default 6181 applies instead),
  * flush every 30 s.
  * `SPARK_GRAFT_CONFIG=<file>` loads a reference-grammar config file
  * ([[GraftConfig]], include/config.h key names): ports, enabled flags,
  * stats cadence, timezone, WAL arming, `mqtt.settings`, and retention
  * all honor it, with explicit args/env still winning.
  * `SPARK_GRAFT_WAL_DIR=<dir>` arms the socket transports' write-ahead
  * log (the reference's `append.log.enabled`, `include/config.h:30`):
  * received lines spool to disk before batching and a crashed process's
  * tail replays at next boot.
  * `SPARK_GRAFT_MQTT="host:1883,topic=line,topic2=plain"` additionally
  * subscribes to an MQTT broker (the reference's `mqtt.settings`).
  *
  * The driver JVM hosts the listeners; every request's heavy lifting is
  * ordinary distributed Spark. All transports share one [[SeqWindows]]
  * so cross-transport duplicates resolve by arrival order under the
  * store's last-wins dedup.
  */
object ServerMain {
  def main(args: Array[String]): Unit = {
    // `SPARK_GRAFT_CONFIG=<file>` loads the reference's properties
    // grammar (`key = value`, include/config.h key names) — a ticktock
    // config file works as-is. Explicit args override the file; with no
    // file, the legacy always-on defaults below apply.
    val cfgPath = sys.env.get("SPARK_GRAFT_CONFIG")
    val cfg = cfgPath.map(GraftConfig.load).getOrElse(GraftConfig.empty)
    // a config file opts into the reference's enabled/disabled flags
    // (udp off by default, config.h:168-169); without one every
    // transport starts, preserving the historical CLI contract
    val strict = cfgPath.isDefined
    val storeDir = args.headOption
      .orElse(Option(cfg.str("tsdb.data.dir", "")).filter(_.nonEmpty))
      .getOrElse("/tmp/graft_store")
    def port(i: Int, default: Int) =
      args.lift(i).flatMap(_.toIntOption).getOrElse(default)
    val tcpPorts = cfg.ports("tcp.server.port")
    val (httpPort, tcpPort, influxPort, udpPort) = (
      port(1, cfg.firstPort("http.server.port", 6182)),
      port(2, tcpPorts.headOption.getOrElse(6181)),
      port(3, tcpPorts.lift(1).getOrElse(6180)),
      // config-file mode honors the reference's udp.server.port default
      // (6181, config.h:169); the bare-CLI contract keeps the documented
      // 6180 — an explicit branch because the Defaults table would
      // otherwise silently answer 6181 even with no file loaded
      port(4, if (strict) cfg.firstPort("udp.server.port", 6181) else 6180))
    val flushSeconds = args.lift(5).flatMap(_.toIntOption)
      .getOrElse(cfg.timeSeconds("stats.frequency", "30s").toInt)

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .appName("graft")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", cfg.str("tsdb.timezone", "UTC"))
      // auto-compaction rename-swaps a day dir; a query that listed
      // files just before the swap then degrades to skipping the
      // replaced small files instead of failing the request
      .config("spark.sql.files.ignoreMissingFiles", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val recorder = SelfMetrics.install(spark)
    val store = new Store(spark, storeDir)
    val seqs = new SeqWindows()
    val http = new HttpApi(spark, store, port = httpPort,
      recorder = Some(recorder), sharedSeqs = Some(seqs),
      bindAddr = sys.env.getOrElse("SPARK_GRAFT_BIND", "127.0.0.1"),
      config = cfgPath.map(_ => cfg)).start()
    // WAL: env dir wins; else a config file with append.log.enabled
    // (reference default true, config.h:30-31) spools under the store
    val walDir = sys.env.get("SPARK_GRAFT_WAL_DIR")
      .orElse(if (strict && cfg.bool("append.log.enabled", true))
        Some(s"$storeDir/wal") else None)
    def wal(name: String) = walDir.map(d => s"$d/$name")
    // SPARK_GRAFT_BIND=0.0.0.0 serves remote collectors; loopback default
    val bind = sys.env.getOrElse("SPARK_GRAFT_BIND", "127.0.0.1")
    val tcpOn = !strict || cfg.bool("tcp.server.enabled", true)
    val udpOn = !strict || cfg.bool("udp.server.enabled", false)
    // diediedie on the put socket = full-process shutdown, like the
    // reference's admin stop task (admin.cpp:317-331)
    val tcp = if (!tcpOn) None else Some(new TcpLineServer(store,
      proto = "plain", port = tcpPort, seqs = seqs,
      walDir = wal("tcp-plain"), bindAddr = bind,
      recorder = Some(recorder), onShutdownCmd = Some(() => sys.exit(0))))
    val influx = if (!tcpOn) None else Some(new TcpLineServer(store,
      proto = "influx", port = influxPort, seqs = seqs,
      walDir = wal("tcp-influx"), bindAddr = bind))
    val udp = if (!udpOn) None else Some(new UdpLineServer(store,
      port = udpPort, seqs = seqs, walDir = wal("udp"), bindAddr = bind))
    // MQTT subscription (the reference's mqtt.settings,
    // `src/utils/mqtt.cpp:101-210`). Two spellings: the compact env form
    //   SPARK_GRAFT_MQTT="host:1883,tele/metrics=line,tele/put=plain"
    // or the reference's JSON form in the config file:
    //   mqtt.settings = [{"broker":"h","port":1883,
    //                     "topics":[{"topic":"t","format":"line"}]}]
    val mqttEnv = sys.env.get("SPARK_GRAFT_MQTT").map { spec =>
      val parts = spec.split(",").toSeq
      val hostPort = parts.head.split(":")
      require(hostPort.length == 2 && hostPort(1).toIntOption.isDefined,
        s"SPARK_GRAFT_MQTT must start with host:port, got '${parts.head}'")
      val topics = parts.tail.map { t =>
        val i = t.lastIndexOf('=')
        if (i < 0) t -> "plain" else t.take(i) -> t.drop(i + 1)
      }
      require(topics.nonEmpty,
        "SPARK_GRAFT_MQTT needs at least one topic: host:port,topic=format,…")
      Seq((hostPort(0), hostPort(1).toInt, topics))
    }
    val mqttSpecs = mqttEnv.getOrElse(
      parseMqttSettings(cfg.str("mqtt.settings", "")))
    val mqtt = mqttSpecs.map { case (host, mport, topics) =>
      new MqttLineClient(store, host, mport, topics,
        seqs = seqs, walDir = wal("mqtt"))
    }
    // retention purge: a set tsdb.retention.threshold drops day
    // partitions older than the horizon on the reference's rotation
    // cadence (tsdb.rotation.frequency, default daily)
    val retainSec = cfg.timeSeconds("tsdb.retention.threshold", "0s")
    if (retainSec > 0) {
      val periodMs =
        math.max(60, cfg.timeSeconds("tsdb.rotation.frequency", "1d")) * 1000L
      val purger = new Thread(() => {
        while (true) {
          Thread.sleep(periodMs)
          try {
            val cutoff = java.time.LocalDate.ofInstant(
              java.time.Instant.ofEpochMilli(
                System.currentTimeMillis() - retainSec * 1000L),
              java.time.ZoneOffset.UTC).toString
            val dropped = store.purgeBefore(cutoff)
            if (dropped.nonEmpty)
              println(s"[graft] retention purged ${dropped.size} day(s)")
          } catch { case e: Exception =>
            System.err.println(s"[graft] retention purge failed: ${e.getMessage}")
          }
        }
      }, "graft-retention")
      purger.setDaemon(true)
      purger.start()
    }

    // periodic self-metrics flush into the store (graft.* series become
    // queryable like the reference's ticktock.* stats)
    val flusher = new Thread(() => {
      while (true) {
        Thread.sleep(flushSeconds * 1000L)
        try http.flushSelfMetrics()
        catch { case e: Exception =>
          System.err.println(s"[graft] self-metrics flush failed: ${e.getMessage}")
        }
      }
    }, "graft-selfmetrics-flush")
    flusher.setDaemon(true)
    flusher.start()

    val tcpP = tcp.map(_.boundPort.toString).getOrElse("off")
    val influxP = influx.map(_.boundPort.toString).getOrElse("off")
    val udpP = udp.map(_.boundPort.toString).getOrElse("off")
    println(s"graft serving: http=${http.boundPort} tcp-plain=$tcpP " +
      s"tcp-influx=$influxP udp=$udpP " +
      s"mqtt=${mqtt.nonEmpty} store=$storeDir")
    sys.addShutdownHook {
      mqtt.foreach(_.stop())
      tcp.foreach(_.stop()); influx.foreach(_.stop()); udp.foreach(_.stop())
      http.stop(); spark.stop()
    }
    Thread.currentThread.join() // serve until killed
  }

  /** Parse the reference's `mqtt.settings` JSON
    * (`src/utils/mqtt.cpp:119-150`): an array of
    * `{"broker":h,"port":n,"topics":[{"topic":t,"format":f}]}` entries;
    * entries missing required keys are skipped like the reference's
    * "ignored" branches. Jackson ships with Spark.
    */
  def parseMqttSettings(json: String): Seq[(String, Int, Seq[(String, String)])] = {
    if (json.trim.isEmpty) return Seq.empty
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      if (!root.isArray) return Seq.empty
      (0 until root.size).flatMap { i =>
        val e = root.get(i)
        if (!e.hasNonNull("broker") || !e.hasNonNull("port") ||
            !e.hasNonNull("topics")) None
        else {
          val topics = (0 until e.get("topics").size).flatMap { j =>
            val t = e.get("topics").get(j)
            if (!t.hasNonNull("topic") || !t.hasNonNull("format")) None
            else Some(t.get("topic").asText -> t.get("format").asText)
          }
          if (topics.isEmpty) None
          else Some((e.get("broker").asText, e.get("port").asInt, topics))
        }
      }
    } catch { case _: Exception => Seq.empty } // mal-formatted → ignored
  }
}
