package graft.io.bus

import java.io.IOException
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** A loopback MQTT 3.1.1 broker-bridge: the [[SocketBridge]] layering
  * (network transport → atomic spool → exactly-once `graft-bus`
  * connector) with the REAL broker wire protocol on top, so a client
  * that today talks to the reference's broker (paho-mqtt,
  * processor/mqtt_sink.py:104-117, wall/mqtt_listener.py:60-69) connects
  * to this bridge unchanged.
  *
  * Served: CONNECT/CONNACK (protocol-level check, rc 0x01 on a non-3.1.1
  * client), PUBLISH QoS 0 and 1, SUBSCRIBE/SUBACK with `+`/`#` wildcard
  * filters (SURVEY S2), UNSUBSCRIBE, retained messages (the K3
  * retained-status pattern: last retained payload per topic is delivered
  * on subscribe), PINGREQ/PINGRESP, DISCONNECT. A QoS-2 PUBLISH or
  * malformed framing closes that client's connection (its buffered QoS-0
  * lines are still spooled); other connections are unaffected.
  *
  * Delivery → durability contract, mirroring broker QoS semantics:
  *  - QoS 1 PUBLISH spools (durable, atomic rename) BEFORE PUBACK — an
  *    unacked redelivery (DUP) spools again, and downstream idempotence
  *    (K3 last-value-wins upsert, W1 latest-per-key) absorbs the
  *    duplicate: exactly the broker+QoS-1 model the reference runs on.
  *  - QoS 0 PUBLISH buffers and flushes every `flushEveryLines` or on
  *    disconnect (fire-and-forget permits batching; nothing was acked).
  * Spool lines are the repo-wide `topic TAB payload` envelope
  * (events/protocol.py:11-28 wire shape), drained exactly-once by the
  * DSv2 connector's file offsets.
  *
  * Also forwards: live PUBLISHes fan out to matching subscribers at
  * QoS 0 (the wall/metrics listener path), so the bridge is a usable
  * mini-broker for the engine's own sinks, not only an ingest funnel.
  * Zero-egress: `bindAddress` DEFAULTS to loopback; a real deployment
  * passes the interface to listen on (the flag the r6 review called the
  * nearest-term production gap). Restart story: a bridge re-created on
  * the same fixed port right after a stop can race the closing socket
  * (TIME_WAIT) — the bind retries with bounded linear backoff (and
  * SO_REUSEADDR), so supervisor-style stop→new-bridge restarts on a
  * pinned port succeed; the spool sequence resumes from the directory
  * scan ([[MqttBridge.nextSeq]]), so a restarted bridge appends after
  * the old one's files instead of clobbering them. */
final class MqttBridge(spoolDir: String, port: Int = 0,
                       flushEveryLines: Int = 256,
                       bindAddress: String = "127.0.0.1",
                       bindRetries: Int = 20,
                       bindBackoffMs: Long = 50) {
  require(flushEveryLines >= 1, "flushEveryLines must be >= 1")
  require(bindRetries >= 0 && bindBackoffMs >= 0, "bind retry/backoff >= 0")
  import Mqtt._

  private val server = {
    val s = new ServerSocket()
    s.setReuseAddress(true)
    val addr = new java.net.InetSocketAddress(
      InetAddress.getByName(bindAddress), port)
    var attempt = 0
    var bound = false
    while (!bound) {
      try { s.bind(addr, 50); bound = true }
      catch {
        // retry ONLY the TIME_WAIT bind race this loop exists for —
        // EADDRNOTAVAIL / permission-denied etc. are not transient and
        // must fail fast, not after bindRetries·backoff
        case e: java.net.BindException =>
          attempt += 1
          if (attempt > bindRetries) { s.close(); throw e }
          // bounded LINEAR backoff: restart races clear in well under
          // bindRetries·bindBackoffMs; unbounded waits would hide a
          // genuinely-taken port from the operator
          Thread.sleep(bindBackoffMs * attempt)
      }
    }
    s
  }
  private val seq = new AtomicLong(MqttBridge.nextSeq(spoolDir))
  private val retained = new ConcurrentHashMap[String, Array[Byte]]()
  private val conns = ConcurrentHashMap.newKeySet[Conn]()
  @volatile private var running = true

  private final class Conn(val sock: Socket) {
    val out: java.io.OutputStream = sock.getOutputStream
    val filters = ConcurrentHashMap.newKeySet[String]()
    val buffer = scala.collection.mutable.ArrayBuffer.empty[String]
  }

  def boundPort: Int = server.getLocalPort

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(new Conn(sock)), "graft-mqtt-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: IOException => () }
    }
  }, "graft-mqtt-accept")

  def start(): MqttBridge = {
    acceptor.setDaemon(true)
    acceptor.start()
    this
  }

  private def handle(c: Conn): Unit = {
    val in = c.sock.getInputStream
    try {
      // session MUST open with CONNECT (MQTT-3.1.0-1)
      readPacket(in) match {
        case Some(Packet(Connect, _, body)) =>
          val r = new Reader(body)
          val proto = r.str()
          val level = r.u8()
          if (proto != "MQTT" || level != 4) {
            // 0x01: unacceptable protocol level
            writePacket(c.out, ConnAck, 0, Array[Byte](0, 1))
            return
          }
          writePacket(c.out, ConnAck, 0, Array[Byte](0, 0))
        case _ => return
      }
      conns.add(c)
      var open = true
      while (open) {
        readPacket(in) match {
          case None => open = false
          case Some(Packet(Publish, flags, body)) =>
            val qos = flags >> 1 & 0x3
            require(qos <= 1, s"QoS $qos not served (0/1 only)")
            val r = new Reader(body)
            val topic = r.str()
            val packetId = if (qos >= 1) r.u16() else 0
            val payload = r.rest()
            if ((flags & 0x1) != 0) retained.put(topic, payload) // retain bit
            val line = topic + "\t" + new String(payload, StandardCharsets.UTF_8)
            forward(topic, payload, except = c)
            if (qos == 1) {
              // durable-then-ack: spool any buffered QoS-0 lines first so
              // arrival order inside this connection is preserved
              c.synchronized {
                if (c.buffer.nonEmpty) { spool(c.buffer.toSeq); c.buffer.clear() }
                spool(Seq(line))
              }
              writePacket(c.out, PubAck, 0, new Writer().u16(packetId).bytes)
            } else c.synchronized {
              c.buffer += line
              if (c.buffer.size >= flushEveryLines) {
                spool(c.buffer.toSeq); c.buffer.clear()
              }
            }
          case Some(Packet(Subscribe, _, body)) =>
            val r = new Reader(body)
            val packetId = r.u16()
            val granted = scala.collection.mutable.ArrayBuffer.empty[Byte]
            while (r.hasMore) {
              val filter = r.str()
              r.u8() // requested QoS; deliveries are QoS 0
              c.filters.add(filter)
              granted += 0
              // retained delivery on new subscription (K3 pattern)
              retained.forEach { (topic, payload) =>
                if (topicMatches(filter, topic)) deliver(c, topic, payload)
              }
            }
            writePacket(c.out, SubAck, 0,
              new Writer().u16(packetId).raw(granted.toArray).bytes)
          case Some(Packet(Unsubscribe, _, body)) =>
            val r = new Reader(body)
            val packetId = r.u16()
            while (r.hasMore) c.filters.remove(r.str())
            writePacket(c.out, UnsubAck, 0, new Writer().u16(packetId).bytes)
          case Some(Packet(PingReq, _, _)) =>
            writePacket(c.out, PingResp, 0, Array.emptyByteArray)
          case Some(Packet(Disconnect, _, _)) => open = false
          case Some(Packet(PubAck, _, _)) => () // ack of a forwarded QoS-0: ignore
          case Some(p) =>
            throw new IOException(s"unexpected packet type ${p.tpe}")
        }
      }
    } catch {
      // EOF mid-packet, and a client the bridge cannot serve: a QoS-2
      // PUBLISH, a malformed remaining length or a body shorter than its
      // own fields — close this connection, flush, keep serving others
      case _: IOException | _: IllegalArgumentException |
           _: IndexOutOfBoundsException => ()
    } finally {
      conns.remove(c)
      c.synchronized {
        if (c.buffer.nonEmpty) { spool(c.buffer.toSeq); c.buffer.clear() }
      }
      try c.sock.close() catch { case _: IOException => () }
    }
  }

  /** Fan a PUBLISH out to every other connection with a matching filter
    * (QoS 0 — the listener path; ingest durability is the spool). */
  private def forward(topic: String, payload: Array[Byte], except: Conn): Unit =
    conns.forEach { s =>
      if ((s ne except) && s.filters.asScala.exists(topicMatches(_, topic)))
        try deliver(s, topic, payload) catch { case _: IOException => () }
    }

  private def deliver(c: Conn, topic: String, payload: Array[Byte]): Unit =
    writePacket(c.out, Publish, 0,
      new Writer().str(topic).raw(payload).bytes)

  private def spool(lines: Seq[String]): Unit = {
    val n = seq.getAndIncrement()
    val dir = Paths.get(spoolDir)
    Files.createDirectories(dir)
    val tmp = dir.resolve(f".mqtt-$n%012d.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(f"mqtt-$n%012d.txt"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  def stop(): Unit = {
    running = false
    try server.close() catch { case _: IOException => () }
    acceptor.join(2000)
    conns.forEach(c => try c.sock.close() catch { case _: IOException => () })
  }
}

object MqttBridge {
  private val SpoolName = """mqtt-(\d{12})\.txt""".r

  private def nextSeq(spoolDir: String): Long = {
    val dir = Paths.get(spoolDir)
    if (!Files.isDirectory(dir)) 0L
    else {
      val it = Files.list(dir)
      try it.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case SpoolName(n) => n.toLong }
        .foldLeft(-1L)(math.max) + 1L
      finally it.close()
    }
  }
}
