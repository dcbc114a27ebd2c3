package graft.io

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.io.bus.{MqttBridge, MqttClient, Mqtt}
import graft.ops.EventOps

/** The MQTT 3.1.1 transport end-to-end: real wire sessions against the
  * loopback broker-bridge (CONNECT/SUBSCRIBE/PUBLISH/PUBACK), wildcard
  * and retained delivery, and the QoS-1 redelivery → downstream
  * idempotence contract the reference's broker+paho stack relies on. */
class MqttBridgeSpec extends SparkSpec {

  private def envLine(sid: Int, fid: Long, cls: String, conf: Double): String =
    s"""{"instance_id":"i-1","source_id":$sid,"frame_id":$fid,""" +
      s""""timestamp":"2024-01-01T00:00:0${fid % 10}.000Z","model_id":"m",""" +
      s""""inference_time_ms":7.5,"detections":[{"class_name":"$cls",""" +
      s""""confidence":$conf,"bbox":{"x":1,"y":2,"width":3,"height":4}}]}"""

  test("topic filters: MQTT wildcard semantics") {
    assert(Mqtt.topicMatches("nvr/detections/1", "nvr/detections/1"))
    assert(!Mqtt.topicMatches("nvr/detections/1", "nvr/detections/2"))
    assert(Mqtt.topicMatches("nvr/detections/+", "nvr/detections/42"))
    assert(!Mqtt.topicMatches("nvr/detections/+", "nvr/detections/42/extra"))
    assert(Mqtt.topicMatches("nvr/#", "nvr/detections/42/extra"))
    assert(Mqtt.topicMatches("nvr/detections/#", "nvr/detections"))
    assert(Mqtt.topicMatches("#", "anything/at/all"))
    assert(!Mqtt.topicMatches("nvr/+/status", "nvr/a/b/status"))
    assert(Mqtt.topicMatches("nvr/+/status", "nvr/a/status"))
  }

  test("wire session: connect, subscribe, publish, retained, forwarding") {
    val spool = Files.createTempDirectory("mqtt-wire").toString
    val bridge = new MqttBridge(spool).start()
    try {
      val pub = new MqttClient("127.0.0.1", bridge.boundPort, "pub").connect()
      // retained message lands before the subscriber exists
      pub.publish("nvr/status/1", """{"state":"online"}""", qos = 1,
        retain = true)

      val sub = new MqttClient("127.0.0.1", bridge.boundPort, "sub").connect()
      sub.subscribe("nvr/status/+", "nvr/detections/#")
      // retained delivery on subscribe (the K3 retained-status pattern)
      assert(sub.poll().contains(("nvr/status/1", """{"state":"online"}""")))

      // live forwarding to the matching wildcard filter
      pub.publish("nvr/detections/7", envLine(7, 1, "person", 0.9), qos = 1)
      val got = sub.poll()
      assert(got.exists(m => m._1 == "nvr/detections/7" &&
        m._2.contains("\"source_id\":7")))

      // non-matching topic is not forwarded
      pub.publish("other/topic", "x", qos = 0)
      assert(sub.poll(500).isEmpty)
      sub.disconnect()
      pub.disconnect()
    } finally bridge.stop()
  }

  test("rejects a non-3.1.1 protocol level with CONNACK 0x01") {
    val spool = Files.createTempDirectory("mqtt-proto").toString
    val bridge = new MqttBridge(spool).start()
    try {
      val sock = new java.net.Socket("127.0.0.1", bridge.boundPort)
      val body = new Mqtt.Writer().str("MQTT").u8(3) // 3.1, not 3.1.1
        .u8(0x02).u16(60).str("old-client")
      Mqtt.writePacket(sock.getOutputStream, Mqtt.Connect, 0, body.bytes)
      val ack = Mqtt.readPacket(sock.getInputStream).get
      assert(ack.tpe == Mqtt.ConnAck && (ack.body(1) & 0xff) == 1)
      sock.close()
    } finally bridge.stop()
  }

  test("MQTT-delivered envelopes equal a direct file drop, and QoS-1 " +
      "redelivery is absorbed by downstream idempotence") {
    val spool = Files.createTempDirectory("mqtt-spool").toString
    val fileDrop = Files.createTempDirectory("mqtt-filedrop").toString
    val lines = Seq(
      ("nvr/detections/1", envLine(1, 1, "person", 0.9)),
      ("nvr/detections/1", envLine(1, 2, "car", 0.8)),
      ("nvr/detections/2", envLine(2, 1, "dog", 0.7)))
    Files.write(Paths.get(fileDrop, "part-0.txt"),
      lines.map { case (t, p) => s"$t\t$p" }.mkString("\n").getBytes)

    val bridge = new MqttBridge(spool).start()
    try {
      val c = new MqttClient("127.0.0.1", bridge.boundPort, "ingest").connect()
      // first two at QoS 1 (ack awaited), third published then REDELIVERED
      // with DUP as an ack-less client would after a reconnect
      c.publish(lines(0)._1, lines(0)._2, qos = 1)
      c.publish(lines(1)._1, lines(1)._2, qos = 1)
      val pid = c.publishNoAck(lines(2)._1, lines(2)._2)
      c.publishDup(lines(2)._1, lines(2)._2, pid)
      c.disconnect()

      awaitCond("QoS-1 publishes must be spooled") {
        Files.list(Paths.get(spool)).toArray.length >= 4
      }
      // raw envelope level: the duplicate IS there (QoS 1 = at-least-once)
      val raw = spark.read.format("graft-bus").load(spool)
      assert(raw.count() == 4)
      // pipeline level: latest-per-key (W1) absorbs the duplicate — rows
      // equal the clean file drop's
      def slice(dir: String): Seq[String] =
        EventOps.latestPerKey(
          Sources.eventBusBatch(spark, dir)
            .select(col("source_id"), col("frame_id"), col("timestamp"),
              size(col("detections")).as("n_det")),
          Seq("source_id"), "timestamp", "frame_id")
          .collect().map(_.toString).sorted.toSeq
      assert(slice(spool) == slice(fileDrop),
        "MQTT-with-redelivery must equal the clean file drop downstream")
    } finally bridge.stop()
  }

  test("bridge restart on a pinned port: client reconnects with bounded " +
      "backoff and the spool resumes exactly-once downstream") {
    val spool = Files.createTempDirectory("mqtt-restart").toString
    val first = new MqttBridge(spool).start()
    val port = first.boundPort
    @volatile var second: MqttBridge = null
    try {
      val c1 = MqttClient.connectWithRetry("127.0.0.1", port, "ingest")
      c1.publish("nvr/detections/1", envLine(1, 1, "person", 0.9), qos = 1)
      c1.publish("nvr/detections/1", envLine(1, 2, "car", 0.8), qos = 1)
      // kill the bridge mid-session: the live client's next QoS-1
      // publish cannot be acked — a real client must notice and retry
      first.stop()
      intercept[java.io.IOException] {
        c1.publish("nvr/detections/1", envLine(1, 3, "lost", 0.5), qos = 1)
      }
      // supervisor restarts the bridge on the SAME port + spool dir a
      // beat later; the reconnect loop's early attempts hit the dead
      // port and back off until the new bind lands
      val restarter = new Thread(() => {
        Thread.sleep(150)
        second = new MqttBridge(spool, port).start()
      })
      restarter.start()
      val c2 = MqttClient.connectWithRetry("127.0.0.1", port, "ingest-2")
      c2.publish("nvr/detections/2", envLine(2, 3, "dog", 0.7), qos = 1)
      c2.disconnect()
      restarter.join()
      // exactly-once across the restart: the new bridge's spool sequence
      // resumed AFTER the old files (directory scan), so every acked
      // publish appears exactly once — none lost, none clobbered
      awaitCond("post-restart publish must be spooled") {
        Files.list(Paths.get(spool)).toArray.length >= 3
      }
      val raw = spark.read.format("graft-bus").load(spool).collect()
      assert(raw.length == 3, s"expected 3 spooled lines, got ${raw.length}")
      assert(raw.map(_.getString(1)).distinct.length == 3,
        "acked publishes must survive a bridge restart exactly once")
    } finally {
      first.stop()
      if (second != null) second.stop()
    }
  }

  /** Opens a raw 3.1.1 session, publishes `lines` at QoS 0, then sends
    * `bad` — input the bridge cannot serve. The bridge must close the
    * connection (no uncaught exception on its connection thread), spool
    * the buffered lines, and keep serving new clients. */
  private def closesCleanlyOn(name: String)(bad: java.io.OutputStream => Unit): Unit = {
    val spool = Files.createTempDirectory(s"mqtt-$name").toString
    val uncaught = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val prevHandler = Thread.getDefaultUncaughtExceptionHandler
    Thread.setDefaultUncaughtExceptionHandler { (t: Thread, e: Throwable) =>
      if (t.getName == "graft-mqtt-conn") uncaught.add(e)
      else if (prevHandler != null) prevHandler.uncaughtException(t, e)
    }
    val bridge = new MqttBridge(spool).start()
    try {
      val sock = new java.net.Socket("127.0.0.1", bridge.boundPort)
      sock.setSoTimeout(10000)
      val out = sock.getOutputStream
      Mqtt.writePacket(out, Mqtt.Connect, 0, new Mqtt.Writer().str("MQTT").u8(4)
        .u8(0x02).u16(60).str(name).bytes)
      assert(Mqtt.readPacket(sock.getInputStream).get.tpe == Mqtt.ConnAck)
      (1 to 3).foreach { i =>
        Mqtt.writePacket(out, Mqtt.Publish, 0,
          new Mqtt.Writer().str("t/a").raw(s"m$i".getBytes).bytes)
      }
      bad(out)
      assert(sock.getInputStream.read() == -1, "the bridge closes the connection")
      sock.close()
      awaitCond("buffered QoS-0 lines are spooled on close") {
        Files.list(Paths.get(spool)).toArray.length >= 1
      }
      val rows = spark.read.format("graft-bus").load(spool).collect()
      assert(rows.map(_.getString(1)).toSeq == Seq("m1", "m2", "m3"))
      // the bridge still serves other clients
      val c = new MqttClient("127.0.0.1", bridge.boundPort, s"$name-after").connect()
      c.publish("t/b", "after", qos = 1)
      c.disconnect()
      assert(spark.read.format("graft-bus").load(spool).count() == 4)
      assert(uncaught.isEmpty, s"uncaught on a connection thread: $uncaught")
    } finally {
      bridge.stop()
      Thread.setDefaultUncaughtExceptionHandler(prevHandler)
    }
  }

  test("a QoS-2 PUBLISH closes the connection cleanly and flushes QoS 0") {
    closesCleanlyOn("qos2") { out =>
      Mqtt.writePacket(out, Mqtt.Publish, 2 << 1,
        new Mqtt.Writer().str("t/a").u16(7).raw("qos2".getBytes).bytes)
    }
  }

  test("a malformed remaining length closes the connection cleanly") {
    closesCleanlyOn("badlen") { out =>
      // five continuation bytes: longer than the spec's four-byte varint
      out.write(Array[Byte](0x30, -1, -1, -1, -1, -1))
      out.flush()
    }
  }

  test("a PUBLISH body shorter than its topic closes the connection cleanly") {
    closesCleanlyOn("short") { out =>
      // the topic length prefix claims 100 bytes; the body holds one
      Mqtt.writePacket(out, Mqtt.Publish, 0,
        new Mqtt.Writer().u16(100).raw("t".getBytes).bytes)
    }
  }

  test("QoS-0 publishes batch and flush on disconnect") {
    val spool = Files.createTempDirectory("mqtt-qos0").toString
    val bridge = new MqttBridge(spool).start()
    try {
      val c = new MqttClient("127.0.0.1", bridge.boundPort, "fire").connect()
      (1 to 5).foreach(i => c.publish("t/a", s"m$i", qos = 0))
      // nothing acked, nothing promised — spool may be empty until close
      c.disconnect()
      awaitCond("disconnect must flush the QoS-0 buffer") {
        Files.list(Paths.get(spool)).toArray.length >= 1
      }
      val rows = spark.read.format("graft-bus").load(spool).collect()
      assert(rows.length == 5 && rows.forall(_.getString(0) == "t/a"))
    } finally bridge.stop()
  }
}
