package perfbench

import java.io.PrintWriter
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.app.Main
import graft.control.{ControlHarness, EngineConfig}
import graft.io.{Sinks, Sources}
import graft.io.bus.{MqttBridge, MqttClient}
import graft.model.{Ack, Schemas}

/** Drives one benchmark workload through graft's public entry points and
  * records raw observations as TSV files under `--dir`. The companion
  * `run.py` generates the inputs, turns these files into metrics and
  * checks correctness; this program computes no statistics.
  *
  *  - `live_design`: one generator thread publishes the scheduled events
  *    at QoS 0 over one MQTT connection into [[MqttBridge]] and drops the
  *    scheduled control commands, while the pipeline, wall, metrics-lite
  *    and control queries run together as `Main pipeline` wires them.
  *  - `drain_backlog`: the pipeline, wall and control queries restart on a
  *    backlog of spool files with no arrivals, repeatedly, each round on
  *    fresh checkpoints and sinks. */
object Harness {
  val Instance = "processor-bench"

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
    }.toMap
    val dir = Paths.get(args("dir")).toAbsolutePath
    val out = new Out(dir)
    val trace = new Trace(args("trace") == "1")
    val seconds = args("seconds").toInt
    val streams = args("streams").split(",").map(_.toInt).toVector
    val cores = args("cores").toInt

    val t0 = System.nanoTime()
    val spark = session(cores)
    out.kv("session_s", (System.nanoTime() - t0) / 1e9)
    trace.install(spark)
    val cfg = EngineConfig(Instance, streamIds = streams)
    val inputs = dir.resolve("inputs")
    val live = args("workload") == "live_design"

    val rounds =
      if (live) {
        // Set-up runs on the warm-up inputs, so the first batch of every
        // query (the cold plan and state-store costs) happens before timing;
        // the engine then keeps running and takes the timed load.
        val engine = new Engine(spark, dir.resolve("round0"), cfg, bridge = true, trace, out)
          .bringUp(inputs.resolve("warmup"))
        out.kv("setup_s", (System.nanoTime() - t0) / 1e9)
        measured(spark, trace, out) {
          new Generator(inputs, engine, trace, out).run()
          engine.finish()
        }
        Seq(engine)
      } else {
        // Set-up is one untimed drain of the same backlog, so every timed
        // round restarts the engine in a JVM whose row path is compiled.
        drainRound(spark, dir.resolve("warmup"), inputs, cfg, trace, out)
        out.kv("setup_s", (System.nanoTime() - t0) / 1e9)
        // A fixed round count (a round takes about 7 s at local[4]): the
        // engine still speeds up from round to round, so a time-based count
        // would move the median along that curve.
        measured(spark, trace, out) {
          (0 until math.max(3, seconds / 7))
            .map(r => drainRound(spark, dir.resolve(s"round$r"), inputs, cfg, trace, out))
        }
      }
    rounds.foreach(_.dump())
    out.kv("peak_heap_mb", peakHeapMb())
    spark.stop()
    if (trace.on && !live) {
      // single-core baseline for drain.speedup_vs_1core, on the same backlog
      val one = session(1)
      drainRound(one, dir.resolve("round-1"), inputs, cfg, new Trace(false), out).dump()
      one.stop()
    }
    out.kv("rss_hwm_kb", rssHwmKb())
    out.kv("trace_self_ns", trace.selfNs.get)
    out.dump(trace)
  }

  /** Restart after an outage: the pipeline, wall and control queries start
    * on `inputs`' backlog and queued commands and run until all is drained.
    * Metrics-lite stays off here: its 10 s trigger would land inside some
    * rounds and not others. */
  private def drainRound(spark: SparkSession, root: Path, inputs: Path,
                         cfg: EngineConfig, trace: Trace, out: Out): Engine = {
    val engine = new Engine(spark, root, cfg, bridge = false, trace, out,
      eventsDir = Some(inputs.resolve("events")),
      controlDir = Some(inputs.resolve("control")))
    val tag = root.getFileName.toString
    out.kv(s"$tag.start_ms", System.currentTimeMillis())
    engine.start()
    engine.finish()
    out.kv(s"$tag.end_ms", System.currentTimeMillis())
    engine
  }

  /** The timed phase: engine counters and GC time are taken as differences
    * over it, so set-up and the post-run sink reads are not counted. */
  private def measured[T](spark: SparkSession, trace: Trace, out: Out)(f: => T): T = {
    trace.settle(spark)
    val before = trace.counters :+ ("gc_ms" -> gcMillis())
    out.kv("measure.start_ms", System.currentTimeMillis())
    val res = f
    out.kv("measure.end_ms", System.currentTimeMillis())
    trace.settle(spark)
    val after = trace.counters :+ ("gc_ms" -> gcMillis())
    before.zip(after).foreach { case ((k, a), (_, b)) => out.kv(k, b - a) }
    res
  }

  def session(cores: Int): SparkSession = {
    // the `Main pipeline` session: its shuffle-partition default and the
    // repo-wide session configs
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    graft.Queries.sessionConfigs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def peakHeapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def rssHwmKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0L
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}

/** The streaming queries of `Main pipeline` (pipeline, control and
  * metrics-lite; its private wiring repeated through the public builders)
  * plus the `Main wall` consumer, over one directory tree. */
final class Engine(spark: SparkSession, root: Path, cfg: EngineConfig,
                   bridge: Boolean, trace: Trace, out: Out,
                   eventsDir: Option[Path] = None,
                   controlDir: Option[Path] = None) {
  import spark.implicits._
  val events: Path = eventsDir.getOrElse(root.resolve("events"))
  val control: Path = controlDir.getOrElse(root.resolve("control"))
  val outDir: Path = root.resolve("out")
  val ck: Path = root.resolve("ck")
  Files.createDirectories(events)
  Files.createDirectories(control)
  Files.createDirectories(outDir)

  var mqtt: Option[MqttBridge] = None
  var harness: ControlHarness = _
  var queries: Map[String, StreamingQuery] = Map.empty

  private def req: String = {
    val sc = spark.sparkContext
    s"control:${Option(sc.getLocalProperty("streaming.sql.batchId")).getOrElse("?")}"
  }

  private def timed(kind: String)(f: => Unit): Unit = {
    val t0 = System.currentTimeMillis()
    trace.span(s"control.$kind", "control", req)(f)
    out.callback(kind, t0, System.currentTimeMillis())
  }

  def start(): Engine = {
    val o = outDir.toString
    mqtt = if (bridge) Some(new MqttBridge(events.toString, 0).start()) else None
    harness = new ControlHarness(cfg,
      (c, paused) => trace.span("stream.pipeline.build", "stream.pipeline", "pipeline")(
        Main.pipelineBuilder(spark, events.toString, o, ck.toString, None)(c, paused)),
      acks => timed("ack_write") {
        if (acks.nonEmpty) acks.toDF().write.mode("append").parquet(s"$o/acks")
        out.acks(acks)
      },
      status => timed("status_upsert") {
        Sinks.upsertRetained(spark, Seq(status).toDF(), s"$o/status",
          Seq("instance_id"), "timestamp", "status")
      },
      onMetricsRequest = c => timed("metrics_request") {
        Main.publishFullMetrics(spark, o, c)
      })
    harness.start()
    val cmds = Sources.parseCommands(
      spark.readStream.format("text").load(control.toString)
        .withColumn("seq", input_file_name()))
    val ctl = harness.attach(cmds, "seq")
      .option("checkpointLocation", s"$ck/control").start()
    val wall = trace.span("stream.wall.build", "stream.wall", "wall")(
      Main.wallWriter(Main.wallEvents(spark, s"$o/detections"), s"$o/tiles")
        .option("checkpointLocation", s"$ck/wall").start())
    register("pipeline" -> harness.pipeline.get, "control" -> ctl, "wall" -> wall)
  }

  /** The periodic metrics-lite query (10 s trigger, `Main`'s default). */
  def startMetrics(): Engine = register("metrics_lite" ->
    Main.metricsPublisher(spark, outDir.toString, cfg.instanceId, 10)
      .option("checkpointLocation", s"$ck/metrics").start())

  private def register(qs: (String, StreamingQuery)*): Engine = {
    qs.foreach { case (n, q) => out.query(n, q.id.toString, root.getFileName.toString) }
    queries ++= qs
    this
  }

  /** Set-up: start on the warm-up inputs (one event, one command) and wait
    * until every query has processed them. Metrics-lite starts once the
    * detections exist, so its first trigger runs a real batch too. */
  def bringUp(warmup: Path): Engine = {
    Files.copy(warmup.resolve("events/mqtt-warmup.txt"), events.resolve("mqtt-warmup.txt"))
    Files.copy(warmup.resolve("control/cmd-warmup.json"), control.resolve("cmd-warmup.json"))
    start()
    queries("pipeline").processAllAvailable()
    // its first batch, not the watermark's follow-up batch one trigger later
    val lite = startMetrics().queries("metrics_lite")
    Seq("control", "wall").foreach(n => queries(n).processAllAvailable())
    while (!lite.recentProgress.exists(_.numInputRows > 0)) {
      lite.exception.foreach(e => throw e)
      Thread.sleep(10)
    }
    this
  }

  /** Let the data reach every sink, then stop. The wall runs after the
    * pipeline because its input is the pipeline's output. */
  def finish(): Unit = {
    mqtt.foreach(_.stop())
    Seq("pipeline", "control", "wall").foreach(n => queries(n).processAllAvailable())
    stop()
  }

  def stop(): Engine = {
    queries.values.foreach(_.stop())
    mqtt.foreach(_.stop())
    this
  }

  def portOf: Int = mqtt.get.boundPort

  /** Post-run sink contents for the correctness gate and the
    * reconstruction of commit times (read after every query stopped). */
  def dump(): Unit = {
    val o = outDir.toString
    val tag = root.getFileName.toString
    val det = spark.read.parquet(s"$o/detections")
      .select(input_file_name().as("f"), Schemas.parseEvent(col("payload")).as("e"))
      .select(col("f"), col("e.source_id"), col("e.frame_id"),
        size(col("e.detections")), coalesce(array_min(col("e.detections.confidence")), lit(1.0)))
    out.rows(s"$tag/detections.tsv", det)
    out.rows(s"$tag/tiles.tsv",
      spark.read.parquet(s"$o/tiles").select("source_id", "frame_id"))
    out.rows(s"$tag/acks.tsv",
      spark.read.parquet(s"$o/acks").select("command", "ack_status"))
    out.kv(s"$tag.ck", ck.toString)
    out.kv(s"$tag.events", events.toString)
  }
}

/** The single load generator: one thread, one MQTT connection, an open
  * loop over the precomputed schedule. */
final class Generator(inputs: Path, engine: Engine, trace: Trace, out: Out) {
  private val Ts = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)

  def run(): Unit = {
    // (due offset ms, topic or "", payload or command json)
    val events = Files.readAllLines(inputs.resolve("events.tsv"), UTF_8).asScala
      .map(_.split("\t", 3)).map(a => (a(0).toLong, a(1), a(2)))
    val cmds = Files.readAllLines(inputs.resolve("commands.tsv"), UTF_8).asScala
      .map(_.split("\t", 2)).map(a => (a(0).toLong, "", a(1)))
    val schedule = (events ++ cmds).sortBy(_._1)
    val client = trace.span("bus.connect", "io.bus", "gen")(
      new MqttClient("127.0.0.1", engine.portOf, "bench-gen").connect())
    // start on a fixed phase of the 10 s trigger grid of metrics-lite, so
    // its batches fall at the same point of the schedule in every run
    val earliest = System.currentTimeMillis() + 200
    val aligned = earliest - earliest % 10000 + 1000
    val t0 = if (aligned >= earliest) aligned else aligned + 10000
    out.kv("gen.t0_ms", t0)
    var nCmd = 0
    schedule.zipWithIndex.foreach { case ((due, topic, body), i) =>
      val at = t0 + due
      var now = System.currentTimeMillis()
      while (now < at) {
        LockSupport.parkNanos((at - now) * 1000000L)
        now = System.currentTimeMillis()
      }
      if (topic.nonEmpty) {
        val payload = body.replace("@TS@", Ts.format(java.time.Instant.ofEpochMilli(at)))
        trace.span("bus.publish", "io.bus", s"event:$i")(client.publish(topic, payload))
      } else {
        val tmp = engine.control.resolve(f".cmd-$nCmd%05d.tmp")
        val dst = engine.control.resolve(f"cmd-$nCmd%05d.json")
        Files.write(tmp, body.getBytes(UTF_8))
        Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        nCmd += 1
      }
      out.sent(due, System.currentTimeMillis() - at)
    }
    // DISCONNECT makes the bridge spool what it still holds
    trace.span("bus.disconnect", "io.bus", "gen")(client.disconnect())
    out.kv("gen.end_ms", System.currentTimeMillis())
  }
}

/** Raw observations, kept in memory and written once at the end. */
final class Out(dir: Path) {
  private val kvs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val callbacks = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val lag = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val ackLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val queryIds = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def kv(k: String, v: Any): Unit = kvs.add(s"$k\t$v")
  def callback(kind: String, start: Long, end: Long): Unit =
    callbacks.add(s"$kind\t$start\t$end")
  def sent(due: Long, lateMs: Long): Unit = lag.add(s"$due\t$lateMs")
  def acks(acks: Seq[Ack]): Unit = {
    val now = System.currentTimeMillis()
    acks.foreach(a => ackLog.add(s"${a.command}\t${a.ack_status}\t$now"))
  }
  def query(name: String, id: String, tag: String): Unit =
    queryIds.add(s"$name\t$id\t$tag")

  def rows(name: String, df: DataFrame): Unit =
    write(name, df.collect().iterator.map(_.toSeq.mkString("\t")))

  private def write(name: String, lines: Iterator[String]): Unit = {
    val p = dir.resolve(name)
    Files.createDirectories(p.getParent)
    val w = new PrintWriter(Files.newBufferedWriter(p, UTF_8))
    try lines.foreach(w.println) finally w.close()
  }

  def dump(trace: Trace): Unit = {
    write("kv.tsv", kvs.iterator.asScala)
    write("callbacks.tsv", callbacks.iterator.asScala)
    write("gen_lag.tsv", lag.iterator.asScala)
    write("ack_log.tsv", ackLog.iterator.asScala)
    write("queries.tsv", queryIds.iterator.asScala)
    if (trace.on) {
      write("spans.tsv", trace.spans.iterator.asScala.map(s =>
        Seq(s._1, s._2, s._3, s._4, s._5).mkString("\t")))
      write("progress.tsv", trace.progress.iterator.asScala.map(_.mkString("\t")))
      write("jobs.tsv", trace.jobRows.map(_.mkString("\t")))
    }
  }
}
