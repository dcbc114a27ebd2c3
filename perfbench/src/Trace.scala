package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span and counter recorder for the traced run. Spans are taken
  * only in the benchmark's own code, around calls into a graft layer, and
  * from Spark's public listeners; nothing is written until [[Out.dump]].
  * When tracing is off every method is a no-op, so the untraced run pays
  * nothing but a flag check. */
final class Trace(val on: Boolean) {
  /** name, layer, start µs, end µs, request id */
  val spans = new ConcurrentLinkedQueue[(String, String, Long, Long, String)]()
  /** one row per completed trigger, see [[StreamListener]] */
  val progress = new ConcurrentLinkedQueue[Array[Any]]()
  /** query id, batch id, job id, start ms, end ms */
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Array[Any]]()
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val stages = new AtomicLong
  val shuffleBytes = new AtomicLong
  /** nanoseconds spent inside the recorder itself (tracing overhead) */
  val selfNs = new AtomicLong

  def span[T](name: String, layer: String, req: => String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.currentTimeMillis()
      try f
      finally {
        val c0 = System.nanoTime()
        spans.add((name, layer, t0 * 1000, System.currentTimeMillis() * 1000, req))
        selfNs.addAndGet(System.nanoTime() - c0)
      }
    }

  /** Streaming progress: one row per completed trigger. */
  final class StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c0 = System.nanoTime()
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val state = p.stateOperators
      progress.add(Array[Any](p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        d("triggerExecution"), d("latestOffset"), d("getBatch"),
        d("queryPlanning"), d("addBatch"), d("walCommit"), d("commitOffsets"),
        p.numInputRows, state.map(_.numRowsTotal).sum,
        state.map(_.memoryUsedBytes).sum))
      selfNs.addAndGet(System.nanoTime() - c0)
    }
  }

  /** Engine counters and job intervals, attributed to a streaming query
    * and batch through the job's local properties. */
  final class EngineListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c0 = System.nanoTime()
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      jobs.put(e.jobId, Array[Any](prop("sql.streaming.queryId"),
        prop("streaming.sql.batchId"), e.jobId, e.time, 0L))
      selfNs.addAndGet(System.nanoTime() - c0)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_(4) = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach(m => taskRunMs.addAndGet(m.executorRunTime))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      Option(e.stageInfo.taskMetrics)
        .foreach(m => shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
  }

  def install(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    spark.streams.addListener(new StreamListener)
    spark.sparkContext.addSparkListener(new EngineListener)
  }

  /** Drain the listener buses so every event of the run is recorded. */
  def settle(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    org.apache.spark.sql.graftx.Listeners.drain(spark.sparkContext)
  }

  def jobRows: Iterator[Array[Any]] = jobs.values.asScala.iterator

  def counters: Seq[(String, Long)] = Seq("tasks" -> tasks.get,
    "task_run_ms" -> taskRunMs.get, "stages" -> stages.get,
    "shuffle_bytes" -> shuffleBytes.get)
}
