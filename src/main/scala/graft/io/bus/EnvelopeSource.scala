package graft.io.bus

import java.io.{BufferedReader, InputStreamReader, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Bus-envelope DataSource V2 (`format("graft-bus")`): the engine's live
  * ingest contract, replacing the raw `text` reader of the file bridge.
  * One row per bus message, schema `(topic STRING, payload STRING)` —
  * exactly the per-message pair an MQTT wildcard subscription delivers
  * (reference: wall/mqtt_listener.py:86-96; wire format
  * events/protocol.py:11-28).
  *
  * Transport model (matches the bridge contract): a drop directory where
  * each file is one atomically-published batch of messages, `topic TAB
  * payload` per line, files immutable once visible (writers must
  * write-then-rename — the same assumption Spark's own file streaming
  * source makes). A message's identity is (file, line), so:
  *
  *  - streaming offset = the SET of consumed files (exactly-once per
  *    file; the offset log replays deterministically after restart),
  *    COMPACTED by age — see below;
  *  - admission control: `maxFilesPerTrigger` bounds per-micro-batch
  *    intake via [[ReadLimit.maxFiles]] (ST5 backpressure,
  *    pipeline_manager.py:122-123);
  *  - batch reads scan the whole directory.
  *
  * Input partitions (batch and micro-batch alike) pack several files
  * each, by Spark's own file-source rule (`FilePartition`) and the
  * session's confs `spark.sql.files.maxPartitionBytes`,
  * `spark.sql.files.openCostInBytes`, `spark.sql.files.minPartitionNum`
  * (unset: the session's default parallelism) and
  * `spark.sql.files.maxPartitionNum`: every file costs its length plus
  * the open cost, a partition holds at most
  * `min(maxPartitionBytes, max(openCost, total / minPartitionNum))`, and
  * files fill partitions next-fit in name order, so a 47-file backlog at
  * four cores is four tasks, not 47, and a file bigger than the split is
  * a partition of its own.
  *
  * Offset compaction (`maxFileAgeMs`, default 7 days — the same model
  * and default as Spark's FileStreamSource `maxFileAge`): without it the
  * consumed set, re-serialized into the offset log every micro-batch and
  * diffed per trigger, grows without bound over a long-running drop
  * directory. The offset carries each consumed file's mtime plus the
  * retention high-water mark; entries are pruned PURELY BY AGE (recorded
  * mtime at or behind `maxMtime - maxFileAgeMs`) when new files are
  * admitted — never by presence in the current listing, so a transient
  * listing miss on an eventually-consistent store can never cause a
  * consumed file to be re-admitted. The listing ignores files behind the
  * horizon, so a pruned entry's file (still on disk with its old mtime)
  * is barred from re-admission. Offset size is thereby bounded by one
  * retention window's arrival volume, not lifetime.
  *
  * The high-water mark only advances over ADMITTED files' mtimes and is
  * additionally capped so the horizon never passes the oldest
  * listed-but-not-yet-admitted fresh file — an admission-limited backlog
  * cannot age itself out while draining even when lexicographic
  * admission order disagrees with mtime order (a name-early,
  * mtime-recent file would otherwise jump the horizon over the rest of
  * the backlog). Contract (same as Spark's): a file materializing with
  * an mtime older than `maxFileAgeMs` behind the newest consumed file is
  * ignored, and a consumed file that is deleted and later re-created
  * with a fresh mtime counts as new data.
  *
  * Scale notes: the driver never reads file contents. It ships file names
  * and needs only each planned file's length: from the directory listing
  * for a batch read, from one `getFileStatus` per file for a micro-batch
  * (first run or replay alike) — a planned file that has vanished fails
  * the batch instead of being skipped. Executors read the files of a
  * partition one after another. Tab-splitting mirrors
  * `Sources.parseEnvelope` exactly (a line without a tab yields
  * topic = payload = line, later dropped by the validity gate) so bridge
  * and connector produce identical rows. */
class EnvelopeSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-bus"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EnvelopeSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // data source options are case-insensitive by Spark convention
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-bus requires a path: .load(dir) or .option(\"path\", dir)"))
    val maxFiles = Option(opts.get("maxFilesPerTrigger")).map(_.toInt)
    val maxAge = Option(opts.get("maxFileAgeMs")).map(_.toLong)
      .getOrElse(EnvelopeSource.DefaultMaxFileAgeMs)
    new EnvelopeTable(path, maxFiles, maxAge)
  }
}

object EnvelopeSource {
  val Schema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  /** Offset-compaction retention: Spark FileStreamSource's default. */
  val DefaultMaxFileAgeMs: Long = 7L * 24 * 60 * 60 * 1000

  /** Visible (non-hidden, non-temporary) envelope files, lexicographically
    * ordered — the deterministic arrival order of the drop directory.
    * Metadata only (names, mtimes for the streaming offset's age-based
    * compaction, lengths for packing): the driver never opens a file. */
  def listStatuses(path: String, conf: Configuration): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).iterator
      .filter(_.isFile)
      .filterNot { f =>
        val name = f.getPath.getName
        name.startsWith(".") || name.startsWith("_")
      }
      .toSeq.sortBy(_.getPath.toString)
  }

  /** Input partitions for name-ordered (path, length) files: Spark's own
    * `FilePartition.getFilePartitions` at the session's
    * `FilePartition.maxSplitBytes`. It fills partitions next-fit in input
    * order (the size sort is its scan caller's, not done here), so name
    * order holds within and across partitions. */
  private[bus] def planPartitions(session: SparkSession,
                                  files: Seq[(String, Long)]): Array[InputPartition] = {
    val openCost = session.sessionState.conf.filesOpenCostInBytes
    val maxSplit = FilePartition.maxSplitBytes(session,
      files.iterator.map(_._2 + openCost).sum)
    val split = files.map { case (f, len) =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f), 0, len)
    }
    FilePartition.getFilePartitions(session, split, maxSplit)
      .map(p => EnvelopeInputPartition(p.files.map(_.toPath.toString).toSeq): InputPartition)
      .toArray
  }
}

private[bus] class EnvelopeTable(path: String, maxFilesPerTrigger: Option[Int],
                                 maxFileAgeMs: Long)
    extends Table with SupportsRead {
  override def name(): String = s"graft-bus($path)"
  override def schema(): StructType = EnvelopeSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new EnvelopeScan(path, maxFilesPerTrigger, maxFileAgeMs)
    }
}

private[bus] class EnvelopeScan(path: String, maxFilesPerTrigger: Option[Int],
                                maxFileAgeMs: Long)
    extends Scan {
  override def readSchema(): StructType = EnvelopeSource.Schema

  override def toBatch: Batch = new Batch {
    private val session = SparkSession.active
    private val conf = new SerializableHadoopConf(session.sessionState.newHadoopConf())
    override def planInputPartitions(): Array[InputPartition] =
      EnvelopeSource.planPartitions(session,
        EnvelopeSource.listStatuses(path, conf.value)
          .map(f => (f.getPath.toString, f.getLen)))
    override def createReaderFactory(): PartitionReaderFactory =
      new EnvelopeReaderFactory(conf)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new EnvelopeMicroBatchStream(path, maxFilesPerTrigger, maxFileAgeMs)
}

/** Offset = consumed files still inside the retention window, each with
  * its recorded mtime (so pruning is pure age arithmetic, independent of
  * any later directory listing), plus the max consumed mtime (the
  * compaction high-water mark). Serialized with name-sorted entries so
  * equal offsets have equal JSON (the execution engine compares offsets
  * by value). Parses the legacy plain-array form (pre-compaction
  * checkpoints) with entry mtimes pinned to Long.MaxValue — a sentinel
  * the stream's next `latestOffset` migrates to real listed mtimes (one
  * listing pass), so legacy entries join normal age-based compaction
  * instead of living in the consumed set forever. */
private[bus] case class EnvelopeOffset(files: Map[String, Long],
                                       maxMtime: Long = Long.MinValue)
    extends Offset {
  def horizon(maxAgeMs: Long): Long = EnvelopeOffset.horizonFor(maxMtime, maxAgeMs)
  override def json(): String = {
    val mapper = new ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("maxMtime", maxMtime)
    val arr = node.putArray("files")
    files.toArray.sortBy(_._1).foreach { case (f, m) =>
      val pair = arr.addArray(); pair.add(f); pair.add(m)
    }
    mapper.writeValueAsString(node)
  }
}

private[bus] object EnvelopeOffset {
  def horizonFor(maxMtime: Long, maxAgeMs: Long): Long =
    // underflow-safe: maxAgeMs >= 0, so MinValue + maxAgeMs never wraps
    if (maxMtime == Long.MinValue || maxMtime < Long.MinValue + maxAgeMs)
      Long.MinValue
    else maxMtime - maxAgeMs
  def fromJson(json: String): EnvelopeOffset = {
    val node = new ObjectMapper().readTree(json)
    if (node.isArray) // legacy pre-compaction offset: just the file array
      EnvelopeOffset(node.elements.asScala
        .map(e => e.asText -> Long.MaxValue).toMap)
    else
      EnvelopeOffset(
        node.get("files").elements.asScala
          .map(e => e.get(0).asText -> e.get(1).asLong).toMap,
        node.get("maxMtime").asLong)
  }
}

private[bus] class EnvelopeMicroBatchStream(path: String,
                                            maxFilesPerTrigger: Option[Int],
                                            maxFileAgeMs: Long)
    extends MicroBatchStream with SupportsAdmissionControl {

  private val session = SparkSession.active
  private val conf = new SerializableHadoopConf(session.sessionState.newHadoopConf())

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(ReadLimit.maxFiles).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): Offset = EnvelopeOffset(Map.empty)

  override def deserializeOffset(json: String): Offset =
    EnvelopeOffset.fromJson(json)

  /** Admission-controlled target offset: everything already consumed plus
    * up to `limit` newly-visible files (lexicographic order — a backlog
    * drains in deterministic name order at a bounded rate instead of as
    * one giant batch), with age-based compaction of the consumed set.
    *
    * Compaction happens only when files are admitted, so an idle
    * directory yields a byte-identical offset (no spurious empty
    * batches). The high-water mark advances over ADMITTED files' mtimes
    * and is capped one tick below the oldest not-yet-admitted fresh
    * file, so an admission-limited backlog can never be aged out by a
    * name-early, mtime-recent sibling. Consumed entries are pruned
    * purely by their RECORDED age — no dependence on the current
    * listing, so a transient listing miss can never reopen a consumed
    * file for replay. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val prev = start.asInstanceOf[EnvelopeOffset]
    val horizon = prev.horizon(maxFileAgeMs)
    val listed = EnvelopeSource.listStatuses(path, conf.value)
      .map(f => (f.getPath.toString, f.getModificationTime))
    // Legacy-checkpoint migration: pre-compaction offsets restore with
    // entry mtimes pinned to Long.MaxValue (no recorded age), which
    // would keep them in the consumed set forever. One listing pass —
    // this one — rewrites them with their REAL listed mtimes so the
    // retention clock starts. An entry ABSENT from this listing is NOT
    // dropped (pruning must never depend on one listing's completeness —
    // the same rule as normal compaction above: a transient miss on an
    // eventually-consistent store would reopen the file for replay);
    // it is recorded at the newest LISTED mtime instead, so it stays in
    // the consumed set for one full retention window from the migration
    // frontier and ages out only when the horizon has passed every
    // mtime it could truthfully have — at which point a resurfaced real
    // mtime is behind the horizon too, and re-admission is barred.
    // Real mtimes are epoch millis, so MaxValue is an unambiguous
    // legacy sentinel; with an entirely empty listing there is no
    // frontier to pin to, and entries keep the sentinel until one
    // appears.
    val base =
      if (!prev.files.exists(_._2 == Long.MaxValue) || listed.isEmpty) prev.files
      else {
        val times = listed.toMap
        val frontier = listed.iterator.map(_._2).max
        prev.files.map { case (f, m) =>
          if (m != Long.MaxValue) f -> m
          else f -> times.getOrElse(f, frontier)
        }
      }
    val fresh = listed.filter { case (f, m) =>
      m > horizon && !base.contains(f)
    }
    val admitted = limit match {
      case m: ReadMaxFiles => fresh.take(m.maxFiles())
      case _ => fresh
    }
    if (admitted.isEmpty) {
      // still surface a migrated consumed set on an otherwise idle
      // trigger (one empty batch, once); an unmigrated idle directory
      // keeps the byte-identical offset as before
      if (base == prev.files) prev else EnvelopeOffset(base, prev.maxMtime)
    } else {
      val admittedMax = admitted.iterator.map(_._2).max
      val unadmittedMin = fresh.drop(admitted.size) match {
        case rest if rest.isEmpty => Long.MaxValue
        case rest => rest.iterator.map(_._2).min
      }
      // horizon must stay strictly below every unadmitted fresh mtime:
      // cap = (minUnadmitted - 1) + maxAge, saturating on overflow
      val cap =
        if (unadmittedMin == Long.MaxValue) Long.MaxValue
        else if (unadmittedMin - 1 > Long.MaxValue - maxFileAgeMs) Long.MaxValue
        else unadmittedMin - 1 + maxFileAgeMs
      val maxMtime = math.max(prev.maxMtime, math.min(admittedMax, cap))
      val newHorizon = EnvelopeOffset.horizonFor(maxMtime, maxFileAgeMs)
      val kept = base.filter { case (_, m) => m > newHorizon }
      EnvelopeOffset(kept ++ admitted, maxMtime)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: latestOffset(start, limit) is used")

  /** The batch's files are `end` minus `start`, in name order, each
    * stat'ed once for its length; a file gone by then fails the batch. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val files = (end.asInstanceOf[EnvelopeOffset].files.keySet --
      start.asInstanceOf[EnvelopeOffset].files.keySet).toSeq.sorted
    EnvelopeSource.planPartitions(session, files.map { f =>
      val p = new Path(f)
      f -> p.getFileSystem(conf.value).getFileStatus(p).getLen
    })
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new EnvelopeReaderFactory(conf)

  override def commit(end: Offset): Unit = () // nothing to release per-batch

  override def stop(): Unit = ()
}

/** One task's files, in name order. */
private[bus] case class EnvelopeInputPartition(files: Seq[String]) extends InputPartition

private[bus] class EnvelopeReaderFactory(conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EnvelopeReader(partition.asInstanceOf[EnvelopeInputPartition].files, conf.value)
}

/** Executor-side line reader: streams a partition's envelope files one
  * after another (each closed before the next opens; a file's last line
  * ends with the file, trailing newline or not), splitting each line at
  * the FIRST tab (payloads may contain tabs). A tabless line degrades to
  * topic = payload = line — byte-identical behavior to
  * `Sources.parseEnvelope`'s substring_index/instr expressions, so the
  * connector and the file bridge produce the same rows for any input. */
private[bus] class EnvelopeReader(files: Seq[String], conf: Configuration)
    extends PartitionReader[InternalRow] {
  private val pending = files.iterator
  private var in: BufferedReader = _
  private var line: String = _

  override def next(): Boolean = {
    line = if (in == null) null else in.readLine()
    while (line == null && pending.hasNext) {
      close()
      val p = new Path(pending.next())
      in = new BufferedReader(new InputStreamReader(
        p.getFileSystem(conf).open(p), StandardCharsets.UTF_8))
      line = in.readLine()
    }
    line != null
  }

  override def get(): InternalRow = {
    val i = line.indexOf('\t')
    val (topic, payload) =
      if (i < 0) (line, line) else (line.substring(0, i), line.substring(i + 1))
    InternalRow(UTF8String.fromString(topic), UTF8String.fromString(payload))
  }

  override def close(): Unit = if (in != null) { in.close(); in = null }
}

/** Serializable Hadoop-conf carrier (the standard Writable round-trip) so
  * reader factories can ship the driver's filesystem configuration to
  * executors. */
private[bus] class SerializableHadoopConf(@transient private var conf: Configuration)
    extends Serializable {
  def value: Configuration = conf

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new Configuration(false)
    conf.readFields(in)
  }
}
