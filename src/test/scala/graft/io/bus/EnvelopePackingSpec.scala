package graft.io.bus

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, spark_partition_id}
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.streaming.StreamingQueryException

/** How the bus connector packs spool files into input partitions (Spark's
  * file-source rule under the session's file confs) and how a partition's
  * reader walks its files — batch and micro-batch, live and replayed. */
class EnvelopePackingSpec extends graft.SparkSpec {
  import spark.implicits._

  private val MaxAge = EnvelopeSource.DefaultMaxFileAgeMs

  /** `n` spool files in the bridge's shape: 256 lines of `topic TAB payload`,
    * payload lengths varying per file. */
  private def backlog(dir: String, n: Int, lines: Int = 256): Seq[String] =
    (0 until n).map { i =>
      val name = f"mqtt-$i%012d.txt"
      Files.write(Paths.get(dir, name), (0 until lines)
        .map(j => s"nvr/detections/${j % 12}\tf$i-l$j-" + "x" * (i % 7))
        .mkString("\n").getBytes)
      name
    }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def files(parts: Seq[InputPartition]): Seq[Seq[String]] =
    parts.map(_.asInstanceOf[EnvelopeInputPartition].files)

  private def batchPlan(dir: String): Seq[Seq[String]] =
    files(new EnvelopeScan(dir, None, MaxAge).toBatch.planInputPartitions().toSeq)

  private def names(parts: Seq[Seq[String]]): Seq[Seq[String]] =
    parts.map(_.map(f => f.substring(f.lastIndexOf('/') + 1)))

  /** A micro-batch's input partitions as its rows show them: each
    * partition's files in read order, named from the `f<i>-` payload
    * prefix [[backlog]] writes. */
  private def partitionsRead(b: DataFrame): Seq[Seq[String]] =
    b.select(spark_partition_id(), col("payload")).as[(Int, String)].collect()
      .toSeq.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, rows) =>
        rows.map(r => f"mqtt-${r._2.drop(1).takeWhile(_ != '-').toInt}%012d.txt")
          .distinct
      }

  private def lines(dir: String, name: String): Seq[String] =
    new String(Files.readAllBytes(Paths.get(dir, name))).split("\n").toSeq
      .filter(_.nonEmpty)

  test("a 47-file backlog plans one partition per core, not per file") {
    val dir = Files.createTempDirectory("bus-pack47").toString
    val written = backlog(dir, 47)
    // spark.sql.leafNodeDefaultParallelism is the default parallelism a
    // local[4] session has; the shared spec session itself is local[2]
    for (cores <- Seq(4, 2)) {
      val plan = withConf("spark.sql.leafNodeDefaultParallelism" -> cores.toString) {
        batchPlan(dir)
      }
      assert(plan.nonEmpty && plan.size <= cores, s"$cores cores: ${names(plan)}")
      assert(names(plan).flatten == written,
        "every file in exactly one partition, name order within and across")
    }
    // the micro-batch path packs the same admission identically
    val stream = new EnvelopeMicroBatchStream(dir, None, MaxAge)
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
    assert(files(stream.planInputPartitions(start, end).toSeq) == batchPlan(dir))
  }

  test("a file larger than maxPartitionBytes is a partition of its own") {
    val dir = Files.createTempDirectory("bus-pack-big").toString
    Seq("a" -> 10, "b" -> 400, "c" -> 10, "d" -> 10).foreach { case (n, k) =>
      Files.write(Paths.get(dir, s"$n.txt"),
        (1 to k).map(i => s"t/$n\t$i-" + "y" * 20).mkString("\n").getBytes)
    }
    withConf("spark.sql.files.maxPartitionBytes" -> "2048",
        "spark.sql.files.openCostInBytes" -> "16",
        "spark.sql.files.minPartitionNum" -> "1") {
      assert(Files.size(Paths.get(dir, "b.txt")) > 2048)
      assert(names(batchPlan(dir)) ==
        Seq(Seq("a.txt"), Seq("b.txt"), Seq("c.txt", "d.txt")))
      assert(spark.read.format("graft-bus").load(dir).count() == 430)
    }
  }

  test("maxFilesPerTrigger=1: each batch plans and reads exactly its admitted file") {
    val dir = Files.createTempDirectory("bus-pack-admit").toString
    val written = backlog(dir, 3, lines = 5)
    val batches = mutable.ArrayBuffer.empty[(Seq[Seq[String]], Seq[String])]
    val q = spark.readStream.format("graft-bus").option("maxFilesPerTrigger", "1")
      .load(dir).writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val planned = partitionsRead(b)
        val rows = b.as[(String, String)].collect().map(r => s"${r._1}\t${r._2}")
        batches.synchronized(batches += ((planned, rows.toSeq)))
        ()
      }.start()
    try {
      q.processAllAvailable()
      val got = batches.synchronized(batches.toSeq).filter(_._2.nonEmpty)
      assert(got.map(_._1) == written.map(n => Seq(Seq(n))))
      assert(got.map(_._2) == written.map(lines(dir, _)),
        "each batch reads its one file, whole and in line order")
    } finally q.stop()
  }

  test("reader: files stream back to back; no trailing newline, empty files") {
    val dir = Files.createTempDirectory("bus-reader").toString
    val contents = Seq(
      "e0.txt" -> "",
      "f1.txt" -> "t/a\tno-newline",
      "f2.txt" -> "t/b\tnext\n",
      "f3.txt" -> "",
      "f4.txt" -> "t/c\tx\nt/d\ty",
      "f5.txt" -> "")
    contents.foreach { case (n, c) => Files.write(Paths.get(dir, n), c.getBytes) }
    val expected = Seq("t/a" -> "no-newline", "t/b" -> "next", "t/c" -> "x",
      "t/d" -> "y")
    val paths = EnvelopeSource.listStatuses(dir, spark.sessionState.newHadoopConf())
      .map(_.getPath.toString)
    val reader = new EnvelopeReader(paths, spark.sessionState.newHadoopConf())
    val rows = mutable.ArrayBuffer.empty[(String, String)]
    try while (reader.next()) {
      val r = reader.get()
      rows += r.getUTF8String(0).toString -> r.getUTF8String(1).toString
    } finally reader.close()
    assert(rows.toSeq == expected)
    // the same through the DataFrame API, all six files in one partition
    withConf("spark.sql.files.minPartitionNum" -> "1") {
      assert(batchPlan(dir).size == 1)
      assert(spark.read.format("graft-bus").load(dir).as[(String, String)]
        .collect().toSeq == expected)
    }
  }

  test("batch and stream return identical rows over one directory") {
    val dir = Files.createTempDirectory("bus-pack-parity").toString
    backlog(dir, 9, lines = 40)
    Files.write(Paths.get(dir, "z-empty.txt"), Array.emptyByteArray)
    Files.write(Paths.get(dir, "z-tail.txt"), "no-tab-line\nt/z\ta\tb".getBytes)
    val batch = spark.read.format("graft-bus").load(dir)
      .collect().map(_.toString).sorted.toSeq
    val q = spark.readStream.format("graft-bus").load(dir).writeStream
      .format("memory").queryName("bus_pack_parity").outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("bus_pack_parity").collect().map(_.toString).sorted.toSeq
      assert(batch.size == 9 * 40 + 2)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("an admitted file deleted before its batch runs fails the batch") {
    val dir = Files.createTempDirectory("bus-pack-gone").toString
    backlog(dir, 2, lines = 3)
    val stream = new EnvelopeMicroBatchStream(dir, None, MaxAge)
    val start = stream.initialOffset()
    val end = stream.latestOffset(start, ReadLimit.allAvailable())
    Files.delete(Paths.get(dir, f"mqtt-${1}%012d.txt"))
    // the batch fails, at planning or at read, instead of skipping the file
    intercept[FileNotFoundException] {
      stream.planInputPartitions(start, end).foreach { p =>
        val r = stream.createReaderFactory().createReader(p)
        try while (r.next()) () finally r.close()
      }
    }
  }

  /** Runs a foreachBatch query over `dir` on checkpoint `ck` until idle,
    * recording each batch's planned partitions and rows; `failOn` makes
    * that batch throw after admission, before its commit. */
  private def runRecorded(dir: String, ck: String,
                          seen: mutable.Map[Long, (Seq[Seq[String]], Seq[String])],
                          failOn: Long = -1L) = {
    val q = spark.readStream.format("graft-bus").option("maxFilesPerTrigger", "3")
      .load(dir).writeStream.option("checkpointLocation", ck)
      .foreachBatch { (b: DataFrame, id: Long) =>
        if (id == failOn) throw new IllegalStateException(s"crash in batch $id")
        val planned = partitionsRead(b)
        val rows = b.collect().map(_.toString).sorted.toSeq
        seen.synchronized(seen(id) = (planned, rows))
        ()
      }.start()
    q
  }

  private def withoutMetadataCache[T](body: => T): T =
    // the JVM-wide commit-log cache would see the restart as a second
    // concurrent query on the same checkpoint
    withConf("spark.sql.streaming.metadataCache.enabled" -> "false")(body)

  test("a replayed batch plans the same file set as its first run") {
    val dir = Files.createTempDirectory("bus-pack-replay").toString
    val ck = Files.createTempDirectory("bus-pack-replay-ck").toString
    backlog(dir, 5, lines = 4)
    withoutMetadataCache {
      val first = mutable.Map.empty[Long, (Seq[Seq[String]], Seq[String])]
      val q1 = runRecorded(dir, ck, first)
      try q1.processAllAvailable() finally q1.stop()
      assert(first.keySet == Set(0L, 1L))
      assert(first(1L)._1.flatten == Seq(3, 4).map(i => f"mqtt-$i%012d.txt"))
      // at-least-once crash after batch 1's side effects: drop its commit
      Files.delete(Paths.get(ck, "commits", "1"))
      Files.deleteIfExists(Paths.get(ck, "commits", ".1.crc"))
      val replay = mutable.Map.empty[Long, (Seq[Seq[String]], Seq[String])]
      val q2 = runRecorded(dir, ck, replay)
      try q2.processAllAvailable() finally q2.stop()
      assert(replay.keySet == Set(1L), "only the uncommitted batch replays")
      assert(replay(1L) == first(1L), "same partitions, same rows")
    }
  }

  test("a deleted admitted file fails the replayed query, not dropped") {
    val dir = Files.createTempDirectory("bus-pack-replay-gone").toString
    val ck = Files.createTempDirectory("bus-pack-replay-gone-ck").toString
    backlog(dir, 5, lines = 4)
    withoutMetadataCache {
      val seen = mutable.Map.empty[Long, (Seq[Seq[String]], Seq[String])]
      // batch 1 (files 3 and 4) is admitted into the offset log, then crashes
      val q1 = runRecorded(dir, ck, seen, failOn = 1L)
      intercept[StreamingQueryException](q1.awaitTermination(60000))
      q1.stop()
      assert(seen.keySet == Set(0L))
      assert(Files.exists(Paths.get(ck, "offsets", "1")))
      Files.delete(Paths.get(dir, f"mqtt-${4}%012d.txt"))
      val q2 = runRecorded(dir, ck, seen)
      val e = intercept[StreamingQueryException](q2.awaitTermination(60000))
      q2.stop()
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[FileNotFoundException]), s"cause: $e")
      assert(seen.keySet == Set(0L), "the batch must not run without its file")
    }
  }
}
