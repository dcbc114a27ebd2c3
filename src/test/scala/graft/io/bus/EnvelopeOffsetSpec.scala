package graft.io.bus

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import org.apache.spark.sql.connector.read.streaming.ReadLimit

/** Offset-level contract of the bus connector's admission control —
  * exercised below the DataFrame API so checkpoint restore cases (the
  * legacy pre-compaction array form in particular) can be driven
  * directly. */
class EnvelopeOffsetSpec extends graft.SparkSpec {

  test("legacy array offsets migrate to real mtimes and then compact") {
    val dir = Files.createTempDirectory("bus-legacy").toString
    val conf = spark.sessionState.newHadoopConf()
    // a consumed backlog with mtimes 10 minutes in the past
    Seq("old1.txt", "old2.txt").zipWithIndex.foreach { case (n, i) =>
      Files.write(Paths.get(dir, n), s"t/$n\tpayload$n".getBytes)
      Files.setLastModifiedTime(Paths.get(dir, n),
        FileTime.from(java.time.Instant.now().minusSeconds(600 - i)))
    }
    val listed = EnvelopeSource.listStatuses(dir, conf)
      .map(f => f.getPath.toString -> f.getModificationTime).toMap
    val oldPaths = listed.keySet
    assert(oldPaths.size == 2)

    // a pre-compaction checkpoint: plain path array, one entry for a
    // file that no longer exists on disk
    val legacyJson = ("[" + (oldPaths.toSeq.sorted :+ s"file:$dir/gone.txt")
      .map("\"" + _ + "\"").mkString(",") + "]")
    val prev = EnvelopeOffset.fromJson(legacyJson)
    assert(prev.files.valuesIterator.forall(_ == Long.MaxValue),
      "legacy entries restore with the MaxValue sentinel")

    val stream = new EnvelopeMicroBatchStream(dir, None, maxFileAgeMs = 60000)
    // idle trigger: migration alone — listed entries get real mtimes;
    // the absent entry is NOT dropped (one listing's completeness must
    // never reopen a consumed file) but pinned at the listing frontier
    // so it ages out with the retention window; nothing admitted
    val frontier = listed.values.max
    val migrated = stream.latestOffset(prev, ReadLimit.allAvailable())
      .asInstanceOf[EnvelopeOffset]
    assert(migrated.files.keySet == prev.files.keySet, s"migrated: ${migrated.files}")
    assert(oldPaths.forall(f => migrated.files(f) == listed(f)),
      "listed entries must carry their real mtimes after migration")
    assert(migrated.files(s"file:$dir/gone.txt") == frontier,
      "absent entries are pinned at the listing frontier, not pruned")
    assert(stream.planInputPartitions(prev, migrated).isEmpty,
      "migration must not replay consumed files")

    // one fresh admission advances the horizon past the migrated entries:
    // the offset shrinks to just the in-window file
    Files.write(Paths.get(dir, "now.txt"), "t/now\tpayload".getBytes)
    val next = stream.latestOffset(migrated, ReadLimit.allAvailable())
      .asInstanceOf[EnvelopeOffset]
    val nowPath = EnvelopeSource.listStatuses(dir, conf)
      .map(_.getPath.toString).filter(_.endsWith("now.txt"))
    assert(next.files.keySet == nowPath.toSet,
      s"legacy entries must age out after one retention window: ${next.files}")
    assert(stream.planInputPartitions(migrated, next).map(
        _.asInstanceOf[EnvelopeInputPartition].files).toSeq == Seq(nowPath),
      "only the fresh file is planned; compacted entries never replay")
  }
}
