package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.lake.{LakeTable, Snapshot}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What a run did to one lake table, read after the run from its manifests
  * (diffs between consecutive versions) and its `_metrics` sidecar. */
final case class LakeStats(
    versions: Seq[Snapshot], // versions after the baseline, in order
    writes: Int, // commits that added data files
    addedBytes: Long,
    addedRows: Long,
    touchedBucketFrac: Seq[Double], // per data-writing commit
    zonePrunedFrac: Seq[Double], // per commit whose touched buckets had files
    filesRewritten: Seq[Int],
    changedRows: Long, // merge counters inserted + updated + deleted
    foldedKeys: Long, // every merge outcome: one per folded key
    dmlEvents: Long, // "op" counters
    versionsEnd: Long,
    manifestBytesEnd: Long,
    liveFilesEnd: Int,
    liveBytesEnd: Long)

object LakeStats {
  private val mapper = new ObjectMapper()

  private def footerRows(path: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }

  /** Stats of versions (`after`, current]. */
  def of(lake: LakeTable, after: Long, withRows: Boolean): LakeStats = {
    val cur = lake.currentVersion
    val snaps = (after to cur).map(v => lake.snapshot(v))
    val steps = snaps.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
    var writes = 0
    var bytes = 0L
    var rows = 0L
    val touched = Seq.newBuilder[Double]
    val pruned = Seq.newBuilder[Double]
    val rewritten = Seq.newBuilder[Int]
    steps.foreach { case (a, b) =>
      val prev = a.files.map(f => f.path -> f).toMap
      val now = b.files.map(_.path).toSet
      val added = b.files.filterNot(f => prev.contains(f.path))
      val removed = a.files.filterNot(f => now.contains(f.path))
      if (added.nonEmpty || removed.nonEmpty) {
        writes += 1
        bytes += added.map(_.bytes).sum
        if (withRows) rows += added.map(f => footerRows(f.path)).sum
        val buckets = (added ++ removed).map(_.bucket).toSet
        touched += buckets.size.toDouble / b.numBuckets
        val inTouched = a.files.filter(f => buckets.contains(f.bucket))
        if (inTouched.nonEmpty)
          pruned += (inTouched.size - removed.size).toDouble / inTouched.size
        rewritten += removed.size
      }
    }
    val (changed, keys, dml) = sidecar(lake.root)
    val meta = Paths.get(lake.root, "_meta")
    val last = snaps.last
    LakeStats(snaps.drop(1), writes, bytes, rows, touched.result(), pruned.result(),
      rewritten.result(), changed, keys, dml,
      versionsEnd = LakeTable.listDir(meta)(_.count(_.getFileName.toString.endsWith(".json"))),
      manifestBytesEnd = Files.size(meta.resolve(f"v${last.version}%020d.json")),
      liveFilesEnd = last.files.size, liveBytesEnd = last.files.map(_.bytes).sum)
  }

  /** (changed rows, folded keys, DML events) summed over the sidecar files
    * of batches applied under a `commit-epoch*` key. */
  private def sidecar(root: String): (Long, Long, Long) = {
    val dir = Paths.get(root, "_metrics")
    if (!Files.isDirectory(dir)) return (0L, 0L, 0L)
    var changed = 0L; var keys = 0L; var dml = 0L
    LakeTable.listDir(dir)(_.filter { f =>
      val n = f.getFileName.toString
      n.startsWith("commit-epoch") && n.endsWith(".jsonl")
    }.toSeq)
      .foreach { f =>
        Files.readAllLines(f).asScala.filter(_.nonEmpty).foreach { l =>
          val n = mapper.readTree(l)
          val v = n.get("value").asLong
          (n.get("kind").asText, n.get("key").asText) match {
            case ("merge", k) =>
              keys += v
              if (k == "inserted" || k == "updated" || k == "deleted") changed += v
            case ("op", _) => dml += v
            case _ =>
          }
        }
      }
    (changed, keys, dml)
  }
}
