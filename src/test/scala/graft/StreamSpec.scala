package graft

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model.{TableMapping, Transcripts}
import graft.streaming.CdcStream
import graft.verify.Oracle
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Streaming ingestion: checkpoint resume, crash-window replay (lake commit
  * durable but checkpoint commit lost), and incremental WAL-segment arrival
  * — the f_resume fixture of FIXTURES.md §3. */
class StreamSpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark

  private val mapping = TableMapping("transcripts", "transcripts")

  private def compare(lake: LakeTable, cfg: Gen.Config, upToId: Long): Unit = {
    val spec = Transcripts.spec()
    val localEvents = (0L until upToId).map(id => Gen.mkEvent(id, cfg))
    val want = Oracle.canonical(Oracle.replay(localEvents, spec, mapping),
      lake.schema.fieldNames.toSeq)
    val schema = lake.schema
    val got = lake.read()
      .select(schema.fieldNames.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
      .collect().toSeq
      .map { r =>
        val m = schema.fieldNames.map(c => c -> r.getAs[String](c)).toMap
        (spec.mergeKey.map(m), schema.fieldNames.toSeq.map(m))
      }
      .sortBy(_._1.map(s => if (s == null) "" else s).mkString(""))
    assert(got.size == want.size, s"rows: engine=${got.size} oracle=${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\n engine=$g\n oracle=$w") }
  }

  test("parquet stream lists its segments on the driver, without a listing " +
    "job, past Spark's 32-path threshold") {
    // a fresh session: the listing setting must come from the stream's own
    // start, not from an earlier test's tuned session
    val session = spark.newSession()
    val cfg = Gen.Config(numEvents = 400, numConvs = 20, seed = 5)
    val dir = SparkTestBase.tmpDir("streamlist")
    val segs = 40
    Gen.writeSegments(session, cfg, s"$dir/wal", segs, 0 until segs)
    // an in-flight write inside a segment, holding later events: hidden,
    // so the leaf listing must skip it
    Gen.writeSegments(session, cfg.copy(numEvents = 800), s"$dir/later", 2, 1 until 2)
    Files.move(Files.list(Paths.get(dir, "later", "seg-00001")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get,
      Paths.get(dir, "wal", "seg-00000", ".tmp-part.parquet"))
    val lake = LakeTable.create(session, s"$dir/transcripts", Transcripts.spec())
    val listings = SparkTestBase.jobsDuring(session,
      "Listing leaf files and directories") {
      CdcStream.runAvailable(session, s"$dir/wal/seg-*", s"$dir/ckpt",
        Seq(CdcStream.Route(mapping, lake)), maxFilesPerTrigger = segs)
    }
    assert(listings.isEmpty, s"listing jobs ran: ${listings.mkString("; ")}")
    compare(lake, cfg, cfg.numEvents)
    val props = lake.snapshot().properties
    assert(props("commit-epoch") == "0", "all segments drain in one trigger")
    val lastOrd = (0L until cfg.numEvents).map(Gen.mkEvent(_, cfg))
      .filter(e => Set("I", "U", "D").contains(e.op))
      .map(e => (e.lsn << 20) + e.seq * 2 + 1).max
    assert(props("applied-ord-commit-epoch") == lastOrd.toString)
  }

  test("stream: full replay via AvailableNow, resume, crash-window replay, late segments") {
    val cfg = Gen.Config(numEvents = 16000, numConvs = 150, seed = 21)
    val dir = SparkTestBase.tmpDir("stream")
    val logDir = s"$dir/wal"
    val logGlob = s"$dir/wal/seg-*" // file source needs the glob to descend
    val ckpt = s"$dir/ckpt"
    val segs = 8
    val perSeg = cfg.numEvents / segs

    // phase 1: first 4 WAL segments arrive, stream drains them
    Gen.writeSegments(spark, cfg, logDir, segs, 0 until 4)
    val lake = LakeTable.create(spark, s"$dir/transcripts", Transcripts.spec())
    CdcStream.runAvailable(spark, logGlob, ckpt, Seq(CdcStream.Route(mapping, lake)))
    compare(lake, cfg, 4L * perSeg)
    val epochAfter1 = lake.snapshot().properties("commit-epoch").toLong

    // phase 2: crash window — the lake commit survived but the stream's
    // checkpoint commit was lost; Spark replays the last batch on restart
    // and the epoch check must skip it (no dupes, no loss)
    val commitsDir = Paths.get(ckpt, "commits")
    val lastCommit = Files.list(commitsDir).iterator.asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .toSeq.sortBy(_.getFileName.toString.toLong).last
    Files.delete(lastCommit)
    // the local ChecksumFs keeps a hidden .N.crc sibling; a real HDFS crash
    // would lose both, so drop it too
    Files.deleteIfExists(lastCommit.resolveSibling(s".${lastCommit.getFileName}.crc"))
    val v1 = lake.currentVersion
    CdcStream.runAvailable(spark, logGlob, ckpt, Seq(CdcStream.Route(mapping, lake)))
    assert(lake.snapshot().properties("commit-epoch").toLong == epochAfter1,
      "replayed batch must be skipped by the epoch check")
    assert(lake.currentVersion == v1, "no new snapshot from a replayed batch")
    compare(lake, cfg, 4L * perSeg)

    // phase 3: four more segments arrive; a fresh query on the same
    // checkpoint resumes past the applied offsets and drains only the rest
    Gen.writeSegments(spark, cfg, logDir, segs, 4 until 8)
    CdcStream.runAvailable(spark, logGlob, ckpt, Seq(CdcStream.Route(mapping, lake)))
    compare(lake, cfg, cfg.numEvents)
    assert(lake.snapshot().properties("commit-epoch").toLong > epochAfter1)
    // lineage recorded per batch
    assert(lake.snapshot().lineage.nonEmpty)
  }
}
