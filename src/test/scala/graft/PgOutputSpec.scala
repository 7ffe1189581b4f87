package graft

import graft.lake.LakeTable
import graft.model.{TableMapping, TableSpec}
import graft.operators.Replay
import graft.sources.PgOutput
import graft.sources.PgOutput.Wire
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** pgoutput wire decoder: byte-exact message parsing (the public pgoutput
  * format the reference consumes, replicate_database.go:105-338), the
  * self-contained-chunk replay contract, and end-to-end apply through the
  * engine's merge path. */
class PgOutputSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  private val relId = 4711
  private val cols = Seq(("id", 20), ("body", 25), ("n", 23)) // int8, text, int4
  private val rel = Wire.relation(relId, "public", "notes", cols)

  test("decode: insert/update/delete/toast/pk-update/truncate, (lsn, seq) assignment") {
    val chunk = Wire.chunk(Seq(
      rel, // registry prefix: decoder state only, NO engine event
      Wire.begin(100L, 7),
      Wire.insert(relId, Seq(Some("1"), Some("hello"), Some("5"))),
      Wire.insert(relId, Seq(Some("2"), None, Some("6"))), // genuine NULL body
      Wire.commit(100L),
      Wire.begin(200L, 8),
      rel, // IN-transaction Relation re-emit: the schema-evolution event
      // unchanged-TOAST body: column ABSENT from the value map
      Wire.update(relId, Seq(Some("1"), Some("ignored"), Some("9")),
        toastAbsent = Set(1)),
      // PK-update: old key tuple ('K'), new row
      Wire.update(relId, Seq(Some("3"), Some("moved"), Some("6")),
        oldKey = Some(('K', Seq(Some("2"), None, None)))),
      Wire.delete(relId, 'K', Seq(Some("3"), None, None)),
      Wire.truncate(Seq(relId)),
      Wire.commit(200L)))

    val evs = PgOutput.decodeChunk(chunk, "s0")
    // ONLY the in-transaction Relation surfaces as an engine event (the
    // registry prefix is chunk metadata — an ord-0 event for it would be
    // filtered forever by any positive heal floor), stamped at the real
    // transaction position
    assert(evs.count(_.op == "R") == 1,
      "registry-prefix R must not emit an engine event")
    val r = evs.find(_.op == "R").get
    assert(r.source_table == "notes" && r.lsn == 200L && r.seq == 0 &&
      r.after == Map("id" -> "bigint", "body" -> "text", "n" -> "int"))
    val dml = evs.filter(e => e.op != "R")
    assert(dml.map(e => (e.op, e.lsn, e.seq)) == Seq(
      ("I", 100L, 0), ("I", 100L, 1),
      ("U", 200L, 1), ("U", 200L, 2), ("D", 200L, 3), ("T", 200L, 4)),
      s"(op, lsn, seq) must follow txn boundaries: $dml")
    val ins = dml.head
    assert(ins.after == Map("id" -> "1", "body" -> "hello", "n" -> "5"))
    // genuine NULL is present-with-null; TOAST-absent is absent
    assert(dml(1).after == Map("id" -> "2", "body" -> null, "n" -> "6"))
    val toastU = dml(2)
    assert(!toastU.after.contains("body") && toastU.after("n") == "9",
      "unchanged-TOAST column must be ABSENT from the value map")
    val pkU = dml(3)
    assert(pkU.old_kind == "K" && pkU.before("id") == "2" &&
      pkU.after("id") == "3")
    assert(dml(4).old_kind == "K" && dml(4).before("id") == "3")
  }

  test("robustness: UTF-8 identifiers, Type messages, multi-relation truncate, seq cap") {
    // multi-byte UTF-8 relation/column names must decode exactly (a garbled
    // name would silently fail routing for every event of that table)
    val uRel = 7001
    val chunk = Wire.chunk(Seq(
      Wire.typeMsg(90001, "public", "mood_enum"), // custom type: skipped
      rel, // registry prefix: state only, no event
      Wire.begin(50L, 3),
      // in-transaction Relation (how the live wire sends it: before the
      // first DML touching the table) — THIS one surfaces as the engine's
      // schema-evolution event, at the real transaction position
      Wire.relation(uRel, "analytics", "café_visits", Seq(("id", 20), ("café", 25))),
      Wire.insert(uRel, Seq(Some("1"), Some("naïve"))),
      Wire.truncate(Seq(uRel, relId)), // TRUNCATE a, b: one event EACH
      Wire.commit(50L)))
    val evs = PgOutput.decodeChunk(chunk, "s0")
    val rs = evs.filter(_.op == "R")
    assert(rs.map(r => (r.source_table, r.lsn)) ==
      Seq(("analytics.café_visits", 50L)),
      s"UTF-8 relation name must survive: ${rs.map(_.source_table)}")
    val ins = evs.find(_.op == "I").get
    assert(ins.after == Map("id" -> "1", "café" -> "naïve"))
    assert(evs.count(_.op == "T") == 2, "one truncate event per relation")
    assert(evs.filter(_.op == "T").map(_.source_table).toSet ==
      Set("analytics.café_visits", "notes"))
    // a transaction overflowing the 19-bit seq field fails LOUDLY (silent
    // wraparound would corrupt ord ordering and the heal watermark)
    val big = Wire.chunk(Seq(rel, Wire.begin(60L, 4)) ++
      (0 until (1 << 19)).map(_ => Wire.truncate(Seq(relId))))
    val ex = intercept[IllegalArgumentException](PgOutput.decodeChunk(big, "s0"))
    assert(ex.getMessage.contains("19-bit"))
  }

  test("protocol v2: interleaved streamed transactions commit in commit " +
    "order at the commit LSN; aborts apply nothing") {
    // two in-progress transactions interleave their stream blocks (the
    // exact case streaming exists for: logical_decoding_work_mem overflow
    // on a busy server) — xid 800 commits FIRST despite starting second,
    // so its changes must order before xid 700's
    val chunk = Wire.chunk(Seq(
      rel,
      Wire.streamStart(700),
      Wire.streamed(700, Wire.insert(relId, Seq(Some("1"), Some("a"), Some("1")))),
      Wire.streamStop(),
      Wire.streamStart(800),
      Wire.streamed(800, Wire.insert(relId, Seq(Some("2"), Some("b"), Some("2")))),
      Wire.streamed(800, Wire.insert(relId, Seq(Some("3"), Some("c"), Some("3")))),
      Wire.streamStop(),
      Wire.streamStart(700, first = false),
      Wire.streamed(700, Wire.update(relId, Seq(Some("1"), Some("a2"), Some("9")))),
      Wire.streamStop(),
      Wire.streamCommit(800, 500L),
      Wire.streamCommit(700, 600L),
      // a plain v1 transaction after the streams: state machine survives
      Wire.begin(700L, 9),
      Wire.insert(relId, Seq(Some("4"), Some("d"), Some("4"))),
      Wire.commit(700L)))
    val evs = PgOutput.decodeChunk(chunk, "s0")
    assert(evs.map(e => (e.op, e.lsn, e.seq, e.after.getOrElse("id", ""))) ==
      Seq(("I", 500L, 0, "2"), ("I", 500L, 1, "3"), // xid 800 @ commit lsn
          ("I", 600L, 0, "1"), ("U", 600L, 1, "1"), // xid 700, both blocks
          ("I", 700L, 0, "4")),
      s"streamed txns must release in commit order at the commit LSN: $evs")

    // whole-transaction abort (subxid == xid): nothing applies; an empty
    // StreamCommit for an all-aborted xid is also legal
    val aborted = Wire.chunk(Seq(
      rel,
      Wire.streamStart(900),
      Wire.streamed(900, Wire.insert(relId, Seq(Some("9"), Some("x"), Some("9")))),
      Wire.streamStop(),
      Wire.streamAbort(900, 900)))
    assert(PgOutput.decodeChunk(aborted, "s0").isEmpty,
      "an aborted streamed transaction must apply nothing")

    // subtransaction abort: truncates the buffered tail from the subxact's
    // first change onward (WAL order), keeping the top-level xid's earlier
    // changes; the in-stream Relation re-emit surfaces as the R event
    val subAbort = Wire.chunk(Seq(
      rel,
      Wire.streamStart(950),
      Wire.streamed(950, rel), // in-stream Relation: schema-evolution event
      Wire.streamed(950, Wire.insert(relId, Seq(Some("10"), Some("keep"), Some("1")))),
      Wire.streamed(951, Wire.insert(relId, Seq(Some("11"), Some("roll"), Some("1")))),
      Wire.streamed(951, Wire.insert(relId, Seq(Some("12"), Some("roll"), Some("1")))),
      Wire.streamStop(),
      Wire.streamAbort(950, 951), // subxact 951 only
      Wire.streamStart(950, first = false),
      Wire.streamed(950, Wire.insert(relId, Seq(Some("13"), Some("keep"), Some("1")))),
      Wire.streamStop(),
      Wire.streamCommit(950, 999L)))
    val sEvs = PgOutput.decodeChunk(subAbort, "s0")
    assert(sEvs.map(e => (e.op, e.lsn, e.seq)) ==
      Seq(("R", 999L, 0), ("I", 999L, 1), ("I", 999L, 2)),
      s"subxact abort must drop exactly the subxact's tail: $sEvs")
    assert(sEvs.collect { case e if e.op == "I" => e.after("id") } ==
      Seq("10", "13"), "subxact 951's rows must be gone")

    // self-containment extends to streams: a chunk that ends with an
    // in-progress streamed transaction fails loudly at the writer's door
    val dangling = Wire.chunk(Seq(
      rel,
      Wire.streamStart(999),
      Wire.streamed(999, Wire.insert(relId, Seq(Some("1"), None, None))),
      Wire.streamStop()))
    val ex = intercept[IllegalStateException](
      PgOutput.decodeChunk(dangling, "s0"))
    assert(ex.getMessage.contains("in-progress"))
  }

  test("pgoutput stream: crash window between lake commit and checkpoint " +
    "commit replays exactly-once") {
    import spark.implicits._
    import graft.streaming.CdcStream
    val dir = SparkTestBase.tmpDir("pgocrash")
    def chunkFile(i: Int, lsn: Long, id: Long, body: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$dir/wal/c-$i%03d.bin"),
        Wire.chunk(Seq(rel, Wire.begin(lsn, lsn.toInt),
          Wire.insert(relId, Seq(Some(id.toString), Some(body), Some("1"))),
          Wire.commit(lsn))))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/wal"))
    chunkFile(0, 10L, 1, "one")
    chunkFile(1, 20L, 2, "two")
    val spec = TableSpec("notes", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("body", StringType, nullable = true),
      StructField("n", IntegerType, nullable = true))),
      keyCols = Seq("id"), bucketCols = Seq("id"), numBuckets = 4)
    val lake = LakeTable.create(spark, s"$dir/notes", spec)
    val routes = Seq(CdcStream.Route(TableMapping("notes", "notes"), lake))
    CdcStream.runAvailable(spark, s"$dir/wal/c-*.bin", s"$dir/ckpt", routes,
      format = "pgoutput")
    assert(lake.read().count() == 2)
    val epoch1 = lake.snapshot().properties("commit-epoch").toLong
    val v1 = lake.currentVersion

    // crash window: the lake commit survived, the stream's checkpoint
    // commit was lost — Spark redelivers the last chunk on restart and the
    // epoch check must skip it (same contract as the parquet source)
    val commitsDir = java.nio.file.Paths.get(s"$dir/ckpt/commits")
    val last = graft.lake.LakeTable.listDir(commitsDir)(
      _.filter(p => p.getFileName.toString.forall(_.isDigit)).toSeq)
      .sortBy(_.getFileName.toString.toLong).last
    java.nio.file.Files.delete(last)
    java.nio.file.Files.deleteIfExists(
      last.resolveSibling(s".${last.getFileName}.crc"))
    CdcStream.runAvailable(spark, s"$dir/wal/c-*.bin", s"$dir/ckpt", routes,
      format = "pgoutput")
    assert(lake.currentVersion == v1, "replayed chunk must be epoch-skipped")
    assert(lake.read().count() == 2, "no duplicates from the crash window")

    // late chunk: the same checkpoint resumes and drains only the new file
    chunkFile(2, 30L, 3, "three")
    CdcStream.runAvailable(spark, s"$dir/wal/c-*.bin", s"$dir/ckpt", routes,
      format = "pgoutput")
    assert(lake.read().count() == 3)
    assert(lake.snapshot().properties("commit-epoch").toLong > epoch1)
  }

  test("pgoutput stream lists its chunk files on the driver, without a " +
    "listing job, past Spark's 32-path threshold") {
    import graft.streaming.CdcStream
    // a fresh session: the listing setting must come from the stream's own
    // start, not from an earlier test's tuned session
    val session = spark.newSession()
    val dir = SparkTestBase.tmpDir("pgolist")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/wal"))
    def chunk(name: String, i: Int): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/wal/$name"),
        Wire.chunk(Seq(rel, Wire.begin(10L * (i + 1), i + 1),
          Wire.insert(relId, Seq(Some(i.toString), Some(s"note $i"), Some("1"))),
          Wire.commit(10L * (i + 1)))))
    val chunks = 40
    (0 until chunks).foreach(i => chunk(f"c-$i%03d.bin", i))
    // an in-flight write: hidden, so never a source file
    chunk(".tmp-c-999.bin", 999)
    val spec = TableSpec("notes", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("body", StringType, nullable = true),
      StructField("n", IntegerType, nullable = true))),
      keyCols = Seq("id"), bucketCols = Seq("id"), numBuckets = 4)
    val lake = LakeTable.create(session, s"$dir/notes", spec)
    val listings = SparkTestBase.jobsDuring(session,
      "Listing leaf files and directories") {
      CdcStream.runAvailable(session, s"$dir/wal/c-*.bin", s"$dir/ckpt",
        Seq(CdcStream.Route(TableMapping("notes", "notes"), lake)),
        maxFilesPerTrigger = chunks, format = "pgoutput")
    }
    assert(listings.isEmpty, s"listing jobs ran: ${listings.mkString("; ")}")
    assert(lake.read().count() == chunks, "every chunk, and not the .tmp file")
    val props = lake.snapshot().properties
    assert(props("commit-epoch") == "0", "all chunks drain in one trigger")
    assert(props("applied-ord-commit-epoch") ==
      ((10L * chunks << 20) + 1).toString)
  }

  test("chunks decode independently and apply through the engine end-to-end") {
    import spark.implicits._
    val dir = SparkTestBase.tmpDir("pgout")
    // chunk 0: inserts; chunk 1: the SAME relation registry re-emitted
    // (self-contained contract), then updates/deletes
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/chunk-000.bin"),
      Wire.chunk(Seq(rel, Wire.begin(10L, 1),
        Wire.insert(relId, Seq(Some("1"), Some("first note"), Some("1"))),
        Wire.insert(relId, Seq(Some("2"), Some("second note"), Some("2"))),
        Wire.commit(10L))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/chunk-001.bin"),
      Wire.chunk(Seq(rel, Wire.begin(20L, 2),
        Wire.update(relId, Seq(Some("1"), Some("edited"), Some("9"))),
        Wire.delete(relId, 'K', Seq(Some("2"), None, None)),
        Wire.commit(20L))))

    val events = PgOutput.readChunks(spark, s"$dir/chunk-*.bin", "s0")
    val spec = TableSpec("notes", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("body", StringType, nullable = true),
      StructField("n", IntegerType, nullable = true))),
      keyCols = Seq("id"), bucketCols = Seq("id"), numBuckets = 4)
    val lake = LakeTable.create(spark, s"$dir/notes", spec)
    Replay.applyBatch(lake, events, TableMapping("notes", "notes"), 0)
    val rows = lake.read().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    assert(rows == Seq((1L, "edited", 9)),
      s"decoded wire events must replay to the converged table: $rows")
    // a chunk whose writer FORGOT the registry prefix fails loudly, not
    // silently wrong
    val orphan = Wire.chunk(Seq(Wire.begin(30L, 3),
      Wire.insert(relId, Seq(Some("9"), None, None))))
    val ex = intercept[IllegalStateException](
      PgOutput.decodeChunk(orphan, "s0"))
    assert(ex.getMessage.contains("self-contained"))
  }
}
