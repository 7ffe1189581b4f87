package graft

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, Transcripts}
import graft.operators.History
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** SCD2 history mode vs a sequential oracle implementing the reference's
  * process_history.go semantics one event at a time (40-history.robot
  * analog): version chaining, soft delete, PK-update close+reinsert,
  * multi-open-version quirk after insert-then-insert. */
class HistorySpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark

  private val mapping = TableMapping("transcripts", "transcripts")

  /** Sequential oracle: list of version rows per the reference semantics. */
  private def oracle(events: Seq[ChangeEvent], mergeKey: Seq[String],
                     payloadCols: Seq[String]): Seq[Seq[String]] = {
    case class V(key: Seq[String], var start: String, var end: String,
                 var deleted: Boolean, vals: Map[String, String])
    val rows = mutable.ArrayBuffer[V]()
    def keyOf(ev: ChangeEvent, m: Map[String, String]): Seq[String] =
      mergeKey.map(c => if (c == "sid") ev.sid else m.getOrElse(c, null))
    events.sortBy(e => (e.lsn, e.seq)).foreach { ev =>
      val t = History.histTime(ev.lsn, ev.seq)
      def closeAll(key: Seq[String], del: Boolean): Unit =
        rows.filter(v => v.key == key && v.end == History.KVSZ_OPEN).foreach { v =>
          v.end = t; if (del) v.deleted = true
        }
      ev.op match {
        case "I" =>
          rows += V(keyOf(ev, ev.after), History.KVSZ_T0, History.KVSZ_OPEN, deleted = false, ev.after)
        case "U" if ev.old_kind == "K" =>
          closeAll(keyOf(ev, ev.before), del = false)
          rows += V(keyOf(ev, ev.after), t, History.KVSZ_OPEN, deleted = false, ev.after)
        case "U" =>
          val k = if (ev.old_kind == "O") keyOf(ev, ev.before) else keyOf(ev, ev.after)
          closeAll(k, del = false)
          rows += V(k, t, History.KVSZ_OPEN, deleted = false, ev.after)
        case "D" => closeAll(keyOf(ev, ev.before), del = true)
        case _ =>
      }
    }
    rows.toSeq.map { v =>
      v.key ++ payloadCols.filterNot(mergeKey.contains).map(c => v.vals.getOrElse(c, null)) ++
        Seq(normTs(v.start), normTs(v.end), v.deleted.toString)
    }.sortBy(_.mkString("\u0001"))
  }

  /** Spark renders ".000" millis away; normalize oracle strings the same. */
  private def normTs(s: String): String =
    if (s.endsWith(".000")) s.dropRight(4) else s

  test("history mode equals sequential SCD2 oracle (multi-batch)") {
    val cfg = Gen.Config(numEvents = 12000, numConvs = 60, turnsPerConv = 8,
      pInsert = 0.4, pUpdate = 0.45, pPkUpdate = 0.1, seed = 31)
    val payload = Transcripts.schema
    val spec = Transcripts.spec(numBuckets = 8)
      .copy(schema = History.historySchema(payload))
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("hist"), spec)
    import spark.implicits._
    val all = Gen.events(spark, cfg)
    val per = cfg.numEvents / 3
    (0 until 3).foreach { b =>
      val lo = b * per; val hi = math.min(cfg.numEvents, (b + 1) * per)
      val batch = all.filter(e => (e.lsn - 1) * cfg.txnSize + e.seq >= lo &&
        (e.lsn - 1) * cfg.txnSize + e.seq < hi)
      History.applyBatch(lake, batch, mapping, batchId = b)
    }

    val mergeKey = spec.mergeKey
    val payloadCols = payload.fieldNames.toSeq
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    val want = oracle(localEvents, mergeKey, payloadCols)

    val schema = lake.schema
    val ordered = mergeKey ++ payloadCols.filterNot(mergeKey.contains) ++
      Seq("kvsz_start", "kvsz_end", "kvsz_deleted")
    val got = lake.read()
      .select(ordered.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
      .collect().toSeq
      .map(r => ordered.indices.map(i => r.getString(i)))
      .sortBy(_.mkString("\u0001"))
    assert(got.size == want.size, s"versions: engine=${got.size} oracle=${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"version row $i:\n engine=$g\n oracle=$w")
    }
  }

  test("history mode applies filter and set before the SCD2 apply") {
    val cfg = Gen.Config(numEvents = 6000, numConvs = 40, turnsPerConv = 8,
      pInsert = 0.4, pUpdate = 0.45, pPkUpdate = 0.1, seed = 77)
    val payload = Transcripts.schema
    val spec = Transcripts.spec(numBuckets = 4)
      .copy(schema = History.historySchema(payload))
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("histfs"), spec)
    // filter literal 'tool' is also a column name (structural-rewrite check)
    val m = mapping.copy(mode = graft.model.TableMode.History,
      filter = Some("role <> 'tool'"),
      set = Some(Seq("conv_id" -> "conv_id", "turn_idx" -> "turn_idx",
        "role" -> "upper(role)", "text" -> "text", "tool" -> "tool",
        "ts" -> "ts")))
    History.applyBatch(lake, Gen.events(spark, cfg), m, 0)

    // oracle: apply the same filter + set to the local event stream, then
    // the UNMODIFIED sequential SCD2 fold — verifying the engine's stage
    // order (filter -> set -> history apply, process_message.go:287-321)
    def setRow(v: Map[String, String]): Map[String, String] = Map(
      "conv_id" -> v.getOrElse("conv_id", null),
      "turn_idx" -> v.getOrElse("turn_idx", null),
      "role" -> Option(v.getOrElse("role", null)).map(_.toUpperCase).orNull,
      "text" -> v.getOrElse("text", null),
      "tool" -> v.getOrElse("tool", null),
      "ts" -> v.getOrElse("ts", null))
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
      .filter { e =>
        val env = if (e.op == "D") e.before else e.after
        e.op == "R" || e.op == "T" || env.getOrElse("role", null) != "tool"
      }
      .map { e =>
        val after = if (e.op == "I" || e.op == "U") setRow(e.after) else e.after
        val before = if ((e.op == "U" || e.op == "D") && e.old_kind != "none")
          setRow(e.before) else e.before
        e.copy(after = after, before = before)
      }
    val mergeKey = spec.mergeKey
    val payloadCols = payload.fieldNames.toSeq
    val want = oracle(localEvents, mergeKey, payloadCols)
    val ordered = mergeKey ++ payloadCols.filterNot(mergeKey.contains) ++
      Seq("kvsz_start", "kvsz_end", "kvsz_deleted")
    val got = lake.read()
      .select(ordered.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
      .collect().toSeq
      .map(r => ordered.indices.map(i => r.getString(i)))
      .sortBy(_.mkString("\u0001"))
    assert(got.size == want.size, s"versions: engine=${got.size} oracle=${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\n engine=$g\n oracle=$w") }
    assert(got.forall(r => r(mergeKey.size) == null ||
      r(mergeKey.size) == r(mergeKey.size).toUpperCase), "set upper(role) applied")
  }

  test("history mode evolves schema from R messages before the apply") {
    import spark.implicits._
    val spec = Transcripts.spec(numBuckets = 2)
      .copy(schema = History.historySchema(Transcripts.schema))
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("histev"), spec)
    def full(turn: Int, text: String, extra: Map[String, String] = Map.empty) =
      Map("conv_id" -> "c1", "turn_idx" -> turn.toString, "role" -> "user",
        "text" -> text, "tool" -> null, "ts" -> "2024-01-01 00:00:00") ++ extra
    History.applyBatch(lake, spark.createDataset(Seq(
      ChangeEvent(1, 0, "I", "transcripts", "s0", "none", Map.empty, full(0, "v1")))),
      mapping, 0)
    // batch 1: R adds `tokens`, then an update carrying it
    History.applyBatch(lake, spark.createDataset(Seq(
      ChangeEvent(2, 0, "R", "transcripts", "s0", "none", Map.empty, Map(
        "conv_id" -> "string", "turn_idx" -> "int", "role" -> "string",
        "text" -> "string", "tool" -> "string", "ts" -> "timestamp",
        "tokens" -> "int")),
      ChangeEvent(3, 0, "U", "transcripts", "s0", "none", Map.empty,
        full(0, "v2", Map("tokens" -> "42"))))),
      mapping, 1)
    val schema = lake.schema
    assert(schema.fieldNames.contains("tokens"), "R message must add the column")
    val rows = lake.read().orderBy("kvsz_start").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("text") == "v1" &&
      rows(0).isNullAt(rows(0).fieldIndex("tokens"))) // pre-evolution version
    assert(rows(1).getAs[String]("text") == "v2" &&
      rows(1).getAs[Int]("tokens") == 42)
    assert(rows(1).getAs[java.sql.Timestamp]("kvsz_end").toString
      .startsWith("9999-01-01")) // still open
  }

  test("history DML-empty batch aborts the optimistic merge: epoch-only commit") {
    import spark.implicits._
    val spec = Transcripts.spec(numBuckets = 2)
      .copy(schema = History.historySchema(Transcripts.schema))
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("histempty"), spec)
    def full(turn: Int, text: String) =
      Map("conv_id" -> "c1", "turn_idx" -> turn.toString, "role" -> "user",
        "text" -> text, "tool" -> null, "ts" -> "2024-01-01 00:00:00")
    History.applyBatch(lake, spark.createDataset(Seq(
      ChangeEvent(1, 0, "I", "transcripts", "s0", "none", Map.empty, full(0, "v1")))),
      mapping, 0)
    val filesAfter0 = lake.snapshot().files.map(_.path).toSet
    // batch 1 routes but folds to nothing (R only): the overlapped merge
    // must abort with ZERO side effects and the sequential path commits
    // the epoch alone — same files, advanced epoch
    assert(History.applyBatch(lake, spark.createDataset(Seq(
      ChangeEvent(2, 0, "R", "transcripts", "s0", "none", Map.empty, Map(
        "conv_id" -> "string", "turn_idx" -> "int", "role" -> "string",
        "text" -> "string", "tool" -> "string", "ts" -> "timestamp",
        "tokens" -> "int")))),
      mapping, 1))
    val snap = lake.snapshot()
    assert(snap.properties("commit-epoch") == "1")
    assert(snap.files.map(_.path).toSet == filesAfter0,
      "a DML-empty batch must not rewrite any data file")
    assert(lake.schema.fieldNames.contains("tokens"), "the R still evolves")
    // idempotence: replaying the covered batch is a no-op
    assert(!History.applyBatch(lake, spark.createDataset(Seq(
      ChangeEvent(1, 0, "I", "transcripts", "s0", "none", Map.empty, full(0, "dup")))),
      mapping, 1))
  }

  test("history timestamps roll seq >= 1000 milliseconds into seconds") {
    import spark.implicits._
    val spec = Transcripts.spec(numBuckets = 2)
      .copy(schema = History.historySchema(Transcripts.schema))
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("histseq"), spec)
    val evs = Seq(
      ChangeEvent(5, 0, "I", "transcripts", "s0", "none", Map.empty,
        Map("conv_id" -> "c1", "turn_idx" -> "0", "role" -> "user",
          "text" -> "v1", "tool" -> null, "ts" -> "2024-01-01 00:00:00")),
      ChangeEvent(5, 1500, "U", "transcripts", "s0", "none", Map.empty,
        Map("conv_id" -> "c1", "turn_idx" -> "0", "role" -> "user",
          "text" -> "v2", "tool" -> null, "ts" -> "2024-01-01 00:00:01")))
    History.applyBatch(lake, spark.createDataset(evs), mapping, 0)
    val closed = lake.read().filter(col("text") === "v1").collect().head
    // histTime(5, 1500) = 2001-01-01 + 5s + 1.5s = 00:00:06.5 (a string
    // lpad of seq would have produced the NON-monotone 00:00:05.150)
    assert(closed.getAs[java.sql.Timestamp]("kvsz_end").toString
      == "2001-01-01 00:00:06.5",
      s"got ${closed.getAs[java.sql.Timestamp]("kvsz_end")}")
    assert(History.histTime(5, 1500) == "2001-01-01 00:00:06.500")
  }

  test("history: soft delete keeps the row, closes the interval") {
    import spark.implicits._
    val spec = Transcripts.spec(numBuckets = 2)
      .copy(schema = History.historySchema(Transcripts.schema))
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("hist2"), spec)
    val evs = Seq(
      ChangeEvent(1, 0, "I", "transcripts", "s0", "none", Map.empty,
        Map("conv_id" -> "c1", "turn_idx" -> "0", "role" -> "user",
          "text" -> "hello", "tool" -> null, "ts" -> "2024-01-01 00:00:00")),
      ChangeEvent(2, 0, "U", "transcripts", "s0", "none", Map.empty,
        Map("conv_id" -> "c1", "turn_idx" -> "0", "role" -> "user",
          "text" -> "hello v2", "tool" -> null, "ts" -> "2024-01-01 00:00:01")),
      ChangeEvent(3, 0, "D", "transcripts", "s0", "K",
        Map("conv_id" -> "c1", "turn_idx" -> "0"), Map.empty))
    History.applyBatch(lake, spark.createDataset(evs), mapping, 0)
    val rows = lake.read().orderBy("kvsz_start").collect()
    assert(rows.length == 2)
    val r0 = rows(0); val r1 = rows(1)
    assert(r0.getAs[String]("text") == "hello")
    assert(!r0.getAs[Boolean]("kvsz_deleted")) // closed by the update, not deleted
    assert(r1.getAs[String]("text") == "hello v2")
    assert(r1.getAs[Boolean]("kvsz_deleted")) // soft-deleted open version
    assert(r1.getAs[java.sql.Timestamp]("kvsz_end").toString.startsWith("2001-01-01"))
  }

  test("history _metrics: op counters + merge outcomes, clone-mode parity") {
    import spark.implicits._
    val spec = Transcripts.spec(numBuckets = 2)
      .copy(schema = History.historySchema(Transcripts.schema))
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("histmet"), spec)
    def t(c: String, txt: String) = Map("conv_id" -> c, "turn_idx" -> "0",
      "role" -> "user", "text" -> txt, "tool" -> null,
      "ts" -> "2024-01-01 00:00:00")
    // batch 0: two inserts (no pre-existing versions -> nothing closes)
    History.applyBatch(lake, Seq(
      ChangeEvent(1, 0, "I", "transcripts", "s0", "none", Map.empty, t("a", "x")),
      ChangeEvent(2, 0, "I", "transcripts", "s0", "none", Map.empty, t("b", "y")))
      .toDS(), mapping, 0)
    // batch 1: update a (closes a's open version + one new version),
    // delete b (soft-closes b's open version)
    History.applyBatch(lake, Seq(
      ChangeEvent(3, 0, "U", "transcripts", "s0", "none", Map.empty, t("a", "x2")),
      ChangeEvent(4, 0, "D", "transcripts", "s0", "K",
        Map("conv_id" -> "b", "turn_idx" -> "0"), Map.empty))
      .toDS(), mapping, 1)
    val m = lake.metrics().collect()
      .map(r => (r.getLong(0), r.getString(2), r.getString(3), r.getLong(4))).toSet
    assert(m.contains((0L, "op", "I", 2L)))
    assert(m.contains((0L, "merge", "inserted", 2L)))
    assert(m.contains((0L, "merge", "closed", 0L)))
    assert(m.contains((1L, "op", "U", 1L)))
    assert(m.contains((1L, "op", "D", 1L)))
    assert(m.contains((1L, "merge", "inserted", 1L)), s"got $m")
    assert(m.contains((1L, "merge", "closed", 2L)), s"got $m")
    assert(m.contains((1L, "merge", "soft_deleted", 1L)), s"got $m")
  }
  test("history: a failed stats job surfaces as its own exception, not a " +
    "CompletionException, and commits nothing") {
    val spec = Transcripts.spec(numBuckets = 2)
      .copy(schema = History.historySchema(Transcripts.schema))
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("histstatsfail"), spec)
    val v0 = lake.currentVersion
    val e = intercept[Exception](History.applyBatch(lake,
      SparkTestBase.statsFailingBatch(spark), mapping, 0))
    SparkTestBase.assertStatsFailure(e)
    assert(lake.currentVersion == v0)
  }
}
