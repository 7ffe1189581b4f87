package graft

import graft.gen.Gen
import graft.lake.LakeTable
import graft.model._
import graft.operators.Replay
import graft.verify.Oracle
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end batch replay vs the sequential oracle: the engine's final
  * table must equal the reference-semantics fold of the same event log —
  * per-turn text equality under stable (conv_id, turn_idx) ordering. */
class ReplaySpec extends AnyFunSuite {

  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  /** Read the lake table back as canonical (key, row-strings) pairs. */
  private def engineCanonical(lake: LakeTable, spec: TableSpec): Seq[(Seq[String], Seq[String])] = {
    val schema = lake.schema
    val df = lake.read()
    val asStrings = df.select(schema.fieldNames.map(c => col(c).cast("string").as(c)).toIndexedSeq: _*)
    val mergeKey = spec.mergeKey
    asStrings.collect().toSeq
      .map { r =>
        val m = schema.fieldNames.map(c => c -> r.getAs[String](c)).toMap
        (mergeKey.map(m), schema.fieldNames.toSeq.map(m))
      }
      .sortBy(_._1.map(s => if (s == null) "" else s).mkString("\u0001"))
  }

  private def oracleCanonical(events: Seq[ChangeEvent], spec: TableSpec,
                              mapping: TableMapping,
                              columns: Seq[String]): Seq[(Seq[String], Seq[String])] =
    Oracle.canonical(Oracle.replay(events, spec, mapping), columns)

  private def runAndCompare(cfg: Gen.Config, spec: TableSpec,
                            mapping: TableMapping, salts: Int = 1,
                            nBatches: Int = 1): Unit = {
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    val all = Gen.events(spark, cfg)
    val n = cfg.numEvents
    val per = math.max(1L, (n + nBatches - 1) / nBatches)
    (0 until nBatches).foreach { b =>
      val lo = b * per; val hi = math.min(n, lo + per)
      // batch slice by id range == lsn-contiguous (ordered replay)
      val batch = all.filter(e => (e.lsn - 1) * cfg.txnSize + e.seq >= lo &&
        (e.lsn - 1) * cfg.txnSize + e.seq < hi)
      Replay.applyBatch(lake, batch, mapping, batchId = b, salts = salts)
    }
    val localEvents = (0L until n).map(id => Gen.mkEvent(id, cfg))
    val want = oracleCanonical(localEvents, spec, mapping, spec.schema.fieldNames.toSeq)
    val got = engineCanonical(lake, spec)
    assert(got.size == want.size,
      s"row count: engine=${got.size} oracle=${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"row $i differs:\n engine=$g\n oracle=$w")
    }
  }

  private val mapping = TableMapping("transcripts", "transcripts")

  test("e2e: basic clone replay equals oracle (single batch)") {
    runAndCompare(Gen.Config(numEvents = 20000, numConvs = 200, seed = 1),
      Transcripts.spec(numBuckets = 8), mapping)
  }

  test("e2e: multi-batch ordered replay equals oracle") {
    runAndCompare(Gen.Config(numEvents = 20000, numConvs = 200, seed = 2),
      Transcripts.spec(numBuckets = 8), mapping, nBatches = 4)
  }

  test("e2e: hot-key skew with salted two-phase fold equals oracle") {
    runAndCompare(
      Gen.Config(numEvents = 30000, numConvs = 50, skew = 4.0, seed = 3),
      Transcripts.spec(numBuckets = 8), mapping, salts = 8)
  }

  test("e2e: multi-sid fan-in (sid joins the merge key)") {
    runAndCompare(
      Gen.Config(numEvents = 20000, numConvs = 100, numSids = 4, seed = 4),
      Transcripts.spec(numBuckets = 8, hasSid = true)
        .copy(schema = Transcripts.schema.add("sid", "string")),
      mapping)
  }

  test("e2e: append mode drops deletes (30-append.robot analog)") {
    runAndCompare(Gen.Config(numEvents = 15000, numConvs = 150, seed = 5),
      Transcripts.spec(numBuckets = 8),
      mapping.copy(mode = TableMode.Append))
  }

  test("e2e: TOAST-heavy updates (unchanged columns keep target values)") {
    runAndCompare(
      Gen.Config(numEvents = 20000, numConvs = 100, pInsert = 0.3,
        pUpdate = 0.6, pToast = 0.7, seed = 6),
      Transcripts.spec(numBuckets = 8), mapping)
  }

  test("e2e: PK-update-heavy stream (old_kind K normalization)") {
    runAndCompare(
      Gen.Config(numEvents = 20000, numConvs = 100, pInsert = 0.4,
        pUpdate = 0.5, pPkUpdate = 0.5, seed = 7),
      Transcripts.spec(numBuckets = 8), mapping)
  }

  test("e2e: schema evolution mid-stream (R message adds tokens column)") {
    val cfg = Gen.Config(numEvents = 20000, numConvs = 100, seed = 8,
      evolveAtId = Some(10000L))
    val spec = Transcripts.spec(numBuckets = 8)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    // two batches: evolution happens inside batch 1
    val all = Gen.events(spark, cfg)
    Replay.applyBatch(lake, all.filter(e => (e.lsn - 1) * cfg.txnSize + e.seq < 8000), mapping, 0)
    Replay.applyBatch(lake, all.filter(e => (e.lsn - 1) * cfg.txnSize + e.seq >= 8000), mapping, 1)
    assert(lake.schema.fieldNames.contains("tokens"), "schema must evolve")
    // oracle over evolved schema
    val evolvedSpec = spec.copy(schema = lake.schema)
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
      .filter(_.op != "R")
    val want = Oracle.canonical(
      Oracle.replay(localEvents, evolvedSpec, mapping),
      lake.schema.fieldNames.toSeq)
    val got = engineCanonical(lake, evolvedSpec)
    assert(got.size == want.size, s"engine=${got.size} oracle=${want.size}")
    got.zip(want).foreach { case (g, w) => assert(g == w, s"\n engine=$g\n oracle=$w") }
  }

  test("e2e: idempotent re-apply (same batchId skipped — exactly-once)") {
    val cfg = Gen.Config(numEvents = 5000, numConvs = 50, seed = 9)
    val spec = Transcripts.spec(numBuckets = 4)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    val events = Gen.events(spark, cfg)
    assert(Replay.applyBatch(lake, events, mapping, batchId = 0))
    val v1 = lake.currentVersion
    val rows1 = lake.read().count()
    assert(!Replay.applyBatch(lake, events, mapping, batchId = 0)) // replayed
    assert(lake.currentVersion == v1, "no new snapshot on replayed batch")
    assert(lake.read().count() == rows1, "no duplicate rows")
  }

  test("e2e: filter expression drops rows (CEL-filter analog)") {
    val cfg = Gen.Config(numEvents = 10000, numConvs = 100, seed = 10)
    val spec = Transcripts.spec(numBuckets = 4)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    val m = mapping.copy(filter = Some("role <> 'system'"))
    Replay.applyBatch(lake, Gen.events(spark, cfg), m, 0)
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    val want = Oracle.canonical(
      Oracle.replay(localEvents, spec, m,
        filterFn = Some(env => env.getOrElse("role", null) != "system")),
      spec.schema.fieldNames.toSeq)
    val got = engineCanonical(lake, spec)
    assert(got == want)
  }

  test("CEL-extension analogs in filter/set: regex, encoders, slicing") {
    // the reference's CEL env ships strings/math/lists/regex/encoder
    // extensions (cel.go:68-87); Spark SQL built-ins cover the surface —
    // prove the representative ones work through the env rewrite
    val cfg = Gen.Config(numEvents = 6000, numConvs = 60, seed = 41)
    val spec2 = TableSpec("t3", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("conv_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("turn_idx", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("role_b64", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text_head", org.apache.spark.sql.types.StringType))),
      keyCols = Seq("conv_id", "turn_idx"), bucketCols = Seq("conv_id"), numBuckets = 4)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec2)
    val m = mapping.copy(
      filter = Some("regexp_like(text, '^t-c') AND length(conv_id) >= 3"),
      set = Some(Seq(
        "conv_id" -> "conv_id", "turn_idx" -> "turn_idx",
        "role_b64" -> "base64(cast(role as binary))",
        "text_head" -> "substring(text, 1, 4)")),
      sourceSchema = Some(Transcripts.schema))
    Replay.applyBatch(lake, Gen.events(spark, cfg), m, 0)

    def b64(s: String): String =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    val want = Oracle.canonical(
      Oracle.replay(localEvents, spec2, m,
        filterFn = Some { env =>
          val t = env.getOrElse("text", null)
          // SQL 3-valued logic: NULL text (delete env) => NULL => fail-open keep
          t == null || (t.startsWith("t-c") && env.getOrElse("conv_id", "").length >= 3)
        },
        setFn = Some { v =>
          Map("conv_id" -> v.getOrElse("conv_id", null),
            "turn_idx" -> v.getOrElse("turn_idx", null),
            "role_b64" -> Option(v.getOrElse("role", null)).map(b64).orNull,
            "text_head" -> Option(v.getOrElse("text", null)).map(_.take(4)).orNull)
        }),
      spec2.schema.fieldNames.toSeq)
    assert(engineCanonical(lake, spec2) == want)
  }

  test("filter/set literals containing column names are NOT rewritten") {
    // 'tool' is BOTH a column of the env schema and a data value of `role`:
    // a text-level rewrite would corrupt the literal to '__env.tool' and
    // silently keep the rows it should drop. The structural rewrite
    // (parsed-tree attribute substitution) must leave literals alone.
    val cfg = Gen.Config(numEvents = 8000, numConvs = 80, seed = 23)
    val spec = Transcripts.spec(numBuckets = 4)
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec)
    val m = mapping.copy(filter = Some("role <> 'tool'"))
    Replay.applyBatch(lake, Gen.events(spark, cfg), m, 0)
    assert(lake.read().filter(col("role") === "tool").limit(1).count() == 0,
      "rows with role='tool' must have been dropped by the filter")
    val localEvents = (0L until cfg.numEvents).map(id => Gen.mkEvent(id, cfg))
    val want = Oracle.canonical(
      Oracle.replay(localEvents, spec, m,
        filterFn = Some(env => env.getOrElse("role", null) != "tool")),
      spec.schema.fieldNames.toSeq)
    assert(engineCanonical(lake, spec) == want)

    // set-expression literal: concat(role, '-text') keeps the '-text'
    // literal even though `text` is an env column
    val spec2 = TableSpec("t2", org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("conv_id", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("turn_idx", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("tag", org.apache.spark.sql.types.StringType))),
      keyCols = Seq("conv_id", "turn_idx"), bucketCols = Seq("conv_id"), numBuckets = 4)
    val lake2 = LakeTable.create(spark, SparkTestBase.tmpDir("lake"), spec2)
    val m2 = mapping.copy(set = Some(Seq(
      "conv_id" -> "conv_id", "turn_idx" -> "turn_idx",
      "tag" -> "concat(role, '-text')")),
      sourceSchema = Some(Transcripts.schema))
    Replay.applyBatch(lake2, Gen.events(spark, cfg), m2, 0)
    val tags = lake2.read().select("tag").distinct().collect().map(_.getString(0))
    assert(tags.nonEmpty && tags.forall(t => t == null || t.endsWith("-text")),
      s"set literal '-text' must survive: ${tags.take(5).mkString(",")}")
  }
  test("a failed stats job surfaces as its own exception, not a " +
    "CompletionException, and commits nothing") {
    val lake = LakeTable.create(spark, SparkTestBase.tmpDir("statsfail"),
      Transcripts.spec(numBuckets = 2))
    val v0 = lake.currentVersion
    val e = intercept[Exception](Replay.applyBatch(lake,
      SparkTestBase.statsFailingBatch(spark), TableMapping("transcripts", "transcripts"), 0))
    SparkTestBase.assertStatsFailure(e)
    assert(lake.currentVersion == v0)
  }
}
