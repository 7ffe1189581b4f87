package graft.verify

import graft.config.MapConfig
import graft.lake.LakeTable
import graft.model._
import graft.operators.{History, Replay}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files
import java.time.format.DateTimeFormatter

/** Driver-facing correctness harness: interprets the shared `events` test
  * table as a logical-replication change log and replays it through the
  * REAL engine (`Replay.applyBatch` / `History.applyBatch`), so the
  * driver's DuckDB oracle independently recomputes the reference's apply
  * semantics (`streamer/process_clone.go`, see `Oracle`) in SQL.
  *
  * Canonical derivation (documented contract, mirrored 1:1 by the oracle
  * SQL below):
  *   - lsn = event_id (unique, total order), seq = 0
  *   - key = user_id
  *   - op:  signup -> I (full tuple)
  *          error  -> D (before = key only, like a default replica identity)
  *          click  -> U omitting `props` (unchanged-TOAST,
  *                    `process_message.go:67-72`)
  *          view   -> U (full tuple)
  *          purchase -> U (full), or with `pkUpdate`: old_kind "K" key
  *                    change user_id -> user_id + 1000
  *                    (`process_clone.go:48-77`)
  *   - payload: (user_id, event_type, value, props, ts); values in the
  *     ChangeEvent text encoding (exact round trip: Double.toString /
  *     microsecond timestamp format)
  */
object EventsCdc {

  final case class RawEvent(event_id: Long, ts: java.time.LocalDateTime,
                            user_id: Long, event_type: String,
                            value: Double, props: String)

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  val payloadSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("event_type", StringType, nullable = true),
    StructField("value", DoubleType, nullable = true),
    StructField("props", StringType, nullable = true),
    StructField("ts", TimestampNTZType, nullable = true)))

  def spec(hasSid: Boolean = false, history: Boolean = false): TableSpec = {
    val base = if (hasSid)
      StructType(StructField("sid", StringType, nullable = true) +: payloadSchema.fields)
    else payloadSchema
    val sch = if (history) History.historySchema(base) else base
    TableSpec("events_state", sch, keyCols = Seq("user_id"),
      bucketCols = Seq("user_id"), numBuckets = 16, hasSid = hasSid)
  }

  /** Derive the CDC log. `sidMod` > 1 fans the key space over several
    * tenant sids (P4); `routed` scatters events over physical partition
    * names `events_p0..3` and sends `view` events to an unmatched table
    * (R1 regex routing).
    *
    * Pure Catalyst expressions (no typed row-at-a-time map): the per-row
    * closure + Map allocations of the original typed derivation ran
    * interpreted and, worse, forced every downstream per-batch pass to
    * deserialize whole rows and defeat parquet pushdown — with Column
    * expressions the per-batch `lsn` range filter in [[replay]] pushes
    * down to the events.parquet scan (`PushedFilters: [GreaterThanOrEqual
    * (event_id, ...)]`), so each micro-batch scan reads only its row
    * groups. The text encodings round-trip identically: long/double
    * cast-to-string is Java `toString` semantics, and the timestamp
    * pattern is the same `yyyy-MM-dd HH:mm:ss.SSSSSS`. */
  def derive(spark: SparkSession, dir: String, pkUpdate: Boolean = false,
             sidMod: Int = 1, routed: Boolean = false): Dataset[ChangeEvent] = {
    import spark.implicits._
    val et = col("event_type")
    val uid = col("user_id")
    val uidS = uid.cast(StringType)
    val tsS = date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
    val valS = col("value").cast(StringType)
    def payload(userId: Column, withProps: Boolean): Column = {
      val entries = Seq(lit("user_id"), userId, lit("event_type"), et,
        lit("value"), valS) ++
        (if (withProps) Seq(lit("props"), col("props")) else Nil) ++
        Seq(lit("ts"), tsS)
      map(entries: _*)
    }
    val emptyM = map().cast("map<string,string>")
    val keyMap = map(lit("user_id"), uidS)
    val sid = if (sidMod <= 1) lit("s0")
      else concat(lit("s"), (uid % sidMod).cast(StringType))
    val table =
      if (!routed) lit("events")
      else when(et === "view", lit("audit_log")) // unmatched -> dropped
        .otherwise(concat(lit("events_p"), (uid % 4).cast(StringType)))
    val isPkU = if (pkUpdate) et === "purchase" else lit(false)
    spark.read.parquet(s"$dir/events.parquet").select(
      col("event_id").as("lsn"),
      lit(0).as("seq"),
      when(et === "signup", "I").when(et === "error", "D").otherwise("U").as("op"),
      table.as("source_table"),
      sid.as("sid"),
      when(isPkU, "K").otherwise("none").as("old_kind"),
      when(et === "error" || isPkU, keyMap).otherwise(emptyM).as("before"),
      when(et === "signup", payload(uidS, withProps = true))
        .when(et === "error", emptyM)
        .when(et === "click", payload(uidS, withProps = false))
        .when(isPkU, payload((uid + 1000).cast(StringType), withProps = true))
        .otherwise(payload(uidS, withProps = true)).as("after")
    ).as[ChangeEvent]
  }

  /** Max event_id straight from the parquet footer statistics (exact for
    * int64 columns) — replaces a per-query full-column aggregation job
    * with a driver-side metadata read; falls back to the scan when stats
    * are absent. */
  private[graft] def maxEventId(spark: SparkSession, dir: String): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir, "events.parquet")
    val files: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(p))
        graft.lake.LakeTable.listDir(p)(_.filter(
          _.getFileName.toString.endsWith(".parquet")).toSeq)
      else Seq(p)
    val conf = spark.sessionState.newHadoopConf()
    try {
      files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), conf))
        try r.getFooter.getBlocks.asScala.map { b =>
          val cc = b.getColumns.asScala
            .find(_.getPath.toDotString == "event_id")
            .getOrElse(throw new IllegalStateException("no event_id column"))
          val st = cc.getStatistics
          if (st == null || !st.hasNonNullValue)
            throw new IllegalStateException("no event_id stats")
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue()
        }.max
        finally r.close()
      }.max
    } catch {
      case _: Exception => // unexpected layout: pay the scan
        spark.read.parquet(s"$dir/events.parquet")
          .agg(max("event_id")).head().getLong(0)
    }
  }

  val Batches = 4

  /** Replay the derived log in `Batches` lsn-contiguous micro-batches
    * through the engine into a fresh lake table; returns the table. */
  def replay(spark: SparkSession, dir: String, mapping: TableMapping,
             tspec: TableSpec, pkUpdate: Boolean = false, sidMod: Int = 1,
             routed: Boolean = false, salts: Int = 0): LakeTable = {
    val events = derive(spark, dir, pkUpdate, sidMod, routed)
    val tmp = Files.createTempDirectory("graft-q").toString
    val lake = LakeTable.create(spark, s"$tmp/t", tspec)
    val maxLsn = maxEventId(spark, dir)
    val per = maxLsn / Batches + 1
    (0 until Batches).foreach { b =>
      val lo = b * per; val hi = lo + per
      val batch = events.filter(col("lsn") >= lo && col("lsn") < hi)
      if (mapping.mode == TableMode.History)
        History.applyBatch(lake, batch, mapping, b)
      else
        Replay.applyBatch(lake, batch, mapping, b, salts)
    }
    lake
  }

  /** Stateful-streaming state partitioning = shuffle partitions at FIRST
    * run (persisted in the checkpoint); the tiny verification streams do
    * not need the session's 32 state-store instances per micro-batch. */
  private def withShufflePartitions[T](spark: SparkSession, n: Int)(f: => T): T = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  /** Run independent fixture-write jobs concurrently (guide §2.6: actions
    * are only sequential because the driver calls them sequentially).
    * Each WAL/segment render below writes its own directory, so the jobs
    * share nothing; the consumer globs the segments only after every
    * write returned. Job descriptions/configs are thread-local in Spark,
    * so concurrent actions from a small pool are the supported pattern.
    * The first job to fail (in completion order) interrupts the others;
    * they have stopped when its own exception is rethrown. */
  private[graft] def inParallel(work: Seq[() => Unit]): Unit = {
    import java.util.concurrent._
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(4, work.size)))
    val done = new ExecutorCompletionService[Unit](pool)
    work.foreach(w => done.submit(() => w()))
    try work.foreach(_ => done.take().get())
    catch { case e: ExecutionException => throw e.getCause }
    finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  /** Set a file's modification time, loudly: a silent failure would let
    * FileStreamSource fall back to write-completion order. */
  private[graft] def stampMtime(f: java.io.File, ms: Long): Unit =
    if (!f.setLastModified(ms))
      throw new IllegalStateException(s"cannot set the modification time of $f")

  /** Re-stamp segment files' modification times MONOTONICALLY in segment
    * order after the parallel writes return. FileStreamSource orders
    * files by mtime, so arbitrary write-completion order would otherwise
    * reorder micro-batches — and batch order is semantics, not detail:
    * the state fold's tombstone TTL and the watermark progression are
    * batch-order-sensitive by design, and an out-of-order clone batch
    * would let a low-ord update overwrite a higher-ord row. Stamping
    * reproduces exactly the ordering the sequential writes produced. */
  private def stampSegOrder(segDirs: Seq[java.io.File]): Unit = {
    val base = System.currentTimeMillis()
    segDirs.zipWithIndex.foreach { case (d, i) =>
      Option(d.listFiles()).toSeq.flatten
        .foreach(stampMtime(_, base + i.toLong * 2000L))
    }
  }

  private def finalState(lake: LakeTable, cols: Seq[String]): DataFrame =
    lake.read().select(cols.map(col): _*).orderBy(cols.map(col): _*)

  // ---------------------------------------------------------------------
  // Query entry points (driver contract)
  // ---------------------------------------------------------------------

  private val outCols = Seq("user_id", "event_type", "value", "props", "ts")

  def qClone(spark: SparkSession, dir: String): DataFrame =
    finalState(replay(spark, dir, TableMapping("events", "events_state"), spec()),
      outCols)

  def qFilter(spark: SparkSession, dir: String): DataFrame =
    finalState(replay(spark, dir,
      TableMapping("events", "events_state", filter = Some("value > 10")), spec()),
      outCols)

  /** P1 row filter authored in CEL — the reference's expression language
    * (`streamer/cel.go:67-146`) — arriving through the REAL map-file path:
    * a `"lang": "cel"` table entry whose predicate `MapConfig.mappings`
    * translates once at map-compile time (`config.Cel`). The predicate
    * exercises the translator's semantic fix-ups (0-based `indexOf` →
    * `instr - 1`, `matches` → `rlike`, `orValue` → `coalesce`, method
    * `size` → `length`, CEL precedence `&&` over `||`); the oracle states
    * the same predicate directly in DuckDB SQL, so a translation error in
    * ANY of those rules flips rows and fails the hash check. */
  def qFilterCel(spark: SparkSession, dir: String): DataFrame = {
    val cel = "(value > 10.0 && event_type.indexOf(\"i\") != 0 || " +
      "user_id % 7 == 3 && event_type.matches(\"^(purchase|view)$\")) && " +
      "props.orValue(\"x\").size() != 0"
    val json = s"""{"databases":[{"name":"d","urls":[{"url":"-","sid":""}],
      "tables":{"events":{"target":"events_state","lang":"cel",
      "filter":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .writeValueAsString(cel)}}}}]}"""
    val mapping = MapConfig.mappings(MapConfig.parse(json).databases.head).head
    finalState(replay(spark, dir, mapping, spec()), outCols)
  }

  /** pgoutput wire round-trip under the SAME oracle as cdc_replay_clone:
    * the derived change log is rendered to byte-exact pgoutput chunk files
    * (one transaction per event — Begin / message / Commit — with the
    * Relation registry prefixed per chunk; the rendering is the
    * capture-tool stand-in, which is single-threaded at the socket in
    * production too), then streamed through the REAL pgoutput source path
    * (`CdcStream.start(format = "pgoutput")` -> binaryFile ->
    * `PgOutput.decodeChunk` -> the merge). Oracle equality proves the wire
    * encode/decode is lossless end to end: op kinds, present-vs-NULL
    * values, unchanged-TOAST absence, (lsn, seq) assignment. */
  def qPgoutputReplay(spark: SparkSession, dir: String): DataFrame =
    pgoutputRoundTrip(spark, dir, v2 = false)

  /** The SAME round-trip with the change log rendered as PROTOCOL V2
    * streamed in-progress transactions (`proto_version '2'`, requested by
    * the reference on PG >= 14, `replicate_database.go:20-41`): stream
    * blocks of concurrent transactions interleave, commits arrive out of
    * start order, whole-transaction abort decoys carry poison rows that
    * must vanish, and every 7th transaction smuggles its poison through an
    * aborted SUBtransaction while its real change must survive. Oracle
    * equality (the same clone oracle) proves the v2 buffering, commit-LSN
    * stamping, and both abort paths are lossless end to end. */
  def qPgoutputReplayV2(spark: SparkSession, dir: String): DataFrame =
    pgoutputRoundTrip(spark, dir, v2 = true)

  private def pgoutputRoundTrip(spark: SparkSession, dir: String,
                                v2: Boolean): DataFrame = {
    import graft.sources.PgOutput.Wire
    val cols = outCols
    val relId = 1
    // OIDs per the payload types: int8, text, float8, text, timestamp
    val rel = Wire.relation(relId, "public", "events",
      cols.zip(Seq(20, 25, 701, 25, 1114)))
    def vals(m: Map[String, String]): Seq[Option[String]] =
      cols.map(c => m.get(c).flatMap(Option(_))) // absent OR null -> None
    def absentIdx(m: Map[String, String]): Set[Int] =
      cols.zipWithIndex.collect { case (c, i) if !m.contains(c) => i }.toSet
    def dml(e: ChangeEvent): Array[Byte] = e.op match {
      case "I" => Wire.insert(relId, vals(e.after))
      case "U" => Wire.update(relId, vals(e.after),
        toastAbsent = absentIdx(e.after))
      case "D" => Wire.delete(relId, 'K', vals(e.before))
    }
    // a row that would corrupt the converged state if an abort ever leaked
    def poison(e: ChangeEvent): Array[Byte] =
      Wire.update(relId, vals((e.before ++ e.after) + // D carries key in before
        ("event_type" -> "POISON", "value" -> "-999.0")))
    // the rendering below is the CAPTURE-TOOL stand-in (single-threaded at
    // the socket in production too); at larger fixture scale factors it —
    // not the engine — is the bottleneck, and a real tool would roll chunk
    // files incrementally instead of materializing the log (PgTailer does)
    val events = derive(spark, dir).collect().sortBy(e => (e.lsn, e.seq))
    val tmp = Files.createTempDirectory("graft-pgo").toString
    val maxLsn = events.map(_.lsn).max
    val per = maxLsn / Batches + 1
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$tmp/wal"))
    // chunk renders are independent pure-CPU work — run them from the
    // same pool as the parquet fixture writes (the binaryFile stream
    // orders by mtime like FileStreamSource, so stamp chunk order after)
    inParallel((0 until Batches).map { b => () =>
      val lo = b * per; val hi = lo + per
      val batch = events.filter(e => e.lsn >= lo && e.lsn < hi)
      val msgs: Seq[Array[Byte]] =
        if (!v2) batch.toSeq.flatMap { e =>
          Seq(Wire.begin(e.lsn, e.lsn.toInt), dml(e), Wire.commit(e.lsn))
        }
        else batch.grouped(2).toSeq.flatMap { pair =>
          // interleave the pair's stream blocks, commit in REVERSE start
          // order — the decoder must stamp each at its own commit LSN
          val blocks = pair.toSeq.flatMap { e =>
            val xid = e.lsn.toInt
            val body: Seq[Array[Byte]] =
              if (e.lsn % 7 == 0)
                // real change under the top xid, poison under a subxact
                // that aborts before commit
                Seq(Wire.streamed(xid, dml(e)),
                  Wire.streamed(xid + 0x20000000, poison(e)))
              else Seq(Wire.streamed(xid, dml(e)))
            Wire.streamStart(xid) +: body :+ Wire.streamStop()
          }
          val aborts = pair.toSeq.collect { case e if e.lsn % 7 == 0 =>
            Wire.streamAbort(e.lsn.toInt, e.lsn.toInt + 0x20000000) }
          val commits = pair.reverse.map(e =>
            Wire.streamCommit(e.lsn.toInt, e.lsn))
          // plus a whole-transaction abort decoy riding along
          val decoyXid = pair.head.lsn.toInt | 0x40000000
          val decoy = Seq(
            Wire.streamStart(decoyXid),
            Wire.streamed(decoyXid, poison(pair.head)),
            Wire.streamStop(),
            Wire.streamAbort(decoyXid, decoyXid))
          blocks ++ decoy ++ aborts ++ commits
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"$tmp/wal/chunk-$b%03d.bin"),
        Wire.chunk(rel +: msgs))
      ()
    })
    locally {
      val base = System.currentTimeMillis()
      (0 until Batches).foreach(b => stampMtime(new java.io.File(
        f"$tmp/wal/chunk-$b%03d.bin"), base + b.toLong * 2000L))
    }
    val lake = LakeTable.create(spark, s"$tmp/t", spec())
    val q = graft.streaming.CdcStream.start(spark, s"$tmp/wal/chunk-*.bin",
      s"$tmp/ckpt",
      Seq(graft.streaming.CdcStream.Route(
        TableMapping("events", "events_state"), lake)),
      maxFilesPerTrigger = 1, format = "pgoutput")
    q.awaitTermination()
    finalState(lake, outCols)
  }

  def qSet(spark: SparkSession, dir: String): DataFrame = {
    val target = TableSpec("events_set",
      StructType(Seq(
        StructField("user_id", LongType, nullable = false),
        StructField("etype", StringType, nullable = true),
        StructField("vtag", StringType, nullable = true))),
      keyCols = Seq("user_id"), bucketCols = Seq("user_id"), numBuckets = 16)
    val mapping = TableMapping("events", "events_set",
      set = Some(Seq(
        "user_id" -> "user_id",
        "etype" -> "upper(event_type)",
        "vtag" -> "concat(event_type, '-', cast(user_id as string))")),
      sourceSchema = Some(payloadSchema))
    finalState(replay(spark, dir, mapping, target), Seq("user_id", "etype", "vtag"))
  }

  def qPkUpdate(spark: SparkSession, dir: String): DataFrame =
    finalState(replay(spark, dir, TableMapping("events", "events_state"),
      spec(), pkUpdate = true), outCols)

  def qAppend(spark: SparkSession, dir: String): DataFrame =
    finalState(replay(spark, dir,
      TableMapping("events", "events_state", mode = TableMode.Append), spec()),
      outCols)

  def qSidFanin(spark: SparkSession, dir: String): DataFrame =
    finalState(replay(spark, dir, TableMapping("events", "events_state"),
      spec(hasSid = true), sidMod = 2), "sid" +: outCols)

  def qRouting(spark: SparkSession, dir: String): DataFrame =
    finalState(replay(spark, dir,
      TableMapping("events", "events_state",
        partitionsRegex = Some("events_p[0-3]")), spec(), routed = true),
      outCols)

  private def historyState(lake: LakeTable): DataFrame =
    lake.read().select(
      col("user_id"), col("event_type"), col("value"), col("props"), col("ts"),
      col("kvsz_start").cast(TimestampNTZType).as("kvsz_start"),
      col("kvsz_end").cast(TimestampNTZType).as("kvsz_end"),
      col("kvsz_deleted"))
      .orderBy("user_id", "kvsz_start", "kvsz_end")

  def qHistory(spark: SparkSession, dir: String): DataFrame =
    historyState(replay(spark, dir,
      TableMapping("events", "events_state", mode = TableMode.History),
      spec(history = true)))

  /** History mode WITH a P1 row filter — the reference applies CEL before
    * dispatching to history apply (`process_message.go:287-321`); deletes
    * pass fail-open (their env lacks `value`). */
  def qHistoryFilter(spark: SparkSession, dir: String): DataFrame =
    historyState(replay(spark, dir,
      TableMapping("events", "events_state", mode = TableMode.History,
        filter = Some("value > 10")),
      spec(history = true)))

  /** Full orchestrator path: map FILE -> per-URL streams (sid stamped from
    * config, NOT wire data) -> routed, filtered, epoch-tracked fan-in into
    * one target. The WAL is split into two per-tenant directories by
    * user_id parity and every event's wire sid is overwritten with a bogus
    * value, so the result is correct ONLY if the orchestrator assigns the
    * config sid per URL (`streamer/map.go:17-43`). */
  def qMapfileE2e(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-map").toString
    val ev = derive(spark, dir, sidMod = 2)
    val maxLsn = maxEventId(spark, dir)
    val per = maxLsn / 2 + 1
    inParallel(for (s <- Seq("s0", "s1"); b <- 0 until 2) yield { () =>
      val mine = ev.filter(col("sid") === s).toDF()
        .withColumn("sid", lit("wire-sid-ignored"))
      val lo = b * per; val hi = lo + per
      mine.filter(col("lsn") >= lo && col("lsn") < hi)
        .coalesce(1).write.parquet(f"$tmp/wal-$s/seg-$b%05d")
    })
    stampSegOrder(for (s <- Seq("s0", "s1"); b <- 0 until 2)
      yield new java.io.File(f"$tmp/wal-$s/seg-$b%05d"))
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$tmp/wal-s0/seg-*","sid":"s0"},
         |          {"url":"$tmp/wal-s1/seg-*","sid":"s1"}],
         |  "tables":{"events":{"type":"clone","target":"events_state",
         |                      "filter":"value > 10"}}}]}""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$tmp/map.json"), mapJson)
    graft.streaming.Orchestrator.runAvailable(spark, s"$tmp/map.json",
      s"$tmp/targets", Map("events_state" -> spec(hasSid = true)),
      s"$tmp/ckpt")
    finalState(LakeTable.load(spark, s"$tmp/targets/events_state"),
      "sid" +: outCols)
  }

  /** X14 through the FULL ingest loop, oracle-gated: the orchestrator
    * streams the derived WAL with "signatures" + "labels" companions, a
    * `set` transform synthesizing group-shared text into props
    * (user_id % 5 picks the group) so duplicate clusters form and churn
    * — deletes (error events) shrink or dissolve clusters THROUGH the
    * real stream, TOAST updates ride along — and the final label
    * companion is compared, cluster frame and all, against the D5
    * recursive closure DuckDB recomputes over the final LIVE rows only.
    * cluster_id is the lexicographic min of member id strings on both
    * sides (the label table's doc_id is the rendered merge-key string). */
  def qLabelsE2e(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-lbl").toString
    // the capture-tool side of the harness stamps group-shared text into
    // props on every event that CARRIES props (clicks keep omitting it —
    // the unchanged-TOAST wire shape flows through signatures unchanged);
    // the text is constant per user, so the folded final props value is
    // group text no matter which event wins the fold
    val grpText = trim(repeat(concat(lit("g"),
      (element_at(col("after"), "user_id").cast("long") % 5).cast("string"),
      lit(" ")), 19))
    val ev = derive(spark, dir).toDF().withColumn("after",
      when(map_contains_key(col("after"), "props"),
        map_concat(
          map_filter(col("after"), (k, _) => k =!= "props"),
          map(lit("props"), grpText)))
        .otherwise(col("after")))
    val maxLsn = maxEventId(spark, dir)
    val per = maxLsn / 2 + 1
    inParallel((0 until 2).map { b => () =>
      val lo = b * per; val hi = lo + per
      ev.filter(col("lsn") >= lo && col("lsn") < hi)
        .coalesce(1).write.parquet(f"$tmp/wal/seg-$b%05d")
    })
    stampSegOrder((0 until 2).map(b => new java.io.File(f"$tmp/wal/seg-$b%05d")))
    val mapJson =
      s"""{"databases":[{"name":"app",
         |  "urls":[{"url":"$tmp/wal/seg-*","sid":"s0"}],
         |  "tables":{"events":{"type":"clone","target":"events_state",
         |    "signatures":true,"labels":true,"text_col":"props"}}}]}""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$tmp/map.json"), mapJson)
    graft.streaming.Orchestrator.runAvailable(spark, s"$tmp/map.json",
      s"$tmp/targets", Map("events_state" -> spec()), s"$tmp/ckpt")
    val doc = LakeTable.load(spark, s"$tmp/targets/events_state")
    val lbl = LakeTable.load(spark, s"$tmp/targets/events_state_labels").read()
      .select(col("doc_id").cast("long").as("user_id"), col("cluster_id"))
    val sizes = lbl.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    doc.read().select(col("user_id"))
      .join(lbl, Seq("user_id"), "left_outer")
      .select(col("user_id"),
        coalesce(col("cluster_id"), col("user_id").cast("string")).as("cluster_id"))
      .join(sizes, Seq("cluster_id"), "left_outer")
      .select(col("user_id"), col("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy("user_id")
  }

  val labelsE2eOracle: String = {
    import graft.operators.TextPipeline.{Bands, IncMinMatch, MinhashK}
    val sigCols = (0 until MinhashK)
      .map(k => s"min(md5('$k|' || s)) AS h$k").mkString(", ")
    val bandRows = (0 until Bands)
      .map(b => s"SELECT doc_id, $b AS band, h${b * 3} || h${b * 3 + 1} || h${b * 3 + 2} AS bk FROM mh")
      .mkString("\n  UNION ALL ")
    val matchSum = (0 until MinhashK)
      .map(k => s"CASE WHEN ma.h$k = mb.h$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH RECURSIVE ${nopsCte(false, null)},
lastd AS (SELECT k, max(ord) AS dl FROM nops WHERE op='D' GROUP BY k),
seg AS (SELECT e.* FROM nops e LEFT JOIN lastd d ON e.k = d.k
        WHERE e.op <> 'D' AND e.ord > coalesce(d.dl, -1)),
fi AS (SELECT k, min(ord) AS il FROM seg WHERE op='I' GROUP BY k),
live AS (SELECT s.* FROM seg s JOIN fi f ON s.k = f.k
         WHERE s.ord = f.il OR (s.op='U' AND s.ord > f.il)),
fin AS (SELECT DISTINCT k AS user_id FROM live),
d AS (SELECT CAST(user_id AS VARCHAR) AS doc_id,
  trim(repeat('g' || CAST(user_id % 5 AS VARCHAR) || ' ', 19)) AS text
  FROM fin),
w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws FROM d),
sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 1),
    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
  FROM w WHERE len(ws) >= 3),
mh AS (SELECT doc_id, $sigCols FROM sh GROUP BY doc_id),
bands AS ($bandRows),
cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM bands x
         JOIN bands y ON x.band = y.band AND x.bk = y.bk
                      AND x.doc_id < y.doc_id),
p AS (SELECT c.a, c.b FROM cand c
      JOIN mh ma ON ma.doc_id = c.a JOIN mh mb ON mb.doc_id = c.b
      WHERE $matchSum >= $IncMinMatch),
e AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
reach(x, y) AS (SELECT a AS x, b AS y FROM e
                UNION
                SELECT r.x, e2.b AS y FROM reach r JOIN e e2 ON e2.a = r.y),
lbl AS (SELECT dd.doc_id,
          least(dd.doc_id, coalesce(min(r.y), dd.doc_id)) AS cluster_id
        FROM d dd LEFT JOIN reach r ON r.x = dd.doc_id
        GROUP BY dd.doc_id),
sz AS (SELECT cluster_id, count(*) AS cluster_size FROM lbl GROUP BY 1)
SELECT CAST(l.doc_id AS BIGINT) AS user_id, l.cluster_id, s.cluster_size
FROM lbl l JOIN sz s USING (cluster_id)
ORDER BY user_id"""
  }

  /** Time travel: replay ALL batches, then read the snapshot that batch 2
    * committed (resolved via lineage, not version arithmetic) — the state
    * must equal the fold of only the first three batches' LSN range. */
  def qTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val lake = replay(spark, dir, TableMapping("events", "events_state"), spec())
    val v = lake.snapshot().lineage.find(_.batchId == 2L)
      .map(_.snapshotVersion)
      .getOrElse(throw new IllegalStateException("no lineage for batch 2"))
    lake.read(version = v)
      .select(outCols.map(col): _*).orderBy(outCols.map(col): _*)
  }

  /** cloneOracle over the first three batches only (the time-travel cut). */
  val timeTravelOracle: String = cloneOracle(
    excl = "event_id < 3 * ((SELECT max(event_id) FROM events) // 4 + 1)")

  /** Lineage contract: per (sid, batch), the applied LSN range (A1). The
    * snapshot version each batch committed is deliberately NOT part of the
    * oracle contract — it is engine bookkeeping (a batch carrying an R
    * message commits TWICE: schema commit + data commit), and predicting
    * commit counts in SQL is exactly the brittleness this query used to
    * have. Instead, batch 2 here really does carry an R message, and the
    * query verifies engine-side that every lineage entry resolves to a
    * readable snapshot with strictly increasing versions — the property
    * time travel depends on (qTimeTravel resolves versions the same way). */
  def qLineage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val events = derive(spark, dir)
    val tmp = Files.createTempDirectory("graft-lin").toString
    val lake = LakeTable.create(spark, s"$tmp/t", spec())
    val mapping = TableMapping("events", "events_state")
    val maxLsn = maxEventId(spark, dir)
    val per = maxLsn / Batches + 1
    (0 until Batches).foreach { b =>
      var batch = events.filter(col("lsn") >= b * per && col("lsn") < (b + 1) * per)
      if (b == 2) {
        // an R message makes this a multi-commit batch (schema evolution
        // commits before the merge) — the lineage rows must not care
        val rel = ChangeEvent(b * per, 0, "R", "events", "s0", "none",
          Map.empty, Map("user_id" -> "bigint", "event_type" -> "string",
            "value" -> "double", "props" -> "string", "ts" -> "timestamp",
            "lineage_note" -> "string"))
        batch = batch.unionByName(Seq(rel).toDS())
      }
      Replay.applyBatch(lake, batch, mapping, b)
    }
    val lin = lake.snapshot().lineage.sortBy(_.batchId)
    // engine-side resolution check: versions strictly increase and each
    // lineage snapshot is readable (the time-travel contract)
    lin.map(_.snapshotVersion).sliding(2).foreach {
      case Seq(a, b2) => if (a >= b2)
        throw new IllegalStateException(s"lineage versions not increasing: $lin")
      case _ =>
    }
    lin.foreach(l => lake.read(version = l.snapshotVersion).schema)
    if (!lake.schema.fieldNames.contains("lineage_note"))
      throw new IllegalStateException("R message did not evolve the schema")
    lin.map(l => (l.sid, l.batchId, l.minLsn, l.maxLsn))
      .toDF("sid", "batch_id", "min_lsn", "max_lsn")
      .orderBy("batch_id")
  }

  def qMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lake = replay(spark, dir, TableMapping("events", "events_state"), spec())
    val props = lake.snapshot().properties
    props.toSeq.collect { case (k, v) if k.startsWith("metrics-ops-") =>
      (k.stripPrefix("metrics-ops-"), v.toLong)
    }.toDF("op", "total").orderBy("op")
  }

  /** State-store-backed CDC apply (`streaming/StateApply.scala`): the same
    * change log folded through `mapGroupsWithState` keyed state across 4
    * real micro-batches (update output mode, memory sink) instead of the
    * lake merge — final per-key state must equal the SAME clone-fold
    * oracle, cross-checking the two execution strategies. */
  def qStateApply(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft-state").toString
    val ev = derive(spark, dir)
    val maxLsn = maxEventId(spark, dir)
    val per = maxLsn / Batches + 1
    inParallel((0 until Batches).map { b => () =>
      val lo = b * per; val hi = lo + per
      ev.filter(col("lsn") >= lo && col("lsn") < hi).toDF()
        .coalesce(1).write.parquet(f"$tmp/wal/seg-$b%05d")
    })
    stampSegOrder((0 until Batches).map(b => new java.io.File(f"$tmp/wal/seg-$b%05d")))
    val src = spark.readStream.schema(ChangeEvent.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/wal/seg-*").as[ChangeEvent]
    // tombstone eviction stays ON in the driver-gated query (it must never
    // change the converged answer — the same clone-fold oracle gates it),
    // but at a production-shaped TTL: 1000 LSN-seconds means timers arm
    // once per genuinely-dead key instead of on nearly every delete each
    // batch (the 1-LSN TTL measurably inflated this query's wall time).
    // StateApplySpec exercises the aggressive-TTL eviction path directly.
    val emits = graft.streaming.StateApply.stream(src, mergeKey = Seq("user_id"),
      tombstoneTtl = Some(java.time.Duration.ofSeconds(1000)))
    val qname = "state_apply_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(spark, 8) { // 8 state stores/batch, not 32
      emits.toDF().writeStream.format("memory").queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination() // conf scope must cover async batch planning
    }
    // latest emission per key (ord is globally monotone), live keys only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("ord").desc)
    spark.table(qname)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .filter(col("exists"))
      .select(
        col("key").cast(LongType).as("user_id") +:
          payloadSchema.fields.toIndexedSeq.filter(_.name != "user_id").map(f =>
            Replay.castText(element_at(col("row"), f.name), f.dataType).as(f.name)): _*)
      .orderBy("user_id")
  }

  /** Event-time windowed aggregation under a watermark (append mode): the
    * raw events table streams in 4 event_id-contiguous files; rows later
    * than the watermark (max event time of PRIOR batches minus the delay)
    * are dropped, and a 1-day window emits only once the watermark passes
    * its end — trailing windows stay withheld. Deterministic for the fixed
    * segmentation, and the oracle models both rules exactly. */
  def qWatermarkAgg(spark: SparkSession, dir: String): DataFrame = {
    val tmp = Files.createTempDirectory("graft-wm").toString
    val raw = spark.read.parquet(s"$dir/events.parquet")
    // round-robin segmentation (event_id % Batches): every batch spans the
    // whole time range, so batches after the first genuinely contain
    // late-beyond-watermark rows — the drop rule is exercised, not
    // vacuously green (contiguous slices would keep ts monotone)
    inParallel((0 until Batches).map { b => () =>
      raw.filter(pmod(col("event_id"), lit(Batches)) === b)
        .coalesce(1).write.parquet(f"$tmp/seg-$b%05d")
    })
    stampSegOrder((0 until Batches).map(b => new java.io.File(f"$tmp/seg-$b%05d")))
    val src = spark.readStream.schema(raw.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/seg-*")
    // watermarks require TIMESTAMP (not NTZ); session TZ is UTC so the
    // cast is a pure reinterpretation, and the window bounds are cast back
    // to NTZ on output (the events table's native type)
    val agg = src.withColumn("ts", col("ts").cast(TimestampType))
      .withWatermark("ts", "12 hours")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 1000, 0).cast("long")).as("sv_e3"))
      .select(col("window.start").cast(TimestampNTZType).as("window_start"),
        col("window.end").cast(TimestampNTZType).as("window_end"),
        col("n"), col("sv_e3"))
    val qname = "wm_agg_" + java.util.UUID.randomUUID().toString.replace("-", "")
    withShufflePartitions(spark, 8) {
      agg.writeStream.format("memory").queryName(qname)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination() // conf scope must cover async batch planning
    }
    val result = spark.table(qname).orderBy("window_start")
    // The calibration guard costs a second full model pass + two collects;
    // it lives in CoverageSpec (always) and behind GRAFT_CALIBRATE=1 here
    // so the timed driver path pays only the streaming query itself.
    if (sys.env.get("GRAFT_CALIBRATE").contains("1"))
      watermarkCalibrationGuard(spark, raw, result)
    result
  }

  /** Loud calibration guard: the DuckDB oracle encodes an empirically
    * calibrated watermark-propagation model (effective watermark of batch
    * N = max event time through batch N-2, Spark 4.1 AvailableNow). If a
    * Spark upgrade ever changes that timing, this fails with a diagnostic
    * instead of silently hash-mismatching against the oracle downstream.
    * Run by CoverageSpec on every test pass and by qWatermarkAgg under
    * GRAFT_CALIBRATE=1. */
  private[graft] def watermarkCalibrationGuard(spark: SparkSession,
      raw: DataFrame, result: DataFrame): Unit = {
    val vname = "wm_cal_" + java.util.UUID.randomUUID().toString.replace("-", "")
    raw.createOrReplaceTempView(vname)
    val model = spark.sql(
      s"""WITH e AS (SELECT *, event_id % $Batches AS b FROM $vname),
mx AS (SELECT b, max(ts) AS mts FROM e GROUP BY b),
wmb AS (SELECT b, max(mts) OVER (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
          - INTERVAL 12 HOUR AS wm FROM mx),
kept AS (SELECT e.* FROM e JOIN wmb USING (b) WHERE wmb.wm IS NULL OR e.ts > wmb.wm),
fw AS (SELECT max(ts) - INTERVAL 12 HOUR AS wm FROM $vname),
agg AS (SELECT date_trunc('DAY', ts) AS window_start, count(*) AS n,
          CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sv_e3
        FROM kept GROUP BY 1)
SELECT CAST(window_start AS TIMESTAMP_NTZ) AS window_start,
  CAST(window_start + INTERVAL 1 DAY AS TIMESTAMP_NTZ) AS window_end, n, sv_e3
FROM agg, fw WHERE window_start + INTERVAL 1 DAY <= fw.wm
ORDER BY window_start""")
    val got = result.collect().map(_.toSeq).toSeq
    val want = model.collect().map(_.toSeq).toSeq
    if (got != want)
      throw new IllegalStateException(
        "watermark calibration drift: Spark's streaming watermark " +
          "propagation no longer matches the batch-(N-2) model the oracle " +
          s"encodes — recalibrate watermarkAggOracle.\nengine=$got\nmodel=$want")
  }

  /** DuckDB recomputation of the watermark semantics, calibrated against
    * Spark 4.1 micro-batch execution: the watermark EFFECTIVE during batch
    * N is derived from the max event time through batch N-2 (the update
    * computed at batch N-1's construction uses stats of batches before it
    * — one batch of lag beyond the textbook rule; verified empirically on
    * the round-robin split); a row is kept iff ts > that watermark; a
    * window [d, d+1d) emits iff d+1d <= the final watermark (global max
    * ts - 12h, applied by the trailing no-data batch). */
  val watermarkAggOracle: String =
    """WITH e AS (SELECT *, event_id % 4 AS b FROM events),
mx AS (SELECT b, max(ts) AS mts FROM e GROUP BY b),
wmb AS (SELECT b, max(mts) OVER (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
          - INTERVAL 12 HOUR AS wm FROM mx),
kept AS (SELECT e.* FROM e JOIN wmb USING (b) WHERE wmb.wm IS NULL OR e.ts > wmb.wm),
fw AS (SELECT max(ts) - INTERVAL 12 HOUR AS wm FROM events),
agg AS (SELECT date_trunc('day', ts) AS window_start, count(*) AS n,
          CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS sv_e3
        FROM kept GROUP BY 1)
SELECT window_start, window_start + INTERVAL 1 DAY AS window_end, n, sv_e3
FROM agg, fw WHERE window_start + INTERVAL 1 DAY <= fw.wm
ORDER BY window_start"""

  /** Per-batch received-op counters from the table's `_metrics` sidecar
    * (the Prometheus ops_total analog, keyed by batch instead of scrape). */
  def qMetricsBatches(spark: SparkSession, dir: String): DataFrame = {
    val lake = replay(spark, dir, TableMapping("events", "events_state"), spec())
    lake.metrics().filter(col("kind") === "op")
      .groupBy("batch_id", "key").agg(sum("value").as("n"))
      .withColumnRenamed("key", "op")
      .orderBy("batch_id", "op")
  }

  val metricsBatchesOracle: String =
    """WITH p AS (SELECT max(event_id)//4 + 1 AS per FROM events)
SELECT event_id // per AS batch_id,
  CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op,
  count(*) AS n
FROM events, p GROUP BY 1, 2 ORDER BY batch_id, op"""

  /** Delete-miss drift per batch: the reference's data-integrity alarm — a
    * DELETE affecting 0 rows (`process_clone.go:306-311`) — surfaced here
    * as the batch-level fold analog: a per-key net-delete applied to a key
    * the target does not have. */
  def qDriftDeleteMiss(spark: SparkSession, dir: String): DataFrame = {
    val lake = replay(spark, dir, TableMapping("events", "events_state"), spec())
    lake.metrics().filter(col("kind") === "merge" && col("key") === "delete_miss")
      .select(col("batch_id"), col("value").as("delete_miss"))
      .orderBy("batch_id")
  }

  /** Recomputes the engine's batch-level delete-miss rule in SQL: per
    * (key, batch) the fold is net-delete (has a D, no later I) AND the key
    * is not live after replaying all prior batches. */
  val driftDeleteMissOracle: String =
    """WITH p AS (SELECT max(event_id)//4 + 1 AS per FROM events),
n AS (SELECT user_id AS k, event_id*2+1 AS ord, event_id // per AS b,
  CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op
  FROM events, p),
bd AS (SELECT k, b, max(CASE WHEN op='D' THEN ord END) AS dl FROM n GROUP BY 1, 2),
bfi AS (SELECT n.k, n.b, max(bd.dl) AS dl,
          min(CASE WHEN n.op='I' AND n.ord > coalesce(bd.dl, -1) THEN n.ord END) AS fi
        FROM n JOIN bd ON bd.k = n.k AND bd.b = n.b GROUP BY 1, 2),
miss AS (SELECT f.k, f.b FROM bfi f
  WHERE f.dl IS NOT NULL AND f.fi IS NULL
    AND NOT EXISTS (
      SELECT 1 FROM n i
      WHERE i.k = f.k AND i.b < f.b AND i.op = 'I'
        AND i.ord > coalesce((SELECT max(d.ord) FROM n d
                              WHERE d.k = f.k AND d.b < f.b AND d.op = 'D'), -1))),
ma AS (SELECT b, count(*) AS dm FROM miss GROUP BY b)
SELECT ab.b AS batch_id, coalesce(ma.dm, 0) AS delete_miss
FROM (SELECT DISTINCT b FROM n) ab LEFT JOIN ma ON ma.b = ab.b
ORDER BY batch_id"""

  /** Pure window LWW dedup (gap-table op): keep the max-LSN event per key —
    * `max_by` shape, no lake involved. */
  def qLwwWindow(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .groupBy("user_id")
      .agg(
        max("event_id").as("last_lsn"),
        max_by(col("event_type"), col("event_id")).as("event_type"),
        max_by(col("value"), col("event_id")).as("value"))
      .orderBy("user_id")

  /** Unchanged-TOAST fold as a pure op: last present `props` per key
    * (click events omit it), via last(ignoreNulls) — the column-level
    * `coalesce(src, tgt)` analog (W2). */
  def qToastLastNonNull(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .withColumn("props_p",
        when(col("event_type") === "click", lit(null: String))
          .otherwise(col("props")))
      .groupBy("user_id")
      .agg(max_by(col("props_p"), when(col("props_p").isNotNull, col("event_id")))
        .as("last_props"))
      .orderBy("user_id")

  // ---------------------------------------------------------------------
  // Oracle SQL (DuckDB) — the independent recomputation of the reference
  // fold semantics: I = insert-if-absent (ON CONFLICT DO NOTHING), U =
  // column-merge-if-present, D = remove; segments delimited by the last
  // delete; updates before the first insert of a segment are no-ops.
  // ---------------------------------------------------------------------

  /** Normalized-op CTE. pkUpdate splits purchases into D(old)+I(new) with
    * sub-ordering ord = 2*lsn (+1), mirroring Replay.normalize/packOrd. */
  private def nopsCte(pkUpdate: Boolean, excl: String): String = {
    val base = s"raw AS (SELECT * FROM events${if (excl == null) "" else s" WHERE $excl"})"
    if (!pkUpdate)
      s"""$base,
nops AS (
  SELECT user_id AS k, event_id*2+1 AS ord,
    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op,
    event_type, value,
    CASE WHEN event_type='click' THEN NULL ELSE props END AS props,
    event_type <> 'click' AS has_props, ts
  FROM raw)"""
    else
      s"""$base,
nops AS (
  SELECT user_id AS k, event_id*2+1 AS ord, 'I' AS op, event_type, value, props, true AS has_props, ts
    FROM raw WHERE event_type='signup'
  UNION ALL
  SELECT user_id, event_id*2+1, 'D', NULL, NULL, NULL, false, NULL FROM raw WHERE event_type='error'
  UNION ALL
  SELECT user_id, event_id*2+1, 'U', event_type, value,
    CASE WHEN event_type='click' THEN NULL ELSE props END, event_type <> 'click', ts
    FROM raw WHERE event_type IN ('click','view')
  UNION ALL
  SELECT user_id, event_id*2, 'D', NULL, NULL, NULL, false, NULL FROM raw WHERE event_type='purchase'
  UNION ALL
  SELECT user_id + 1000, event_id*2+1, 'I', event_type, value, props, true, ts
    FROM raw WHERE event_type='purchase')"""
  }

  /** Full clone/append fold. `filterSql` is the P1 row filter over the
    * decoded row env (deletes pass: their env lacks non-key columns, the
    * reference's fail-open rule). */
  def cloneOracle(pkUpdate: Boolean = false, append: Boolean = false,
                  filterSql: String = null, excl: String = null,
                  sidExpr: String = null,
                  selectOverride: String = null): String = {
    val fn = if (filterSql == null) "nops"
      else s"(SELECT * FROM nops WHERE op='D' OR ($filterSql))"
    val seg = if (append)
      s"seg AS (SELECT * FROM $fn WHERE op <> 'D')"
    else
      s"""lastd AS (SELECT k, max(ord) AS dl FROM $fn WHERE op='D' GROUP BY k),
seg AS (SELECT e.* FROM $fn e LEFT JOIN lastd d ON e.k = d.k
        WHERE e.op <> 'D' AND e.ord > coalesce(d.dl, -1))"""
    val select = if (selectOverride != null) selectOverride else {
      val sid = if (sidExpr == null) "" else s"$sidExpr AS sid, "
      s"""SELECT ${sid}k AS user_id,
  arg_max(event_type, ord) AS event_type,
  arg_max(value, ord) AS value,
  arg_max(props, ord) FILTER (WHERE has_props) AS props,
  arg_max(ts, ord) AS ts"""
    }
    s"""WITH ${nopsCte(pkUpdate, excl)},
$seg,
fi AS (SELECT k, min(ord) AS il FROM seg WHERE op='I' GROUP BY k),
live AS (SELECT s.* FROM seg s JOIN fi f ON s.k = f.k
         WHERE s.ord = f.il OR (s.op='U' AND s.ord > f.il))
$select
FROM live GROUP BY k ORDER BY user_id"""
  }

  val setOracle: String =
    cloneOracle(selectOverride =
      """SELECT k AS user_id,
  arg_max(upper(event_type), ord) AS etype,
  arg_max(event_type || '-' || CAST(k AS VARCHAR), ord) AS vtag""")

  /** SCD2 reconstruction: every I/U opens a version; the next U/D after it
    * (per key, by lsn) closes it at t = 2001-01-01 + lsn seconds
    * (History.histTime with seq=0); a closing D soft-deletes. `filterSql`
    * is the P1 row filter over the decoded env (deletes = errors pass
    * fail-open: their env lacks the non-key columns). */
  def historyOracle(filterSql: String = null): String = {
    val where =
      if (filterSql == null) "" else s" WHERE event_type = 'error' OR ($filterSql)"
    s"""WITH ev AS (
  SELECT event_id AS lsn, user_id AS k,
    CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op,
    event_type, value,
    CASE WHEN event_type='click' THEN NULL ELSE props END AS props,
    ts, TIMESTAMP '2001-01-01 00:00:00' + event_id * INTERVAL '1 second' AS t
  FROM events$where),
nx AS (
  SELECT *, min(CASE WHEN op IN ('U','D') THEN lsn END)
    OVER (PARTITION BY k ORDER BY lsn ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nlsn
  FROM ev),
vers AS (SELECT * FROM nx WHERE op IN ('I','U')),
closers AS (SELECT k, lsn, op, t FROM ev WHERE op IN ('U','D'))
SELECT v.k AS user_id, v.event_type, v.value, v.props, v.ts,
  CASE WHEN v.op='I' THEN TIMESTAMP '1900-01-01 00:00:00' ELSE v.t END AS kvsz_start,
  CASE WHEN c.lsn IS NULL THEN TIMESTAMP '9999-01-01 00:00:00' ELSE c.t END AS kvsz_end,
  CASE WHEN c.lsn IS NULL THEN false ELSE c.op = 'D' END AS kvsz_deleted
FROM vers v LEFT JOIN closers c ON v.k = c.k AND v.nlsn = c.lsn
ORDER BY user_id, kvsz_start, kvsz_end"""
  }

  val lineageOracle: String =
    """WITH p AS (SELECT max(event_id)//4 + 1 AS per FROM events),
b AS (SELECT event_id // per AS batch_id, event_id FROM events, p)
SELECT 's0' AS sid, batch_id, min(event_id) AS min_lsn, max(event_id) AS max_lsn
FROM b GROUP BY batch_id ORDER BY batch_id"""

  val metricsOracle: String =
    """SELECT CASE event_type WHEN 'signup' THEN 'I' WHEN 'error' THEN 'D' ELSE 'U' END AS op,
  count(*) AS total
FROM events GROUP BY 1 ORDER BY op"""

  val lwwWindowOracle: String =
    """SELECT user_id, max(event_id) AS last_lsn,
  arg_max(event_type, event_id) AS event_type,
  arg_max(value, event_id) AS value
FROM events GROUP BY user_id ORDER BY user_id"""

  val toastOracle: String =
    """SELECT user_id,
  arg_max(props, event_id) FILTER (WHERE event_type <> 'click') AS last_props
FROM events GROUP BY user_id ORDER BY user_id"""
}
