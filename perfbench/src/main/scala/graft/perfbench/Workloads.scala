package graft.perfbench

import graft.lake.LakeTable
import graft.model.{TableMapping, Transcripts}
import graft.streaming.CdcStream
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** One unit of work (a drain, or a live-tail window) and what it measured. */
final case class UnitResult(
    setupS: Double, // session build -> first micro-batch started
    drainS: Double, // first micro-batch started -> last commit
    events: Long, // DML events applied
    cpuS: Double, // process CPU over stream start -> drain end
    bytesWritten: Long, // data-file bytes added, all targets
    freshness: Seq[Double], // per source unit: visible - due, seconds
    failures: Seq[String], // correctness: fatal in any unit
    keepUp: Seq[String] = Nil, // open-loop keep-up gates: measured units only
    info: Map[String, Any] = Map.empty,
    layers: Map[String, Double] = Map.empty) { // traced units only
  def eps: Double = events / drainS
}

/** @param sourceFp fingerprint of the engine and harness sources: cached
  *                 inputs are keyed by it, since the pre-loaded table and
  *                 the chunk files are written by engine code. */
final case class Ctx(work: String, seed: Long, seconds: Int, sourceFp: String)

/** Hooks a traced unit attaches to its session. */
final class Hooks {
  val tracer = new Tracer
  val progress = new Progress
  val probes = new TracedStream.Probes
}

abstract class Workload(val name: String) {
  /** Materialize the seed's inputs and expected outputs (cached on disk).
    * Runs in its own JVM, before the measuring one. */
  def prepare(spark: SparkSession, ctx: Ctx): Unit
  /** One unit at `cores` cores; traced when `hooks` is given. */
  def unit(ctx: Ctx, cores: Int, hooks: Option[Hooks]): UnitResult
  /** Sizes recorded in the run's provenance. */
  def sizes(ctx: Ctx): Map[String, Any]
  /** Unmeasured warm-up before the measured units of a timed (`traced` =
    * false) or traced run (JIT and code generation), or nothing. */
  def warmup(ctx: Ctx, cores: Int, traced: Boolean): Option[UnitResult] = None

  /** Cached inputs, keyed by seed, the workload's sizes and the sources. */
  protected def inputDir(ctx: Ctx): String = {
    val key = (sizes(ctx).toSeq.sortBy(_._1) :+ ctx.sourceFp).mkString(",")
    f"${ctx.work}/inputs/$name-${ctx.seed}-${key.hashCode}%08x"
  }
  protected def unitDir(ctx: Ctx): String = {
    val d = s"${ctx.work}/run/$name"
    Common.deleteRecursively(Paths.get(d))
    Files.createDirectories(Paths.get(d))
    d
  }

  protected def withSession[T](ctx: Ctx, cores: Int, hooks: Option[Hooks])(
      f: SparkSession => T): T = {
    // traced sessions keep full call sites, so each job can be labelled
    // by the engine method that submitted it
    val spark = Common.session(ctx.work, cores,
      if (hooks.isDefined) Map("spark.callstack.depth" -> "1000") else Map.empty)
    hooks.foreach { h =>
      spark.sparkContext.addSparkListener(h.tracer)
      spark.streams.addListener(h.progress)
    }
    try f(spark) finally spark.stop()
  }

  /** Wall-clock ms at which micro-batch 0 started: its offset-log entry is
    * written as the batch is planned (read after the run; nothing polls). */
  protected def firstBatchMs(checkpoint: String): Long =
    Files.getLastModifiedTime(Paths.get(checkpoint, "offsets", "0")).toMillis

  protected def readProps(p: Path): Map[String, String] = {
    val pr = new java.util.Properties()
    val in = Files.newInputStream(p)
    try pr.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    pr.asScala.toMap
  }
  protected def writeProps(p: Path, m: Map[String, Any]): Unit = {
    val pr = new java.util.Properties()
    m.foreach { case (k, v) => pr.setProperty(k, v.toString) }
    val tmp = Paths.get(p.toString + ".tmp")
    val out = Files.newOutputStream(tmp)
    try pr.store(out, null) finally out.close()
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  protected def check(ok: Boolean, what: => String): Seq[String] =
    if (ok) Nil else {
      System.err.println(s"perfbench: CHECK FAILED [$name]: $what")
      Seq(what)
    }

  /** Common per-layer numbers of a traced unit: Spark totals, streaming
    * trigger phases, timed snapshot reads, and the Replay layer's phases. */
  protected def commonLayers(h: Hooks, events: Long): Map[String, Double] = {
    val t = h.tracer
    val jobs = t.allJobs
    def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Common.median(xs)
    val trig = h.progress.triggers.filter(_.rows > 0).toSeq
    def dur(k: String): Seq[Double] = trig.map(_.durations.getOrElse(k, 0L) / 1000.0)
    val replay = t.spans.filter(_.name == "operators.replay.apply").toSeq
    val rJobs = replay.flatMap(t.jobsOf)
    def phaseS(label: String): Double =
      rJobs.filter(_.label == label).map(j => (j.endMs - j.startMs) / 1000.0).sum
    val missIds = h.probes.applies.collect {
      case (id, lake, v0, v1) if v1 > v0 &&
        lake.snapshot(v1).files.map(_.path) == lake.snapshot(v1 - 1).files.map(_.path) => id
    }.toSet
    def storeLayers(span: String, key: String): Map[String, Double] = {
      val ss = t.spans.filter(_.name == span).toSeq
      Map(s"operators.$key.apply_s" -> ss.map(_.durS).sum,
        s"operators.$key.jobs_per_batch" ->
          (if (ss.isEmpty) 0.0 else ss.map(t.jobsOf(_).size).sum.toDouble / ss.size))
    }
    Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum.toDouble,
      "spark.input_bytes" -> jobs.map(_.input).sum.toDouble,
      "spark.spill_bytes" -> jobs.map(_.spill).sum.toDouble,
      "streaming.trigger_s_p50" -> p50(dur("triggerExecution")),
      "streaming.addbatch_s_p50" -> p50(dur("addBatch")),
      "streaming.overhead_s_p50" -> p50(trig.map(x =>
        (x.durations.getOrElse("triggerExecution", 0L) -
          x.durations.getOrElse("addBatch", 0L)) / 1000.0)),
      "streaming.latest_offset_s_p50" -> p50(dur("latestOffset")),
      "lake.snapshot_read_s_p50" -> p50(h.probes.snapshotS.toSeq),
      "operators.replay.fold_s" -> phaseS("fold"),
      "operators.replay.stats_s" -> phaseS("stats"),
      "operators.replay.merge_write_s" -> phaseS("merge_write"),
      "operators.replay.shuffle_bytes_per_event" ->
        rJobs.map(_.shuffleWrite).sum.toDouble / math.max(1L, events),
      "operators.replay.driver_self_s" -> replay.map(t.selfS).sum,
      "operators.replay.jobs_per_batch" -> rJobs.size.toDouble / math.max(1, replay.size),
      "operators.replay.tasks_per_batch" ->
        rJobs.map(_.tasks).sum.toDouble / math.max(1, replay.size),
      "operators.replay.route_miss_batches" -> missIds.size.toDouble,
      "operators.replay.route_miss_s" ->
        replay.filter(s => missIds.contains(s.id)).map(_.durS).sum) ++
      storeLayers("operators.history.apply", "history") ++
      storeLayers("operators.signaturestore.apply", "signaturestore")
  }

  /** Write-side per-layer numbers of the tables a unit wrote. */
  protected def lakeLayers(stats: Seq[LakeStats]): Map[String, Double] = {
    def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val keyed = stats.filter(_.dmlEvents > 0)
    Map(
      "lake.touched_bucket_frac" -> mean(stats.flatMap(_.touchedBucketFrac)),
      "lake.zone_pruned_file_frac" -> mean(stats.flatMap(_.zonePrunedFrac)),
      "lake.files_rewritten_per_batch" -> mean(stats.flatMap(_.filesRewritten.map(_.toDouble))),
      "lake.rows_written_per_changed_row" ->
        stats.map(_.addedRows).sum.toDouble / math.max(1L, stats.map(_.changedRows).sum),
      "lake.versions_end" -> stats.map(_.versionsEnd).sum.toDouble,
      "lake.manifest_bytes_end" -> stats.map(_.manifestBytesEnd).sum.toDouble,
      "lake.live_files_end" -> stats.map(_.liveFilesEnd).sum.toDouble,
      "operators.replay.keys_per_dml_event" ->
        keyed.map(_.foldedKeys).sum.toDouble / math.max(1L, keyed.map(_.dmlEvents).sum))
  }

  /** Live bytes per live row across `lakes` (rows counted by Spark). */
  protected def liveBytesPerRow(stats: Seq[LakeStats], rows: Long): Double =
    stats.map(_.liveBytesEnd).sum.toDouble / math.max(1L, rows)
}

/** trickle_pgoutput: an open-loop generator appends small pgoutput chunk
  * files on a fixed schedule; `CdcStream.start(format = "pgoutput")`
  * consumes them under a processing-time trigger into a pre-loaded table. */
object TricklePgoutput extends Workload("trickle_pgoutput") {
  import Inputs._

  /** Keep-up gates: the generator may run this late, and when it stops at
    * most one trigger's worth of chunks may be waiting for a batch (more
    * means triggers stopped firing on schedule: batches outlast the
    * trigger interval). */
  val LatenessBoundS = 0.5

  def chunks(ctx: Ctx): Int = ctx.seconds * ChunksPerSecond

  def sizes(ctx: Ctx): Map[String, Any] = Map("preload_events" -> PreloadEvents,
    "preload_batches" -> PreloadBatches, "chunks" -> chunks(ctx),
    "events_per_chunk" -> ChunkEvents, "chunks_per_s" -> ChunksPerSecond,
    "trigger_s" -> TriggerSeconds, "buckets" -> 32)

  /** Warm-up: one set-up probe, discarded. */
  override def warmup(ctx: Ctx, cores: Int, traced: Boolean): Option[UnitResult] = {
    setupProbe(ctx, cores)
    None
  }

  def prepare(spark: SparkSession, ctx: Ctx): Unit = {
    val dir = inputDir(ctx)
    val cfg = trickleCfg(ctx.seed)
    val n = chunks(ctx)
    val m = new Model(append = false, Transcripts.schema.fieldNames.toSeq)
    var j = 0L
    while (j < PreloadEvents) { m.apply(trickleEvent(j, cfg)); j += 1 }
    if (!Files.exists(Paths.get(dir, "preload.done"))) {
      Common.deleteRecursively(Paths.get(dir))
      writePreload(spark, s"$dir/preload", m, trickleEvent(PreloadEvents - 1, cfg).lsn)
    }
    Files.createDirectories(Paths.get(dir, "chunks"))
    (0 until n).foreach { c =>
      val p = Paths.get(dir, "chunks", f"chunk-$c%06d.bin")
      if (!Files.exists(p)) Files.write(p, trickleChunk(c, cfg))
    }
    val expP = Paths.get(dir, s"expected-$n.properties")
    if (!Files.exists(expP)) {
      val end = PreloadEvents + n.toLong * ChunkEvents
      while (j < end) { m.apply(trickleEvent(j, cfg)); j += 1 }
      writeProps(expP, Map("digest" -> m.digest, "last_ord" -> m.lastOrd,
        "dml" -> n.toLong * ChunkEvents))
    }
  }

  /** The pre-loaded table: the model's state after the first
    * `PreloadEvents` events, committed as `PreloadBatches` ascending
    * conversation ranges (input set-up, not a measured apply). */
  private def writePreload(spark: SparkSession, root: String, m: Model, lsn: Long): Unit = {
    import org.apache.spark.sql.functions._
    val spec = Transcripts.spec("transcripts", 32)
    val schema = org.apache.spark.sql.types.StructType(spec.schema.fields :+
      org.apache.spark.sql.types.StructField("tokens",
        org.apache.spark.sql.types.IntegerType, nullable = true))
    require(m.columns.toSet == schema.fieldNames.toSet, s"preload columns ${m.columns}")
    val lake = LakeTable.create(spark, root, spec.copy(schema = schema))
    val text = org.apache.spark.sql.types.StructType(
      m.columns.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)))
    val rows = m.rowValues.toSeq.sortBy(_.head)
    val per = (rows.size + PreloadBatches - 1) / PreloadBatches
    rows.grouped(per).foreach { g =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(g.map(org.apache.spark.sql.Row.fromSeq), Common.cores),
        text).select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
        .withColumn("__bucket", pmod(xxhash64(col("conv_id")), lit(32)))
      lake.commit(lake.writeDataFiles(df, lake.snapshot().currentSchemaId), Set.empty,
        properties = Map("lsn-high-watermark" -> lsn.toString))
    }
    Files.writeString(Paths.get(root).getParent.resolve("preload.done"),
      lake.currentVersion.toString)
  }

  /** Copy the pre-loaded table into `dst` (outside any timed window). */
  private def placePreload(ctx: Ctx, dst: String): Long = {
    val src = s"${inputDir(ctx)}/preload"
    Common.copyTree(Paths.get(src), Paths.get(dst))
    Common.rebaseManifests(src, dst)
    Files.readString(Paths.get(inputDir(ctx), "preload.done")).trim.toLong
  }

  private def route(lake: LakeTable) = CdcStream.Route(
    TableMapping("transcripts", "transcripts"), lake, sidOverride = Some("s0"))

  /** Setup-only sample: start the stream over a single chunk on a scratch
    * copy of the table, stop after it applied. */
  def setupProbe(ctx: Ctx, cores: Int): Double = {
    val dir = unitDir(ctx)
    placePreload(ctx, s"$dir/t")
    Files.createDirectories(Paths.get(dir, "wal"))
    Files.copy(Paths.get(inputDir(ctx), "chunks", "chunk-000000.bin"),
      Paths.get(dir, "wal", "chunk-000000.bin"))
    val t0 = System.currentTimeMillis()
    withSession(ctx, cores, None) { spark =>
      val lake = LakeTable.load(spark, s"$dir/t")
      val q = CdcStream.start(spark, s"$dir/wal/chunk-*.bin", s"$dir/ckpt",
        Seq(route(lake)), maxFilesPerTrigger = 100000,
        trigger = Trigger.ProcessingTime(TriggerSeconds * 1000L), format = "pgoutput")
      try q.processAllAvailable() finally q.stop()
      (firstBatchMs(s"$dir/ckpt") - t0) / 1000.0
    }
  }

  def unit(ctx: Ctx, cores: Int, hooks: Option[Hooks]): UnitResult = {
    val in = inputDir(ctx)
    val n = chunks(ctx)
    val exp = readProps(Paths.get(in, s"expected-$n.properties"))
    val dir = unitDir(ctx)
    val base = placePreload(ctx, s"$dir/t")
    val wal = Paths.get(dir, "wal")
    Files.createDirectories(wal)
    val bytes = (0 until n).map(c =>
      Files.readAllBytes(Paths.get(in, "chunks", f"chunk-$c%06d.bin")))
    val due = new Array[Long](n)
    val done = new Array[Long](n)
    def emit(c: Int): Unit = {
      val tmp = wal.resolve(f".tmp-$c%06d")
      Files.write(tmp, bytes(c))
      Files.move(tmp, wal.resolve(f"chunk-$c%06d.bin"), StandardCopyOption.ATOMIC_MOVE)
      done(c) = System.currentTimeMillis()
    }
    // The processing-time trigger fires on wall-clock multiples of its
    // interval. Start every window at the same phase of that grid, so every
    // run cuts the chunk stream into the same batches: the first trigger
    // after batch 0 comes 9/10 of an interval in, after batch 0 (about 3 s
    // on a 4-core host) has ended.
    val trigMs = TriggerSeconds * 1000L
    Thread.sleep(java.lang.Math.floorMod(trigMs / 10 - System.currentTimeMillis(), trigMs))
    val t0 = System.currentTimeMillis()
    withSession(ctx, cores, hooks) { spark =>
      val lake = LakeTable.load(spark, s"$dir/t")
      val trigger = Trigger.ProcessingTime(TriggerSeconds * 1000L)
      val g0 = System.currentTimeMillis()
      (0 until n).foreach(c => due(c) = g0 + c * 1000L / ChunksPerSecond)
      emit(0)
      val cpu0 = Common.processCpuS
      val q = hooks match {
        case None => CdcStream.start(spark, s"$dir/wal/chunk-*.bin", s"$dir/ckpt",
          Seq(route(lake)), maxFilesPerTrigger = 100000, trigger = trigger,
          format = "pgoutput")
        case Some(h) => TracedStream.start(spark, s"$dir/wal/chunk-*.bin",
          s"$dir/ckpt", Seq(route(lake)), h.tracer, h.probes, "pgoutput", 100000, trigger)
      }
      val gen = new Thread(() => (1 until n).foreach { c =>
        val wait = due(c) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        emit(c)
      }, "perfbench-generator")
      gen.start()
      try {
        gen.join()
        q.processAllAvailable()
      } finally q.stop()
      val cpu = Common.processCpuS - cpu0
      val first = firstBatchMs(s"$dir/ckpt")
      // ---- outside the timed window
      val stats = LakeStats.of(lake, base, withRows = hooks.isDefined)
      val vers = stats.versions
      val visible = (0 until n).map { c =>
        vers.find(_.properties.getOrElse("lsn-high-watermark", "-1").toLong >=
          chunkLastLsn(c)).map(_.timestampMs).getOrElse(Long.MaxValue)
      }
      val fresh = (0 until n).map(c => (visible(c) - due(c)) / 1000.0)
      val lateness = (0 until n).map(c => (done(c) - due(c)) / 1000.0)
      val gEnd = done(n - 1)
      // batch N started when its offset-log entry was written
      val lastStart = graft.lake.LakeTable.listDir(Paths.get(dir, "ckpt", "offsets"))(
        _.filter(_.getFileName.toString.forall(_.isDigit)).toSeq)
        .map(p => Files.getLastModifiedTime(p).toMillis).filter(_ <= gEnd).max
      val backlog = (0 until n).count(c => done(c) > lastStart)
      val backlogBound = TriggerSeconds * ChunksPerSecond
      val lastCommit = vers.map(_.timestampMs).max
      val snap = lake.snapshot()
      val got = Digest.of(lake.read())
      val failures =
        check(got.toString == exp("digest"), s"digest $got != model ${exp("digest")}") ++
        check(visible.forall(_ != Long.MaxValue), "a chunk never became visible") ++
        check(snap.properties.get("applied-ord-commit-epoch").contains(exp("last_ord")),
          s"applied-ord ${snap.properties.get("applied-ord-commit-epoch")} != ${exp("last_ord")}")
      val keepUp =
        check(lateness.max <= LatenessBoundS,
          f"generator ran ${lateness.max}%.3f s late (bound $LatenessBoundS s)") ++
        check(backlog <= backlogBound,
          s"backlog of $backlog chunks at generator end (bound $backlogBound)")
      val batches = vers.count(_.properties.contains("commit-epoch"))
      val layers = hooks.map { h =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        // the source layer, timed from outside: decode every chunk the
        // run consumed, single-threaded, the way the source's tasks do
        val (evs, decodeS) = Common.timed(bytes.map(b =>
          graft.sources.PgOutput.decodeChunk(b, "s0").size.toLong).sum)
        commonLayers(h, exp("dml").toLong) ++ lakeLayers(Seq(stats)) ++ Map(
          "lake.live_bytes_per_row" -> liveBytesPerRow(Seq(stats), got.rows),
          "sources.pgoutput.decode_s" -> decodeS,
          "sources.pgoutput.decode_events_per_s" -> evs / decodeS,
          "sources.pgoutput.bytes_per_event" -> bytes.map(_.length.toLong).sum.toDouble / evs)
      }.getOrElse(Map.empty)
      UnitResult((first - t0) / 1000.0, (lastCommit - first) / 1000.0,
        exp("dml").toLong, cpu, stats.addedBytes, fresh, failures, keepUp,
        Map("rows" -> got.rows, "lateness_s_p50" -> Common.median(lateness),
          "lateness_s_max" -> lateness.max, "backlog_end_chunks" -> backlog,
          "batches" -> batches, "freshness_samples" -> n), layers)
    }
  }
}
