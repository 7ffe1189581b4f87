package graft.perfbench

import graft.config.MapConfig
import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMode, Transcripts}
import graft.operators.{History, SignatureStore, TextPipeline}
import graft.streaming.{CdcStream, Orchestrator}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths}

/** fanout_mixed: one parquet WAL carrying three source tables, drained
  * through `Orchestrator.runAvailable` with a map file — a clone target
  * with a signature companion, a history (SCD2) target, and an append
  * target behind a CEL row filter. The label companion is off: it costs
  * about 5 s per batch warm and 20 s cold on a 4-core host, more than the
  * per-run budget holds (README.md, Limits). */
object FanoutMixed extends Workload("fanout_mixed") {
  import Inputs._

  private val targets = Seq("conv_clone", "conv_history", "tool_append")
  private val companions = Seq("conv_clone_signatures")
  private val specs = targets.map(t => t -> Transcripts.spec(t, 16)).toMap

  def sizes(ctx: Ctx): Map[String, Any] = Map("events" -> FanoutEvents,
    "batches" -> FanoutBatches, "source_tables" -> FanoutTables.size,
    "clone_only_batch" -> CloneOnlySegment, "buckets" -> 16)

  def prepare(spark: SparkSession, ctx: Ctx): Unit = {
    val dir = inputDir(ctx)
    if (Files.exists(Paths.get(dir, "expected.properties"))) return
    Common.deleteRecursively(Paths.get(dir))
    val seed = ctx.seed
    writeSegments(spark, s"$dir/wal", FanoutEvents, FanoutBatches, 1)(
      id => Inputs.fanoutEvent(id, seed))
    val cols = Transcripts.schema.fieldNames.toSeq
    val clone = new Model(append = false, cols)
    val app = new Model(append = true, cols, appendKeep)
    var dml = 0L
    var id = 0L
    while (id < FanoutEvents) {
      val e = fanoutEvent(id, seed)
      if (e.op != "R") dml += 1
      e.source_table match {
        case "conversations" => clone.apply(e)
        case "tool_calls" => app.apply(e)
        case _ =>
      }
      id += 1
    }
    writeProps(Paths.get(dir, "expected.properties"), Map(
      "clone_digest" -> clone.digest, "clone_last_ord" -> clone.lastOrd,
      "append_digest" -> app.digest, "append_last_ord" -> app.lastOrd, "dml" -> dml))
  }

  private def epochKey(m: graft.model.TableMapping) = s"commit-epoch-bench-s0-${m.sourceTable}"

  /** The routes `Orchestrator.start` builds for this map on fresh tables
    * (traced runs drive them through [[TracedStream]]). */
  private def routes(spark: SparkSession, mapPath: String, root: String): Seq[CdcStream.Route] = {
    val db = MapConfig.load(mapPath).databases.head
    MapConfig.mappings(db, (_, tgt) =>
      specs.get(tgt).map(s => MapConfig.kindsOf(s.schema)).getOrElse(Map.empty)).map { m =>
      val spec0 = specs(m.target)
      val spec = if (m.mode == TableMode.History)
        spec0.copy(schema = History.historySchema(spec0.schema)) else spec0
      val lake = LakeTable.create(spark, s"$root/${m.target}", spec)
      val sink = MapConfig.signatureTarget(db, m).map { s =>
        CdcStream.SignatureSink(LakeTable.create(spark, s"$root/$s", SignatureStore.spec(s)),
          MapConfig.textColOf(db, m))
      }
      CdcStream.Route(m, lake, sidOverride = Some("s0"), epochKey = epochKey(m),
        signatures = sink)
    }
  }

  /** No warm-up in timed runs: a unit costs 20-40 s on a 4-core host and
    * the per-run budget holds one, so the measured unit includes the JVM's
    * first pass over the operator code (README.md, Limits). A traced run
    * discards one untraced unit first, so its traced and untraced units
    * both run warm. */
  override def warmup(ctx: Ctx, cores: Int, traced: Boolean): Option[UnitResult] =
    if (traced) Some(unit(ctx, cores, None)) else None

  /** Near-duplicate clusters of a signature table: connected components of
    * its LSH band-collision graph (documents sharing a band key), as
    * (components of two or more documents, size of the largest). */
  private def nearDupClusters(sig: DataFrame): (Int, Int) = {
    val r = TextPipeline.MinhashK / TextPipeline.Bands
    val groups = sig.select(col("doc_id"), posexplode(array((0 until TextPipeline.Bands).map(b =>
        concat((0 until r).map(j => col(s"h${b * r + j}")): _*)): _*)).as(Seq("band", "bk")))
      .where(col("bk").isNotNull)
      .groupBy("band", "bk").agg(collect_list("doc_id").as("ids"))
      .where(size(col("ids")) > 1)
      .collect().map(_.getSeq[String](2))
    val parent = scala.collection.mutable.HashMap[String, String]()
    def find(x: String): String = parent.get(x) match {
      case Some(p) if p != x => val root = find(p); parent(x) = root; root
      case _ => x
    }
    groups.foreach(ids => ids.tail.foreach { d =>
      val a = find(ids.head); val b = find(d)
      if (a != b) parent(b) = a
    })
    val sizes = groups.flatten.distinct.groupBy(find).values.map(_.size)
    (sizes.size, if (sizes.isEmpty) 0 else sizes.max)
  }

  def unit(ctx: Ctx, cores: Int, hooks: Option[Hooks]): UnitResult = {
    val in = inputDir(ctx)
    val exp = readProps(Paths.get(in, "expected.properties"))
    val dir = unitDir(ctx)
    val mapPath = s"$dir/map.json"
    Files.writeString(Paths.get(mapPath), fanoutMap(s"$in/wal/seg-*"))
    val root = s"$dir/targets"
    val ckpt = s"$dir/ckpt"
    val t0 = System.currentTimeMillis()
    withSession(ctx, cores, hooks) { spark =>
      import spark.implicits._
      val cpu0 = Common.processCpuS
      hooks match {
        case None => Orchestrator.runAvailable(spark, mapPath, root, specs, ckpt)
        case Some(h) => TracedStream.start(spark, s"$in/wal/seg-*", s"$ckpt/bench-s0",
          routes(spark, mapPath, root), h.tracer, h.probes, "parquet", 1,
          Trigger.AvailableNow()).awaitTermination()
      }
      val t1 = System.currentTimeMillis()
      val cpu = Common.processCpuS - cpu0
      val first = firstBatchMs(s"$ckpt/bench-s0")
      // ---- outside the timed window: correctness + write accounting
      val lakes = (targets ++ companions).map(t => t -> LakeTable.load(spark, s"$root/$t")).toMap
      val stats = (targets ++ companions).map(t => t -> LakeStats.of(lakes(t), 1L,
        withRows = hooks.isDefined)).toMap
      val last = FanoutBatches - 1
      val fresh = (0 until FanoutBatches).map { i =>
        stats.values.map(_.versions.find(_.properties.exists { case (k, v) =>
          k.startsWith("commit-epoch-") && v.toLong >= i }).map(_.timestampMs)
          .getOrElse(Long.MaxValue)).max
      }.map(v => (v - first) / 1000.0)
      val db = MapConfig.load(mapPath).databases.head
      val maps = MapConfig.mappings(db).map(m => m.target -> m).toMap
      def props(t: String) = lakes(t).snapshot().properties
      val cloneD = Digest.of(lakes("conv_clone").read())
      val appD = Digest.of(lakes("tool_append").read())
      // history: the incremental SCD2 table must equal one batch of the log
      val hist = LakeTable.create(spark, s"$dir/check/hist",
        specs("conv_history").copy(schema = History.historySchema(Transcripts.schema)))
      History.applyBatch(hist, spark.read.schema(ChangeEvent.schema)
        .parquet((0 until FanoutBatches).map(i => f"$in/wal/seg-$i%05d"): _*).withColumn("sid", lit("s0")).as[ChangeEvent],
        maps("conv_history"), 0L)
      val histOk = Digest.of(hist.read()).toString ==
        Digest.of(lakes("conv_history").read()).toString
      // companions: equal to from-scratch bootstraps off the final clone
      val sig = LakeTable.create(spark, s"$dir/check/sig", SignatureStore.spec("sig"))
      SignatureStore.bootstrap(sig, lakes("conv_clone"), "text", force = true)
      val sigOk = Digest.of(sig.read()).toString ==
        Digest.of(lakes("conv_clone_signatures").read()).toString
      val (clusters, largest) = nearDupClusters(lakes("conv_clone_signatures").read())
      val failures =
        check(cloneD.toString == exp("clone_digest"), s"clone digest $cloneD != model ${exp("clone_digest")}") ++
        check(appD.toString == exp("append_digest"), s"append digest $appD != model ${exp("append_digest")}") ++
        check(histOk, "history target != single-batch History.applyBatch of the log") ++
        check(sigOk, "signatures != SignatureStore.bootstrap of the clone target") ++
        check(clusters >= 2 && 2 * largest <= cloneD.rows,
          s"$clusters near-duplicate clusters, largest $largest of ${cloneD.rows} rows") ++
        targets.flatMap { t =>
          val k = epochKey(maps(t))
          check(props(t).get(k).contains(last.toString), s"$t $k ${props(t).get(k)} != $last")
        } ++
        check(props("conv_clone").get(s"applied-ord-${epochKey(maps("conv_clone"))}")
          .contains(exp("clone_last_ord")), "clone applied-ord != last routed event") ++
        check(props("tool_append").get(s"applied-ord-${epochKey(maps("tool_append"))}")
          .contains(exp("append_last_ord")), "append applied-ord != last routed event") ++
        check(!fresh.exists(_.isInfinite), "a batch never became visible on every target")
      val layers = hooks.map { h =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        val all = (targets ++ companions).map(stats)
        val rows = (targets ++ companions).map(t => lakes(t).read().count()).sum
        commonLayers(h, exp("dml").toLong) ++ lakeLayers(all) +
          ("lake.live_bytes_per_row" -> liveBytesPerRow(all, rows))
      }.getOrElse(Map.empty)
      UnitResult((first - t0) / 1000.0, (t1 - first) / 1000.0, exp("dml").toLong,
        cpu, stats.values.map(_.addedBytes).sum, fresh, failures,
        info = Map("clone_rows" -> cloneD.rows, "append_rows" -> appD.rows,
          "near_dup_clusters" -> clusters, "largest_cluster" -> largest), layers = layers)
    }
  }
}
