package graft.operators

import graft.lake.{LakeTable, LineageEntry}
import graft.model.{ChangeEvent, TableMapping}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SCD2 "history" table mode (`streamer/process_history.go`, reference docs
  * `040-streaming-modes.md:40-111`): every change appends a validity-
  * interval version row with `kvsz_start`, `kvsz_end`, `kvsz_deleted`.
  *
  * Faithful semantics (incl. the reference's quirks):
  *   - INSERT appends an open version with kvsz_start = 1900-01-01
  *     (`process_message.go:254-256`) and closes nothing — two open
  *     versions can coexist after insert-then-insert.
  *   - UPDATE closes ALL open versions of the key (kvsz_end = t), then
  *     appends a new open version with kvsz_start = t — unconditionally,
  *     even if nothing was open (`process_history.go:56-89`). An omitted
  *     (unchanged-TOAST) column is NULL in the new version, not carried
  *     over (insertHistory binds only the present values).
  *   - PK-update (old=K) closes the OLD key's open versions and appends
  *     the new version under the NEW key.
  *   - DELETE sets kvsz_deleted = true + kvsz_end = t on open versions
  *     (soft delete, no new row) (`process_history.go:91-130`).
  *
  * Documented divergence: the reference stamps wall-clock `now()`
  * (non-reproducible); we derive t deterministically from (lsn, seq) so
  * replay is verifiable — same shape, reproducible values.
  */
object History {

  val KVSZ_OPEN = "9999-01-01 00:00:00"
  val KVSZ_T0 = "1900-01-01 00:00:00"

  /** kvsz_* columns appended to the payload schema for history targets. */
  def historySchema(payload: StructType): StructType = StructType(
    payload.fields.toSeq ++ Seq(
      StructField("kvsz_start", TimestampType, nullable = false),
      StructField("kvsz_end", TimestampType, nullable = false),
      StructField("kvsz_deleted", BooleanType, nullable = false)))

  /** Deterministic logical time for an event: 2001-01-01 + lsn seconds
    * + seq milliseconds (monotone in (lsn, seq)). */
  def histTime(lsn: Long, seq: Int): String = {
    val base = java.time.LocalDateTime.of(2001, 1, 1, 0, 0, 0)
    val t = base.plusSeconds(lsn).plusNanos(seq.toLong * 1000000L)
    t.format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
  }

  /** Catalyst-native batch fold (the twin of Replay.foldToXfDF for SCD2):
    * normalize events to HOp rows via expressions, then one key-partitioned
    * ordered window finds each version's next closer (its kvsz_end /
    * soft-delete flag) and each key's FIRST closer (which ends the
    * target's pre-existing open versions). Returns (newVersions,
    * closeInstructions, windowedOps) DataFrames with `key: array<string>`
    * plus typed payload columns; `windowedOps` is PERSISTED (the fold is
    * consumed by the touched-bucket probe AND the write — without it the
    * whole window fold executed twice per batch) and must be unpersisted
    * by the caller after the write. */
  private def foldDF(routed: DataFrame, mergeKey: Seq[String]): (DataFrame, DataFrame, DataFrame) = {
    def keyArr(src: Column): Column = array(mergeKey.map(c =>
      if (c == "sid") col("sid") else element_at(src, c)): _*)
    val ordBase = shiftleft(col("lsn"), 20) + col("seq") * 4
    val emptyMap = map().cast("map<string,string>")
    // whole timestamp from lsn seconds + seq milliseconds in ONE interval,
    // so seq >= 1000 rolls into seconds (matches histTime's plusNanos; a
    // string lpad would truncate seq > 999 and break monotonicity)
    val histT = date_format(lit("2001-01-01").cast("timestamp") +
      make_dt_interval(lit(0), lit(0), lit(0),
        (col("lsn") * 1000L + col("seq")).cast("decimal(23,0)") / 1000),
      "yyyy-MM-dd HH:mm:ss.SSS")
    def h(key: Column, sub: Int, kind: String, t: Column, after: Column): Column =
      struct(key.as("key"), (ordBase + sub).as("ord"), lit(kind).as("kind"),
        t.as("t"), after.as("after"))
    val halves =
      when(col("op") === "I",
        array(h(keyArr(col("after")), 1, "I", lit(KVSZ_T0), col("after"))))
      .when(col("op") === "U" && col("old_kind") === "K",
        array(h(keyArr(col("before")), 0, "C", histT, emptyMap),
          h(keyArr(col("after")), 1, "V", histT, col("after"))))
      .when(col("op") === "U",
        array(
          h(when(col("old_kind") === "O", keyArr(col("before")))
            .otherwise(keyArr(col("after"))), 0, "C", histT, emptyMap),
          h(when(col("old_kind") === "O", keyArr(col("before")))
            .otherwise(keyArr(col("after"))), 1, "V", histT, col("after"))))
      .when(col("op") === "D",
        array(h(keyArr(col("before")), 1, "CD", histT, emptyMap)))
    val ops = routed.filter(col("op").isin("I", "U", "D"))
      .select(explode(halves).as("x")).select("x.*")

    // next closer strictly after each row, per key: min struct(ord, t, del)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("ord"))
      .rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val closer = when(col("kind").isin("C", "CD"),
      struct(col("ord").as("o"), col("t").as("ct"),
        (col("kind") === "CD").as("cd")))
    val o = ops.withColumn("nx", min(closer).over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val versions = o.filter(col("kind").isin("I", "V")).select(
      col("key"),
      when(col("kind") === "I", lit(KVSZ_T0)).otherwise(col("t")).as("kvsz_start"),
      coalesce(col("nx.ct"), lit(KVSZ_OPEN)).as("kvsz_end"),
      coalesce(col("nx.cd"), lit(false)).as("kvsz_deleted"),
      col("after").as("vals"))
    // first closer per key ends the target's pre-existing open versions
    val closes = ops.filter(col("kind").isin("C", "CD"))
      .groupBy(col("key"))
      .agg(min(struct(col("ord").as("o"), col("t").as("ct"),
        (col("kind") === "CD").as("cd"))).as("fc"))
      .select(col("key"), col("fc.ct").as("closeT"), col("fc.cd").as("closeDel"))
    (versions, closes, o)
  }

  /** Apply one batch of events in history mode. Same idempotence and
    * routing contract as Replay.applyBatch. */
  def applyBatch(lake: LakeTable, events: Dataset[ChangeEvent],
                 mapping: TableMapping, batchId: Long,
                 epochKey: String = "commit-epoch"): Boolean = {
    val spark = events.sparkSession
    import spark.implicits._
    Replay.tuneSession(spark)

    if (batchId <= lake.snapshot().properties.getOrElse(epochKey, "-1").toLong)
      return false

    val routed0 = events.filter(Replay.routeCond(mapping))
    // P1 filter / P2 set over the decoded env, exactly as in clone mode —
    // the reference applies CEL BEFORE dispatching to history apply
    // (process_message.go:287-321). Env = the pre-evolution schema (CEL
    // programs are compiled as of map-refresh, mapping_table.go:156-169).
    val payloadEnv = StructType(
      lake.schema.fields.filterNot(_.name.startsWith("kvsz_")))
    val envSchema = mapping.sourceSchema.getOrElse(payloadEnv)
    val routed = Replay.filterTransform(routed0, mapping, envSchema)

    locally {
      // ONE stats pass over the batch (map-side partial agg, tiny result)
      // yields R-detection, emptiness, per-sid lineage and the per-batch op
      // counters — the same single-aggregation shape as Replay.applyBatch
      // (three separate passes cost three scans at micro-batch cadence)
      def collectStats(): Array[(String, String, Long, Long, Long, Long)] =
        routed.toDF().select("sid", "op", "lsn", "seq")
          .groupBy("sid", "op")
          .agg(min("lsn").as("lo"), max("lsn").as("hi"), count(lit(1)).as("n"),
            max(Replay.eventOrdCol).as("mo"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5)))

      // OVERLAP the stats job with the window fold (guide §2.6 — the same
      // independent-job overlap as Replay.applyBatch): the fold plan is
      // built optimistically against the CURRENT schema and its persist +
      // touched-bucket pass runs while the stats job computes; the stats
      // result is consumed BEFORE anything is written — an R message or a
      // DML-empty batch (both rare) ABORTS the optimistic merge with zero
      // side effects and the sequential path below redoes it against the
      // evolved schema. GRAFT_OVERLAP=0 restores the sequential order.
      var stats: Array[(String, String, Long, Long, Long, Long)] = null
      if (!sys.env.get("GRAFT_OVERLAP").contains("0")) {
        val statsFut =
          java.util.concurrent.CompletableFuture.supplyAsync(() => collectStats())
        val merged =
          try tryMerge(lake, routed, batchId, epochKey,
            () => Replay.joinUnwrapped(statsFut), rHandled = false)
          catch { case e: Throwable => statsFut.cancel(false); throw e }
        if (merged) return true
        stats = Replay.joinUnwrapped(statsFut) // aborted: R message or DML-empty batch
      } else stats = collectStats()

      // R-message schema evolution, before the apply (north rule) — same
      // evolve-then-merge contract as clone mode; the R rows themselves are
      // a bounded-small collect, taken only when the stats saw one
      if (stats.exists(_._2 == "R")) {
        val rels = routed.filter(col("op") === "R").collect().map(_.after).toSeq
        Replay.evolveSchema(lake, rels)
      }

      if (!stats.exists(s => s._2 == "I" || s._2 == "U" || s._2 == "D")) {
        lake.commit(Nil, Set.empty, properties = Map(epochKey -> batchId.toString))
        return true
      }

      tryMerge(lake, routed, batchId, epochKey, () => stats, rHandled = true)
    }
  }

  /** The fold + merge + write + commit body. Consumes `getStats` only
    * AFTER the fold's touched-bucket pass ran (so a deferred stats job
    * overlaps it) and BEFORE anything is written. Returns false — having
    * written nothing — when the stats reveal an R message (`rHandled` =
    * false) or a DML-empty batch; the caller then handles both
    * sequentially and retries with `rHandled = true`. */
  private def tryMerge(lake: LakeTable, routed: Dataset[ChangeEvent],
                       batchId: Long, epochKey: String,
                       getStats: () => Array[(String, String, Long, Long, Long, Long)],
                       rHandled: Boolean): Boolean = {
    locally {
      val snap0 = lake.snapshot()
      val schema = snap0.schema
      val mergeKey = (if (snap0.hasSid) Seq("sid") else Nil) ++ snap0.keyCols

      val (versions, closes0, foldedOps) = foldDF(routed.toDF(), mergeKey)
      try {
      val newTyped = versions.select(schema.fields.map { f =>
        f.name match {
          case "kvsz_start" => col("kvsz_start").cast(TimestampType).as(f.name)
          case "kvsz_end" => col("kvsz_end").cast(TimestampType).as(f.name)
          case "kvsz_deleted" => col("kvsz_deleted").as(f.name)
          case n if mergeKey.contains(n) =>
            element_at(col("key"), mergeKey.indexOf(n) + 1).cast(f.dataType).as(n)
          case n => Replay.castText(element_at(col("vals"), n), f.dataType).as(n)
        }
      }.toIndexedSeq: _*)

      val cdf = closes0.select(
        (mergeKey.zipWithIndex.map { case (c, i) =>
          element_at(col("key"), i + 1).cast(schema(c).dataType).as(s"__k_$c")
        } ++ Seq(col("closeT").cast(TimestampType).as("__closeT"),
          col("closeDel").as("__closeDel"))): _*)

      // every op row is either a version or a closer, so the touched key
      // set is ONE distinct over the persisted fold (the union of the two
      // projections re-derived both sides)
      val allKeysB = foldedOps.select(col("key")).distinct()
        .select(
          mergeKey.zipWithIndex.map { case (c, i) =>
            element_at(col("key"), i + 1).cast(schema(c).dataType).as(s"__k_$c")
          }: _*)
      val bucketOf = pmod(xxhash64(snap0.bucketCols.map(c => col(s"__k_$c")): _*),
        lit(snap0.numBuckets))
      val touched = allKeysB.select(bucketOf.cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet

      // the overlapped stats job has had the fold's wall time to finish;
      // consume it before anything is written
      val stats = getStats()
      if (!rHandled && stats.exists(_._2 == "R")) return false
      val dml = stats.filter(s => s._2 == "I" || s._2 == "U" || s._2 == "D")
      if (dml.isEmpty) return false

      val target = lake.read(buckets = Some(touched)).alias("t")
      val joinCond = mergeKey.map(c => col(s"t.$c") <=> col(s"x.__k_$c")).reduce(_ && _)
      val isOpen = col("t.kvsz_end") === lit(KVSZ_OPEN).cast(TimestampType)
      // Merge-outcome counters observed on the UNION via marker columns
      // (CollectMetrics — no extra pass): pre-existing open versions closed
      // by this batch, soft deletes among them, new version rows — clone-
      // mode parity for the reference's per-op result counters
      // (`streamer/metrics.go:11-53`). ONE observation, attached to a node
      // descending from the target side: inside foreachBatch the batch DF
      // belongs to the micro-batch's cloned session, and an Observation
      // registered there never sees the write (which executes on the lake's
      // session) — two separate observations deadlocked on exactly that.
      val closing = col("x.__closeT").isNotNull && isOpen
      // SHUFFLE_HASH on the batch-bounded close-instruction side (same
      // rationale as Replay.mergeApply: skip both sort legs of the SMJ)
      val updatedTarget = target.join(cdf.alias("x").hint("shuffle_hash"),
          joinCond, "left_outer")
        .select(schema.fields.map { f =>
          f.name match {
            case "kvsz_end" =>
              when(closing, col("x.__closeT"))
                .otherwise(col("t.kvsz_end")).as(f.name)
            case "kvsz_deleted" =>
              when(closing && col("x.__closeDel"),
                lit(true)).otherwise(col("t.kvsz_deleted")).as(f.name)
            case n => col(s"t.$n").as(n)
          }
        }.toIndexedSeq :+ closing.as("__closed") :+
          (closing && col("x.__closeDel")).as("__softdel") :+
          lit(false).as("__isnew"): _*)

      val obs = org.apache.spark.sql.Observation(s"graft-hist-$batchId")
      val merged = updatedTarget
        .unionByName(newTyped
          .withColumn("__closed", lit(false))
          .withColumn("__softdel", lit(false))
          .withColumn("__isnew", lit(true)))
        .observe(obs,
          sum(when(col("__closed"), 1L).otherwise(0L)).as("closed"),
          sum(when(col("__softdel"), 1L).otherwise(0L)).as("soft_deleted"),
          sum(when(col("__isnew"), 1L).otherwise(0L)).as("inserted"))
        .drop("__closed", "__softdel", "__isnew")
      val withBucket = merged.withColumn("__bucket",
        pmod(xxhash64(snap0.bucketCols.map(col): _*), lit(snap0.numBuckets)))

      Replay.explain(s"history-merge-batch$batchId", merged)
      val newFiles = lake.writeDataFiles(withBucket, snap0.currentSchemaId)
      val removed = snap0.files.filter(f => touched.contains(f.bucket)).map(_.path).toSet
      // the write job ran -> the observation is available (an all-empty
      // union observes its sums as null -> 0)
      val m = obs.get.map { case (k, v) =>
        k -> Option(v).map(_.asInstanceOf[Long]).getOrElse(0L) }
      val lin = dml.groupBy(_._1).map { case (sid, ss) =>
        LineageEntry(sid, ss.map(_._3).min, ss.map(_._4).max, batchId, -1L)
      }.toSeq
      lake.writeMetrics(s"$epochKey-$batchId",
        dml.toSeq.sortBy(r => (r._1, r._2)).map { case (sid, op, _, _, n, _) =>
          (batchId, sid, "op", op, n) } ++
          m.toSeq.sortBy(_._1).map { case (k, v) =>
            (batchId, null: String, "merge", k, v) })
      // event-granular applied watermark (Replay.eventOrdCol), keyed per
      // epoch key — per (stream, mapping), like the epoch itself — so a
      // shared-target sibling route's commit can never floor this route's
      // unapplied events out of a healing catch-up replay
      val ordProps = {
        val k = s"applied-ord-$epochKey"
        Map(k -> math.max(dml.map(_._6).max,
          snap0.properties.getOrElse(k, "-1").toLong).toString)
      }
      lake.commit(newFiles, removed,
        properties = ordProps ++ Map(
          epochKey -> batchId.toString,
          "lsn-high-watermark" -> math.max(
            if (lin.isEmpty) -1L else lin.map(_.maxLsn).max,
            snap0.properties.getOrElse("lsn-high-watermark", "-1").toLong).toString),
        lineage = lin)
      true
      } finally foldedOps.unpersist(blocking = false)
    }
  }
}
