package graft.streaming

import graft.lake.LakeTable
import graft.model.{ChangeEvent, TableMapping, TableMode}
import graft.operators.{History, Replay}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming ingestion: the Spark analog of the reference's
  * replication loop (`streamer/replicate_database.go:237-338`).
  *
  *   - The file source over the event-log directory plays the replication
  *     slot: the checkpoint offset is the ack LSN (the reference acks the
  *     source only after the destination commit, `worker.go:135-165`; here
  *     the checkpoint advances only after `foreachBatch` returns, i.e.
  *     after the lake snapshot commit).
  *   - `maxFilesPerTrigger` plays the commit_delay batching knob (W9,
  *     `worker.go:61-104`) and the full-sync rate limit (A2).
  *   - Exactly-once: if the process dies between the lake commit and the
  *     checkpoint commit, the batch is replayed on restart and skipped by
  *     the epoch check in `Replay.applyBatch` (commit-epoch snapshot
  *     property) — the idempotent-replay analog of `ON CONFLICT DO
  *     NOTHING` (`process_clone.go:195`).
  *   - One stream fans out to many table mappings (the reference's
  *     multi-table map, `streamer/map.go`): each target table carries its
  *     own epoch, so a crash between two tables' commits in one batch also
  *     replays safely.
  *   - MULTIPLE streams (one per source URL, Orchestrator) may fan into
  *     one target: applies serialize on a per-table-root lock — the exact
  *     analog of the reference routing all ops of one table to ONE worker
  *     (`worker.go:106-108`) — and each stream uses its own epoch property
  *     key, so idempotent-replay bookkeeping never collides across
  *     sources.
  */
object CdcStream {

  /** Companion signatures table maintained per applied micro-batch (the
    * ingest half of incremental dedup — SignatureStore). */
  /** @param labels optional duplicate-cluster label table folded forward
    *               AFTER the signature commit (LabelStore reads the
    *               post-commit signature rows); it keeps its own epoch on
    *               its own snapshot, so a crash between any two of the
    *               three commits replays exactly the missing halves */
  final case class SignatureSink(lake: LakeTable, textCol: String = "text",
                                 labels: Option[LakeTable] = None)

  /** @param sidOverride stamp every event with this tenant sid (the
    *                    reference assigns the sid per source URL in config,
    *                    `map.go:17-43` — it is NOT wire data)
    * @param epochKey    snapshot-property key for this stream's
    *                    exactly-once epoch (per-source to survive fan-in)
    * @param signatures  optional near-dup signature table updated from the
    *                    same batch after the main merge; it keeps its own
    *                    epoch on its own snapshot, so a crash between the
    *                    two commits replays only the missing half
    * @param ordFloor    drop events at or below this applied position
    *                    ((lsn << 20) | (seq << 1) | 1 — Replay.eventOrdCol)
    *                    before applying (anomaly healing: a lost checkpoint
    *                    replays the whole WAL, and the floor — the table's
    *                    recorded event-granular applied watermark — turns
    *                    that into a zone-pruned catch-up instead of a
    *                    duplicate apply; event granularity because one lsn's
    *                    events can straddle a batch boundary); -1 = off */
  final case class Route(mapping: TableMapping, lake: LakeTable,
                         sidOverride: Option[String] = None,
                         epochKey: String = "commit-epoch",
                         signatures: Option[SignatureSink] = None,
                         ordFloor: Long = -1L)

  /** One lock per table root: cross-stream applies to one lake serialize
    * (single-writer commit protocol; see class doc). Shared with the
    * orchestrator so an initial full sync for a later URL cannot commit
    * concurrently with an earlier URL's already-running stream. */
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  // graft-wide: maintenance (Main) and admin endpoints serialize against
  // live stream applies on the same lock
  private[graft] def lockFor(root: String): Object =
    tableLocks.computeIfAbsent(root, _ => new Object)

  /** Lock-serialized snapshot vacuum for one table root — the ONE
    * implementation behind the admin endpoint and Main's maintenance loop
    * (two copies of the lock discipline would inevitably diverge).
    * @return (expired manifests, reclaimed data files) */
  private[graft] def vacuumUnderLock(spark: SparkSession, root: String,
                                     retainVersions: Int): (Int, Int) =
    lockFor(root).synchronized {
      LakeTable.load(spark, root).vacuum(retainVersions = retainVersions)
    }

  /** Lock-serialized bucket compaction for one table root (see
    * [[vacuumUnderLock]]). @return buckets compacted */
  private[graft] def compactUnderLock(spark: SparkSession, root: String,
                                      maxFilesPerBucket: Int): Int =
    lockFor(root).synchronized {
      LakeTable.load(spark, root).compact(maxFilesPerBucket = maxFilesPerBucket)
    }

  /** Both sources list their files on the driver. The event-log glob
    * expands to one root path per segment or chunk file, and past 32 root
    * paths Spark's `InMemoryFileIndex` lists them with a distributed job,
    * one task per path, in both `latestOffset` and `getBatch` of every
    * trigger. [[Replay.tuneSession]] raises that threshold before the
    * source is built (the stream clones its session at start, so a later
    * setting would not reach it).
    *
    * @param format "parquet" (WAL-shaped parquet event log, default) or
    *               "pgoutput" (self-contained pgoutput chunk files decoded
    *               by graft.sources.PgOutput — same checkpoint-as-ack
    *               contract, each chunk file is one source unit) */
  def start(spark: SparkSession,
            eventLogGlob: String,
            checkpointDir: String,
            routes: Seq[Route],
            salts: Int = 0,
            maxFilesPerTrigger: Int = 1,
            trigger: Trigger = Trigger.AvailableNow(),
            format: String = "parquet"): StreamingQuery = {
    import spark.implicits._
    val src = format match {
      case "parquet" =>
        Replay.tuneSession(spark)
        spark.readStream
          .schema(ChangeEvent.schema)
          .option("maxFilesPerTrigger", maxFilesPerTrigger)
          .parquet(eventLogGlob)
      case "pgoutput" =>
        // sid is config data (not wire data): when every route re-stamps
        // it, the source-level value is a dead placeholder; a route
        // WITHOUT an override would really ingest the source-level sid,
        // so pass "" and let the decoder warn loudly
        val srcSid =
          if (routes.nonEmpty && routes.forall(_.sidOverride.isDefined))
            routes.head.sidOverride.get
          else ""
        graft.sources.PgOutput.readChunksStream(spark, eventLogGlob,
          srcSid, maxFilesPerTrigger).toDF()
      case other =>
        throw new IllegalArgumentException(s"unknown event-log format '$other'")
    }

    src.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df0: DataFrame, batchId: Long) =>
        // Multi-consumer batches re-scan the source once per action: the
        // doc merge alone takes 3 passes, and signature/label companions
        // add several more — persist the micro-batch ONCE when companions
        // are attached (single-route batches keep the plain scan: a
        // vectorized re-scan is cheaper than the columnar cache build, the
        // round-2 A/B on the scaling bench). pgoutput batches persist
        // unconditionally: their "re-scan" is a full wire DECODE of the
        // chunk, not a vectorized parquet read.
        val multi = routes.exists(_.signatures.isDefined) || format == "pgoutput"
        val df = if (multi)
          df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else df0
        try {
        routes.foreach { r =>
          // (lsn, seq) floor as a Column predicate tree — Or(Gt(lsn),
          // And(Eq(lsn), Gt(seq))) pushes down to the parquet scan, so a
          // healing catch-up replay reads only the row groups past the
          // applied watermark; the seq leg keeps the remainder of a
          // batch-boundary-straddling lsn (row-loss fix)
          val floored =
            if (r.ordFloor >= 0L) {
              import org.apache.spark.sql.functions.col
              val fLsn = r.ordFloor >> 20
              val fSeq = (r.ordFloor >> 1) & ((1L << 19) - 1)
              df.filter(col("lsn") > fLsn ||
                (col("lsn") === fLsn && col("seq") > fSeq))
            } else df
          val events = (r.sidOverride match {
            case Some(s) => floored.withColumn("sid", lit(s))
            case None => floored
          }).as[ChangeEvent]
          lockFor(r.lake.root).synchronized {
            if (r.mapping.mode == TableMode.History)
              History.applyBatch(r.lake, events, r.mapping, batchId, r.epochKey)
            else
              Replay.applyBatch(r.lake, events, r.mapping, batchId, salts, r.epochKey)
          }
          r.signatures.filter(_ => r.mapping.mode != TableMode.History)
            .foreach { s =>
              lockFor(s.lake.root).synchronized {
                graft.operators.SignatureStore.applyBatch(s.lake, events,
                  r.mapping, r.lake, s.textCol, batchId = batchId,
                  epochKey = r.epochKey)
              }
              s.labels.foreach { l =>
                lockFor(l.root).synchronized {
                  graft.operators.LabelStore.applyBatch(l, s.lake, events,
                    r.mapping, r.lake, s.textCol, batchId = batchId,
                    epochKey = r.epochKey)
                }
              }
            }
        }
        } finally if (multi) df.unpersist(blocking = false)
      }
      .start()
  }

  /** Run to completion of currently-available input and stop (used by
    * tests and batch-style backfills). */
  def runAvailable(spark: SparkSession, eventLogGlob: String,
                   checkpointDir: String, routes: Seq[Route],
                   salts: Int = 0, maxFilesPerTrigger: Int = 1,
                   format: String = "parquet"): Unit = {
    val q = start(spark, eventLogGlob, checkpointDir, routes, salts,
      maxFilesPerTrigger, Trigger.AvailableNow(), format)
    q.awaitTermination()
  }
}
