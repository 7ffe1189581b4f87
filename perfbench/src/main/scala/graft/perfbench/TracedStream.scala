package graft.perfbench

import graft.model.{ChangeEvent, TableMode}
import graft.operators.{History, LabelStore, Replay, SignatureStore}
import graft.streaming.CdcStream
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The traced run's stream: the same source and the same per-batch
  * operator calls `CdcStream.start` makes, each wrapped in a span, plus a
  * timed `LakeTable.snapshot()` per target after every batch. Used only
  * by traced runs; timed runs drive `CdcStream` / `Orchestrator` as
  * shipped. */
object TracedStream {

  /** Timed snapshot reads, and (span id, table, version before, version
    * after) of every clone/append apply — read after the run to find the
    * route-miss batches (an epoch-only commit). */
  final class Probes {
    val snapshotS = scala.collection.mutable.ArrayBuffer[Double]()
    val applies = scala.collection.mutable.ArrayBuffer[(Int, graft.lake.LakeTable, Long, Long)]()
  }

  def start(spark: SparkSession, glob: String, checkpoint: String,
            routes: Seq[CdcStream.Route], tracer: Tracer, probes: Probes,
            format: String, maxFilesPerTrigger: Int,
            trigger: Trigger): StreamingQuery = {
    import spark.implicits._
    val src = format match {
      case "parquet" => spark.readStream.schema(ChangeEvent.schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(glob)
      case "pgoutput" => graft.sources.PgOutput.readChunksStream(spark, glob,
        routes.head.sidOverride.getOrElse(""), maxFilesPerTrigger).toDF()
    }
    src.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (df0: DataFrame, batchId: Long) =>
        // the stream thread pins every job's call site to the query's
        // start(); clear it so jobs carry the engine frame that ran them
        spark.sparkContext.clearCallSite()
        tracer.span("streaming.batch") {
          val multi = routes.exists(_.signatures.isDefined) || format == "pgoutput"
          val df = if (multi)
            df0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else df0
          try routes.foreach { r =>
            val events = (r.sidOverride match {
              case Some(s) => df.withColumn("sid", lit(s))
              case None => df
            }).as[ChangeEvent]
            if (r.mapping.mode == TableMode.History)
              tracer.span("operators.history.apply") {
                History.applyBatch(r.lake, events, r.mapping, batchId, r.epochKey)
              }
            else {
              val (id, v0) = (tracer.spans.size, r.lake.currentVersion)
              tracer.span("operators.replay.apply") {
                Replay.applyBatch(r.lake, events, r.mapping, batchId, 0, r.epochKey)
              }
              probes.applies += ((id, r.lake, v0, r.lake.currentVersion))
            }
            r.signatures.foreach { s =>
              tracer.span("operators.signaturestore.apply") {
                SignatureStore.applyBatch(s.lake, events, r.mapping, r.lake,
                  s.textCol, batchId = batchId, epochKey = r.epochKey)
              }
              s.labels.foreach { l =>
                tracer.span("operators.labelstore.apply") {
                  LabelStore.applyBatch(l, s.lake, events, r.mapping, r.lake,
                    s.textCol, batchId = batchId, epochKey = r.epochKey)
                }
              }
            }
          } finally if (multi) df.unpersist(blocking = false)
          routes.flatMap(r => r.lake +: r.signatures.toSeq.flatMap(s =>
            s.lake +: s.labels.toSeq)).foreach { l =>
            val t0 = System.nanoTime()
            l.snapshot()
            probes.snapshotS += (System.nanoTime() - t0) / 1e9
          }
        }
      }
      .start()
  }
}
