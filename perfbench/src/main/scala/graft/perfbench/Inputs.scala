package graft.perfbench

import graft.gen.Gen
import graft.model.ChangeEvent
import graft.sources.PgOutput.Wire
import org.apache.spark.sql.SparkSession

import java.nio.file.Paths

/** The workloads' input streams. Every event is a pure function of
  * (seed, position) built on `Gen.mkEvent`, so the sequential model can
  * replay exactly what the engine was given. */
object Inputs {

  def seedOf(seed: Long, salt: Long): Long = Gen.mix(seed * 0x9E3779B97F4A7C15L + salt)

  /** Write a log as `batches` lsn-contiguous segments and stamp their
    * mtimes a second apart, so the file source replays them in order. */
  def writeSegments(spark: SparkSession, dir: String, n: Long, batches: Int,
                    filesPerSegment: Int)(event: Long => ChangeEvent): Unit = {
    import spark.implicits._
    val per = (n + batches - 1) / batches
    val base = System.currentTimeMillis() - 3600000L
    (0 until batches).foreach { i =>
      val lo = i * per; val hi = math.min(n, lo + per)
      val seg = f"$dir/seg-$i%05d"
      spark.range(lo, hi, 1, Common.cores).map(id => event(id))
        .coalesce(filesPerSegment).write.parquet(seg)
      graft.lake.LakeTable.listDir(Paths.get(seg))(_.toSeq).foreach(p =>
        if (!p.toFile.setLastModified(base + i * 1000L))
          throw new IllegalStateException(s"cannot stamp mtime of $p"))
    }
  }

  // ---- trickle_pgoutput: new turns on the newest conversations ----------

  /** Events per newly created conversation and the window of recent
    * conversations a new turn may land on. */
  val TrickleConvEvents = 24L
  val TrickleWindow = 6
  val PreloadEvents = 40000L
  /** The pre-loaded table is written as this many commits of ascending
    * conversation ranges, so each bucket holds several zone-disjoint
    * files (the layout a live tail leaves behind). */
  val PreloadBatches = 2
  /** One chunk = 2 transactions of 4 events. */
  val ChunkEvents = 8
  val ChunksPerSecond = 30
  val TriggerSeconds = 5

  def trickleCfg(seed: Long): Gen.Config = Gen.Config(
    numEvents = Long.MaxValue, numConvs = TrickleWindow, turnsPerConv = 32,
    skew = 1.0, pPkUpdate = 0.05, pToast = 0.20, seed = seedOf(seed, 2),
    evolveAtId = Some(PreloadEvents / 3))

  /** Event `j` of the conversation stream: Gen's event with its
    * conversation moved onto the `TrickleWindow` most recently created
    * ones (ids ascend with j). */
  def trickleEvent(j: Long, cfg: Gen.Config): ChangeEvent = {
    val e = Gen.mkEvent(j, cfg)
    def remap(m: Map[String, String]): Map[String, String] =
      m.get("conv_id") match {
        case Some(c) if c != null =>
          val conv = math.max(0L, j / TrickleConvEvents - c.drop(1).toLong)
          m.updated("conv_id", f"c$conv%08d")
        case _ => m
      }
    if (e.op == "R") e else e.copy(before = remap(e.before), after = remap(e.after))
  }

  val TrickleCols: Seq[(String, Int)] = Seq("conv_id" -> 25, "turn_idx" -> 23,
    "role" -> 25, "text" -> 25, "tool" -> 25, "ts" -> 1114, "tokens" -> 23)

  /** Chunk `c` of the live tail as pgoutput wire bytes: the Relation
    * registry, then one Begin/DML/Commit transaction per lsn. */
  def trickleChunk(c: Int, cfg: Gen.Config): Array[Byte] = {
    val cols = TrickleCols.map(_._1)
    def vals(m: Map[String, String]): Seq[Option[String]] =
      cols.map(k => m.get(k).flatMap(Option(_)))
    val lo = PreloadEvents + c.toLong * ChunkEvents
    val evs = (lo until lo + ChunkEvents).map(trickleEvent(_, cfg))
    val msgs = evs.groupBy(_.lsn).toSeq.sortBy(_._1).flatMap { case (lsn, es) =>
      Wire.begin(lsn, lsn.toInt) +: es.sortBy(_.seq).map { e =>
        e.op match {
          case "I" => Wire.insert(1, vals(e.after))
          case "U" if e.old_kind == "K" =>
            Wire.update(1, vals(e.after), oldKey = Some(('K', vals(e.before))))
          case "U" => Wire.update(1, vals(e.after), toastAbsent =
            cols.indices.filterNot(i => e.after.contains(cols(i))).toSet)
          case "D" => Wire.delete(1, 'K', vals(e.before))
        }
      } :+ Wire.commit(lsn)
    }
    Wire.chunk(Wire.relation(1, "public", "transcripts", TrickleCols) +: msgs)
  }

  def chunkLastLsn(c: Int): Long =
    (PreloadEvents + (c + 1).toLong * ChunkEvents - 1) / 4 + 1

  // ---- fanout_mixed: three source tables, near-duplicate texts -------

  val FanoutEvents = 4000L
  val FanoutBatches = 2
  /** Segment that carries only the clone route's table (the other two
    * routes miss that batch). Its middle event is an R message adding a
    * `tokens` column to the clone target. */
  val CloneOnlySegment = 1
  val FanoutTables = Seq("conversations", "conversations_log", "tool_calls")

  /** Skew 2.0 is the setting `graft.Bench` drives `Gen` with. */
  def fanoutCfg(seed: Long, segment: Int): Gen.Config = Gen.Config(
    numEvents = FanoutEvents, numConvs = 60, turnsPerConv = 32, skew = 2.0,
    pPkUpdate = 0.05, pToast = 0.20, seed = seedOf(seed, 3),
    sourceTables = if (segment == CloneOnlySegment) FanoutTables.take(1)
      else FanoutTables,
    evolveAtId = Some(FanoutEvents / FanoutBatches * CloneOnlySegment + FanoutEvents / 4),
    numPartitions = Common.cores)

  def fanoutSegmentOf(id: Long): Int =
    (id / ((FanoutEvents + FanoutBatches - 1) / FanoutBatches)).toInt

  /** Texts are 25-word strings over a 5 000-word vocabulary. Half of them
    * are copies of one of `BaseTexts` base documents with `SwappedWords`
    * words replaced, so they form that many near-duplicate clusters; the
    * other half are independent (singletons). */
  val BaseTexts = 16
  val SwappedWords = 2

  private def word(h: Long): String = "w" + java.lang.Math.floorMod(h, 5000L)

  def wordText(t: String): String = {
    val h = Gen.mix(t.hashCode.toLong)
    if ((h & 1L) == 0L) (0 until 25).map(i => word(Gen.mix(h + i))).mkString(" ")
    else {
      val base = java.lang.Math.floorMod(h >> 1, BaseTexts.toLong)
      val swapped = (0 until SwappedWords).map(i =>
        java.lang.Math.floorMod(Gen.mix(h + 100 + i), 25L).toInt).toSet
      (0 until 25).map(i =>
        if (swapped.contains(i)) word(Gen.mix(h + i))
        else word(Gen.mix(-1L - base * 25 - i))).mkString(" ")
    }
  }

  def fanoutEvent(id: Long, seed: Long): ChangeEvent = {
    val e = Gen.mkEvent(id, fanoutCfg(seed, fanoutSegmentOf(id)))
    e.after.get("text") match {
      case Some(t) if t != null && e.op != "R" =>
        e.copy(after = e.after.updated("text", wordText(t)))
      case _ => e
    }
  }

  def fanoutMap(walGlob: String): String =
    s"""{"databases":[{"name":"bench",
       |  "urls":[{"url":"$walGlob","sid":"s0"}],
       |  "tables":{
       |    "conversations":{"type":"clone","target":"conv_clone",
       |                     "signatures":true},
       |    "conversations_log":{"type":"history","target":"conv_history"},
       |    "tool_calls":{"type":"append","target":"tool_append",
       |                  "filter":"role != \\"system\\"","lang":"cel"}}}]}""".stripMargin

  /** The append route's CEL filter, as the model evaluates it (a NULL
    * result keeps the row, like the engine). */
  def appendKeep(e: ChangeEvent): Boolean = {
    val m = if (e.op == "D") e.before else e.after
    val r = if (m == null) null else m.getOrElse("role", null)
    r == null || r != "system"
  }

}
