package graft.operators

import graft.lake.{LakeTable, LineageEntry}
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch CDC replay: one micro-batch of change events merged into a lake
  * table. This is the Spark re-expression of the reference's hot path
  * (`streamer/process_message.go` -> `streamer/worker.go` ->
  * `streamer/process_clone.go`), restructured from row-at-a-time ordered
  * apply into a set-oriented plan:
  *
  *   mode filter (W4) -> row filter / column transform (P1, P2; the CEL
  *   analog as Catalyst `expr`) -> key extraction + PK-update normalization
  *   (R2) -> per-key fold to one row-state transformer (Xf algebra;
  *   replaces the per-table single-worker ordering,
  *   `streamer/worker.go:106-108`) -> bucket-pruned merge join against the
  *   lake table (W1-W3) -> atomic snapshot commit carrying epoch + LSN
  *   watermark + lineage (A1).
  *
  * Two equivalent fold strategies (cross-validated by tests + oracle):
  *   - [[foldToXfDF]] (default, salts = 0): the fold decomposed into
  *     per-column conditional aggregates — whole-stage codegen, map-side
  *     partial combine (the pre-merge local reduce for hot keys);
  *   - [[foldToXf]] (salts >= 1): the typed Xf fold with explicit
  *     contiguous-ord-range salting — the algebraic reference path.
  * The per-key Xf transformer is bit-equivalent to the reference's
  * sequential apply (see XfSpec), so last-write-wins convergence holds
  * under any partitioning.
  */
object Replay {

  /** Session-level runtime tuning the engine depends on, applied once per
    * session (idempotent, runtime-settable SQL confs only).
    *
    * canChangeCachedPlanOutputPartitioning: every merge path persists its
    * batch-bounded fold (`mergeApply`'s xdf, the signature fold, the label
    * kernels' pinned frames). With the flag off (Spark's default, kept for
    * plan-stability of long-lived caches) the cached plan materializes at
    * the static shuffle-partition count, so every downstream pass over a
    * tiny cached fold pays a full-width stage of near-empty tasks; with it
    * on, AQE right-sizes the cached layout from actual bytes — few
    * partitions for a small micro-batch, full width for a large one. This
    * is the scale-ADAPTIVE fix (the non-adaptive alternative, a fixed
    * repartition(n) before persist, would be tuned to one host).
    *
    * parallelPartitionDiscovery.threshold = Int.MaxValue: files are
    * always listed on the driver, never by a Spark listing job with one
    * task per root path (why the stream sources need it: CdcStream.start).
    * The WAL and the lake are local files: a driver stat costs
    * microseconds, a listing job about a second. */
  private val tunedSessions =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[SparkSession, java.lang.Boolean]())
  private[graft] def tuneSession(spark: SparkSession): Unit =
    if (tunedSessions.add(spark)) {
      spark.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      spark.conf.set("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
    }

  /** `f.join()`, rethrowing the failure itself rather than its
    * CompletionException wrapper: an overlapped job then fails with the
    * same exception type as the sequential path. */
  private[graft] def joinUnwrapped[T](f: java.util.concurrent.CompletableFuture[T]): T =
    try f.join()
    catch { case e: java.util.concurrent.CompletionException if e.getCause != null =>
      throw e.getCause
    }

  /** GRAFT_EXPLAIN=1: print `.explain("formatted")` of the named internal
    * frame to stdout between BEGIN/END markers (plan-evidence capture for
    * the merge/fold shapes, which never appear in a returned DataFrame). */
  private[graft] val explainPlans = sys.env.get("GRAFT_EXPLAIN").contains("1")
  private[graft] def explain(name: String, df: DataFrame): Unit =
    if (explainPlans) {
      println(s"==== PLAN BEGIN $name ====")
      df.explain("formatted")
      println(s"==== PLAN END $name ====")
    }

  /** Phase timing to stderr when GRAFT_TIMING=1 (perf diagnosis). The
    * label also becomes the Spark job description (thread-local, guide-
    * style job labeling) so job-level listeners/UI attribute time. */
  private val timing = sys.env.get("GRAFT_TIMING").contains("1")
  @inline private def timed[T](label: String)(f: => T): T = {
    if (!timing) f
    else {
      val sc = org.apache.spark.sql.SparkSession.active.sparkContext
      sc.setJobDescription(s"graft:$label")
      val t0 = System.nanoTime()
      val r = try f finally sc.setJobDescription(null)
      System.err.println(f"[timing] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
  }

  /** A normalized, keyed DML op: `ord` = (lsn, seq, sub) packed so that the
    * delete half of a PK-update (sub 0) sorts before its insert half
    * (sub 1) at identical (lsn, seq). */
  final case class KeyedOp(key: Seq[String], lsn: Long, ord: Long,
                           op: String, after: Map[String, String])

  final case class KeyXf(key: Seq[String], maxLsn: Long,
                         absentExists: Boolean, onAbsent: Map[String, String],
                         presentKind: Int, onPresent: Map[String, String])

  @inline private def packOrd(lsn: Long, seq: Int, sub: Int): Long =
    (lsn << 20) | (seq.toLong << 1) | sub.toLong // seq < 2^19, sub in {0,1}

  /** Event-granular applied position `(lsn << 20) | (seq << 1) | 1` —
    * monotone in (lsn, seq). Committed per sid as the `applied-ord-<sid>`
    * snapshot property so checkpoint-loss healing can floor the catch-up
    * replay at EVENT granularity: multiple events share one lsn (seq
    * orders them), and a micro-batch boundary can split one lsn's events
    * across WAL segments — an lsn-granular floor would silently drop the
    * unapplied remainder (row loss). */
  def eventOrdCol: Column = shiftleft(col("lsn"), 20) + col("seq") * 2 + 1

  // ---------------------------------------------------------------------
  // P1/P2: row filter & column transform over the decoded row env
  // ---------------------------------------------------------------------

  /** Decode one text-encoded value to `dt` — the set-oriented analog of
    * the reference's per-OID text codecs (`process_message.go:33-44`,
    * `decodeTextColumnData`). Scalars cast directly; arrays, structs and
    * maps arrive as JSON text (the reference passes composite/array
    * values through as text) and parse via from_json. */
  def castText(c: Column, dt: DataType): Column = dt match {
    case _: ArrayType | _: StructType | _: MapType => from_json(c, dt)
    case _ => c.cast(dt)
  }

  /** Decode the event's value map to typed columns of `schema` so that
    * filter/set expressions can reference plain column names — the analog
    * of the reference's CEL env (`streamer/process_message.go:82-114`).
    * For deletes the env is the old tuple (`process_message.go:354`). */
  private def envCol(schema: StructType): Column = {
    val src = when(col("op") === "D", col("before")).otherwise(col("after"))
    struct(schema.fields.map(f =>
      castText(element_at(src, f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
  }

  /** Resolve a user filter/set expression's column references against the
    * projected env struct by rewriting the PARSED expression tree — not
    * text substitution: a column name inside a string literal stays a
    * literal, and regex metacharacters in field names are inert (the
    * round-1 regex rewrite corrupted both). Matching is case-insensitive,
    * like Spark's own resolution. The rewritten tree is re-rendered to SQL
    * and wrapped as a Column (`expr`), keeping everything on the public
    * surface. */
  private[operators] def envExpr(exprSql: String, fields: Set[String],
                                 prefix: String): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    val lower = fields.map(_.toLowerCase)
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(exprSql)
    val rewritten = parsed.transformUp {
      case a: UnresolvedAttribute
          if a.nameParts.length == 1 && lower.contains(a.nameParts.head.toLowerCase) =>
        UnresolvedAttribute(Seq(prefix, a.nameParts.head))
    }
    expr(rewritten.sql)
  }

  /** P1 row filter + P2 column transform over the decoded row env — shared
    * by clone/append ([[applyBatch]]) and history (History.applyBatch)
    * modes, matching the reference's order: filter, then set, then mode
    * dispatch (`process_message.go:287-321` — history tables get the same
    * CEL stages before `process_history.go`).
    *
    * Filter: NULL result => keep, mirroring the reference's fail-open rule
    * (`process_message.go:116-135`) — e.g. a delete's old tuple carries
    * only the key, so a predicate over a non-key column evaluates to NULL
    * and must not drop the delete. R/T messages always pass.
    *
    * Set: replaces the value maps entirely (only set columns are written,
    * `process_message.go:239-245`); applied to `after` for I/U and to
    * `before` for U/D old tuples (the translated-key variant,
    * `process_clone.go:102-159`). */
  def filterTransform(events: Dataset[ChangeEvent], mapping: TableMapping,
                      envSchema: StructType): Dataset[ChangeEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val fields = envSchema.fieldNames.toSet

    val filtered: Dataset[ChangeEvent] = mapping.filter match {
      case Some(f) =>
        events.toDF()
          .withColumn("__env", envCol(envSchema))
          .filter(col("op") === "R" || col("op") === "T" ||
            coalesce(envExpr(f, fields, "__env"), lit(true)))
          .drop("__env")
          .as[ChangeEvent]
      case None => events
    }

    mapping.set match {
      case Some(sets) =>
        val df = filtered.toDF()
        val envAfter = struct(envSchema.fields.map(f =>
          castText(element_at(col("after"), f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
        val envBefore = struct(envSchema.fields.map(f =>
          castText(element_at(col("before"), f.name), f.dataType).as(f.name)).toIndexedSeq: _*)
        def setMap(): Column = map_from_arrays(
          array(sets.map(s => lit(s._1)): _*),
          array(sets.map { case (_, e) =>
            envExpr(e, fields, "__e").cast(StringType)
          }: _*))
        df.withColumn("__e", envAfter)
          .withColumn("after", when(col("op").isin("I", "U"), setMap())
            .otherwise(col("after")))
          .drop("__e")
          .withColumn("__e", envBefore)
          .withColumn("before", when(col("op").isin("U", "D") && col("old_kind") =!= "none",
            setMap()).otherwise(col("before")))
          .drop("__e")
          .as[ChangeEvent]
      case None => filtered
    }
  }

  /** R1 table routing as a native Column predicate (exact-then-regex,
    * `mapping_table.go:57-81`) — NOT a typed lambda filter, which would
    * force whole-row object deserialization (maps included) on every
    * downstream pass and defeat parquet column pruning. `regexp_like`
    * against `^(?:r)$` is a full match, so the regex is anchored.
    *
    * Matching is schema-qualified with default schema `public`
    * (`metadata.go:37-50`, `71-schema.robot`): a bare name on either side
    * means `public.<name>`, so mapping "events" routes "public.events"
    * and mapping "audit.events" does NOT route bare "events". The
    * partitions regex — like the reference, which splits the schema first
    * (`mapping_table.go` Match + splitSchema) — applies to the
    * SCHEMA-STRIPPED table name and additionally requires the schemas to
    * be equal: "public.events_p1" routes a public "events" mapping with
    * regex "events_p[0-9]", while "audit.events_p1" does not. */
  def routeCond(mapping: TableMapping): Column = {
    val ev = col("source_table")
    val evSchema = when(ev.contains("."), regexp_extract(ev, "^([^.]+)\\.", 1))
      .otherwise(lit("public"))
    val evBare = when(ev.contains("."), regexp_extract(ev, "^[^.]+\\.(.*)$", 1))
      .otherwise(ev)
    val (mSchema, mBare) = TableMapping.splitSchema(mapping.sourceTable)
    val schemaEq = evSchema === lit(mSchema)
    val exact = schemaEq && (evBare === lit(mBare))
    mapping.partitionsRegex.fold(exact)(r =>
      exact || (schemaEq && regexp_like(evBare, lit(s"^(?:$r)$$"))))
  }

  // ---------------------------------------------------------------------
  // R2: key extraction + PK-update normalization
  // ---------------------------------------------------------------------

  /** Normalize one event into keyed DML ops. PK-updates (old_kind "K",
    * `streamer/process_clone.go:48-77`) become delete(oldKey) +
    * insert(newKey) with sub-ordering preserved; replica-identity-full
    * (old_kind "O") takes the whole old row as the key. NOTE (documented
    * divergence): the reference's `UPDATE ... WHERE oldkey` is a no-op when
    * the old row is absent, while delete+insert creates the new row; on a
    * complete stream (the reference always full-syncs first,
    * `replicate_database.go:220-235`) the two are identical. */
  def normalize(ev: ChangeEvent, mergeKey: Seq[String],
                appendMode: Boolean): Seq[KeyedOp] = {
    def keyOf(m: Map[String, String]): Seq[String] =
      mergeKey.map(c => if (c == "sid") ev.sid else m.getOrElse(c, null))
    ev.op match {
      case "I" =>
        Seq(KeyedOp(keyOf(ev.after), ev.lsn, packOrd(ev.lsn, ev.seq, 1), "I", ev.after))
      case "U" if ev.old_kind == "K" =>
        Seq(
          KeyedOp(keyOf(ev.before), ev.lsn, packOrd(ev.lsn, ev.seq, 0), "D", Map.empty),
          KeyedOp(keyOf(ev.after), ev.lsn, packOrd(ev.lsn, ev.seq, 1), "I", ev.after))
      case "U" if ev.old_kind == "O" =>
        Seq(KeyedOp(keyOf(ev.before), ev.lsn, packOrd(ev.lsn, ev.seq, 1), "U", ev.after))
      case "U" =>
        Seq(KeyedOp(keyOf(ev.after), ev.lsn, packOrd(ev.lsn, ev.seq, 1), "U", ev.after))
      case "D" if !appendMode => // append mode drops deletes (W4)
        Seq(KeyedOp(keyOf(ev.before), ev.lsn, packOrd(ev.lsn, ev.seq, 1), "D", Map.empty))
      case _ => Nil // D in append mode, R, T(runcate: parsed, ignored — W8)
    }
  }

  // ---------------------------------------------------------------------
  // Salted two-phase fold (the skew strategy)
  // ---------------------------------------------------------------------

  /** Fold all ops of a batch to one transformer per key.
    *
    * Phase A salts by contiguous `ord` range (NOT by hash — Xf composition
    * is associative but not commutative, so each salt must hold a
    * contiguous run) and folds locally; phase B composes the <= `salts`
    * partials per key in range order. A hot conversation's events thus
    * spread over `salts` reducers before the single per-key compose. */
  def foldToXf(ops: Dataset[KeyedOp], salts: Int,
               ordRange: Option[(Long, Long)] = None): Dataset[KeyXf] = {
    val spark = ops.sparkSession
    import spark.implicits._

    def foldRun(key: Seq[String], run: Iterator[KeyedOp]): (Seq[String], Long, Xf) = {
      val sorted = run.toArray.sortBy(_.ord)
      var xf = Xf.identity
      var maxLsn = Long.MinValue
      sorted.foreach { o =>
        xf = xf.andThen(Xf.ofOp(o.op, o.after))
        if (o.lsn > maxLsn) maxLsn = o.lsn
      }
      (key, maxLsn, xf)
    }

    val folded: Dataset[(Seq[String], Long, Xf)] =
      if (salts <= 1) ops.groupByKey(_.key).mapGroups((k, it) => foldRun(k, it))
      else {
        val (lo, hi) = ordRange.getOrElse {
          val Row(l: Long, h: Long) = ops.select(min($"ord"), max($"ord")).head()
          (l, h)
        }
        val span = math.max(1L, hi - lo + 1)
        ops.groupByKey(o => (o.key, ((o.ord - lo).toDouble * salts / span).toInt))
          .mapGroups { (ks: (Seq[String], Int), it: Iterator[KeyedOp]) =>
            val (_, maxLsn, xf) = foldRun(ks._1, it)
            (ks._1, ks._2, maxLsn, xf)
          }
          .groupByKey(_._1)
          .mapGroups { (k, it) =>
            val parts = it.toArray.sortBy(_._2) // compose in range order
            val xf = parts.foldLeft(Xf.identity)((acc, p) => acc.andThen(p._4))
            (k, parts.map(_._3).max, xf)
          }
      }
    folded.map { case (k, maxLsn, xf) =>
      KeyXf(k, maxLsn, xf.absentExists, xf.onAbsent, xf.presentKind, xf.onPresent)
    }
  }

  // ---------------------------------------------------------------------
  // Catalyst-native fold (default): the Xf fold decomposed into per-column
  // conditional aggregates — no object (de)serialization, whole-stage
  // codegen end to end, and partial (map-side) aggregation gives the
  // pre-merge local reduce for hot keys natively.
  //
  // Derivation (provably equal to the sequential Xf fold; cross-checked
  // against the typed path + the DuckDB oracle):
  //   dl  = max ord of D ops          (segment boundary; null = no delete)
  //   fi  = min ord of I ops > dl     (the insert that creates the row)
  //   live = {op at fi} ∪ {U ops with ord > fi}
  //   onAbsent  = per column, last present value among live
  //   absentExists = fi ≠ null
  //   presentKind = dl null ? OVERRIDE : (fi ≠ null ? TO_ROW : TO_ABSENT)
  //   onPresent = OVERRIDE ? per-column last present among ALL U ops
  //                        : onAbsent   (suffix fold after the delete)
  // ---------------------------------------------------------------------

  /** Normalize routed DML events (R/T pre-filtered) into keyed op rows via
    * pure expressions; PK-updates explode into D(old)+I(new) halves. */
  def normalizeDF(routed: DataFrame, mergeKey: Seq[String],
                  appendMode: Boolean): DataFrame = {
    def keyArr(src: Column): Column = array(mergeKey.map(c =>
      if (c == "sid") col("sid") else element_at(src, c)): _*)
    val ordBase = shiftleft(col("lsn"), 20) + col("seq") * 2
    val emptyMap = map().cast("map<string,string>")
    def half(key: Column, sub: Int, op: Column, after: Column): Column =
      struct(key.as("key"), (ordBase + sub).as("ord"), op.as("op"), after.as("after"))
    val halves = when(col("op") === "U" && col("old_kind") === "K",
      array(
        half(keyArr(col("before")), 0, lit("D"), emptyMap),
        half(keyArr(col("after")), 1, lit("I"), col("after"))))
      .otherwise(array(half(
        when(col("op") === "D" || col("old_kind") === "O", keyArr(col("before")))
          .otherwise(keyArr(col("after"))),
        1, col("op"),
        when(col("op") === "D", emptyMap).otherwise(col("after")))))
    routed
      .filter(col("op").isin("I", "U", "D") &&
        !(lit(appendMode) && col("op") === "D"))
      .select(col("lsn"), explode(halves).as("h"))
      .select(col("lsn"), col("h.key").as("key"), col("h.ord").as("ord"),
        col("h.op").as("op"), col("h.after").as("after"))
  }

  /** Fold normalized op rows to one KeyXf-shaped row per key — the
    * Catalyst twin of [[foldToXf]]. One key-partitioned window pass (two
    * unbounded window aggs share the sort) + one hash aggregation with
    * map-side combine. */
  def foldToXfDF(ops: DataFrame, payloadCols: Seq[String]): DataFrame = {
    // NOTE an A/B (round 2) of pre-projecting the value map to typed
    // (value, present) column pairs before the exchange measured ~7%
    // SLOWER at the 1x2-core level — Tungsten's map encoding is already
    // compact and the extra projection node costs more than the per-row
    // key strings save. The map rides the shuffle as-is.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
    val o = ops
      .withColumn("dl", max(when(col("op") === "D", col("ord"))).over(w))
      .withColumn("fi", min(when(col("op") === "I" &&
        col("ord") > coalesce(col("dl"), lit(Long.MinValue)), col("ord"))).over(w))
    val live = col("ord") === col("fi") ||
      (col("op") === "U" && col("ord") > col("fi")) // fi null => false

    // per-column candidate: latest (ord, value) among rows matching cond
    // that carry the column; max over struct(ord, v) ignores nulls and
    // compares by the unique ord — genuine NULL values ride inside v
    def cand(cond: Column, c: String): Column =
      max(when(cond && map_contains_key(col("after"), c),
        struct(col("ord").as("o"),
          element_at(col("after"), c).as("v"))))

    val aggs =
      Seq(max(col("lsn")).as("maxLsn"), max(col("dl")).as("dl"),
        max(col("fi")).as("fi")) ++
      payloadCols.map(c => cand(live, c).as(s"__abs_$c")) ++
      payloadCols.map(c => cand(col("op") === "U", c).as(s"__upd_$c"))
    val g = o.groupBy(col("key")).agg(aggs.head, aggs.tail: _*)

    def mapOf(prefix: String): Column = map_from_entries(transform(
      filter(
        array(payloadCols.map(c =>
          struct(lit(c).as("key"),
            col(s"__${prefix}_$c").getField("v").as("value"),
            col(s"__${prefix}_$c").isNotNull.as("present"))): _*),
        e => e.getField("present")),
      e => struct(e.getField("key").as("key"), e.getField("value").as("value"))))

    val absMap = mapOf("abs")
    g.select(
      col("key"), col("maxLsn"),
      col("fi").isNotNull.as("absentExists"),
      when(col("fi").isNotNull, absMap).otherwise(map().cast("map<string,string>"))
        .as("onAbsent"),
      when(col("dl").isNull, lit(Xf.OVERRIDE))
        .when(col("fi").isNotNull, lit(Xf.TO_ROW))
        .otherwise(lit(Xf.TO_ABSENT)).as("presentKind"),
      when(col("dl").isNull, mapOf("upd"))
        .when(col("fi").isNotNull, absMap)
        .otherwise(map().cast("map<string,string>")).as("onPresent"))
  }

  // ---------------------------------------------------------------------
  // W1-W3: merge apply against the lake table
  // ---------------------------------------------------------------------

  /** Commit-time extras of one merge, produced by the stats pass: per-sid
    * lineage, the LSN high-watermark, cumulative-metric snapshot
    * properties, and the per-batch metrics-sidecar rows. */
  final case class CommitInfo(lineage: Seq[LineageEntry],
                              lsnHighWatermark: Long,
                              extraProps: Map[String, String],
                              metricsRows: Seq[(Long, String, String, String, Long)])

  /** Merge per-key transformers into the table: full-outer join on the
    * (null-safe) merge key over touched buckets only, then pure Catalyst
    * column expressions realize insert / TOAST-coalescing update / delete
    * — no UDF in the apply path. `keyXfs` is KeyXf-shaped: either
    * `foldToXf(...).toDF()` (typed salted path) or [[foldToXfDF]]. */
  def mergeApply(lake: LakeTable, keyXfs: DataFrame, batchId: Long,
                 lineage: Seq[LineageEntry],
                 lsnHighWatermark: Long,
                 extraProps: Map[String, String] = Map.empty,
                 epochKey: String = "commit-epoch",
                 metricsRows: Seq[(Long, String, String, String, Long)] = Nil): Map[String, Long] =
    mergeApplyDeferred(lake, keyXfs, batchId, epochKey,
      () => Some(CommitInfo(lineage, lsnHighWatermark, extraProps, metricsRows))).get

  /** [[mergeApply]] with the commit-time extras DEFERRED: `commitInfo` is
    * invoked after the fold + touched-bucket pass has executed and BEFORE
    * anything is written; returning None aborts the merge with no side
    * effects (nothing written or committed, the fold cache released).
    * This is what lets [[applyBatch]] overlap its stats job with the fold
    * job (guide §2.6): the stats result is only needed at commit time —
    * unless it reveals an R message or an empty batch, in which case the
    * abort path discards the optimistically-computed fold. */
  def mergeApplyDeferred(lake: LakeTable, keyXfs: DataFrame, batchId: Long,
                         epochKey: String,
                         commitInfo: () => Option[CommitInfo]): Option[Map[String, Long]] = {
    val spark = lake.spark
    val snap = lake.snapshot()
    val schema = snap.schema
    val mergeKey = (if (snap.hasSid) Seq("sid") else Nil) ++ snap.keyCols
    val keyType: Map[String, DataType] =
      mergeKey.map(c => c -> (if (c == "sid") StringType
        else schema(c).dataType)).toMap

    // flatten: key array -> typed key columns. Persisted: it is consumed
    // twice (touched-bucket pruning + the merge join) and recomputing it
    // would replay the whole fold, shuffles included.
    val x0 = keyXfs
    val xdf = x0.select(
      (mergeKey.zipWithIndex.map { case (c, i) =>
        element_at(col("key"), i + 1).cast(keyType(c)).as(s"__k_$c")
      } ++ Seq(col("maxLsn"), col("absentExists"), col("onAbsent"),
        col("presentKind"), col("onPresent"))): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {

    val xBucket = pmod(xxhash64(snap.bucketCols.map(c => col(s"__k_$c")): _*),
      lit(snap.numBuckets))
    // ONE pass over the folded keys yields both the touched-bucket set and
    // the batch's per-key-column bounds. The bounds double as ZONE
    // predicates on the target read: when a batch touches a narrow key
    // range (incremental steady state), whole files inside touched buckets
    // prune away and stay un-rewritten. Sound because a target row whose
    // key null-safe-equals some batch key has every key column inside the
    // batch's [min, max], so its file can never prune; columns where the
    // batch carries a NULL key value get no zone (stats don't cover nulls).
    val zoneCols = mergeKey.filter(c => graft.lake.LakeTable.statComparable(keyType(c)))
    val bucketAggs = zoneCols.flatMap(c => Seq(
      min(col(s"__k_$c")).as(s"mn_$c"), max(col(s"__k_$c")).as(s"mx_$c"),
      max(col(s"__k_$c").isNull.cast("int")).as(s"nl_$c")))
    val statRows = timed("fold+touched")(
      (if (bucketAggs.isEmpty) xdf.select(xBucket.cast("int").as("b")).distinct()
       else xdf.groupBy(xBucket.cast("int").as("b"))
         .agg(bucketAggs.head, bucketAggs.tail: _*))
        .collect())
    // the stats-pass outcome gates the merge here — after the fold ran,
    // before anything is written; None = abort (R message / empty batch)
    val ci = commitInfo() match {
      case Some(c) => c
      case None => return None // finally releases the fold cache
    }
    val touched: Set[Int] = statRows.map(_.getInt(0)).toSet
    val zones: Seq[graft.lake.Zone] =
      if (statRows.isEmpty || bucketAggs.isEmpty) Nil
      else zoneCols.flatMap { c =>
        val vals = statRows.flatMap(r => Seq(r.getAs[Any](s"mn_$c"),
          r.getAs[Any](s"mx_$c"))).filter(_ != null).map(_.toString)
        val anyNull = statRows.exists(r => r.getAs[Int](s"nl_$c") != 0) ||
          vals.length < statRows.length * 2
        if (anyNull || vals.isEmpty) None
        else {
          val cmp = graft.lake.LakeTable.statCompare(keyType(c)) _
          Some(graft.lake.Zone(c,
            lo = Some(vals.reduce((a, b) => if (cmp(a, b) <= 0) a else b)),
            hi = Some(vals.reduce((a, b) => if (cmp(a, b) >= 0) a else b))))
        }
      }

    // Fragmentation cap (the zone-pruning trade-off closed): files a zone
    // skips are NOT rewritten, so a bucket hit by many narrow-key batches
    // accumulates small files. Once a touched bucket exceeds the cap, its
    // zone pruning is disabled for this merge, so the whole bucket
    // rewrites into O(1) files — inline compaction with write
    // amplification bounded by the cap. (Knobs.compactFileCap — the
    // GRAFT_COMPACT_FILE_CAP / --compact-file-cap layered knob, def. 8.)
    val fileCap = graft.config.Knobs.compactFileCap
    val perBucket = snap.files.groupBy(_.bucket).view.mapValues(_.size).toMap
    val fragmented: Set[Int] =
      if (zones.isEmpty) Set.empty
      else touched.filter(b => perBucket.getOrElse(b, 0) > fileCap)

    val target = lake.read(buckets = Some(touched), zones = zones,
      zoneExemptBuckets = fragmented)
    val t = target.alias("t")
    // SHUFFLE_HASH hint on the batch side (guide §3.1): the folded delta is
    // micro-batch-bounded, so building its per-partition hash table is safe,
    // and the full-outer merge then skips BOTH sides' sorts (sort-merge was
    // the planner default). Full-outer broadcast is not a thing, so the
    // choice is SMJ vs SHJ; SHJ wins whenever one side is per-partition
    // hashable — exactly the delta's contract.
    val x = xdf.alias("x").hint("shuffle_hash")
    val joinCond = mergeKey.map(c => col(s"t.$c") <=> col(s"x.__k_$c"))
      .reduce(_ && _)
    val joined0 = t.join(x, joinCond, "full_outer")

    val tExists = mergeKey.map(c => col(s"t.$c").isNotNull).reduce(_ || _)

    // Merge-outcome counters observed ON the join itself (CollectMetrics —
    // no extra pass over the data). `delete_miss` is the reference's drift
    // alarm: a DELETE whose key is absent on the target
    // (`process_clone.go:306-311` logs + counts it); here it is the
    // batch-level analog — a per-key fold whose net effect is delete,
    // applied to a key the target does not have.
    val xn = col("x.presentKind").isNull
    val toAbsent = col("x.presentKind") === lit(Xf.TO_ABSENT)
    def cnt(cond: Column): Column =
      sum(when(!xn && cond, 1L).otherwise(0L))
    val obs = org.apache.spark.sql.Observation(s"graft-merge-$batchId")
    val joined = joined0.observe(obs,
      cnt(!tExists && col("x.absentExists")).as("inserted"),
      cnt(tExists && !toAbsent).as("updated"),
      cnt(tExists && toAbsent).as("deleted"),
      cnt(!tExists && !col("x.absentExists") && toAbsent).as("delete_miss"),
      cnt(!tExists && !col("x.absentExists") && !toAbsent).as("update_miss"))
    val xNull = col("x.presentKind").isNull
    val exists =
      when(xNull, lit(true)) // untouched row in a touched bucket
        .when(tExists, col("x.presentKind") =!= lit(Xf.TO_ABSENT))
        .otherwise(col("x.absentExists"))

    def valOf(f: StructField): Column = {
      if (mergeKey.contains(f.name))
        coalesce(col(s"t.${f.name}"), col(s"x.__k_${f.name}")).as(f.name)
      else {
        val fromAbsent = castText(element_at(col("x.onAbsent"), f.name), f.dataType)
        val fromPresent = castText(element_at(col("x.onPresent"), f.name), f.dataType)
        when(xNull, col(s"t.${f.name}"))
          .when(!tExists, fromAbsent)
          .when(col("x.presentKind") === lit(Xf.TO_ROW), fromPresent)
          // OVERRIDE: present key wins (incl. genuine NULL); absent key
          // keeps the target value (unchanged-TOAST, process_message.go:67-72)
          .when(map_contains_key(col("x.onPresent"), f.name), fromPresent)
          .otherwise(col(s"t.${f.name}"))
          .as(f.name)
      }
    }

    val merged = joined.filter(exists)
      .select(schema.fields.map(valOf).toIndexedSeq: _*)
    explain(s"replay-merge-batch$batchId", merged)
    val withBucket = merged.withColumn("__bucket",
      pmod(xxhash64(snap.bucketCols.map(col): _*), lit(snap.numBuckets)))

    val newFiles = timed("merge+write")(lake.writeDataFiles(withBucket, snap.currentSchemaId))
    timed("commit") {
    // remove EXACTLY the files the target read scanned: a zone-pruned file
    // was neither read nor rewritten, so it must stay live in the snapshot
    val removed = lake.selectFiles(buckets = Some(touched), zones = zones,
      zoneExemptBuckets = fragmented).map(_.path).toSet
    // the write job ran -> observed merge-outcome counters are available
    val m = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    // per-batch metrics sidecar, BEFORE the commit: a crash between the
    // two replays the batch and overwrites the same file (idempotent)
    lake.writeMetrics(s"$epochKey-$batchId",
      ci.metricsRows ++ m.toSeq.sortBy(_._1).map { case (k, v) =>
        (batchId, null: String, "merge", k, v) })
    // cumulative drift counter rides the same atomic commit (the
    // reference's delete-affected-0-rows alarm, process_clone.go:306-311)
    val drift = Map("metrics-delete-miss" ->
      (snap.properties.getOrElse("metrics-delete-miss", "0").toLong +
        m.getOrElse("delete_miss", 0L)).toString)
    lake.commit(newFiles, removed,
      properties = ci.extraProps ++ drift ++ Map(
        epochKey -> batchId.toString,
        "lsn-high-watermark" ->
          math.max(ci.lsnHighWatermark,
            snap.properties.getOrElse("lsn-high-watermark", "-1").toLong).toString),
      lineage = ci.lineage)
    Some(m)
    }
    } finally xdf.unpersist()
  }

  // ---------------------------------------------------------------------
  // Schema evolution (north rule: applied BEFORE the merge)
  // ---------------------------------------------------------------------

  private val widen: Map[(String, String), DataType] = Map(
    ("int", "bigint") -> LongType, ("smallint", "int") -> IntegerType,
    ("smallint", "bigint") -> LongType, ("float", "double") -> DoubleType)

  /** Diff in-stream Relation messages against the table schema and commit
    * added columns / widened types (vs the reference's ignore-until-dest-
    * altered rule, `docs/080-schema-modification.md:9-19` — we implement
    * the stronger evolve-then-merge rule). */
  def evolveSchema(lake: LakeTable, relations: Seq[Map[String, String]]): Unit = {
    if (relations.isEmpty) return
    val cur = lake.schema
    var fields = cur.fields.toVector
    var changed = false
    relations.foreach { rel =>
      rel.foreach { case (name, typeName) =>
        val dt = parseType(typeName)
        fields.indexWhere(_.name == name) match {
          case -1 =>
            fields :+= StructField(name, dt, nullable = true); changed = true
          case i =>
            val curT = fields(i).dataType.simpleString
            widen.get((curT, dt.simpleString)).foreach { w =>
              fields = fields.updated(i, fields(i).copy(dataType = w)); changed = true
            }
        }
      }
    }
    if (changed)
      lake.commit(Nil, Set.empty, newSchema = Some(StructType(fields)))
  }

  private def parseType(t: String): DataType = t.toLowerCase match {
    case "string" | "text" | "varchar" => StringType
    case "int" | "integer" | "serial" => IntegerType
    case "bigint" | "long" | "bigserial" => LongType
    case "smallint" => ShortType
    case "double" | "double precision" => DoubleType
    case "float" | "real" => FloatType
    case "boolean" | "bool" => BooleanType
    case "timestamp" | "timestamptz" => TimestampType
    case "date" => DateType
    case "binary" | "bytea" => BinaryType
    case other => CatalystSqlParserShim.parse(other)
  }

  // ---------------------------------------------------------------------
  // applyBatch: the foreachBatch unit (one destination transaction, W9)
  // ---------------------------------------------------------------------

  /** Apply one micro-batch of raw change events for one table mapping.
    * Idempotent: if the lake's commit-epoch already covers `batchId` the
    * batch is skipped (exactly-once on restart — the analog of the
    * reference's `ON CONFLICT DO NOTHING` replay tolerance +
    * LSN-ack-after-commit, `worker.go:135-165`). Returns true if applied.
    */
  def applyBatch(lake: LakeTable, events: Dataset[ChangeEvent],
                 mapping: TableMapping, batchId: Long,
                 salts: Int = 0,
                 epochKey: String = "commit-epoch"): Boolean = {
    val spark = events.sparkSession
    import spark.implicits._
    tuneSession(spark)

    val committed = lake.snapshot().properties.getOrElse(epochKey, "-1").toLong
    if (batchId <= committed) return false // already applied before a crash

    // route: exact name or partitions-regex (mapping_table.go:57-81)
    val routed0 = events.filter(routeCond(mapping))
    // env schema for filter/set expressions: the source-row layout (CEL is
    // evaluated over source columns in the reference) or, absent an explicit
    // source schema, the target layout. Like the reference — whose CEL
    // programs are compiled against the catalog as of map-refresh
    // (`mapping_table.go:156-169`) — a column added by an R message in this
    // same batch is not yet visible to filter/set expressions.
    val envSchema = mapping.sourceSchema.getOrElse(lake.schema)

    // P1 row filter + P2 column transform (CEL analog), shared with
    // history mode — see filterTransform
    val transformed: Dataset[ChangeEvent] =
      filterTransform(routed0, mapping, envSchema)

    val appendMode = mapping.mode == TableMode.Append
    // NOT persisted: the batch is consumed twice (stats pass + fold), but a
    // vectorized parquet re-scan of the micro-batch is cheaper than the
    // columnar cache build (dictionary/RLE compressibility scans showed up
    // as a top CPU sink in thread profiles) — and it avoids pinning
    // executor memory at 10^10-event scale.
    val cached = transformed
    locally {
      // ONE stats pass over the batch (map-side partial agg, tiny result)
      // yields lineage, metrics, the salt ord-range, emptiness, and
      // R-message detection — instead of five separate jobs, which at
      // micro-batch cadence would dominate wall time.
      def collectStats(): Array[(String, String, Long, Long, Long, Long)] =
        timed("stats")(cached.toDF().select("sid", "op", "lsn", "seq")
          .groupBy("sid", "op")
          .agg(min("lsn").as("lo"), max("lsn").as("hi"), count(lit(1)).as("n"),
            max(eventOrdCol).as("mo"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5))))

      /** Commit-time extras from the stats rows. None when the batch folds
        * to nothing, or (unless `rHandled`) carries an R message — both
        * need the sequential handling below BEFORE any write. */
      def commitInfoOf(stats: Array[(String, String, Long, Long, Long, Long)],
                       rHandled: Boolean = false): Option[CommitInfo] = {
        val dml = stats.filter(s => s._2 != "R" && s._2 != "T")
        if ((!rHandled && stats.exists(_._2 == "R")) || dml.isEmpty) return None
        val lin = dml.groupBy(_._1).map { case (sid, ss) =>
          LineageEntry(sid, ss.map(_._3).min, ss.map(_._4).max, batchId, -1L)
        }.toSeq
        // metrics (A3, the Prometheus-counter analog `streamer/metrics.go:
        // 11-53`): cumulative received-op counters by op code, carried as
        // snapshot properties so they commit atomically with the data
        val prev = lake.snapshot().properties
        val metricProps = dml.groupBy(_._2).map { case (op, ss) =>
          val k = s"metrics-ops-$op"
          k -> (prev.getOrElse(k, "0").toLong + ss.map(_._5).sum).toString
        } ++ {
          // event-granular applied watermark (see eventOrdCol), keyed per
          // EPOCH KEY — i.e. per (stream, mapping), like the epoch itself:
          // two mappings sharing one target advance independent watermarks,
          // so one route's commit can never floor the other route's
          // unapplied events out of a healing catch-up replay
          val k = s"applied-ord-$epochKey"
          Map(k -> math.max(dml.map(_._6).max,
            prev.getOrElse(k, "-1").toLong).toString)
        }
        val opRows = dml.toSeq.sortBy(r => (r._1, r._2)).map { case (sid, op, _, _, n, _) =>
          (batchId, sid, "op", op, n) }
        Some(CommitInfo(lin, lin.map(_.maxLsn).max, metricProps, opRows))
      }

      def foldCatalyst(): DataFrame = {
        val snap = lake.snapshot()
        val mergeKey = (if (snap.hasSid) Seq("sid") else Nil) ++ snap.keyCols
        val payloadCols = snap.schema.fieldNames.filterNot(mergeKey.contains).toSeq
        foldToXfDF(normalizeDF(cached.toDF(), mergeKey, appendMode), payloadCols)
      }

      // Fast path (salts == 0, the default Catalyst fold): OVERLAP the
      // stats job with the fold job (guide §2.6 — independent jobs need
      // not serialize). The fold plan is built optimistically against the
      // CURRENT schema and its touched-bucket pass runs while the stats
      // job computes; the stats result is only consumed at commit time —
      // unless it reveals an R message or an empty batch (both rare), in
      // which case the merge ABORTS before writing anything and the
      // sequential path below redoes it against the evolved schema.
      // GRAFT_OVERLAP=0 restores the fully sequential order (A/Bs).
      var stats: Array[(String, String, Long, Long, Long, Long)] = null
      if (salts <= 0 && !sys.env.get("GRAFT_OVERLAP").contains("0")) {
        val statsFut =
          java.util.concurrent.CompletableFuture.supplyAsync(() => collectStats())
        val merged =
          try {
            val xfs = foldCatalyst()
            explain(s"replay-fold-batch$batchId", xfs)
            mergeApplyDeferred(lake, xfs, batchId, epochKey,
              () => commitInfoOf(joinUnwrapped(statsFut)))
          } catch { case e: Throwable =>
            statsFut.cancel(false); throw e
          }
        if (merged.isDefined) return true
        stats = joinUnwrapped(statsFut) // aborted: R message or empty batch
      } else stats = collectStats()

      val dml = stats.filter(s => s._2 != "R" && s._2 != "T")

      // schema evolution from R messages, before the merge (north rule)
      if (stats.exists(_._2 == "R")) {
        val rels = cached.filter(col("op") === "R").collect().map(_.after).toSeq
        evolveSchema(lake, rels)
      }

      if (dml.isEmpty) {
        // still advance the epoch so restart skip-logic stays monotone
        lake.commit(Nil, Set.empty,
          properties = Map(epochKey -> batchId.toString))
        return true
      }

      // fold strategy: salts == 0 (default) -> the Catalyst-native fold
      // (codegen, map-side combine; here = the post-evolution redo of an
      // aborted overlap merge); salts >= 1 -> the typed Xf fold with
      // explicit ord-range salting (the algebraic reference path; both are
      // cross-validated by tests and the oracle harness)
      val xfs: DataFrame =
        if (salts <= 0) foldCatalyst()
        else {
          val snap = lake.snapshot()
          val mergeKey = (if (snap.hasSid) Seq("sid") else Nil) ++ snap.keyCols
          val ops = cached.flatMap(e => normalize(e, mergeKey, appendMode))
          // salt range derived from the already-known lsn span: ord is
          // monotone in (lsn, seq, sub), so lsn bounds bound ord
          val loOrd = packOrd(dml.map(_._3).min, 0, 0)
          val hiOrd = packOrd(dml.map(_._4).max + 1, 0, 0) - 1
          foldToXf(ops, salts, Some((loOrd, hiOrd))).toDF()
        }

      val ci = commitInfoOf(stats, rHandled = true).getOrElse(
        throw new IllegalStateException("unreachable: dml checked non-empty"))
      explain(s"replay-fold-batch$batchId", xfs)
      mergeApply(lake, xfs, batchId, ci.lineage, ci.lsnHighWatermark,
        ci.extraProps, epochKey, ci.metricsRows)
      true
    }
  }
}

/** Parse a DDL type string via the public StructType.fromDDL. */
private object CatalystSqlParserShim {
  def parse(t: String): DataType =
    StructType.fromDDL(s"`__c` $t").head.dataType
}
