package graft.perfbench

import graft.model.ChangeEvent
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Sequential reference model of a clone or append target: the change log
  * replayed one event at a time in (lsn, seq) order with the reference
  * semantics the engine's batch fold must reproduce (insert on conflict do
  * nothing, update of present columns only, delete; a key-changing update
  * is delete(old) + insert(new); append drops deletes; an R message adds
  * its columns). Independent of the engine's fold code by construction.
  *
  * @param keep row filter of the route (events it rejects are skipped) */
final class Model(append: Boolean, baseCols: Seq[String],
                  keep: ChangeEvent => Boolean = _ => true) {
  private val rows = mutable.HashMap[(String, String), Map[String, String]]()
  private var cols: Seq[String] = baseCols
  /** Event-granular position of the last DML event applied (the engine's
    * `applied-ord-*` property), -1 before any. */
  var lastOrd: Long = -1L

  private def key(m: Map[String, String]): (String, String) =
    (m.getOrElse("conv_id", null), m.getOrElse("turn_idx", null))

  private def insert(m: Map[String, String]): Unit = {
    val k = key(m)
    if (!rows.contains(k)) rows(k) = m
  }

  def apply(e: ChangeEvent): Unit = e.op match {
    case "R" => cols = cols ++ e.after.keys.toSeq.sorted.filterNot(cols.contains)
    case "I" | "U" | "D" if keep(e) =>
      lastOrd = math.max(lastOrd, (e.lsn << 20) | (e.seq.toLong << 1) | 1L)
      e.op match {
        case "I" => insert(e.after)
        case "U" if e.old_kind == "K" => rows.remove(key(e.before)); insert(e.after)
        case "U" =>
          val k = key(e.after)
          rows.get(k).foreach(r => rows(k) = r ++ e.after)
        case "D" => if (!append) rows.remove(key(e.before))
      }
    case _ =>
  }

  def columns: Seq[String] = cols
  /** The modelled rows, each as values of `columns` in order. */
  def rowValues: Iterator[Seq[String]] = rows.valuesIterator.map(r => cols.map(r.getOrElse(_, null)))

  /** Order-independent digest of the modelled table (see [[Digest]]). */
  def digest: Digest = {
    val names = cols.sorted
    var d = Digest(0L, 0L, 0L)
    rows.valuesIterator.foreach(r => d = d.add(Digest.line(names.map(r.getOrElse(_, null)))))
    d
  }
}

/** Order-independent table digest: row count plus the two 32-bit halves of
  * the summed per-row xxhash64 (seed 42) of a canonical line — the same
  * hash Spark's `xxhash64` computes, so a table digests inside Spark and
  * the model digests on the driver without collecting the table. */
final case class Digest(rows: Long, lo: Long, hi: Long) {
  def add(h: Long): Digest = Digest(rows + 1, lo + (h & 0xFFFFFFFFL), hi + (h >>> 32))
  override def toString: String = s"$rows:$lo:$hi"
}

object Digest {
  private val Null = "\u0000"
  private val Sep = "\u0001"

  def line(values: Seq[String]): Long = {
    val b = values.map(v => if (v == null) Null else v).mkString(Sep)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
  }

  /** Digest of `df` over its columns in name order, values cast to text. */
  def of(df: DataFrame): Digest = {
    val names = df.columns.sorted.toSeq
    val ln: Column = concat_ws(Sep,
      names.map(c => coalesce(col(c).cast("string"), lit(Null))): _*)
    val h = xxhash64(ln)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))),
        sum(shiftrightunsigned(col("h"), 32)))
      .head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }
}
