package graft.merge

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.core._

/** Row-level merge engines — the sequential fold that defines each
  * engine's semantics: [[WriteMerge]]'s cogroup fallback runs it, and its
  * SQL windows are cross-checked against it (MergeCrossCheckSpec).
  *
  * Contract mirrors the reference RowMerger (fluss-server/.../kv/rowmerger/
  * RowMerger.java:84-110): given the current state and one incoming record,
  * produce the new state and the emitted change rows
  * (KvTablet.putAsLeader's changelog logic, KvTablet.java:676-793).
  */
object RowMergers {

  /** One incoming record: a full or partial row plus intent. */
  final case class Incoming(
      row: Row,
      isDelete: Boolean = false,
      isRetract: Boolean = false, // upstream -U (aggregation retraction)
      targetColumns: Option[Seq[String]] = None) // partial update subset

  /** Result: new state (None = deleted) + emitted (changeType, fullRow). */
  final case class MergeResult(state: Option[Row], changes: Seq[(String, Row)])

  private def noop(state: Option[Row]) = MergeResult(state, Nil)

  /** Apply one record. `old` is the current full row for the PK, if any. */
  def merge(desc: TableDescriptor, old: Option[Row], in: Incoming): MergeResult = {
    val emitBefore = desc.changelogImage == ChangelogImage.Full
    desc.mergeEngine match {
      case MergeEngine.Default => defaultMerge(desc, old, in, emitBefore)
      case MergeEngine.FirstRow =>
        if (in.isDelete || in.isRetract || old.isDefined) noop(old)
        else MergeResult(Some(in.row), Seq(ChangeType.Insert -> in.row))
      case MergeEngine.Versioned(vc) => versionedMerge(desc, old, in, vc, emitBefore)
      case MergeEngine.Aggregation(aggs) =>
        aggregationMerge(desc, old, in, aggs, emitBefore)
    }
  }

  /** DefaultRowMerger.java:38 + PartialUpdater.java:35,104,138. */
  private def defaultMerge(desc: TableDescriptor, old: Option[Row],
      in: Incoming, emitBefore: Boolean): MergeResult = {
    if (in.isRetract) return noop(old) // default engine has no retraction
    if (in.isDelete) {
      if (desc.deleteBehavior == DeleteBehavior.Ignore) return noop(old)
      return old match {
        case Some(o) =>
          in.targetColumns match {
            case Some(cols) =>
              // partial delete: null target cols; drop row if all non-PK null
              val updated = overwrite(desc, o, nullRow(desc), cols)
              if (allNonPkNull(desc, updated))
                MergeResult(None, Seq(ChangeType.Delete -> o))
              else MergeResult(Some(updated),
                beforeAfter(emitBefore, o, updated))
            case None => MergeResult(None, Seq(ChangeType.Delete -> o))
          }
        case None => noop(None)
      }
    }
    old match {
      case None =>
        val row = in.targetColumns match {
          case Some(cols) => overwrite(desc, nullRow(desc, Some(in.row)), in.row, cols)
          case None => in.row
        }
        MergeResult(Some(row), Seq(ChangeType.Insert -> row))
      case Some(o) =>
        val merged = in.targetColumns match {
          case Some(cols) => overwrite(desc, o, in.row, cols)
          case None => in.row
        }
        if (merged == o) MergeResult(Some(o), beforeAfter(emitBefore, o, merged))
        else MergeResult(Some(merged), beforeAfter(emitBefore, o, merged))
    }
  }

  /** VersionedRowMerger.java:70-76 — new wins when newVersion >= oldVersion;
    * null = -infinity; DELETE unsupported (ignored to keep batch flowing).
    */
  private def versionedMerge(desc: TableDescriptor, old: Option[Row],
      in: Incoming, vc: String, emitBefore: Boolean): MergeResult = {
    if (in.isDelete || in.isRetract) return noop(old)
    require(in.targetColumns.isEmpty,
      "Partial update is not supported for the versioned merge engine.")
    old match {
      case None => MergeResult(Some(in.row), Seq(ChangeType.Insert -> in.row))
      case Some(o) =>
        if (compareVersions(desc, o, in.row, vc) <= 0)
          MergeResult(Some(in.row), beforeAfter(emitBefore, o, in.row))
        else noop(old)
    }
  }

  private def compareVersions(desc: TableDescriptor, a: Row, b: Row, vc: String): Int = {
    val i = desc.schema.fieldIndex(vc)
    def key(r: Row): Long =
      if (r.isNullAt(i)) Long.MinValue
      else desc.schema(i).dataType match {
        case LongType => r.getLong(i)
        case IntegerType => r.getInt(i).toLong
        // r.get can surface any of the external timestamp classes depending
        // on datetime conf (java8 API, NTZ columns) — match on the value,
        // never cast first (getAs[Timestamp] would throw on LocalDateTime)
        case TimestampType | TimestampNTZType => r.get(i) match {
          case t: java.sql.Timestamp => t.getTime
          case t: java.time.Instant => t.toEpochMilli
          case t: java.time.LocalDateTime =>
            t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
          case other => other.toString.toLong
        }
        case other => throw new IllegalArgumentException(
          s"version column must be INT/BIGINT/TIMESTAMP, got $other")
      }
    java.lang.Long.compare(key(a), key(b))
  }

  /** AggregateRowMerger.java:93-115 + Field*Agg null-skipping semantics. */
  private def aggregationMerge(desc: TableDescriptor, old: Option[Row],
      in: Incoming, aggs: Map[String, String], emitBefore: Boolean): MergeResult = {
    if (in.isDelete) {
      if (desc.deleteBehavior == DeleteBehavior.Ignore) return noop(old)
      return old match {
        case Some(o) => MergeResult(None, Seq(ChangeType.Delete -> o))
        case None => noop(None)
      }
    }
    old match {
      case None =>
        if (in.isRetract) {
          // Retraction with no prior state: subtract into an IMPLICIT ZERO
          // for sum columns (others stay null) — the same thing the
          // windowed path's sum(when(isRetract, -col)) computes for a
          // key whose first row is a -U. Keeping the two
          // implementations byte-identical matters more than rejecting a
          // malformed changelog (a -U should always follow a +I/+U).
          val vals = desc.schema.fields.zipWithIndex.map { case (f, i) =>
            if (desc.primaryKey.contains(f.name)) in.row.get(i)
            else {
              val fn = aggs.getOrElse(f.name, AggFunction.LastValue)
              aggField(fn, f.dataType, null, in.row.get(i), retract = true)
            }
          }
          val merged = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
            vals.toArray[Any], desc.schema)
          // state exists even when every aggregated value is null: the
          // windowed path emits a `+I` for ANY first row of the key
          MergeResult(Some(merged), Seq(ChangeType.Insert -> merged))
        }
        else MergeResult(Some(in.row), Seq(ChangeType.Insert -> in.row))
      case Some(o) =>
        val target = in.targetColumns
        val vals = desc.schema.fields.zipWithIndex.map { case (f, i) =>
          if (desc.primaryKey.contains(f.name)) o.get(i)
          else if (target.exists(cols => !cols.contains(f.name))) o.get(i)
          else {
            val fn = aggs.getOrElse(f.name, AggFunction.LastValue)
            aggField(fn, f.dataType, o.get(i), in.row.get(i), in.isRetract)
          }
        }
        val merged = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          vals.toArray[Any], desc.schema)
        MergeResult(Some(merged), beforeAfter(emitBefore, o, merged))
    }
  }

  /** Per-field aggregate step (Field*Agg.java): null-skipping; sum
    * subtracts on retraction (into an implicit zero when the accumulator
    * is still null, matching [[WriteMerge]]'s running
    * sum(when(isRetract, -col)) exactly), others ignore retraction rows.
    */
  private[graft] def aggField(fn: String, dt: DataType, acc: Any, in: Any,
      retract: Boolean): Any = {
    if (retract) {
      if (fn == AggFunction.Sum && in != null)
        return numOp(dt, if (acc == null) zeroOf(dt) else acc, in, add = false)
      return acc
    }
    fn match {
      case AggFunction.Sum =>
        if (acc == null) in else if (in == null) acc else numOp(dt, acc, in, add = true)
      case AggFunction.Product =>
        if (acc == null) in else if (in == null) acc else numMul(dt, acc, in)
      case AggFunction.Max =>
        if (acc == null) in else if (in == null) acc
        else if (cmp(dt, acc, in) >= 0) acc else in
      case AggFunction.Min =>
        if (acc == null) in else if (in == null) acc
        else if (cmp(dt, acc, in) <= 0) acc else in
      case AggFunction.LastValue => in
      case AggFunction.LastValueIgnoreNulls => if (in == null) acc else in
      case AggFunction.FirstValue => acc
      case AggFunction.FirstValueIgnoreNulls => if (acc == null) in else acc
      case AggFunction.BoolAnd =>
        if (acc == null) in else if (in == null) acc
        else java.lang.Boolean.valueOf(
          acc.asInstanceOf[Boolean] && in.asInstanceOf[Boolean])
      case AggFunction.BoolOr =>
        if (acc == null) in else if (in == null) acc
        else java.lang.Boolean.valueOf(
          acc.asInstanceOf[Boolean] || in.asInstanceOf[Boolean])
      case other if other.startsWith(AggFunction.ListAgg) =>
        val delim = if (other.contains(':')) other.split(":", 2)(1) else ","
        if (acc == null) in else if (in == null) acc
        else s"${acc.toString}$delim${in.toString}"
      case AggFunction.Rb32 | AggFunction.Rb64 =>
        // BYTES column holding a serialized roaring bitmap; merge = union
        // (FieldRb32Agg/FieldRb64Agg — null-skipping like the others)
        graft.functions.Bitmaps.union(
          acc.asInstanceOf[Array[Byte]], in.asInstanceOf[Array[Byte]])
      case other => throw new IllegalArgumentException(s"unknown agg: $other")
    }
  }

  /** Additive identity of a numeric column type (implicit-zero retraction). */
  private def zeroOf(dt: DataType): Any = dt match {
    case ByteType => 0.toByte
    case ShortType => 0.toShort
    case IntegerType => 0
    case LongType => 0L
    case FloatType => 0f
    case DoubleType => 0d
    case _: DecimalType => java.math.BigDecimal.ZERO
    case other => throw new IllegalArgumentException(s"sum unsupported on $other")
  }

  private def numOp(dt: DataType, a: Any, b: Any, add: Boolean): Any = dt match {
    case ByteType => ((if (add) a.asInstanceOf[Byte] + b.asInstanceOf[Byte]
      else a.asInstanceOf[Byte] - b.asInstanceOf[Byte])).toByte
    case ShortType => ((if (add) a.asInstanceOf[Short] + b.asInstanceOf[Short]
      else a.asInstanceOf[Short] - b.asInstanceOf[Short])).toShort
    case IntegerType => if (add) a.asInstanceOf[Int] + b.asInstanceOf[Int]
      else a.asInstanceOf[Int] - b.asInstanceOf[Int]
    case LongType => if (add) a.asInstanceOf[Long] + b.asInstanceOf[Long]
      else a.asInstanceOf[Long] - b.asInstanceOf[Long]
    case FloatType => if (add) a.asInstanceOf[Float] + b.asInstanceOf[Float]
      else a.asInstanceOf[Float] - b.asInstanceOf[Float]
    case DoubleType => if (add) a.asInstanceOf[Double] + b.asInstanceOf[Double]
      else a.asInstanceOf[Double] - b.asInstanceOf[Double]
    case d: DecimalType =>
      val x = a.asInstanceOf[java.math.BigDecimal]
      val y = b.asInstanceOf[java.math.BigDecimal]
      if (add) x.add(y) else x.subtract(y)
    case other => throw new IllegalArgumentException(s"sum unsupported on $other")
  }

  private def numMul(dt: DataType, a: Any, b: Any): Any = dt match {
    case ByteType => (a.asInstanceOf[Byte] * b.asInstanceOf[Byte]).toByte
    case ShortType => (a.asInstanceOf[Short] * b.asInstanceOf[Short]).toShort
    case IntegerType => a.asInstanceOf[Int] * b.asInstanceOf[Int]
    case LongType => a.asInstanceOf[Long] * b.asInstanceOf[Long]
    case FloatType => a.asInstanceOf[Float] * b.asInstanceOf[Float]
    case DoubleType => a.asInstanceOf[Double] * b.asInstanceOf[Double]
    case d: DecimalType =>
      a.asInstanceOf[java.math.BigDecimal].multiply(b.asInstanceOf[java.math.BigDecimal])
    case other => throw new IllegalArgumentException(s"product unsupported on $other")
  }

  @SuppressWarnings(Array("unchecked"))
  private def cmp(dt: DataType, a: Any, b: Any): Int =
    a.asInstanceOf[Comparable[Any]].compareTo(b)

  private def beforeAfter(emitBefore: Boolean, before: Row, after: Row): Seq[(String, Row)] =
    if (emitBefore) Seq(ChangeType.UpdateBefore -> before, ChangeType.UpdateAfter -> after)
    else Seq(ChangeType.UpdateAfter -> after)

  /** Overwrite `cols` of `base` with values from `src` (same schema). */
  private def overwrite(desc: TableDescriptor, base: Row, src: Row,
      cols: Seq[String]): Row = {
    val idx = cols.map(desc.schema.fieldIndex).toSet
    val vals = (0 until desc.schema.length)
      .map(i => if (idx(i)) src.get(i) else base.get(i))
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      vals.toArray[Any], desc.schema)
  }

  private def nullRow(desc: TableDescriptor, pkFrom: Option[Row] = None): Row = {
    val vals = (0 until desc.schema.length).map { i =>
      if (pkFrom.isDefined && desc.primaryKey.contains(desc.schema(i).name))
        pkFrom.get.get(i)
      else null
    }
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      vals.toArray[Any], desc.schema)
  }

  private def allNonPkNull(desc: TableDescriptor, r: Row): Boolean =
    desc.schema.fields.zipWithIndex.forall { case (f, i) =>
      desc.primaryKey.contains(f.name) || r.isNullAt(i)
    }
}
