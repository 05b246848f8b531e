package graft.merge

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._

/** The write-time merge: fold a batch against current state per PK,
  * emitting change rows — the engine's KvTablet.putAsLeader
  * (fluss-server/.../kv/KvTablet.java:514): state lookup, RowMerger,
  * changelog out. Every merge engine runs here, once, at write time; the
  * log then holds post-merge images, which every read collapses
  * last-write-wins ([[Materialize]]).
  *
  * @param state    the current state of the buckets the batch touches
  * @param bucketCol the table's `__bucket` expression
  * @param byBucket the commit's one exchange (hash `__bucket`)
  */
private[graft] final class WriteMerge(desc: TableDescriptor, state: DataFrame,
    bucketCol: Column, byBucket: DataFrame => DataFrame) {

  private val dataCols = desc.schema.fieldNames.toSeq

  /** The batch's changes. Input: data cols + `__ord` + `__del` +
    * `__retract`. Two kinds of implementation with identical semantics
    * (MergeCrossCheckSpec pins them to the sequential [[RowMergers]] fold):
    *  - the SQL skeleton [[sqlMerge]], inside whole-stage codegen with no
    *    JVM row objects: the full-row DEFAULT engine, delete-free partial
    *    updates and windowable AGGREGATION (running-window aggregates),
    *    FIRST_ROW and VERSIONED on an integer or timestamp version (a
    *    running max);
    *  - the cogroup fallback for the rest (partial updates that may
    *    delete, non-windowable aggregates, other version types): cogroup
    *    on the PK; each key's fold is local and ordered by `__ord`.
    *
    * Output: data cols + `_change_type` + `__ord` + `__bucket`,
    * partitioned by `byBucket` — the commit's input contract.
    */
  def changes(batch: DataFrame, targetColumns: Option[Seq[String]],
      mayDelete: Boolean): DataFrame = {
    val del = col("__del")
    val ret = col("__retract")
    val img = struct(dataCols.map(col): _*)
    // DeleteBehavior.Ignore drops deletes (DeleteBehavior.java:28-41)
    val ignoreDel = if (desc.deleteBehavior == DeleteBehavior.Ignore) !del else lit(true)
    (desc.mergeEngine, targetColumns) match {
      case (MergeEngine.Default, None) =>
        // last write wins: the image after row i is row i itself (none
        // after a delete); retractions are no-ops
        sqlMerge(batch.filter(!ret && ignoreDel), segmented = false,
          _ => when(!del, img), emit = lit(true))
      case (MergeEngine.Default, Some(target)) if !mayDelete =>
        // Partial update IS an aggregation: target columns take the
        // incoming value (last_value), untouched columns keep the value
        // fixed at state creation (first_value) — the overwrite fold and
        // this mapping are the same function when no deletes can occur
        // (a partial DELETE nulls target columns instead, which only the
        // cogroup models; upsert() guarantees delete-free batches).
        // Non-target batch values are NULLED first: a key with no prior
        // state must store null for untouched columns (the fold's
        // overwrite(nullRow, row, target)), not the batch row's value.
        val nonTarget = dataCols
          .filterNot(c => desc.primaryKey.contains(c) || target.contains(c))
        val nulled = nonTarget.foldLeft(batch)((d, c) =>
          d.withColumn(c, lit(null).cast(desc.schema(c).dataType)))
        val aggs = dataCols.filterNot(desc.primaryKey.contains)
          .map(c => c -> (if (target.contains(c)) AggFunction.LastValue
            else AggFunction.FirstValue)).toMap
        aggregation(nulled.filter(ignoreDel), aggs)
      case (MergeEngine.Aggregation(aggs), None) if windowable(aggs) =>
        aggregation(batch.filter(ignoreDel), aggs)
      case (MergeEngine.FirstRow, None) =>
        // a key emits exactly one `+I`: its first-ever row, the one no
        // state or earlier batch row precedes; deletes and retractions
        // are no-ops. Only that row emits, and there the row's own image
        // is the key's row, so it serves as `__rs`
        sqlMerge(batch.filter(!del && !ret), segmented = false,
          _ => img, emit = col("__prev").isNull)
      case (MergeEngine.Versioned(vc), None)
          if Seq(LongType, IntegerType, TimestampType)
            .contains(desc.schema(vc).dataType) =>
        // the running state is the max of (version, ord) — ties go to the
        // later row, null version = -inf, exactly compareVersions'
        // ordering; a row emits when it wins against the state before it
        // (compareVersions(prev, row) <= 0). Version key in its units:
        // raw integer, or epoch millis for timestamps (Timestamp.getTime)
        def vkey(v: Column): Column = coalesce(desc.schema(vc).dataType match {
          case TimestampType => unix_millis(v)
          case _ => v.cast(LongType)
        }, lit(Long.MinValue))
        sqlMerge(batch.filter(!del && !ret), segmented = false,
          w => max(struct(vkey(col(vc)).as("vk"), col("__ord").as("o"),
            img.as("img"))).over(w)("img"),
          emit = col("__prev").isNull ||
            vkey(col(vc)) >= vkey(col(s"__prev.$vc")))
      case _ => cogroup(batch, targetColumns)
    }
  }

  /** The one SQL merge. The engine supplies its source rows (filter
    * applied), its running image `__rs` — the key's row after each input
    * row, null for none — over the running window it is handed, whether
    * that window restarts per delete segment, and which batch rows emit.
    *
    * State joins as a pseudo-row below every batch `__ord`; batch ∪ state
    * is bucketed and hash-partitioned by `byBucket`, the commit's one
    * exchange, and every window here is partitioned by the bucket, then
    * the PK (the same grouping, the bucket being a function of the key),
    * so that exchange serves them all. `__prev` is the image before each
    * row, and one emitter turns (`__del`, `__prev`, `__rs`) into changes:
    * `-D` of the previous image, nothing, `-U`/`+U` (or `+U` alone under
    * [[ChangelogImage.Wal]]), or `+I`.
    */
  private def sqlMerge(src: DataFrame, segmented: Boolean,
      rs: WindowSpec => Column, emit: Column): DataFrame = {
    val del = col("__del")
    val flags = Seq(col("__ord"), del, col("__retract"))
    val statePseudo = state
      .withColumn("__ord", lit(Long.MinValue))
      .withColumn("__del", lit(false))
      .withColumn("__retract", lit(false))
    val input = byBucket(src.select((dataCols.map(col) ++ flags).toIndexedSeq: _*)
      .unionByName(statePseudo).withColumn(Meta.Bucket, bucketCol))
    val mergeKey = col(Meta.Bucket) +: desc.primaryKey.map(col)
    val running = (part: Seq[Column]) => Window.partitionBy(part: _*)
      .orderBy(col("__ord")).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // segment id = deletes strictly before this row (per key); a delete
    // row belongs to the segment it terminates, so it is the segment's
    // last row and its `__prev` is the segment's final image
    val segs =
      if (!segmented) input
      else input.withColumn("__seg",
        sum(when(del, 1L).otherwise(0L)).over(running(mergeKey)) -
          when(del, 1L).otherwise(0L))
    val part = if (segmented) mergeKey :+ col("__seg") else mergeKey

    val change = (ct: String, image: Column) => struct(lit(ct).as("ct"), image.as("img"))
    val none = array().cast(ArrayType(StructType(Seq(
      StructField("ct", StringType, nullable = false),
      StructField("img", StructType(desc.schema.fields))))))
    val update =
      if (desc.changelogImage == ChangelogImage.Full) array(
        change(ChangeType.UpdateBefore, col("__prev")),
        change(ChangeType.UpdateAfter, col("__rs")))
      else array(change(ChangeType.UpdateAfter, col("__rs")))
    segs
      .withColumn("__rs", rs(running(part)))
      .withColumn("__prev",
        lag(col("__rs"), 1).over(Window.partitionBy(part: _*).orderBy(col("__ord"))))
      .filter(col("__ord") =!= Long.MinValue && emit) // pseudo-rows emit nothing
      .withColumn("__changes",
        when(del && col("__prev").isNotNull, array(change(ChangeType.Delete, col("__prev"))))
        .when(del, none)
        .when(col("__prev").isNotNull, update)
        .otherwise(array(change(ChangeType.Insert, col("__rs")))))
      .select(col("__ord"), col(Meta.Bucket), explode(col("__changes")).as("__c"))
      .select((dataCols.map(c => col(s"__c.img.$c").as(c)) ++ Seq(
        col("__c.ct").as(Meta.ChangeTypeCol), col("__ord"), col(Meta.Bucket)))
        .toIndexedSeq: _*)
  }

  /** AGGREGATION engine on the SQL skeleton: the sequential per-key fold
    * of RowMergers re-expressed as running-window aggregates, so the whole
    * changelog generation stays inside Tungsten (no JVM row objects, no
    * cogroup serialization). Exactness is what gates eligibility
    * ([[WriteMerge.WindowableAggs]]): every function here has a running
    * form with byte-identical results to the fold. The state pseudo-row's
    * stored per-column values are exactly the accumulators the running
    * aggregates start from.
    *
    * Deletes reset aggregation state, which a running window cannot do —
    * so the windows restart per delete segment; a delete row emits `-D`
    * of its segment's final image.
    */
  private def aggregation(src: DataFrame, aggs: Map[String, String]): DataFrame = {
    val isDel = col("__del")
    val isRet = col("__retract")
    val active = !isDel && !isRet
    // running accumulator per column — each case mirrors RowMergers
    // .aggField exactly (null-skipping; sum subtracts on retraction into
    // an implicit zero; FirstValue fixes at the state-creating row)
    def acc(c: String, w: WindowSpec): Column = {
      val dt = desc.schema(c).dataType
      aggs.getOrElse(c, AggFunction.LastValue) match {
        case AggFunction.Sum =>
          sum(when(isDel, lit(null).cast(dt))
            .when(isRet, -col(c)).otherwise(col(c))).over(w).cast(dt)
        case AggFunction.Max => max(when(active, col(c))).over(w)
        case AggFunction.Min => min(when(active, col(c))).over(w)
        case AggFunction.LastValue =>
          // wrap in struct: the last non-retract row wins even when its
          // value is null
          last(when(active, struct(col(c).as("v"))), ignoreNulls = true)
            .over(w)("v")
        case AggFunction.LastValueIgnoreNulls =>
          last(when(active, col(c)), ignoreNulls = true).over(w)
        case AggFunction.FirstValue =>
          // value at state creation: the segment's first row (a creating
          // retraction contributes null, and it never changes after)
          first(when(!isRet, struct(col(c).as("v"))), ignoreNulls = false)
            .over(w)("v")
        case AggFunction.FirstValueIgnoreNulls =>
          first(when(active, col(c)), ignoreNulls = true).over(w)
        case AggFunction.BoolAnd => bool_and(when(active, col(c))).over(w)
        case AggFunction.BoolOr => bool_or(when(active, col(c))).over(w)
        case other => throw new IllegalStateException(s"not windowable: $other")
      }
    }
    sqlMerge(src, segmented = true,
      w => struct(dataCols.map(c =>
        (if (desc.primaryKey.contains(c)) col(c) else acc(c, w)).as(c)): _*),
      emit = lit(true))
  }

  /** STRING max/min is additionally excluded: Spark's window max orders
    * by UTF-8 bytes while the sequential fold uses Java compareTo
    * (UTF-16 code units) — they disagree on supplementary characters,
    * and the two paths must stay byte-identical.
    */
  private def windowable(aggs: Map[String, String]): Boolean =
    aggs.forall { case (c, fn) =>
      WriteMerge.WindowableAggs.contains(fn) &&
        !((fn == AggFunction.Max || fn == AggFunction.Min) &&
          desc.schema(c).dataType == StringType)
    }

  /** The fallback: the [[RowMergers]] fold itself, per key, in a cogroup
    * of state and batch; bucketed and exchanged by `byBucket` after.
    */
  private def cogroup(batch: DataFrame, targetColumns: Option[Seq[String]]): DataFrame = {
    val d = desc
    val pk = d.primaryKey
    val pkSchema = StructType(pk.map(c => d.schema(d.schema.fieldIndex(c))).toArray)
    val keyEnc = Encoders.row(pkSchema)
    val dataSchema = d.schema
    val batchSchema = batch.schema
    val outSchema = StructType(dataSchema.fields ++ Seq(
      StructField(Meta.ChangeTypeCol, StringType, nullable = false),
      StructField("__ord", LongType, nullable = false)))
    def keyOf(r: Row, schema: StructType): Row =
      new GenericRowWithSchema(pk.map(c => r.get(schema.fieldIndex(c))).toArray[Any], pkSchema)

    val stateG = state.groupByKey(r => keyOf(r, dataSchema))(keyEnc)
    val batchG = batch.groupByKey(r => keyOf(r, batchSchema))(keyEnc)
    val ordIdx = batchSchema.fieldIndex("__ord")
    val delIdx = batchSchema.fieldIndex("__del")
    val retIdx = batchSchema.fieldIndex("__retract")

    stateG.cogroup(batchG) { (_, sIt, bIt) =>
      var st: Option[Row] = sIt.toSeq.headOption
      val out = ArrayBuffer.empty[Row]
      val sorted = bIt.toArray.sortBy(r => r.getAs[Number](ordIdx).longValue())
      sorted.foreach { r =>
        val ord = r.getAs[Number](ordIdx).longValue()
        val dataRow = new GenericRowWithSchema(
          (0 until dataSchema.length).map(r.get).toArray[Any], dataSchema)
        val res = RowMergers.merge(d, st,
          RowMergers.Incoming(dataRow, isDelete = r.getBoolean(delIdx),
            isRetract = r.getBoolean(retIdx), targetColumns = targetColumns))
        st = res.state
        res.changes.foreach { case (ct, row) =>
          out += new GenericRowWithSchema(
            ((0 until dataSchema.length).map(row.get) :+ ct :+ ord).toArray[Any], outSchema)
        }
      }
      out.iterator
    }(Encoders.row(outSchema)).toDF()
      .withColumn(Meta.Bucket, bucketCol)
      .transform(byBucket)
  }
}

private[graft] object WriteMerge {

  /** Aggregate functions with an exact running-window equivalent (the
    * SQL path). listagg (O(n^2) as a running concat), product (no exact
    * running form) and the bitmap unions stay on the cogroup.
    */
  val WindowableAggs: Set[String] = Set(
    AggFunction.Sum, AggFunction.Max, AggFunction.Min,
    AggFunction.LastValue, AggFunction.LastValueIgnoreNulls,
    AggFunction.FirstValue, AggFunction.FirstValueIgnoreNulls,
    AggFunction.BoolAnd, AggFunction.BoolOr)
}
