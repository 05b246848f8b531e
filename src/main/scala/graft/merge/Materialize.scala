package graft.merge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core._
import graft.functions.LatestRow.latestBy

/** Batch materialization: collapse a PK table's changelog (rows with PK,
  * `__offset`, `_change_type`) into its current state — the engine's analog
  * of the reference's snapshot∪log sort-merge (fluss-client/.../scanner/
  * SortMergeReader.java:46).
  *
  * The log holds POST-merge row images: every merge engine already ran at
  * write time ([[WriteMerge]], the reference's KvTablet.putAsLeader —
  * fluss-server/.../kv/KvTablet.java:514). So the collapse is the same for
  * every engine: the latest image per key by offset, `-U` before-images
  * skipped, a trailing `-D` removing the key.
  *
  * It is a single aggregation per primary key — shuffle-once with
  * map-side partial aggregation — chosen over a `row_number()` window
  * deliberately: the partial combine shrinks each key to one row before
  * the exchange, where a window would ship every version. The pick is
  * [[graft.functions.LatestRow]] (a hash-plannable `max_by`): built-in
  * `max_by` carries a struct buffer, which forces SortAggregate — a
  * per-partition sort of the full scan input on every state read; as a
  * TypedImperativeAggregate the same plan is ObjectHashAggregate at every
  * phase.
  */
object Materialize {

  /** Current state of a PK-table changelog `log` of post-merge images.
    * Output columns = desc.schema fields.
    */
  def currentState(log: DataFrame, desc: TableDescriptor): DataFrame = {
    require(desc.isPrimaryKeyTable, "materialization needs a primary key")
    // embedder sessions get the hash plan too, not just the repo harnesses
    graft.functions.LatestRow.ensureHashFallbackThreshold(log.sparkSession)
    val dataCols = desc.schema.fieldNames.toSeq
    val payload = struct((col(Meta.ChangeTypeCol).as("__ct") +:
      dataCols.filterNot(desc.primaryKey.contains).map(col)): _*)
    // PK columns come from the GROUPING attributes (not from the
    // aggregated struct): Catalyst can then push a PK predicate below the
    // Aggregate down to the scan, which is what makes point queries prune
    // down to one bucket (P5)
    log.filter(col(Meta.ChangeTypeCol) =!= ChangeType.UpdateBefore)
      .groupBy(desc.primaryKey.map(col): _*)
      .agg(latestBy(payload, col(Meta.Offset)).as("__last"))
      .filter(col("__last.__ct") =!= ChangeType.Delete)
      .select(dataCols.map(c =>
        if (desc.primaryKey.contains(c)) col(c)
        else col(s"__last.$c").as(c)): _*)
  }
}
