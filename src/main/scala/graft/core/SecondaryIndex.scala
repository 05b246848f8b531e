package graft.core


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Secondary index over a PK table: a derived PK table keyed
  * (indexColumns…, primaryKey…) and BUCKETED by the index columns, so an
  * equality probe on a non-key column becomes a bucket-pruned
  * [[GraftTable.prefixLookup]] instead of a full state scan — the
  * HBase/Phoenix-style global index, maintained INCREMENTALLY from the
  * base table's changelog ([[GraftTable.changesBetween]]): `+I/+U` upsert
  * the new (value, key) entry, `-U/-D` delete the OLD one (so a row whose
  * indexed value changes atomically moves buckets), applied in log-offset
  * order. The applied base version is recorded in the index dir, so
  * [[refresh]] costs the offset slice of the missed commits, never a
  * rebuild. The reference has no secondary indexes (lookups are PK/prefix
  * only — SURVEY §2.3); this extends the same lookup machinery to
  * non-key columns.
  */
final class SecondaryIndex private[core] (val table: GraftTable,
    val indexColumns: Seq[String], val idx: GraftTable) {

  /** The base handle, re-resolved when a rebucket made `table` stale —
    * the probe path point-reads the base by bucket, and a stale handle
    * would hash keys into dirs that no longer exist
    * ([[GraftTable.currentHandle]]).
    */
  private def base: GraftTable = table.currentHandle()

  private def metaFile = s"${idx.path}/_index_meta.json"

  /** Base-table version the index reflects (0 = nothing applied). */
  def appliedVersion: Long = readApplied()._1

  /** (appliedVersion, epoch) in ONE meta-file read — the guard sits on
    * the latency-sensitive point-lookup path.
    */
  private def readApplied(): (Long, Long) =
    WarehouseIO.readStringIfExists(metaFile) match {
      case None => (0L, 0L)
      case Some(s) =>
        def field(key: String): Long =
          ("\"" + key + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(s)
            .map(_.group(1).toLong).getOrElse(0L)
        (field("appliedVersion"), field("epoch"))
    }

  private def writeApplied(v: Long, epoch: Long): Unit =
    WarehouseIO.atomicWriteString(metaFile,
      s"""{"appliedVersion": $v, "epoch": $epoch}""")

  /** Catch the index up to the base table's latest committed version.
    * Reads ONLY the changelog slice after the last applied version —
    * except after a base-table RESTORE ([[GraftTable.rollbackTo]]),
    * detected by the rollback epoch, which forces a full rebuild: the
    * undone commits' index entries cannot be retracted incrementally.
    */
  def refresh(): Unit = {
    val t = base
    val epoch = t.rollbackEpoch
    val (from, appliedEp) = readApplied()
    // a vacuum past the applied version truncated the changelog slice we
    // would need — re-baseline from current state instead of refusing
    // forever (the create-time snapshot-build path, made recoverable)
    def vacuumedPast(fromV: Long): Boolean =
      try t.retainedFloorOffsets.exists { floor =>
        val fromOff = t.offsetsAtVersion(fromV)
        floor.exists { case (b, f) => fromOff.getOrElse(b, 0L) < f }
      } catch { case _: IllegalArgumentException => true }
    if (appliedEp != epoch || vacuumedPast(from)) rebuildFromState(t, epoch)
    else t.latestVersion.foreach { to =>
      if (to > from) {
        val ch = t.changesBetween(from, to)
        val entry = (indexColumns ++ t.desc.primaryKey).map(col) ++ Seq(
          col(Meta.LogOffset).as(SecondaryIndex.SourceOffsetCol),
          col(Meta.ChangeTypeCol).isin(
            ChangeType.UpdateBefore, ChangeType.Delete).as("__delete"))
        idx.upsertMixed(ch.select(entry: _*),
          orderBy = Seq(col(SecondaryIndex.SourceOffsetCol)))
        writeApplied(to, epoch)
      }
    }
  }

  /** Truncate + rebuild from the base's CURRENT state (also the
    * post-vacuum initial-build path).
    */
  private def rebuildFromState(t: GraftTable, epoch: Long): Unit = {
    idx.truncate()
    val v = t.latestVersion.getOrElse(0L)
    if (v > 0L) {
      val snap = t.scan().select(
        ((indexColumns ++ t.desc.primaryKey).map(col) :+
          lit(0L).as(SecondaryIndex.SourceOffsetCol) :+
          lit(false).as("__delete")): _*)
      idx.upsertMixed(snap, orderBy = Seq(col(SecondaryIndex.SourceOffsetCol)))
    }
    writeApplied(v, epoch)
  }

  /** Point probe by indexed value(s): bucket-pruned prefix lookup on the
    * index, then a batched PK lookup on the base table — two point reads,
    * no state scan. The matched key set is collected only up to
    * `maxCollectedKeys` (point-query scale, like every lookup path); a
    * HOT indexed value (e.g. an index on a low-cardinality `status`
    * column) falls back to a semi-join of the base state against the
    * index probe — same result, nothing data-scale on the driver and no
    * million-literal filter in the plan.
    */
  def lookup(values: Any*): DataFrame =
    lookupWithThreshold(SecondaryIndex.DefaultMaxCollectedKeys, values: _*)

  /** [[lookup]] with an explicit driver-collect cutover (spec hook). */
  def lookupWithThreshold(maxCollectedKeys: Int, values: Any*): DataFrame = {
    require(values.length == indexColumns.length,
      s"expected ${indexColumns.length} value(s) for $indexColumns")
    val t = base
    refreshGuard(t)
    val pk = t.desc.primaryKey
    val probe = idx.prefixLookup(indexColumns.zip(values).toMap)
      .select(pk.map(col): _*)
    // peek one past the threshold: ≤ threshold -> batched point lookups
    // (bucket-pruned, no shuffle); beyond it -> keyed semi-join
    val head = probe.limit(maxCollectedKeys + 1).collect()
    if (head.isEmpty) t.scan().limit(0)
    else if (head.length <= maxCollectedKeys) {
      val keys = head.map(r =>
        pk.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap).toSeq
      t.lookupAll(keys)
    } else t.scan().join(probe, pk, "left_semi")
  }

  private def refreshGuard(t: GraftTable): Unit = {
    val (version, epoch) = readApplied()
    require(epoch == t.rollbackEpoch,
      s"index at ${idx.path} predates a base-table restore — call " +
        "refresh() to rebuild (version numbers are reused after a " +
        "rollback, so the stale entries could silently serve undone rows)")
    val latest = t.latestVersion.getOrElse(0L)
    require(version == latest,
      s"index at ${idx.path} reflects base version $version but the " +
        s"table is at $latest — call refresh() first (stale reads are a " +
        "silent-wrong-answer class; the engine refuses instead)")
  }
}

object SecondaryIndex {

  /** Source log offset carried on every index entry: fixes the intra-batch
    * apply order and records entry provenance.
    */
  val SourceOffsetCol = "_src_offset"

  /** Matched-key count above which [[SecondaryIndex.lookup]] switches from
    * driver-collected point lookups to a distributed semi-join.
    */
  val DefaultMaxCollectedKeys = 10000

  /** Create and build an index on `table.indexColumns` as `db.name`.
    * The initial build replays the retained changelog when complete, and
    * falls back to a current-state snapshot build when the log was
    * vacuumed below version 0.
    */
  def create(catalog: Catalog, db: String, name: String, table: GraftTable,
      indexColumns: Seq[String]): SecondaryIndex = {
    require(table.desc.isPrimaryKeyTable, "secondary index requires a PK base table")
    require(indexColumns.nonEmpty, "no index columns")
    indexColumns.foreach(c => require(table.desc.schema.fieldNames.contains(c),
      s"index column $c not in base schema"))
    require(indexColumns.forall(!table.desc.primaryKey.contains(_)),
      "index columns must not be PK columns (PK lookups need no index)")
    // incremental maintenance deletes a changed value's OLD entry via the
    // changelog's -U before-row; WAL images suppress -U, which would
    // strand stale (value, key) entries — refuse
    require(table.desc.changelogImage == ChangelogImage.Full,
      "secondary index requires changelog image FULL (WAL images drop " +
        "the -U before-rows incremental maintenance deletes old entries with)")
    val fields = (indexColumns ++ table.desc.primaryKey)
      .map(c => table.desc.schema(c)) :+ StructField(SourceOffsetCol, LongType)
    val desc = TableDescriptor(StructType(fields),
      primaryKey = indexColumns ++ table.desc.primaryKey,
      bucketKeys = indexColumns,
      numBuckets = table.desc.numBuckets,
      // registration: a maintenance tick discovers this index from the
      // base table alone (IndexMaintenance.indexesOf) and keeps it fresh
      properties = Map(
        "index.kind" -> "secondary",
        "index.base.path" -> table.path,
        "index.columns" -> indexColumns.mkString(",")))
    val idx = catalog.createTable(db, name, desc)
    val si = new SecondaryIndex(table, indexColumns, idx)
    if (table.retainedFloorOffsets.exists(_.values.exists(_ > 0L)))
      // vacuumed history: snapshot build, then incremental from here
      // (the same rebuild the post-rollback path uses — one projection
      // to keep in sync, not two)
      si.rebuildFromState(table, table.rollbackEpoch)
    else si.refresh()
    si
  }

  /** Reopen an existing index table as an index handle. */
  def open(table: GraftTable, idx: GraftTable, indexColumns: Seq[String]): SecondaryIndex =
    new SecondaryIndex(table, indexColumns, idx)
}
