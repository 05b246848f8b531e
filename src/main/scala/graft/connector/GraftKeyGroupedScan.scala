package graft.connector

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning}
import org.apache.spark.sql.graftshim.ParquetRead
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, LessThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Buckets, ChangeType, GraftTable, HiveDirValues, Meta, WarehouseIO}

/** What a key-grouped scan reads. */
private[graft] sealed trait GraftScanTier
private[graft] object GraftScanTier {
  /** Append (log) table: committed-visible log rows, manifest-gated. */
  case object AppendLog extends GraftScanTier
  /** PK table in read-optimized mode: the KV snapshot tier only. */
  case object SnapshotOnly extends GraftScanTier
  /** PK table STATE INPUT: snapshot rows (system columns synthesized —
    * inserts at offset -1) ∪ the log tail at [snapshot cutoff, manifest)
    * per bucket — the exact rows [[graft.core.GraftTable]]'s V1
    * `stateInput` unions, planned as ONE grouped relation so the
    * PK collapse above it needs no exchange.
    */
  case object State extends GraftScanTier
  /** PK table LAKE UNION input (the reference's
    * FlussLakeUpsertPartitionReader, planner form): the tiered lake's
    * live files (resolved through the lake metadata under its lock at
    * relation construction — never re-listed here) ride as inserts at
    * offset -1, the log tail above the lake's pinned tier offsets gates
    * `[pinned, manifest)` per bucket. A bucket-aligned lake keeps the
    * table's own `__bucket=N/` dirs, so both sides report the same
    * grouping and the collapse above merges PER BUCKET with no
    * exchange — at 100 TB this deletes the full-lake shuffle every
    * union read otherwise pays. The caller applies the exact tail gate
    * above the scan (the State-tier convention).
    */
  final case class LakeUnion(lakeDir: String,
      lakeFiles: Seq[(String, Long)],
      pinned: Map[Int, Long]) extends GraftScanTier {
    // plan-audit form: the tier prints in every scan description (tree
    // line + detail + Spark UI) — summarize the file list, never dump it
    override def toString: String =
      s"LakeUnion($lakeDir, ${lakeFiles.size} lake files, pinned=" +
        pinned.toSeq.sorted.map { case (b, o) => s"$b:$o" }
          .mkString("{", ",", "})")
  }
}

/** Native bucket-grouped batch scan — the storage-partitioned-join
  * surface (the reference distributes every table by
  * `hash(bucketKeys) % numBuckets`, fluss-client/.../write/
  * HashBucketAssigner.java; this scan makes that physical layout VISIBLE
  * to Spark's planner instead of flattening it away). One
  * [[InputPartition]] per FILE, each reporting its bucket id as the
  * partition key under a `KeyGroupedPartitioning` over
  * `bucket(numBuckets, keys...)` resolved through
  * [[GraftBucketFunction]]; the exec side groups same-bucket files into
  * key-grouped tasks, pads buckets missing on one join side
  * (`v2.bucketing.pushPartValues`, default on), and — because the
  * per-file splits stay visible — `partiallyClusteredDistribution` can
  * split a SKEWED bucket across tasks instead of serializing the join
  * on its hottest key. With `spark.sql.sources.v2.bucketing.enabled`, a
  * join of two co-bucketed graft tables on their bucket keys then plans
  * with NO exchange on either side — at 100 TB the single biggest
  * shuffle in a fact-fact join disappears; so does the exchange under a
  * groupBy on the bucket keys, and — via [[GraftScanTier.State]] — the
  * exchange under every PK table's LatestRow collapse (the reference's
  * FlussUpsertPartitionReader merges per bucket for the same reason).
  *
  * The scan emits COLUMNAR batches whenever the row-level offset gate is
  * provably redundant: an id-gated manifest publishes each commit's
  * files and offsets in one atomic rename, so a visible file can never
  * hold a row at/above the manifest's next offsets, and the State tier's
  * exact tail gate moves ABOVE the scan as a Catalyst filter over the
  * caller-pinned cutoffs ([[GraftStateRelation.stateInput]]) — the
  * vectorized parquet reader's ColumnarBatches then flow straight into
  * whole-stage codegen through `ColumnarToRow` instead of one
  * `UnsafeProjection` copy per row in the reader (the same decode path
  * `FileSourceScanExec.supportsColumnar` picks for a native parquet
  * scan). Legacy manifests (no commit-id set) and batch-unsupported
  * schemas keep the row-based gated reader.
  *
  * Opt-in via `spark.sql.graft.read.preserve-data-grouping` (the
  * reference-lake pattern: Iceberg gates the same behavior behind
  * `preserve-data-grouping` because key-grouped planning caps
  * exploited-scan parallelism at the bucket count — right for big
  * co-located joins and collapses, wrong as a blanket default). Filters
  * stay best-effort: data-column predicates push to parquet row groups,
  * partition/bucket-dir equalities prune files, and Spark re-applies
  * everything as residuals above the scan.
  *
  * @param pinnedCutoffs State tier only: `Some(cutOpt)` means the caller
  *   read the snapshot cutoffs ONCE at relation construction, plans this
  *   scan against exactly them, and applies the exact per-bucket tail
  *   gate (`offset == -1 OR offset >= cutoff(bucket)`) itself above the
  *   scan — planning re-checks the live cutoffs and refuses loudly if a
  *   concurrent compact moved them (silent duplication otherwise). None:
  *   the scan reads cutoffs itself and the reader row-gates.
  */
final class GraftKeyGroupedScan(table: GraftTable, required: StructType,
    filters: Array[Filter], tier: GraftScanTier,
    streamParams: Map[String, String] = Map.empty,
    pinnedCutoffs: Option[Option[Map[Int, Long]]] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  /** A catalog table's Scan serves BOTH read modes — Spark decides
    * batch-vs-stream after `build()`, so a streaming read of a bucketed
    * table under `preserve-data-grouping` lands here too and must reach
    * the same micro-batch stream the V1 scan path builds.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new graft.streaming.GraftMicroBatchStream(table, required, streamParams,
      Some(checkpointLocation))

  private val spark = table.sparkSession
  private val desc = table.desc
  private val bucketKeys = desc.effectiveBucketKeys

  // ---- schema split per source flavor: dirs encode (partitionKeys,
  // __bucket); files hold the rest (identical layout on both tiers:
  // compact() partitions the snapshot exactly like the log). Snapshot
  // rows in State tier additionally SYNTHESIZE the system columns as
  // constant partition values (offset -1, epoch ts, insert) — the same
  // convention as the streaming seed planner.

  /** One way of mapping files to output rows: which columns are in the
    * parquet, which ride as partition values, and where each output
    * column lives in the reader's (data ++ partition) row.
    */
  private final case class Flavor(fileSchema: StructType,
      partFields: Array[StructField], requiredData: StructType,
      offsetOrdinal: Int, outputOrdinals: Array[Int],
      combinedTypes: Array[DataType], reader: ParquetRead.FileReader)

  private val dirFields: Array[StructField] =
    (desc.partitionKeys.map(k => desc.schema(desc.schema.fieldIndex(k))) :+
      StructField(Meta.Bucket, IntegerType, nullable = false)).toArray

  private def requiredDataOf(fileSchema: StructType,
      gateOffsets: Boolean): StructType = StructType(
    required.fields.filter(f => fileSchema.fieldNames.contains(f.name)) ++
      (if (gateOffsets && !required.fieldNames.contains(Meta.Offset))
         Seq(StructField(Meta.Offset, LongType, nullable = false))
       else Nil))

  private def mkFlavor(fileSchema: StructType,
      partFields: Array[StructField], gateOffsets: Boolean,
      pushGates: Seq[Filter], columnar: Boolean): Flavor = {
    val requiredData = requiredDataOf(fileSchema, gateOffsets)
    val combined: Array[DataType] =
      (requiredData.fields ++ partFields).map(_.dataType)
    val ordinals: Array[Int] = required.fields.map { f =>
      if (requiredData.fieldNames.contains(f.name))
        requiredData.fieldIndex(f.name)
      else requiredData.length + partFields.indexWhere(_.name == f.name)
    }
    val dataCols = fileSchema.fieldNames.toSet
    // INVARIANT: every pushed filter's references must be in the READ
    // schema — parquet's row-group stats filter treats a column missing
    // from the clipped projection as all-null and drops every row group
    // (both reader modes), silently losing all rows. Spark's own pushed
    // filters satisfy this (pruneColumns includes residual-filter refs);
    // the self-synthesized offset gates satisfy it only when __offset is
    // read (gateOffsets, or the State tail gate above the scan keeping
    // it required) — otherwise they are dropped here, which is always
    // sound: pushed gates are row-group skip hints, exactness lives in
    // the row gate or the caller's filter.
    val readCols = requiredData.fieldNames.toSet
    val pushable = (filters.toIndexedSeq ++ pushGates).filter(
      _.references.forall(r => dataCols.contains(r) && readCols.contains(r)))
    Flavor(fileSchema, partFields, requiredData,
      if (gateOffsets) requiredData.fieldIndex(Meta.Offset) else -1,
      ordinals, combined,
      if (columnar)
        ParquetRead.buildBatchReader(spark, fileSchema,
          StructType(partFields), requiredData, pushable)
      else
        ParquetRead.buildReader(spark, fileSchema, StructType(partFields),
          requiredData, pushable))
  }

  /** File schema of the log tier (data + non-dir system columns). */
  private def logFileSchema: StructType =
    StructType(table.logSchema.fields.filterNot(f =>
      desc.partitionKeys.contains(f.name) || f.name == Meta.Bucket))

  /** File schema of the snapshot tier (data columns not in dirs). */
  private def snapFileSchema: StructType =
    StructType(desc.schema.fields.filterNot(f =>
      desc.partitionKeys.contains(f.name)))

  private def snapPartFields(synthesizeSys: Boolean): Array[StructField] =
    if (!synthesizeSys) dirFields
    else dirFields ++ Array(
      StructField(Meta.Offset, LongType, nullable = false),
      StructField(Meta.Timestamp, TimestampType, nullable = false),
      StructField(Meta.ChangeTypeCol, StringType, nullable = false))

  private def logFlavor(lo: Map[Int, Long], hi: Map[Int, Long],
      gateRows: Boolean, columnar: Boolean): Flavor = {
    // row-group/page skipping envelope across all buckets; sound as a
    // PUSHED filter in every mode: either the reader row-gates the exact
    // per-bucket [lo, hi) window, or the window is enforced outside the
    // scan (hi by the id-gated file listing, lo by the caller's pinned
    // tail filter over the same cutoff map)
    val gates =
      (if (hi.nonEmpty) Seq(LessThan(Meta.Offset, hi.values.max)) else Nil) ++
        // the lower envelope is only sound when EVERY bucket has a
        // cutoff (a bucket absent from the map defaults to 0 in the
        // row gate — an envelope above 0 would skip its row groups)
        (if (lo.size == table.desc.numBuckets && lo.values.forall(_ > 0L))
           Seq(GreaterThanOrEqual(Meta.Offset, lo.values.min)) else Nil)
    mkFlavor(logFileSchema, dirFields, gateOffsets = gateRows, gates,
      columnar)
  }

  private def snapshotFlavor(synthesizeSys: Boolean,
      columnar: Boolean): Flavor =
    mkFlavor(snapFileSchema, snapPartFields(synthesizeSys),
      gateOffsets = false, Nil, columnar)

  override def readSchema(): StructType = required

  override def toBatch: Batch = this

  override def outputPartitioning(): Partitioning =
    new KeyGroupedPartitioning(
      Array(Expressions.bucket(desc.numBuckets, bucketKeys: _*)),
      desc.numBuckets)

  // ---- runtime filtering (DPP's DSv2 form): a selective join pushes
  // its build-side key set here before execution, and the scan prunes
  // to just the BUCKETS those keys hash to (plus any partition-dir
  // values they pin) — the batch-scale form of the reference's
  // lookup-side pruning. Over-inclusion is always safe (the join
  // re-checks keys); pruning is exact: a file is dropped only when NO
  // pushed key can live in it.

  @volatile private var runtimeFilters: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    (bucketKeys ++ desc.partitionKeys).distinct
      .map(c => Expressions.column(c)).toArray

  override def filter(fs: Array[Filter]): Unit = { runtimeFilters = fs }

  /** Admissible buckets from runtime In/EqualTo on the (single) bucket
    * key — each key value hashes through the writer's own assignment
    * ([[graft.core.Buckets]]). None = no constraint.
    */
  private def runtimeBuckets(rf: Array[Filter]): Option[Set[Int]] = {
    if (bucketKeys.length != 1) return None
    val key = bucketKeys.head
    val kt = Seq(desc.schema(key).dataType)
    def bucketOf(v: Any): Int =
      Buckets.ofValues(Seq(v), kt, desc.numBuckets)
    val sets = rf.collect {
      case In(a, vs) if a == key => vs.toSet.map(bucketOf)
      case EqualTo(a, v) if a == key => Set(bucketOf(v))
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }

  /** Admissible dir values per dir-encoded column (the bucket id and
    * partition keys) from In/EqualTo predicates — only on types whose
    * dir encoding is the plain string form of the literal. Skipping a
    * file is an optimization; keeping one is always safe (Spark
    * re-applies every filter above the scan). Top-level conjuncts only:
    * an OR cannot pin a dir.
    */
  private def dirValueSets(fs: Array[Filter]): Map[String, Set[String]] =
    fs.collect {
      case In(a, vs) if dirPrunable(a) => a -> vs.map(String.valueOf).toSet
      case EqualTo(a, v) if dirPrunable(a) => a -> Set(String.valueOf(v))
    }.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).reduce(_ intersect _)
    }

  private def dirPrunable(c: String): Boolean =
    c == Meta.Bucket ||
      (desc.partitionKeys.contains(c) && (desc.schema(c).dataType match {
        // types whose literal's string form IS the dir encoding (dates:
        // Spark writes ISO dirs; java.sql.Date.toString is ISO)
        case StringType | IntegerType | LongType | ShortType | ByteType |
            DateType => true
        case _ => false
      }))

  /** Static dir pruning sets — printed in [[description]]. */
  private val dirEqs: Map[String, Set[String]] = dirValueSets(filters)

  private def listFiles(baseDir: String,
      entries: Seq[(String, Long)])
      : Seq[(Int, String, Long, Map[String, String])] = {
    val rf = runtimeFilters
    // key-hash bucket pruning from static AND runtime predicates (a
    // catalog point lookup `k = 7` prunes to one bucket here, same as
    // the V1 path's BucketPruneRule) — DISABLED while a rebucket marker
    // exists: the hash would use a possibly-stale bucket count over a
    // log already swapped into the new numbering and silently drop the
    // key's real file (over-inclusion is always safe, Spark re-applies
    // the filters above the scan)
    val rtBuckets =
      if (table.bucketPruneUnsafe) None
      else runtimeBuckets(filters ++ rf)
    // static + runtime dir constraints intersect per column
    val dirSets = (dirEqs.toSeq ++ dirValueSets(rf).toSeq)
      .groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2).reduce(_ intersect _)
      }
    entries.flatMap { case (path, len) =>
      val kvs = HiveDirValues.kvsOf(WarehouseIO.relativize(baseDir, path))
      val bucket = kvs.getOrElse(Meta.Bucket,
        throw new IllegalStateException(
          s"file $path has no ${Meta.Bucket}= dir segment " +
            "(legacy unpartitioned layout? re-run compact())")).toInt
      val pruned = dirSets.exists { case (c, ok) =>
        val raw = if (c == Meta.Bucket) Some(bucket.toString) else kvs.get(c)
        raw.exists(r => !ok(HiveDirValues.unescape(r)))
      } || rtBuckets.exists(!_.contains(bucket))
      if (pruned) None else Some((bucket, path, len, kvs))
    }
  }

  private def dirValues(kvs: Map[String, String], bucket: Int): Array[Any] =
    dirFields.map { f =>
      if (f.name == Meta.Bucket) Int.box(bucket)
      else HiveDirValues.decode(kvs.get(f.name), f, spark)
    }

  override def planInputPartitions(): Array[InputPartition] = {
    // ONE partition per FILE, not per bucket: the exec side groups
    // same-key partitions back into key-grouped tasks
    // (DataSourceV2ScanExecBase.groupedPartitions), missing bucket
    // values on one join side are padded by Spark's
    // v2.bucketing.pushPartValues (default on), and keeping per-file
    // splits visible is what lets partiallyClusteredDistribution split
    // a SKEWED bucket across tasks instead of serializing the join on
    // its hottest key.
    //
    // Offsets, visible files and the gate-redundancy proof come from
    // ONE manifest parse (a commit between two parses could otherwise
    // list files from a newer manifest than the gate) — when the gate
    // is redundant and the schema is batch-supported, every partition
    // flips to COLUMNAR output.
    val (manifestHi, logEntries, logGateFree) = tier match {
      case GraftScanTier.SnapshotOnly => (Map.empty[Int, Long], Nil, true)
      case _ =>
        val m = table.tableLog.read()
        val log = table.tableLog.visible(m)
        (m.offsets, log.files.map(f => f.path -> f.len), log.gateFree)
    }
    val cutoffs: Option[Map[Int, Long]] =
      if (tier != GraftScanTier.State) None
      else pinnedCutoffs.getOrElse(table.snapshotCutoffs)
    if (tier == GraftScanTier.State && pinnedCutoffs.isDefined) {
      // the caller's tail gate was built from the pinned cutoffs; a
      // compact landing since would make this scan's snapshot newer
      // than the gate and silently duplicate the re-tiered window —
      // refuse loudly instead (the caller rebuilds and retries)
      val live = table.snapshotCutoffs
      require(live == pinnedCutoffs.get,
        s"snapshot cutoffs of ${table.path} moved from " +
          s"${pinnedCutoffs.get} to $live between state-relation " +
          "construction and scan planning (concurrent compact); re-read")
    }
    // the reader row-gates only when the gate can actually fire: a
    // non-id-gated manifest (legacy) can expose rows at/above the
    // manifest offsets, and a State tail without a caller-side gate
    // must drop rows below the snapshot cutoffs itself (LakeUnion's
    // caller ALWAYS gates the tail above, stateInput-style)
    val gateLogRows = tier match {
      case GraftScanTier.AppendLog => !logGateFree
      case GraftScanTier.State => !(logGateFree && pinnedCutoffs.isDefined)
      case _: GraftScanTier.LakeUnion => !logGateFree
      case GraftScanTier.SnapshotOnly => false
    }
    val wantsLog = tier != GraftScanTier.SnapshotOnly
    val wantsSnap = tier match {
      case GraftScanTier.AppendLog => false
      case GraftScanTier.State => cutoffs.isDefined
      case _ => true // snapshot dir or lake live files
    }
    val synthesizeSys = tier match {
      case GraftScanTier.State | _: GraftScanTier.LakeUnion => true
      case _ => false
    }
    val columnar = !gateLogRows &&
      (!wantsLog || ParquetRead.supportBatch(spark, StructType(
        requiredDataOf(logFileSchema, gateOffsets = false) ++ dirFields))) &&
      (!wantsSnap || ParquetRead.supportBatch(spark, StructType(
        requiredDataOf(snapFileSchema, gateOffsets = false) ++
          snapPartFields(synthesizeSys))))

    def logParts(lo: Map[Int, Long]): Seq[InputPartition] = {
      val fl = logFlavor(lo, manifestHi, gateLogRows, columnar)
      listFiles(table.logDirPath, logEntries).map { case (b, path, len, kvs) =>
        GraftBucketInputPartition(b,
          BucketFile(path, len, dirValues(kvs, b)),
          fl.offsetOrdinal, lo.getOrElse(b, 0L),
          manifestHi.getOrElse(b, 0L),
          fl.outputOrdinals, fl.combinedTypes, fl.reader,
          columnar): InputPartition
      }
    }
    // snapshot-shaped sides: the KV snapshot dir, or a bucket-aligned
    // lake's live files (same file layout — data columns in the files,
    // partition keys + __bucket in the dirs)
    def snapParts(baseDir: String,
        entries: Seq[(String, Long)]): Seq[InputPartition] = {
      val fl = snapshotFlavor(synthesizeSys, columnar)
      listFiles(baseDir, entries).map { case (b, path, len, kvs) =>
        val pv: Array[Any] =
          if (!synthesizeSys) dirValues(kvs, b)
          else dirValues(kvs, b) ++ Array[Any](Long.box(-1L), Long.box(0L),
            UTF8String.fromString(ChangeType.Insert))
        GraftBucketInputPartition(b, BucketFile(path, len, pv),
          offsetOrdinal = -1, lo = 0L, hi = 0L,
          fl.outputOrdinals, fl.combinedTypes, fl.reader,
          columnar): InputPartition
      }
    }
    def walkDir(d: String): Seq[(String, Long)] =
      WarehouseIO.walkFiles(d)
        .filter(e => !e.isDir && e.name.endsWith(".parquet"))
        .map(e => e.path -> e.len)
    // snapshot META present but the snapshot DIR gone = a crashed
    // compact's swap window (snapshot.old moved aside, new never
    // arrived). Reading on would silently serve a log-tail-only state —
    // fail as loudly as the V1 path's missing-dir parquet read does.
    def snapshotDirOrFail(): String = {
      val d = table.snapshotDirPath
      require(WarehouseIO.exists(d),
        s"${table.path} has snapshot metadata but no snapshot directory " +
          "(crashed compact mid-swap?); restore snapshot.old or re-run " +
          "compact()")
      d
    }
    (tier match {
      case GraftScanTier.AppendLog => logParts(Map.empty)
      case GraftScanTier.SnapshotOnly =>
        snapParts(snapshotDirOrFail(), walkDir(table.snapshotDirPath))
      case GraftScanTier.State =>
        cutoffs match {
          case None => logParts(Map.empty)
          case Some(cut) =>
            snapParts(snapshotDirOrFail(),
              walkDir(table.snapshotDirPath)) ++ logParts(cut)
        }
      case lu: GraftScanTier.LakeUnion =>
        snapParts(lu.lakeDir, lu.lakeFiles) ++ logParts(lu.pinned)
    }).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftBucketReaderFactory

  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val (bytes, rows) = table.plannerStats()
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(bytes, 1L))
      override def numRows(): java.util.OptionalLong =
        rows.map(java.util.OptionalLong.of)
          .getOrElse(java.util.OptionalLong.empty())
      // per-column min/max/nulls from footers (cached per table state):
      // CBO estimates filter selectivity at plan time, so a selective
      // predicate flips a join to broadcast in the INITIAL plan
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        GraftColumnStats.of(table)
    }
  }

  override def description(): String =
    s"GraftKeyGroupedScan(${table.path}, " +
      s"bucket(${desc.numBuckets}, ${bucketKeys.mkString(",")}), $tier)" +
      // dir-value file pruning, printed in the V1 scans' audit
      // vocabulary so plan audits read uniformly
      (if (dirEqs.isEmpty) ""
       else dirEqs.toSeq.sortBy(_._1).map { case (c, vs) =>
         if (vs.size == 1) s"$c = ${vs.head}"
         else s"$c IN (${vs.toSeq.sorted.mkString(",")})"
       }.mkString(" PartitionFilters: [", ", ", "]"))
}

/** One file of one bucket: path, size, catalyst-typed dir (and, for
  * State-tier snapshot files, synthesized system) values.
  */
private[connector] final case class BucketFile(path: String, len: Long,
    partValues: Array[Any])

/** One file's partition; `partitionKey` is the bucket id — the value
  * of the reported `bucket(numBuckets, keys...)` grouping expression
  * (many files may share it; the exec groups them). Log files gate
  * rows to the manifest window `[lo, hi)`; `offsetOrdinal` -1 means
  * ungated (snapshot tiers, or the gate proved redundant at planning).
  * `columnar` = the reader emits ColumnarBatches (uniform across a
  * scan's partitions — Spark refuses mixed scans).
  */
private[connector] final case class GraftBucketInputPartition(bucket: Int,
    file: BucketFile, offsetOrdinal: Int, lo: Long, hi: Long,
    outputOrdinals: Array[Int], combinedTypes: Array[DataType],
    reader: ParquetRead.FileReader, columnar: Boolean = false)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
}

private[connector] object GraftBucketReaderFactory
    extends PartitionReaderFactory {

  override def supportColumnarReads(partition: InputPartition): Boolean =
    partition.asInstanceOf[GraftBucketInputPartition].columnar

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftBucketInputPartition]
    new PartitionReader[InternalRow] {
      // the parquet iterator registers its own task-completion close
      private val rows = p.reader(ParquetRead.partitionedFile(
        new GenericInternalRow(p.file.partValues), p.file.path, p.file.len))
      private val proj = UnsafeProjection.create(
        p.outputOrdinals.toIndexedSeq.map(i =>
          BoundReference(i, p.combinedTypes(i), nullable = true)))
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (rows.hasNext) {
          val r = rows.next()
          // pushed filters only skip row groups; the exact manifest
          // gate is row-level (ordinal -1 = snapshot tier, no gate)
          if (p.offsetOrdinal < 0 || {
            val off = r.getLong(p.offsetOrdinal)
            off >= p.lo && off < p.hi
          }) {
            current = proj(r)
            return true
          }
        }
        false
      }

      override def get(): InternalRow = current

      override def close(): Unit = ()
    }
  }

  /** Columnar path: the batch-mode parquet reader's ColumnarBatches,
    * columns re-wrapped into the scan's output order (partition/dir
    * values ride as constant vectors the reader already appended). No
    * per-row work happens here — the first row-wise touch is the
    * codegen'd `ColumnarToRow` above the scan.
    */
  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val p = partition.asInstanceOf[GraftBucketInputPartition]
    new PartitionReader[ColumnarBatch] {
      // erased to Iterator[InternalRow] by the file-source contract;
      // elements ARE ColumnarBatches (FileSourceScanExec does the same
      // cast in doExecuteColumnar)
      private val batches = p.reader(ParquetRead.partitionedFile(
          new GenericInternalRow(p.file.partValues), p.file.path,
          p.file.len))
        .asInstanceOf[Iterator[ColumnarBatch]]
      private var current: ColumnarBatch = _

      override def next(): Boolean = {
        if (!batches.hasNext) return false
        val b = batches.next()
        val out = new ColumnarBatch(p.outputOrdinals.map(b.column))
        out.setNumRows(b.numRows)
        current = out
        true
      }

      override def get(): ColumnarBatch = current

      // vectors belong to the underlying reader (it closes on task
      // completion); closing the re-wrap would close them mid-task
      override def close(): Unit = ()
    }
  }
}
