package graft.core

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.merge.{Materialize, WriteMerge}

/** A table handle: append-only parquet log + lazily-materialized state.
  *
  * Storage model (SURVEY §7.1): the log is the table — every row carries
  * `__bucket` (hash distribution, like FlussBucketingFunction.java:40),
  * `__offset` (per-bucket contiguous, assigned at commit from a tiny
  * driver-side manifest, mirroring the log tablet's next-offset), `__timestamp`
  * (commit time) and `_change_type` (ChangeType.java:34-58). PK-table reads
  * materialize current state from snapshot ∪ log tail — the same shape as
  * the reference's KvSnapshotAndLogBatchScanner (fluss-client/.../batch/
  * KvSnapshotAndLogBatchScanner.java:56) and lake union read (S7).
  *
  * Scale posture: the log is hive-partitioned by the table's partition keys
  * and `__bucket`, so lookups and per-bucket scans prune files; offsets are
  * assigned with one `row_number` window per bucket — the same shuffle that
  * bucket routing needs anyway; nothing but the ~numBuckets-entry offset
  * manifest ever reaches the driver.
  */
final class GraftTable(val path: String, val desc: TableDescriptor,
    spark: SparkSession) {

  /** The session this handle plans against (read-only accessor). */
  def sparkSession: SparkSession = spark

  /** The commit layer: manifest, visible-log listing, lock, publish. */
  private[graft] val tableLog = new TableLog(path, desc)
  private val logDir = tableLog.logDir
  private val snapshotDir = s"$path/snapshot"
  private val snapshotMetaFile = s"$path/_snapshot.json"
  private val vacuumMarkerFile = s"$path/_vacuumed.json"
  private val retentionMarkerFile = s"$path/_retention.json"
  private val leasesFile = s"$path/_leases.json"
  private val rollbackEpochFile = s"$path/_rollbacks.json"
  @volatile private var snapshotLayoutChecked = false

  // P5: let the optimizer rule map this log dir back to its bucket layout.
  graft.plans.BucketPruning.register(logDir, desc.effectiveBucketKeys, desc.numBuckets)

  /** Full log schema: data columns + system columns. */
  val logSchema: StructType = StructType(desc.schema.fields ++ Seq(
    StructField(Meta.ChangeTypeCol, StringType, nullable = false),
    StructField(Meta.Offset, LongType, nullable = false),
    StructField(Meta.Timestamp, TimestampType, nullable = false),
    StructField(Meta.Bucket, IntegerType, nullable = false)))

  // ---------------------------------------------------------------------
  // log read
  // ---------------------------------------------------------------------

  /** Join-key normalization ONLY (never a path to read): Spark's
    * input_file_name() renders local files as "file:///x" while Hadoop
    * listings render "file:/x" — collapse both to "/x"; other schemes
    * print identically on both sides and pass through.
    */
  private def stripFileScheme(s: String): String =
    s.replaceFirst("^file:/*", "/")

  /** The log directory (partition layout: `<partitionKeys>/__bucket=N/`)
    * — the base the streaming planner relativizes file paths against.
    */
  private[graft] def logDirPath: String = logDir

  /** The KV snapshot directory (same partition layout as the log) — the
    * key-grouped read-optimized scan's planning base.
    */
  private[graft] def snapshotDirPath: String = snapshotDir

  /** Whether a compacted KV snapshot tier exists (its offsets meta is
    * published).
    */
  private[graft] def hasSnapshotTier: Boolean = readSnapshotMeta().isDefined

  /** The snapshot tier's per-bucket log cutoffs (rows below these are in
    * the snapshot; the tail at/above them replays over it) — the grouped
    * state scan's planning input.
    */
  private[graft] def snapshotCutoffs: Option[Map[Int, Long]] =
    readSnapshotMeta()

  /** Per-bucket value as an O(1) literal-map lookup (a when-chain would
    * grow a numBuckets-deep expression tree on every read/commit).
    */
  private def bucketMapExpr(m: Map[Int, Long], default: Long): Column =
    if (m.isEmpty) lit(default)
    else coalesce(element_at(typedlit(m), col(Meta.Bucket)), lit(default))

  /** Raw log (changelog) with system columns. Reads are gated on the
    * offset manifest: only rows below each bucket's published next
    * offset are visible, so files from a commit that crashed between
    * its file move and its manifest publish never surface.
    */
  def logDF: DataFrame = logDFFor(tableLog.read())

  /** [[logDF]] against ONE pinned manifest version: the visible-file set
    * and the offset gate must come from the same read, or a commit landing
    * between two manifest reads could gate in rows whose files were listed
    * from the older version (and vice versa). Also the only way callers
    * like [[vacuumLog]] can conflict-check against exactly the state their
    * rewrite saw.
    */
  private def logDFFor(m: Manifest): DataFrame = {
    val log = tableLog.visible(m)
    if (log.files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], logSchema)
    } else {
      // Steady state (no crash residue): one recursive root listing —
      // Spark qualifies EXPLICIT paths one driver FS call apiece, which
      // showed up as +0.1-0.4 s per table query at sf0.1. Only when the
      // walk finds unmanifested residue (a crashed commit, until the next
      // commit deletes it) does the scan pin the visible file list
      // explicitly; basePath keeps partition parsing (and pruning)
      // identical in both shapes.
      val src = if (log.residue) spark.read.schema(logSchema)
          .option("basePath", logDir).parquet(log.files.map(_.path): _*)
        else spark.read.schema(logSchema)
          .option("basePath", logDir).parquet(logDir)
      src.select(logSchema.fieldNames.map(col).toIndexedSeq: _*)
        .filter(col(Meta.Offset) < bucketMapExpr(m.offsets, 0L))
    }
  }

  // ---------------------------------------------------------------------
  // offset manifest ([[Manifest]], published through [[TableLog]])
  // ---------------------------------------------------------------------

  /** Last streaming batch id committed by sink `sinkId`, if any. */
  def committedBatchId(sinkId: String): Option[Long] =
    tableLog.read().commitTags.get(sinkId)

  /** Per-bucket next offsets (the "latest offset" metadata the reference
    * answers count(*) from, PushdownUtils.java:348-440).
    */
  def latestOffsets: Map[Int, Long] = tableLog.read().offsets

  /** Per-bucket earliest RETAINED offset after a [[vacuumLog]] (the
    * reference's earliest-offset / log-start-offset metadata); None while
    * the full log is retained. Consumers positioned below this floor
    * have unreadably-purged records ahead of them. Read from the vacuum
    * marker's pinned cutoff — NOT current snapshot meta, which keeps
    * advancing with later `compact()` calls while the log start stays
    * put until the next vacuum. Markers written by pre-floor code fall
    * back to snapshot meta (the old, possibly-inflated behavior).
    */
  def retainedFloorOffsets: Option[Map[Int, Long]] =
    WarehouseIO.readStringIfExists(vacuumMarkerFile).flatMap { markerJson =>
      val obj = JsonMethods.parse(markerJson)
        .asInstanceOf[JObject].obj.toMap[String, JValue]
      obj.get("floorOffsets") match {
        case Some(o: JObject) => Some(Manifest.bucketMap(o))
        case _ => readSnapshotMeta()
      }
    }

  /** Earliest offset at-or-after `ts` per bucket — the reference's
    * timestamp→offset resolution (TimeIndex.java / ListOffsetsParam.java).
    * Buckets with no such record resolve to their next offset (empty read).
    * One tiny aggregate; only ≤numBuckets rows reach the driver.
    */
  def offsetsForTimestamp(ts: java.sql.Timestamp): Map[Int, Long] = {
    val found = logDF.filter(col(Meta.Timestamp) >= lit(ts))
      .groupBy(col(Meta.Bucket)).agg(min(col(Meta.Offset)).as("o")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    tableLog.read().offsets.map { case (b, next) => b -> found.getOrElse(b, next) }
  }

  /** Startup-mode `timestamp` as a bounded read (T1,
    * FlinkConnectorOptions.java:304-316): log records from the resolved
    * per-bucket offsets onward. `earliest` = logDF; `latest` = empty tail.
    */
  def scanFromTimestamp(ts: java.sql.Timestamp): DataFrame = {
    val offs = offsetsForTimestamp(ts)
    scanFromOffsets(offs)
  }

  /** Bounded read from explicit per-bucket offsets — the batch form of
    * LogScanner.subscribe(bucket, offset) (LogScannerImpl.java:55):
    * records at/after each bucket's offset; buckets absent from the map
    * are not read.
    */
  def scanFromOffsets(offsets: Map[Int, Long]): DataFrame =
    logDF.filter(col(Meta.Offset) >= bucketMapExpr(offsets, Long.MaxValue))
      .select(desc.schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Bounded log-range read — the batch form of one LogScanner poll
    * (LogScannerImpl.java:55): records with `from <= __offset < until`
    * per bucket. Buckets absent from `until` are not read; buckets
    * absent from `from` start at 0. System columns are retained (the
    * ScanRecord surface: change type, offset, timestamp, bucket). The
    * offset gates make the result immutable under later commits — new
    * records land at/above `until`, so a lazily-executed range read
    * still returns exactly the polled window.
    */
  def scanRange(from: Map[Int, Long], until: Map[Int, Long]): DataFrame =
    logDF.filter(col(Meta.Offset) >= bucketMapExpr(from, 0L) &&
      col(Meta.Offset) < bucketMapExpr(until, 0L))

  /** Time travel (`TIMESTAMP AS OF`, lakehouse semantics): the table
    * STATE as of `ts` — every log record committed at or before `ts`,
    * keyed-merged for PK tables. Distinct from [[scanFromTimestamp]]
    * (T1 startup mode = records from `ts` ONWARD). History is bounded by
    * log retention: after `vacuumLog()` only times at/after the snapshot
    * cutoff are reconstructible, so reads older than the retained log
    * fail loudly rather than returning partial state.
    */
  def scanAsOf(ts: java.sql.Timestamp): DataFrame = {
    // partition retention/drop physically deleted history that the log's
    // offsets still count — state before the delete is unreconstructible
    retentionFloorMillis().foreach { floor =>
      require(ts.getTime >= floor,
        s"time travel to $ts precedes a partition retention delete at " +
          s"${new java.sql.Timestamp(floor)}; that state is unreconstructible")
    }
    // vacuum leaves a driver-readable marker: no log scan needed to
    // learn whether history was truncated (or what the travel floor is)
    val bound = readMarkerMillis(vacuumMarkerFile, "boundMillis")
      .map(new java.sql.Timestamp(_))
    val upTo = bound match {
      case None if readSnapshotMeta().isDefined && {
          // belt over the marker: a table vacuumed by pre-marker code (or
          // a vacuum that crashed before writing its marker) still has a
          // truncated log — detect it from the retained offsets once
          val mins = logDF.groupBy(col(Meta.Bucket))
            .agg(min(col(Meta.Offset)).as("mn")).collect()
          mins.isEmpty || mins.exists(_.getLong(1) > 0L)
        } =>
        throw new IllegalStateException(
          s"log at $path is truncated but has no vacuum marker; " +
            "re-run vacuumLog() to record the time-travel floor")
      case None =>
        // full history retained: replay the log alone (a snapshot, which
        // reflects state at compact time, must NOT leak into older reads)
        logDF.filter(col(Meta.Timestamp) <= lit(ts))
      case Some(floor) =>
        // truncated history: pre-cutoff state lives only in the snapshot
        require(!ts.before(floor),
          s"time travel to $ts precedes retained history (log vacuumed; " +
            s"valid from $floor)")
        // snapshot rows carry Timestamp(0) and replay below any tail row
        stateInput(None).filter(col(Meta.Timestamp) <= lit(ts))
    }
    if (desc.isPrimaryKeyTable) Materialize.currentState(upTo, desc)
    else upTo.select(desc.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** Commit history (iceberg `history`/`snapshots` analog): one row per
    * offset-advancing commit — version, commit time, rows appended by the
    * commit and cumulative log length. Driver-scale (the manifest's
    * history list), no file scan. Tables written before history recording
    * existed have entries only from their first post-upgrade commit.
    */
  def history(): DataFrame = {
    val hist = tableLog.read().history
    val rows = hist.foldLeft((0L, List.empty[Row])) { case ((prev, acc), e) =>
      val total = e.offsets.values.sum
      (total, acc :+ Row(e.version, new java.sql.Timestamp(e.tsMillis),
        total - prev, total))
    }._2
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", LongType, nullable = false),
        StructField("committed_at", TimestampType, nullable = false),
        StructField("rows_appended", LongType, nullable = false),
        StructField("total_rows", LongType, nullable = false))))
  }

  /** File-level metadata (iceberg `files` analog): one row per visible
    * log file — relative path, originating commit id, size, and from one
    * distributed pass over the log: row count and the file's offset
    * range. The operational view for layout decisions (small-file
    * pressure → [[rewriteLogFiles]], clustering quality after a z-order
    * rewrite) and for debugging which commit produced which file.
    *
    * `statsFor` adds per-file `min_<c>`/`max_<c>` for the named columns
    * (same distributed pass) — exactly what min/max skipping prunes on,
    * so narrow ranges here mean predicates on that column skip files.
    */
  def filesMeta(statsFor: Seq[String] = Nil): DataFrame = {
    import scala.jdk.CollectionConverters._
    // no explicit columns → the table's own `table.statistics.columns`
    // property (the reference's per-table stats-column option), so the
    // `files` metadata table carries min/max for the declared columns
    val statCols =
      if (statsFor.nonEmpty) statsFor
      else desc.properties.get("table.statistics.columns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil)
    val m = tableLog.read()
    val files = tableLog.visible(m).files
    val schema = StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("commit_id", StringType, nullable = true),
      StructField("bytes", LongType, nullable = false),
      StructField("__path", StringType, nullable = false)))
    if (files.isEmpty)
      return spark.createDataFrame(List.empty[Row].asJava,
        StructType(schema.fields.dropRight(1) ++ Seq(
          StructField("bucket", IntegerType), StructField("n_rows", LongType),
          StructField("min_offset", LongType), StructField("max_offset", LongType))))
    val listed = files.map(f => Row(WarehouseIO.relativize(logDir, f.path),
      f.commitId.orNull, f.len, stripFileScheme(f.path)))
    val sizes = spark.createDataFrame(listed.asJava, schema)
    val aggExprs = Seq(
      first(col(Meta.Bucket)).as("bucket"), count(lit(1)).as("n_rows"),
      min(col(Meta.Offset)).as("min_offset"),
      max(col(Meta.Offset)).as("max_offset")) ++
      statCols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val counts = logDFFor(m)
      .groupBy(regexp_replace(input_file_name(), "^file:/*", "/").as("__path"))
      .agg(aggExprs.head, aggExprs.tail: _*)
    sizes.join(counts, Seq("__path"), "left").drop("__path")
      .orderBy(col("file"))
  }

  /** Latest recorded version, if any commit has been recorded. */
  def latestVersion: Option[Long] = tableLog.read().history.lastOption.map(_.version)

  /** Version travel (`VERSION AS OF`, lakehouse semantics): the table
    * STATE as of recorded commit `v` — every log record the version's
    * per-bucket offsets cover, keyed-merged for PK tables. Unlike
    * [[scanAsOf]] the bound is exact offsets, not wall-clock, so two
    * commits inside one millisecond are still distinguishable. History is
    * bounded by log retention the same way: after `vacuumLog()` only
    * versions at/after the snapshot cutoff are reconstructible, and older
    * ones fail loudly rather than returning partial state.
    */
  def scanAtVersion(v: Long): DataFrame = {
    val hist = tableLog.read().history
    require(hist.nonEmpty, s"table at $path has no recorded version history")
    val entry = hist.find(_.version == v).getOrElse(throw new IllegalArgumentException(
      s"version $v not recorded for $path (recorded: " +
        s"${hist.head.version}..${hist.last.version})"))
    // versions committed before a partition retention delete counted rows
    // that no longer exist on disk — refuse rather than replay partially
    retentionFloorMillis().foreach { floor =>
      require(entry.tsMillis >= floor,
        s"version $v (committed ${new java.sql.Timestamp(entry.tsMillis)}) " +
          s"precedes a partition retention delete at " +
          s"${new java.sql.Timestamp(floor)}; that state is unreconstructible")
    }
    val bound = entry.offsets
    val truncated = WarehouseIO.exists(vacuumMarkerFile)
    val upTo = if (!truncated) {
      // same belt as scanAsOf: a log truncated by pre-marker code must
      // not silently replay as if it were full history
      if (readSnapshotMeta().isDefined && {
          val mins = logDF.groupBy(col(Meta.Bucket))
            .agg(min(col(Meta.Offset)).as("mn")).collect()
          mins.isEmpty || mins.exists(_.getLong(1) > 0L)
        })
        throw new IllegalStateException(
          s"log at $path is truncated but has no vacuum marker; " +
            "re-run vacuumLog() to record the time-travel floor")
      logDF.filter(col(Meta.Offset) < bucketMapExpr(bound, 0L))
    } else {
      // truncated history: state below the snapshot cutoff lives only in
      // the snapshot (whose rows carry offset -1, below any bound), so
      // the version is reconstructible iff the snapshot covers no MORE
      // log than the version does
      val snapOffsets = readSnapshotMeta().getOrElse(Map.empty)
      require(snapOffsets.forall { case (b, o) => o <= bound.getOrElse(b, 0L) },
        s"version $v precedes retained history (log vacuumed past it; " +
          s"earliest reconstructible offsets: $snapOffsets)")
      stateInput(None).filter(col(Meta.Offset) < bucketMapExpr(bound, 0L))
    }
    if (desc.isPrimaryKeyTable) Materialize.currentState(upTo, desc)
    else upTo.select(desc.schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  // ---------------------------------------------------------------------
  // write paths
  // ---------------------------------------------------------------------

  private def bucketCol: Column = {
    // a PK table's bucket must be a function of its key even when every
    // PK column is a partition key: the merge groups by (bucket, key)
    val keys =
      if (desc.effectiveBucketKeys.nonEmpty) desc.effectiveBucketKeys
      else desc.primaryKey
    if (keys.isEmpty) // round-robin-ish spread for key-less log tables
      pmod(spark_partition_id(), lit(desc.numBuckets))
    else Buckets.column(keys.map(col), desc.numBuckets)
  }

  /** The ONE exchange of a commit: hash `__bucket` into as many
    * partitions as the session has cores (never more than buckets). The
    * merge windows (partitioned by bucket and key — the same grouping,
    * the bucket being a function of the key) and the per-bucket offset
    * numbering all run in the stage after it, like each bucket's KvTablet
    * merging and appending on its own (KvTablet.putAsLeader). The width
    * is explicit because AQE's coalescePartitions folds a window's own
    * sub-MB `ENSURE_REQUIREMENTS` exchange into ONE task but leaves a
    * user repartition alone; one partition per bucket would pay the
    * window sorts' per-task fixed cost numBuckets times.
    */
  private def byBucket(df: DataFrame): DataFrame =
    df.repartition(
      math.min(desc.numBuckets, spark.sparkContext.defaultParallelism),
      col(Meta.Bucket))

  /** Parquet bloom filters on the lookup columns: ON by default for PK
    * tables (blooms on the effective bucket keys), so a point read prunes
    * ROW GROUPS within the key's bucket — the file-level complement of
    * bucket pruning: at 100 TB one bucket still holds many files, and the
    * pushed `pk = x` equality skips every row group whose bloom rejects x
    * (parquet-mr applies blooms to pushed filters at read time; nothing
    * extra to do on the scan side). Adaptive sizing keeps the filter
    * proportional to the chunk's actual NDV instead of the 1M-row
    * default. Properties: `table.file.bloom-filter.enabled`,
    * `table.file.bloom-filter.columns` (comma-separated override).
    */
  private lazy val fileWriteOptions: Map[String, String] = {
    val enabled = desc.properties
      .get("table.file.bloom-filter.enabled")
      .map(_.equalsIgnoreCase("true"))
      .getOrElse(desc.isPrimaryKeyTable)
    val cols = desc.properties.get("table.file.bloom-filter.columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(desc.effectiveBucketKeys)
    // per-table parquet codec (table.file.compression: zstd/snappy/gzip/
    // lz4/uncompressed — the reference's table.log.format compression
    // analog); session default otherwise
    val codec = desc.properties.get("table.file.compression")
      .map(c => Map("compression" -> c.toLowerCase)).getOrElse(Map.empty)
    codec ++ (if (!enabled || cols.isEmpty) Map.empty
    else Map("parquet.bloom.filter.adaptive.enabled" -> "true") ++
      cols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true"))
  }

  /** CHAR(n)/VARCHAR(n) write-time length check ([[TableDescriptor
    * .charLengths]]): an over-length value fails the write job in-plan
    * (`raise_error` inside the projection — no extra pass, no silent
    * truncation), matching the reference where CHAR encodes into a fixed
    * n-char buffer (IndexedRowWriter.writeChar). Values shorter than n are
    * stored as-is (STRING storage), Spark's own charVarcharAsString
    * posture.
    */
  private def enforceCharLengths(df: DataFrame): DataFrame =
    desc.charLengths.filter { case (c, _) => df.columns.contains(c) }
      .foldLeft(df) { case (d, (c, n)) =>
        d.withColumn(c,
          when(char_length(col(c)) > lit(n),
            raise_error(concat(lit(s"value too long for CHAR/VARCHAR($n) column $c: '"),
              col(c), lit("'"))))
            .otherwise(col(c)))
      }

  /** Append rows to a log (no-PK) table; `orderBy` fixes intra-batch order
    * for offset assignment (defaults to arrival order).
    */
  def append(df: DataFrame, orderBy: Seq[Column] = Nil,
      commitTag: Option[(String, Long)] = None): Unit = {
    require(!desc.isPrimaryKeyTable, "use upsert() for PK tables")
    require(orderBy.size <= 1,
      "orderBy takes ONE numeric ordering expression (it becomes the " +
        "batch's __ord); combine columns into a single expression")
    val ord = if (orderBy.nonEmpty) orderBy else Seq(monotonically_increasing_id())
    // Bulk ingestion: when ord and bucket are both content-derived
    // (caller-supplied orderBy — which must be a deterministic function
    // of the row — and keyed bucketing), every job recomputes identical
    // per-bucket row sets, so the commit skips the batch materialization
    // entirely — at scale, checkpointing the full ingest batch to
    // executor disks is the last thing a 100 TB append should do.
    val deterministic = orderBy.nonEmpty && desc.effectiveBucketKeys.nonEmpty
    commitToLog(byBucket(enforceCharLengths(df)
      .withColumn(Meta.ChangeTypeCol, lit(ChangeType.AppendOnly))
      .withColumn("__ord", ord.head.cast("long"))
      .withColumn(Meta.Bucket, bucketCol)),
      commitTag = commitTag,
      materializeBatch = !deterministic)
  }

  /** Upsert a batch into a PK table (optionally a partial-update column
    * subset, UpsertWrite.withPartialUpdate / PartialUpdater.java:35).
    * Generates the changelog via the row mergers and appends it.
    */
  def upsert(df: DataFrame, targetColumns: Option[Seq[String]] = None,
      orderBy: Seq[Column] = Nil,
      commitTag: Option[(String, Long)] = None): Unit =
    writePk(df, deleteFlag = lit(false), targetColumns, orderBy,
      commitTag = commitTag, mayDelete = false)

  /** Delete rows by PK (row content beyond the PK is ignored). */
  def delete(df: DataFrame, orderBy: Seq[Column] = Nil): Unit =
    writePk(df, deleteFlag = lit(true), None, orderBy)

  /** Mixed batch: rows where boolean column `__delete` is true are DELETE
    * intents, others upserts; all fold in one ordered pass per key — the
    * shape of a CDC-stream apply (UpsertWriter.upsert/delete interleaved).
    */
  def upsertMixed(df: DataFrame, orderBy: Seq[Column] = Nil,
      targetColumns: Option[Seq[String]] = None): Unit =
    writePk(df, deleteFlag = df("__delete"), targetColumns, orderBy)

  /** [[upsertMixed]] with optimistic-concurrency preconditions — the SQL
    * row-level commit path ([[graft.connector.GraftRowLevelOperation]]).
    * `expectedOffsets` pins the per-bucket offsets the caller validated
    * against (its conflict/overlap check): if ANY commit has landed since
    * — i.e. the manifest this write starts from differs — the write
    * aborts with a loud `ConcurrentModificationException` BEFORE staging,
    * closing the check-then-write window the plain path leaves open.
    */
  private[graft] def upsertMixedIfUnchanged(df: DataFrame,
      orderBy: Seq[Column], expectedOffsets: Map[Int, Long],
      expectedEpoch: Option[Long] = None): Unit =
    writePk(df, deleteFlag = df("__delete"), None, orderBy,
      expectedOffsets = Some(expectedOffsets),
      expectedEpoch = expectedEpoch)

  /** Committed (visible) rows at/above the given per-bucket offsets —
    * "what landed since this manifest state": the row-level write's
    * overlap-detection input. One gated log read; the offset predicate
    * prunes via row-group stats, so on a large table this touches only
    * the tail files written since the pin.
    */
  private[graft] def committedRowsSince(offsets: Map[Int, Long]): DataFrame =
    logDF.filter(col(Meta.Offset) >= bucketMapExpr(offsets, 0L))

  /** Apply a CDC changelog batch: `df` carries `_change_type`
    * (`+A/+I/+U` upsert, `-U` retraction, `-D` delete). Retractions reach
    * the merge engines' retract path — the AGGREGATION engine's sum
    * subtracts (AggregateRowMerger partial retraction support), other
    * functions and engines ignore the row.
    */
  def applyChangelog(df: DataFrame, orderBy: Seq[Column] = Nil): Unit =
    writePk(df,
      deleteFlag = df(Meta.ChangeTypeCol) === ChangeType.Delete,
      None, orderBy,
      retractFlag = df(Meta.ChangeTypeCol) === ChangeType.UpdateBefore)

  private def writePk(df: DataFrame, deleteFlag: Column,
      targetColumns: Option[Seq[String]], orderBy: Seq[Column],
      retractFlag: Column = lit(false),
      commitTag: Option[(String, Long)] = None,
      mayDelete: Boolean = true,
      expectedOffsets: Option[Map[Int, Long]] = None,
      expectedEpoch: Option[Long] = None): Unit = {
    require(desc.isPrimaryKeyTable, "append-only table: use append()")
    require(orderBy.size <= 1,
      "orderBy takes ONE numeric ordering expression (it becomes the " +
        "batch's __ord); combine columns into a single expression")
    val ord = if (orderBy.nonEmpty) orderBy else Seq(monotonically_increasing_id())
    // project to full schema (missing cols null — partial updates) and
    // COERCE every column to its declared type up front: downstream
    // bucket hashing must see the stored type (an Int 7 for a BIGINT
    // column hashes to a different bucket than the Long 7 the log holds)
    val projected = enforceCharLengths(desc.schema.fieldNames.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null).cast(desc.schema(c).dataType))
    }.select((desc.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)) ++ Seq(
      ord.head.cast("long").as("__ord"), deleteFlag.as("__del"),
      retractFlag.as("__retract"))).toIndexedSeq: _*))

    // state joins the merge only for the buckets the batch can collide
    // with (the reference's putAsLeader reads only the touched RocksDB
    // keys — KvTablet.java:514), found by the bounded probe
    val touched = touchedBuckets(projected)
    val changes = new WriteMerge(desc, stateFor(touched), bucketCol, byBucket)
      .changes(projected, targetColumns, mayDelete)
    commitToLog(changes, commitTag, expectedOffsets = expectedOffsets,
      expectedEpoch = expectedEpoch)
  }

  private def deleteTree(dir: String): Unit =
    WarehouseIO.deleteRecursively(dir)

  /** Delete crash residue: staged-then-never-published log files, and
    * abandoned staging dirs older than `stagingOlderThanMs`, whose commit
    * id the manifest never recorded. Readers already exclude them
    * ([[TableLog.visible]]); this frees the storage — iceberg's
    * `remove_orphan_files` analog. Every commit also cleans unmanifested
    * log files opportunistically; the explicit form covers tables that
    * stopped committing. Unmanifested cid-files can only appear under the
    * commit lock (files move in inside the publish), so deleting them
    * here — also under the lock — is race-free. Staging DIRS are written
    * BEFORE the lock is taken, so those are only removed past the age
    * threshold (default 24 h, iceberg's olderThan posture).
    */
  def removeOrphanFiles(stagingOlderThanMs: Long = 24L * 3600 * 1000): Unit =
    tableLog.removeOrphanFiles(stagingOlderThanMs)

  /** Assign per-bucket contiguous offsets and append to the log dir.
    * Input: data cols + `_change_type` + `__ord` + `__bucket`, partitioned
    * by [[byBucket]] (the caller's one exchange).
    */
  private def commitToLog(bucketed: DataFrame,
      commitTag: Option[(String, Long)] = None,
      materializeBatch: Boolean = true,
      expectedOffsets: Option[Map[Int, Long]] = None,
      expectedEpoch: Option[Long] = None): Unit = {
    // epoch read BEFORE the manifest (ABA): unchanged-epoch-then-offsets
    // proves no rollback slid between the caller's check and this read
    val epochAtStart = expectedEpoch.map(_ => rollbackEpoch)
    // the manifest this commit numbers its offsets and auto-increment ids
    // from; the publish refuses if another commit lands in between
    val pinned = tableLog.read()
    val bases = pinned.offsets
    // optimistic precondition (row-level SQL path): the caller validated
    // against a specific manifest state — starting from any other state
    // would apply a delta its overlap check never saw
    expectedOffsets.foreach { e =>
      if (e != bases) throw new java.util.ConcurrentModificationException(
        s"offsets on $path advanced from $e to $bases since this " +
          "statement's conflict check; re-validate and retry")
    }
    expectedEpoch.foreach { e =>
      if (!epochAtStart.contains(e))
        throw new java.util.ConcurrentModificationException(
          s"a rollback landed on $path since this statement's conflict " +
            "check; offset ranges may have been reused — re-validate and retry")
    }
    // The offset window is partitioned by bucket alone, so it runs in the
    // stage after the caller's bucket exchange, beside the merge. Then
    // localCheckpoint (not cache) the NUMBERED rows: __ord / key-less
    // __bucket derive from monotonically_increasing_id /
    // spark_partition_id, so a recomputed partition (cache eviction,
    // executor loss) could re-assign them, and with them the offsets,
    // between the counts job and the write job, corrupting the offset
    // manifest. Checkpointing truncates lineage — recompute is impossible;
    // a lost block fails loudly instead of silently diverging. The pinned
    // rows carry their offsets: the write job reads them with no exchange
    // (each bucket already lives in one partition, so one file per
    // bucket), and the counts job and the write job share one merge
    // computation. Deterministic appends (see append()) skip it: their
    // per-bucket row sets recompute identically and their lineage is a
    // cheap projection, so counts and write just run it twice.
    val w = Window.partitionBy(Meta.Bucket)
      .orderBy(col("__ord"), col(Meta.ChangeTypeCol).desc) // -U before +U at same ord
    val commitTs = new java.sql.Timestamp(System.currentTimeMillis())
    val baseExpr = bucketMapExpr(bases, 0L)
    val numbered0 = bucketed
      .withColumn(Meta.Offset, baseExpr + row_number().over(w) - 1)
      .withColumn(Meta.Timestamp, lit(commitTs))
    val numbered =
      if (materializeBatch) numbered0.localCheckpoint() else numbered0
    try {
      // Counts come from a separate counts job when the table has an
      // auto-increment column (the ids need them BEFORE the write) or
      // more than 64 buckets (numBuckets observation aggregates would
      // bloat every commit plan); otherwise they ride the WRITE job as
      // observed metrics — no separate counting pass over the batch (one
      // pass saved per commit; for non-materialized appends it halves
      // the compute). An empty counts job leaves nothing to write.
      val counted =
        if (desc.autoIncrementColumn.isEmpty && desc.numBuckets <= 64) None
        else Some(numbered.groupBy(col(Meta.Bucket)).count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap)
      // A7 auto-increment (AutoIncrementManager / BoundedSegment-
      // SequenceGenerator): ids assigned commit-side from per-bucket
      // ranges carved out of the pinned manifest's counter — contiguous
      // across the commit, derived from the assigned offset (a row's rank
      // in its bucket is offset − base), so no second window and no extra
      // shuffle. The publish advances the counter in the same manifest
      // write as the offsets.
      val withIds = (desc.autoIncrementColumn, counted) match {
        case (Some(c), Some(counts)) =>
          val sortedBuckets = counts.keys.toSeq.sorted
          val cumBases = sortedBuckets.scanLeft(0L)(_ + counts(_)).init
          val cumExpr = sortedBuckets.zip(cumBases).foldLeft(lit(0L)) {
            case (acc, (b, base)) =>
              when(col(Meta.Bucket) === b, lit(base)).otherwise(acc)
          }
          numbered.withColumn(c,
            lit(pinned.nextAutoInc) + cumExpr + col(Meta.Offset) - baseExpr)
        case _ => numbered
      }
      val obs = org.apache.spark.sql.Observation()
      val countExprs = (0 until desc.numBuckets).map(b =>
        count(when(col(Meta.Bucket) === b, 1)).as(s"__c$b"))
      val out = withIds.drop("__ord")
        .select(logSchema.fieldNames.map(col).toIndexedSeq: _*)
      val observed =
        if (counted.isDefined) out
        else out.observe(obs, countExprs.head, countExprs.tail: _*)
      // write-time column stats: ONE observe() on the write job
      // (min/max/nulls/HLL per stats-bearing column — no extra pass); the
      // publish merges the fetched entry into the manifest blob. Disabled
      // (or failed) collection marks the blob incomplete — the footer
      // sweep then remains the plan-time source, never a stale
      // under-approximation.
      val (instrumented, fetchCommitStats) =
        if (columnStatsEnabled)
          ManifestColStats.observe(observed, desc.schema, desc.partitionKeys)
        else (observed, () => Option.empty[Map[String, ManifestColStats.Entry]])
      val staging =
        if (counted.exists(_.isEmpty)) None
        else {
          val dir = tableLog.stagingDir("staging")
          instrumented.write.mode("overwrite").options(fileWriteOptions)
            .partitionBy((desc.partitionKeys :+ Meta.Bucket): _*).parquet(dir)
          Some(dir)
        }
      val counts = counted.getOrElse {
        val row = obs.get
        (0 until desc.numBuckets)
          .map(b => b -> row(s"__c$b").asInstanceOf[Long])
          .filter(_._2 > 0).toMap
      }
      if (counts.isEmpty) {
        // an empty batch still records its commit tag (streaming replay
        // dedup) — merged into the CURRENT manifest
        staging.foreach(deleteTree)
        tableLog.commit(pinned, None) { m =>
          if (commitTag.isEmpty) m
          else m.copy(commitTags = m.commitTags ++ commitTag)
        }
      } else {
        // authoritative epoch check UNDER the lock (rollback bumps its
        // epoch holding this same lock): offsets-equal plus epoch-equal
        // rules out the rewind-then-readvance ABA that an offsets compare
        // alone cannot see
        val epochCheck = () => expectedEpoch.foreach { e =>
          if (rollbackEpoch != e)
            throw new java.util.ConcurrentModificationException(
              s"a rollback landed on $path during this commit; offset " +
                "ranges may have been reused — re-validate and retry")
        }
        tableLog.commit(pinned, staging, epochCheck) { m =>
          val advanced =
            bases ++ counts.map { case (b, n) => b -> (bases.getOrElse(b, 0L) + n) }
          // merge this commit's observed column stats into the blob —
          // atomically with the offsets that make its rows visible. A
          // first commit on an EMPTY table starts a complete blob; any
          // commit that skipped stats degrades it (one-way) so the blob
          // can never under-approximate visible data.
          val wasEmpty = bases.isEmpty && readSnapshotMeta().isEmpty
          val blob = (m.colStats, fetchCommitStats()) match {
            case (Some(p), Some(s)) => p.merge(s)
            case (Some(p), None) => p.copy(complete = false)
            case (None, Some(s)) =>
              ManifestColStats.Blob(complete = wasEmpty, Map.empty).merge(s)
            case (None, None) => ManifestColStats.Incomplete
          }
          // every offset-advancing commit is a new table version, appended
          // atomically with the offsets it pins (VERSION AS OF travel)
          m.copy(offsets = advanced, commitTags = m.commitTags ++ commitTag,
            history = m.history :+
              VersionEntry(m.nextVersion, commitTs.getTime, advanced),
            colStats = Some(blob),
            nextAutoInc = m.nextAutoInc +
              (if (desc.autoIncrementColumn.isDefined) counts.values.sum else 0L))
        }
        GraftMetrics.inc(path, GraftMetrics.Commits)
        GraftMetrics.inc(path, GraftMetrics.CommittedRows, counts.values.sum)
      }
    } finally if (materializeBatch) numbered.unpersist() // no-op for checkpointed plans; ContextCleaner frees the blocks
  }

  // ---------------------------------------------------------------------
  // snapshot (lake-tiering analog, S7/S13)
  // ---------------------------------------------------------------------

  private def readSnapshotMeta(): Option[Map[Int, Long]] =
    WarehouseIO.readStringIfExists(snapshotMetaFile)
      .map(j => Manifest.bucketMap(JsonMethods.parse(j)))

  // ---------------------------------------------------------------------
  // KV snapshot leases — a batch reader planning a snapshot∪log read pins
  // the history it is about to consume so retention can't delete it out
  // from under a running job. The reference leases KV snapshots for the
  // same reason (`scan.kv.snapshot.lease.duration`, engine-flink/options
  // .md:107; remnant cleanup via `sys.drop_kv_snapshot_lease`,
  // engine-flink/procedures.md). Here the leased resource is the log
  // floor: [[vacuumLog]]/[[expireLog]] never cut a bucket above the
  // lowest floor pinned by an unexpired lease.
  // ---------------------------------------------------------------------

  /** (floorOffsets, expiresAtMillis) per lease id, unexpired only. */
  def kvSnapshotLeases(nowMillis: Long = System.currentTimeMillis())
      : Map[String, (Map[Int, Long], Long)] = readLeases().filter {
    case (_, (_, exp)) => exp > nowMillis
  }

  private def readLeases(): Map[String, (Map[Int, Long], Long)] =
    WarehouseIO.readStringIfExists(leasesFile).fold(
      Map.empty[String, (Map[Int, Long], Long)])(leaseJson =>
      JsonMethods.parse(leaseJson).asInstanceOf[JObject].obj.map {
      case (id, entry) =>
        val fields = entry.asInstanceOf[JObject].obj.toMap[String, JValue]
        val floors = Manifest.bucketMap(fields("floorOffsets"))
        val exp = fields("expiresAtMillis").asInstanceOf[JInt].num.toLong
        id -> (floors, exp)
    }.toMap)

  private def writeLeases(leases: Map[String, (Map[Int, Long], Long)]): Unit =
    CatalogJson.atomicWrite(leasesFile,
      JsonMethods.compact(JsonMethods.render(JObject(
        leases.toList.sortBy(_._1).map { case (id, (floors, exp)) =>
          id -> (JObject(List(
            "expiresAtMillis" -> (JInt(exp): JValue),
            "floorOffsets" -> Manifest.bucketJson(floors)
          )): JValue)
        }))))

  /** Pin everything currently readable (the retained floor, or the full
    * log) for `durationMs`; returns the pinned per-bucket floor. Expired
    * leases are pruned on the same write. Re-acquiring an id refreshes
    * its expiry but keeps the ORIGINAL floor — a lease never loses
    * history it already pinned.
    */
  def acquireKvSnapshotLease(leaseId: String, durationMs: Long,
      nowMillis: Long = System.currentTimeMillis()): Map[Int, Long] = {
    require(leaseId.nonEmpty, "leaseId must be non-empty")
    require(durationMs > 0, s"lease duration $durationMs must be positive")
    val floors = retainedFloorOffsets.getOrElse(
      tableLog.read().offsets.map { case (b, _) => b -> 0L })
    // read-modify-write under the file lock (same discipline as Acls /
    // DynamicConfigs): two concurrent jobs acquiring leases must not lose
    // each other's pin — that is the exact guarantee a lease exists for
    CatalogJson.withFileLock(leasesFile) {
      val live = kvSnapshotLeases(nowMillis)
      val pinned = live.get(leaseId).map(_._1).getOrElse(floors)
      writeLeases(live + (leaseId -> (pinned, nowMillis + durationMs)))
      pinned
    }
  }

  /** Release a lease (the reference's `sys.drop_kv_snapshot_lease` —
    * remnant cleanup after an abnormal job termination). Returns whether
    * the id existed (expired-but-listed counts: the caller's intent is
    * "this lease is gone now", and the write prunes it either way).
    */
  def dropKvSnapshotLease(leaseId: String): Boolean =
    CatalogJson.withFileLock(leasesFile) {
      val all = readLeases()
      writeLeases(all - leaseId)
      all.contains(leaseId)
    }

  /** Per-bucket lowest floor pinned by an unexpired lease; empty when no
    * leases are held (retention proceeds unrestricted).
    */
  private def leaseFloors(nowMillis: Long): Map[Int, Long] =
    kvSnapshotLeases(nowMillis).values.map(_._1)
      .foldLeft(Map.empty[Int, Long]) { (acc, m) =>
        (acc.keySet ++ m.keySet).map { b =>
          b -> math.min(acc.getOrElse(b, Long.MaxValue),
            m.getOrElse(b, Long.MaxValue))
        }.toMap
      }

  /** Compact current state into a parquet snapshot; subsequent reads union
    * the snapshot with the log tail past the recorded offsets (the
    * reference's KV snapshot / lake tiering, LakeTableTieringManager.java:110).
    */
  def compact(): Unit = {
    require(desc.isPrimaryKeyTable, "compact() applies to PK tables")
    // epoch FIRST: a rollback flips offsets after bumping the epoch, so
    // reading the epoch after the offsets would let a rollback landing
    // between the two reads slip past BOTH abort checks below (the new
    // timeline can re-advance offsets to exactly upTo — the ABA shape)
    val epochAtStart = rollbackEpoch
    val upTo = tableLog.read().offsets
    // Partitioned EXACTLY like the log (partition keys, then bucket), so
    // partition pruning and point lookups prune the snapshot's dirs the
    // same way they prune the log's (the reference's KV snapshots are
    // per-bucket files too, KvSnapshotBatchScanner) — and partition
    // drop/expiry stays an O(1) dir delete on BOTH tiers instead of
    // silently resurfacing dropped partitions from a partition-blind
    // snapshot. Staged OUTSIDE the snapshot dir: the swap + meta write
    // run under the commit lock so a concurrent rollbackTo cannot be
    // silently overwritten with pre-restore state (offsets moving
    // BACKWARD aborts; commits racing forward are replay-safe — the
    // union read replays any tail >= the recorded cutoff idempotently).
    val tmpDir = s"$path/snapshot.compact-${java.util.UUID.randomUUID()}"
    // the compaction scan reads every LIVE row anyway — observing it
    // rebuilds the column-stats blob EXACTLY (resetting the documented
    // over-approximation drift of heavily-overwritten PK tables, and
    // arming tables whose history predates write-time stats) at zero
    // extra IO. Published below only when no commit raced the
    // compaction, so accumulated entries are never lost.
    val liveRows = currentState().withColumn(Meta.Bucket, bucketCol)
    val (snapDf, fetchSnapStats) =
      if (columnStatsEnabled)
        ManifestColStats.observe(liveRows, desc.schema, desc.partitionKeys)
      else (liveRows, () => Option.empty[Map[String, ManifestColStats.Entry]])
    snapDf.write.mode("overwrite").options(fileWriteOptions)
      .partitionBy((desc.partitionKeys :+ Meta.Bucket): _*).parquet(tmpDir)
    tableLog.withCommitLock(Some(tmpDir)) {
      val now = tableLog.read()
      // offsets alone cannot catch a rollback followed by new commits
      // (offsets are REUSABLE after the physical truncation — the ABA
      // shape); the rollback epoch does
      if (rollbackEpoch != epochAtStart ||
          upTo.exists { case (b, o) => now.offsets.getOrElse(b, 0L) < o })
        throw new java.util.ConcurrentModificationException(
          s"rollback/restore landed on $path during compact(); retry")
      // old dir aside -> new dir in -> meta last (atomic rename). A
      // reader between the moves sees meta + missing dir: loud
      // transient, never silent; between dir and meta it replays the
      // old cutoff's tail over the new snapshot — idempotent.
      val old = s"$path/snapshot.old"
      deleteTree(old)
      if (WarehouseIO.exists(snapshotDir)) WarehouseIO.moveFile(snapshotDir, old)
      WarehouseIO.moveFile(tmpDir, snapshotDir)
      CatalogJson.atomicWrite(snapshotMetaFile,
        JsonMethods.compact(JsonMethods.render(Manifest.bucketJson(upTo))))
      deleteTree(old)
      // quiet compaction (no commit landed since the scan's offsets):
      // the observed live-row stats replace the blob, EXACT and
      // complete. A raced-forward commit means its entry lives only in
      // the accumulated blob — keep it (sound, just over-approximate).
      if (now.offsets == upTo) fetchSnapStats().foreach { entries =>
        tableLog.write(now.copy(colStats = Some(
          ManifestColStats.Blob(complete = true, Map.empty).merge(entries))))
      }
    }
    GraftMetrics.inc(path, GraftMetrics.Compactions)
  }

  /** Lake-format interop export (the reference tiers tables into open
    * lake formats — fluss-lake/, LakeTableTieringManager.java:110): write
    * the CURRENT state, data columns only, as plain hive-partitioned
    * parquet that any engine reads with a bare parquet scan — no graft
    * library required downstream (the "trainer reads the shards directly"
    * story). Alongside the data, `_export_manifest.json` records the
    * schema, partition keys, pinned source version/offsets, and the full
    * file listing with sizes — enough for an external catalog (or an
    * Iceberg/Delta import job) to register the snapshot without listing.
    * Underscore-prefixed, so parquet readers skip it automatically.
    *
    * One distributed write, partitioned like the table; per-partition
    * parallelism is the table's own layout, nothing lands on the driver
    * but the file listing.
    *
    * `lake` optionally names a lake format ("iceberg", "delta", "paimon"
    * or "hudi", [[LakeFormatOps]]) whose metadata is written over the
    * export, so it is a TABLE to any engine reading that format. Opt-in
    * because the extra metadata makes the export no longer readable as a
    * bare parquet directory (Spark's parquet source trips over the
    * non-parquet files).
    */
  def exportSnapshot(dir: String, lake: Option[String] = None): Unit = {
    val fmt = lake.map(LakeFormatOps.of)
    // Layout choice, pinned here for the export's LIFETIME (tiers read it
    // back from the manifest): bucket-aligned keeps the table's own
    // `__bucket=N/` dirs — incremental PK tiers then rewrite only changed
    // buckets and union reads merge per bucket with no exchange — but
    // pays one file per (partition, bucket) dir, a small-file regime when
    // buckets hold little data. `table.datalake.layout` pins it;
    // otherwise lake-maintained tables align (incremental tiering is
    // their point) and plain exports align only above a per-bucket size
    // floor (`table.datalake.layout.min-bucket-bytes`, default 32 MiB).
    val minBucketBytes = desc.properties
      .get("table.datalake.layout.min-bucket-bytes").map(_.toLong)
      .getOrElse(32L << 20)
    val estBytes = plannerStats()._1 // one manifest+listing for both uses
    val bucketAligned = desc.properties.get("table.datalake.layout") match {
      case Some("bucket") => true
      case Some("partition") => false
      case Some(other) => throw new IllegalArgumentException(
        s"table.datalake.layout must be 'bucket' or 'partition'; " +
          s"got '$other'")
      case None =>
        desc.properties.get("table.datalake.enabled")
          .exists(_.equalsIgnoreCase("true")) ||
          estBytes >= minBucketBytes * math.max(desc.numBuckets, 1)
    }
    val tierSchema = if (bucketAligned) lakeSchema else desc.schema
    val tierKeys = if (bucketAligned) lakePartitionKeys else desc.partitionKeys
    // The manifest must describe EXACTLY the state exported. scan()
    // pins its own manifest read when the plan is built, which happens
    // between our pre- and post- reads — so if pre == post, no commit
    // landed and pre is the state the write materialized. A commit
    // racing in between invalidates the export; retry, then fail loudly
    // (the commit protocol's posture) rather than publish a manifest
    // that misdescribes the data.
    var pinnedOffsets: Map[Int, Long] = Map.empty
    var version: Option[Long] = None
    var attempt = 0
    var exported = false
    while (!exported) {
      val pre = tableLog.read()
      // bucket-aligned layout: files land under `__bucket=N/` dirs
      // mirroring the table's own storage buckets (PK state re-derives
      // the bucket from its keys — identical to compact()'s write;
      // append rows carry their storage bucket in the log). Incremental
      // PK tiers then replace only the changed BUCKETS, and the lake
      // union read can merge per bucket.
      val exportDF =
        if (!bucketAligned) {
          // size-targeted file count: the PK collapse arrives exchange-
          // free at bucket-count partitions (no AQE coalesce without a
          // shuffle), which on a small table means bucket-count tiny
          // files — merge toward maxPartitionBytes-sized outputs.
          // repartition (not coalesce): the shuffle boundary keeps the
          // scan+collapse at full parallelism and only the write narrows;
          // the shuffled bytes are small BY DEFINITION on this path (a
          // table big enough to care is past the bucket-aligned
          // threshold)
          val targetBytes = spark.conf
            .get("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
            .toLong
          val nFiles = math.max(1L, math.min(
            spark.sparkContext.defaultParallelism.toLong,
            estBytes / math.max(targetBytes, 1L) + 1L)).toInt
          scan().repartition(nFiles)
        } else if (desc.isPrimaryKeyTable)
          currentState().withColumn(Meta.Bucket, bucketCol)
        else logDF.select(
          (desc.schema.fieldNames :+ Meta.Bucket).map(col).toIndexedSeq: _*)
      val writer = exportDF.write.mode("overwrite").options(fileWriteOptions)
      (if (tierKeys.nonEmpty) writer.partitionBy(tierKeys: _*)
       else writer).parquet(dir)
      if (tableLog.read().offsets == pre.offsets) {
        pinnedOffsets = pre.offsets
        version = pre.history.lastOption.map(_.version)
        exported = true
      } else {
        attempt += 1
        if (attempt >= 3) throw new java.util.ConcurrentModificationException(
          s"exportSnapshot($dir) raced concurrent commits 3 times on $path; " +
            "pause writers or retry later")
      }
    }
    val files = WarehouseIO.walkFiles(dir)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .sortBy(_.path)
      .map(e => WarehouseIO.relativize(dir, e.path) -> e.len)
    writeExportManifest(dir, pinnedOffsets, version, files, bucketAligned)
    fmt.foreach(_.commit(spark, dir, tierSchema, tierKeys, files, Set.empty,
      path, tierSummary(pinnedOffsets, version), priorLive = Nil))
    GraftMetrics.inc(path, GraftMetrics.Exports)
  }

  /** `_export_manifest.json` — one writer for the initial export, each
    * tier, and the crash roll-forward, so the shape can't drift.
    */
  private def writeExportManifest(dir: String, offsets: Map[Int, Long],
      version: Option[Long], files: Seq[(String, Long)],
      bucketAligned: Boolean): Unit =
    CatalogJson.atomicWrite(s"$dir/_export_manifest.json",
      JsonMethods.pretty(JsonMethods.render(JObject(List(
        "format" -> (JString("parquet"): JValue),
        // layout=bucket: data files live under an extra `__bucket=N/`
        // dir level mirroring the table's own storage buckets, and the
        // lake schema carries __bucket as a partition column (the
        // reference's paimon lake tables keep the same system column,
        // fluss-lake-paimon) — incremental PK tiers then replace only
        // the CHANGED BUCKETS' files instead of whole partitions.
        // Absent = legacy partition-level layout; tiers keep honoring it
        // (replacement granularity must match what's on disk).
        "layout" -> ((if (bucketAligned) JString("bucket")
                      else JString("partition")): JValue),
        "source" -> (JString(path): JValue),
        "exportedAtMillis" -> (JInt(System.currentTimeMillis()): JValue),
        "version" -> version.map(v => JInt(v): JValue).getOrElse(JNull),
        "offsets" -> Manifest.bucketJson(offsets),
        "schema" -> JsonMethods.parse(desc.schema.json),
        "partitionKeys" -> (org.json4s.JArray(
          desc.partitionKeys.toList.map(JString(_))): JValue),
        "files" -> (org.json4s.JArray(files.toList.sortBy(_._1)
          .map { case (rel, len) => JObject(List(
            "path" -> (JString(rel): JValue),
            "bytes" -> (JInt(len): JValue))) }): JValue))))))

  /** The lake-visible schema and partition keys of a bucket-aligned
    * export: the table's schema plus `__bucket INT` as the innermost
    * partition column.
    */
  private def lakeSchema: StructType =
    StructType(desc.schema.fields :+
      StructField(Meta.Bucket, IntegerType, nullable = true))

  private def lakePartitionKeys: Seq[String] =
    desc.partitionKeys :+ Meta.Bucket

  /** The offset window a tier's Iceberg snapshot covers, recorded in the
    * snapshot summary: Iceberg metadata is the commit point of a tier,
    * so a crash BEFORE the export-manifest update is detected by the
    * next tier (summary ahead of manifest) and rolled forward instead of
    * re-tiering the same window into duplicate rows.
    */
  private def tierSummary(offsets: Map[Int, Long],
      version: Option[Long]): Map[String, String] =
    Map(GraftTable.TierOffsetsKey ->
      JsonMethods.compact(JsonMethods.render(Manifest.bucketJson(offsets)))) ++
      version.map(v => GraftTable.TierVersionKey -> v.toString)

  /** Under the lake lock, re-validate that the lake's committed tier
    * offsets still equal the `base` this tier's delta window was computed
    * from. Two concurrent tiers both read base X and compute X -> Y; the
    * lock serializes their commits but cannot merge them — the loser must
    * abort, or the window's rows land twice. An absent summary key means
    * no tier has committed since entry (a racing tier would have written
    * one), so the base is intact.
    */
  private[core] def requireTierBase(fmt: LakeFormatOps, dir: String,
      base: Map[Int, Long]): Unit =
    fmt.committedTierTags(dir)
      .get(GraftTable.TierOffsetsKey).foreach { s =>
        val committed = GraftTable.parseTierOffsets(s)
        if (committed != base) throw new java.util.ConcurrentModificationException(
          s"another tierSnapshot committed to $dir concurrently (lake is at " +
            s"offsets $committed, this tier started from $base); retry")
      }

  /** Incremental lake tiering — the library analog of the reference's
    * continuous tiering service (fluss-server/.../coordinator/
    * LakeTableTieringManager.java:110, per-format commit plumbing in
    * fluss-lake/fluss-lake-iceberg/.../tiering/): bring a directory
    * previously exported with Iceberg metadata up to the table's current
    * state by moving ONLY the delta since the last export, published as
    * a NEW Iceberg snapshot. A freshness-scheduled loop calls this per
    * table; at 100 TB a full re-export per refresh is untenable — this
    * is O(changed data):
    *
    *  - log (append-only) tables: exactly the records in the pinned →
    *    current offset window are appended as new files; the Iceberg
    *    snapshot is a FastAppend (previous manifests carried forward
    *    untouched).
    *  - PK tables: the offset window identifies the CHANGED partitions;
    *    only those partitions' state is re-materialized and swapped
    *    (ADDED + DELETED entries; untouched partitions' files are
    *    byte-identical and stay EXISTING). An unpartitioned PK table
    *    degrades to a full-state rewrite — still snapshot-versioned.
    *
    * Replaced files stay on disk so earlier lake snapshots remain
    * readable (expire/vacuum of the lake history is the lake catalog's
    * job, as in Iceberg itself); a tiered directory is a LAKE surface —
    * readers must resolve files through the metadata, never by listing
    * ([[LakeFormatOps.readLive]] is the built-in reader).
    *
    * `format` picks the metadata layout — "iceberg" (default), "delta",
    * "paimon" or "hudi" ([[LakeFormatOps]]; the reference ships one
    * fluss-lake-* module per format behind the same tiering service).
    * Everything below the commit call is format-independent.
    *
    * First call on a fresh directory performs the initial full export.
    * Fails loudly when the log no longer retains the pinned offsets
    * (vacuumed past the last export) — the delta is unreconstructible
    * and the caller must re-export to a fresh directory.
    */
  def tierSnapshot(dir: String, format: String = "iceberg"): String = {
    val fmt = LakeFormatOps.of(format)
    val emPath = s"$dir/_export_manifest.json"
    if (!WarehouseIO.exists(emPath)) {
      exportSnapshot(dir, Some(fmt.name))
      val n = WarehouseIO.walkFiles(dir)
        .count(e => !e.isDir && e.name.endsWith(".parquet"))
      return s"initial full export: $n data files, ${fmt.name} " +
        fmt.firstVersionLabel
    }
    require(fmt.hasMetadata(dir),
      s"$dir has an export manifest but no ${fmt.name} metadata; " +
        "incremental tiering requires a lake-enabled export " +
        "(export_snapshot_iceberg / export_snapshot_delta / " +
        "export_snapshot_paimon / export_snapshot_hudi)")
    val em = JsonMethods.parse(WarehouseIO.readString(emPath))
      .asInstanceOf[JObject].obj.toMap
    val manifestPinned = Manifest.bucketMap(em("offsets"))
    // crash roll-forward: the lake's commit bookkeeping (Iceberg snapshot
    // summary / Delta commitInfo tags) records the window each tier
    // committed. Tags ahead of the export manifest mean the previous tier
    // crashed between the lake commit and the manifest update — the lake
    // already holds that window, so re-tiering it would append duplicate
    // rows. Rebuild the manifest from the lake metadata (sizes from disk)
    // and resume from the committed offsets instead.
    val summary = fmt.committedTierTags(dir)
    // replacement granularity must match what's on disk: a lake exported
    // before bucket alignment keeps partition-level tiers (a bucket-level
    // removed-set would miss its partition-level prior files — silent
    // duplicates); re-export to a fresh dir to upgrade
    val bucketAligned =
      em.get("layout").contains(JString("bucket"): JValue)
    val tierSchema = if (bucketAligned) lakeSchema else desc.schema
    val tierKeys = if (bucketAligned) lakePartitionKeys else desc.partitionKeys
    val pinned: Map[Int, Long] =
      summary.get(GraftTable.TierOffsetsKey)
        .map(GraftTable.parseTierOffsets) match {
        case Some(committed) if committed != manifestPinned =>
          writeExportManifest(dir,
            committed, summary.get(GraftTable.TierVersionKey).map(_.toLong),
            fmt.liveFiles(spark, dir)
              .map(r => r -> WarehouseIO.size(s"$dir/$r")), bucketAligned)
          committed
        case _ => manifestPinned
      }
    // the delta window must still be readable from the log
    retainedFloorOffsets.foreach { floor =>
      val lost = floor.filter { case (b, f) => f > pinned.getOrElse(b, 0L) }
      require(lost.isEmpty,
        s"log at $path was vacuumed past the last export's offsets " +
          s"(buckets ${lost.keys.toSeq.sorted.mkString(",")}); the tier " +
          "delta is unreconstructible — re-export to a fresh directory")
    }
    var attempt = 0
    while (true) {
      val pre = tableLog.read()
      val current = pre.offsets
      if (current == pinned)
        return "already current: offsets unchanged since last export"
      val version = pre.history.lastOption.map(_.version)
      // bounded window read: immutable under concurrent commits
      val tail = scanRange(pinned, current)
      val commitUuid = java.util.UUID.randomUUID().toString.take(8)
      val staging = s"$dir/.tier-staging-$commitUuid"
      def publishStaged(): Seq[(String, Long)] = {
        val staged = WarehouseIO.walkFiles(staging)
          .filter(e => !e.isDir && e.name.endsWith(".parquet"))
        val moved = staged.map { e =>
          val rel = WarehouseIO.relativize(staging, e.path)
          val dirPart = rel.split('/').dropRight(1)
          val destRel = (dirPart :+ s"tier-$commitUuid-${e.name}")
            .mkString("/")
          WarehouseIO.moveFile(e.path, s"$dir/$destRel")
          destRel -> e.len
        }
        deleteTree(staging)
        moved.sortBy(_._1)
      }
      def updateManifest(files: Seq[(String, Long)]): Unit =
        writeExportManifest(dir, current, version, files, bucketAligned)
      // sizes come from the manifest when it has the file; a file the
      // manifest missed (roll-forward edge, legacy export) falls back to
      // its on-disk size — identical value, one stat
      val manifestSizes = exportFileSizes(em)
      def sizeOf(rel: String): Long =
        manifestSizes.getOrElse(rel, WarehouseIO.size(s"$dir/$rel"))
      val dataCols = desc.schema.fieldNames.toSeq
      if (!desc.isPrimaryKeyTable) {
        // append-only: the window IS the delta; no log-side race at all.
        // The staging write happens OUTSIDE the lake lock (it can be a
        // long Spark job); publish -> commit -> manifest update hold the
        // lock so a concurrent expire's orphan sweep can never see
        // published-but-uncommitted files, and a concurrent tier of the
        // same window aborts instead of appending the delta twice.
        // bucket-aligned: the tail rows carry their storage bucket —
        // write it through as the innermost partition dir
        val tailCols =
          if (bucketAligned) dataCols :+ Meta.Bucket else dataCols
        tail.select(tailCols.map(col): _*)
          .write.mode("overwrite").options(fileWriteOptions)
          .partitionBy(tierKeys: _*).parquet(staging)
        val (added, carried) =
          try fmt.withLock(dir) {
            requireTierBase(fmt, dir, pinned)
            val priorLive = fmt.liveFiles(spark, dir)
            val a = publishStaged()
            fmt.commit(spark, dir, tierSchema, tierKeys,
              a, Set.empty, path, tierSummary(current, version), priorLive)
            updateManifest((priorLive.map(r => r -> sizeOf(r)) ++ a)
              .sortBy(_._1))
            (a, priorLive.size)
          } catch { case e: Throwable => deleteTree(staging); throw e }
        GraftMetrics.inc(path, GraftMetrics.Exports)
        return s"tiered append snapshot: ${added.size} files added, " +
          s"$carried carried"
      }
      // PK table: changed dirs from the delta window — (partition,
      // bucket) tuples on a bucket-aligned lake (the tier rewrites only
      // the BUCKETS the window touched: on an unpartitioned table the
      // legacy layout rewrote the ENTIRE state per tier; now it is
      // O(changed buckets)), partition tuples on a legacy lake
      val tupleKeys: Seq[String] =
        if (bucketAligned) lakePartitionKeys else desc.partitionKeys
      val changedTuples: Seq[Row] =
        if (tupleKeys.isEmpty) Seq(Row.empty)
        else {
          // the tail carries each row's storage bucket as a system col
          val ts = tail.select(tupleKeys.map(col): _*)
            .distinct().limit(100001).collect().toSeq
          require(ts.length <= 100000,
            s"more than 100k partitions changed since the last export of " +
              s"$path; run a full re-export instead")
          ts
        }
      val changedDirs: Set[String] =
        if (tupleKeys.isEmpty) Set("")
        else changedTuples.map { r =>
          tupleKeys.zipWithIndex.map { case (k, i) =>
            org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
              .getPartitionPathString(k,
                if (r.isNullAt(i)) null else String.valueOf(r.get(i)))
          }.mkString("/")
        }.toSet
      val state =
        if (tupleKeys.isEmpty) scan()
        else if (!bucketAligned) {
          // one flat struct-isin, never a per-tuple OR chain
          val key = struct(desc.partitionKeys.map(col): _*)
          scan().filter(key.isin(changedTuples.map(r => struct(
            desc.partitionKeys.indices.map(i => lit(r.get(i))): _*)): _*))
        } else {
          // bucket-aligned: the (partition, bucket) restriction runs
          // BELOW the collapse, on the state INPUT (both tiers carry
          // __bucket) — the exact flat struct-isin, plus redundant
          // per-column In conjuncts the scan can actually prune with
          // (partition dirs on the V1 path, bucket dirs + partition
          // dirs on the grouped scan). Partition keys are part of the
          // PK, so pre- and post-collapse filtering agree.
          val key = struct(tupleKeys.map(col): _*)
          val exact = key.isin(changedTuples.map(r => struct(
            tupleKeys.indices.map(i => lit(r.get(i))): _*)): _*)
          val bIdx = tupleKeys.length - 1
          val bucketIn = col(Meta.Bucket).isin(
            changedTuples.map(_.get(bIdx)).distinct: _*)
          val pred = desc.partitionKeys.zipWithIndex
            .map { case (k, i) =>
              col(k).isin(changedTuples.map(_.get(i)).distinct: _*) }
            .foldLeft(exact && bucketIn)(_ && _)
          Materialize.currentState(stateInput(Some(pred)), desc)
            .withColumn(Meta.Bucket, bucketCol)
        }
      val stagedKeys =
        if (bucketAligned) lakePartitionKeys else desc.partitionKeys
      val writer = state.write.mode("overwrite").options(fileWriteOptions)
      (if (stagedKeys.nonEmpty) writer.partitionBy(stagedKeys: _*)
       else writer).parquet(staging)
      // the state read races concurrent commits (it materializes at
      // execution time): if offsets moved while we wrote, the staged
      // data may exceed the window we'll record — retry, same posture
      // as exportSnapshot
      if (tableLog.read().offsets != current) {
        deleteTree(staging)
        attempt += 1
        if (attempt >= 3) throw new java.util.ConcurrentModificationException(
          s"tierSnapshot($dir) raced concurrent commits 3 times on $path; " +
            "pause writers or retry later")
      } else {
        // publish -> commit -> manifest under one lake lock (see the
        // append branch above for why)
        val (addedN, removedN, untouchedN) =
          try fmt.withLock(dir) {
            requireTierBase(fmt, dir, pinned)
            val priorLive = fmt.liveFiles(spark, dir)
            val removed = priorLive.filter { rel =>
              val parent = rel.split('/').dropRight(1).mkString("/")
              changedDirs.contains(parent)
            }.toSet
            val added = publishStaged()
            fmt.commit(spark, dir, tierSchema, tierKeys,
              added, removed, path, tierSummary(current, version), priorLive)
            updateManifest(
              (priorLive.filterNot(removed).map(r => r -> sizeOf(r)) ++
                added).sortBy(_._1))
            (added.size, removed.size, priorLive.size - removed.size)
          } catch { case e: Throwable => deleteTree(staging); throw e }
        GraftMetrics.inc(path, GraftMetrics.Exports)
        return s"tiered overwrite snapshot: ${changedDirs.size} " +
          s"partition(s) refreshed, $addedN files added, " +
          s"$removedN replaced, $untouchedN untouched"
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def exportFileSizes(em: Map[String, JValue]): Map[String, Long] =
    em("files").asInstanceOf[org.json4s.JArray].arr.map { f =>
      val m = f.asInstanceOf[JObject].obj.toMap
      m("path").asInstanceOf[JString].s ->
        m("bytes").asInstanceOf[JInt].num.toLong
    }.toMap

  /** Log vacuum (S13/S14 log TTL for PK tables): once a snapshot covers a
    * prefix of every bucket's log, the covered segments can be dropped —
    * the reference deletes aged log segments and scans start from the KV
    * snapshot instead (LogManager.java:167-175, RemoteLogManager). Here:
    * rewrite the log to only offsets >= the snapshot cutoff, then swap
    * directories. Afterwards `changelog()` starts at the cutoff (matching
    * the reference: history before the retained log lives only in the
    * snapshot).
    */
  def vacuumLog(): Unit = {
    val covered = readSnapshotMeta().getOrElse(
      throw new IllegalStateException("vacuumLog requires a snapshot: call compact() first"))
    // an unexpired lease caps the cut: never vacuum above a floor a
    // running batch read has pinned (see the lease section above)
    val pinned = leaseFloors(System.currentTimeMillis())
    val snapOffsets = covered.map { case (b, o) =>
      b -> math.min(o, pinned.getOrElse(b, Long.MaxValue)) }
    val tmpDir = tableLog.stagingDir("vacuum")
    // Pin ONE manifest version for the rewrite; the publish
    // conflict-checks against it — otherwise a commit landing between
    // this read and the lock would have its files deleted as "residue"
    // while its offsets stay published: silent data loss.
    val manifestAtStart = tableLog.read()
    val retained = logDFFor(manifestAtStart)
      .filter(col(Meta.Offset) >= bucketMapExpr(snapOffsets, 0L))
    retained.write.mode("overwrite").options(fileWriteOptions)
      .partitionBy((desc.partitionKeys :+ Meta.Bucket): _*).parquet(tmpDir)
    // record the time-travel floor BEFORE the visibility flip: a crash
    // after the flip but before the marker would otherwise leave a
    // truncated log that scanAsOf mistakes for full history. With the
    // marker already present, a crash before the flip is also safe —
    // snapshot ∪ tail reconstructs state correctly either way.
    val minTs = Option(spark.read.schema(logSchema).option("basePath", tmpDir)
        .parquet(tmpDir).agg(min(col(Meta.Timestamp))).head.getTimestamp(0))
      .map(_.getTime).getOrElse(System.currentTimeMillis())
    // the marker also pins the VACUUM-TIME cutoff offsets: snapshot meta
    // keeps advancing with later compact() calls, but the log start only
    // moves on the next vacuum — the floor must not move with it
    writeVacuumMarker(minTs, snapOffsets)
    // Same protocol as a commit, under the same lock: move the rewritten
    // files in alongside the old ones (invisible — their id is not yet
    // manifested), flip visibility with ONE atomic manifest write whose id
    // set is exactly {vacuumId}, then delete the now-invisible old files.
    // A crash before the flip leaves the old log intact (the rewrite is
    // inert residue a later commit cleans); a crash after it leaves
    // invisible garbage only.
    tableLog.rewrite(manifestAtStart, tmpDir, "vacuumLog")(identity)
    GraftMetrics.inc(path, GraftMetrics.Vacuums)
  }

  /** Age-based log retention for LOG tables — the reference's
    * `table.log.ttl` (fluss-common/.../config/ConfigOptions.java:1814;
    * aged segments deleted by fluss-server/.../log/LogManager.java:553).
    * Rows whose commit `__timestamp` is older than `ttlMillis` are
    * dropped by rewriting the retained tail through the SAME publish
    * protocol as [[vacuumLog]] (pinned manifest, marker BEFORE the
    * atomic visibility flip). Because per-bucket offsets are assigned in
    * commit order, a TTL cut is always a per-bucket PREFIX cut, so the
    * marker's floor offsets (first retained offset per bucket; the next
    * offset when a bucket empties) keep [[fastCount]], the poller floor
    * check and the time-travel guard exact — the reference's
    * highwatermark − logStartOffset accounting.
    *
    * PK tables must `compact()` + [[vacuumLog]] instead: dropping
    * un-compacted log rows there would silently lose state.
    *
    * @return number of rows dropped (0 = no rewrite performed)
    */
  def expireLog(ttlMillis: Long,
      nowMillis: Long = System.currentTimeMillis()): Long = {
    require(!desc.isPrimaryKeyTable,
      "expireLog is for log tables; PK tables: compact() then vacuumLog()")
    require(ttlMillis >= 0, s"ttl $ttlMillis must be non-negative")
    val cutoff = new java.sql.Timestamp(nowMillis - ttlMillis)
    val manifestAtStart = tableLog.read()
    val all = logDFFor(manifestAtStart)
    // keep = young enough OR pinned by an unexpired kv-snapshot lease.
    // Offsets and timestamps are both commit-ordered per bucket, so the
    // disjunction is still a per-bucket PREFIX cut (floors stay exact).
    val pinned = leaseFloors(nowMillis)
    val keep = col(Meta.Timestamp) >= lit(cutoff) ||
      col(Meta.Offset) >= bucketMapExpr(pinned, Long.MaxValue)
    val stats = all.groupBy(col(Meta.Bucket)).agg(
      sum(when(!keep, 1L).otherwise(0L)).as("dropped"),
      min(when(keep, col(Meta.Offset))).as("minKept"),
      min(when(keep, col(Meta.Timestamp))).as("minTs"))
      .collect()
    val dropped = stats.map(_.getLong(1)).sum
    if (dropped == 0L) return 0L
    val nextOffsets = manifestAtStart.offsets
    val newFloors = stats.map { r =>
      val b = r.getInt(0)
      b -> (if (r.isNullAt(2)) nextOffsets.getOrElse(b, 0L) else r.getLong(2))
    }.toMap
    // monotone-merge with any existing marker (earlier expire/vacuum):
    // floors and the travel bound only ever advance
    val mergedFloors = (retainedFloorOffsets.getOrElse(Map.empty).toSeq ++
      newFloors.toSeq).groupBy(_._1).map { case (b, vs) => b -> vs.map(_._2).max }
    val newBound = stats.collect {
      case r if !r.isNullAt(3) => r.getTimestamp(3).getTime
    } match { case a if a.nonEmpty => a.min; case _ => nowMillis }
    val mergedBound = math.max(newBound,
      readMarkerMillis(vacuumMarkerFile, "boundMillis").getOrElse(Long.MinValue))
    val tmpDir = tableLog.stagingDir("expire")
    all.filter(keep)
      .write.mode("overwrite").options(fileWriteOptions)
      .partitionBy((desc.partitionKeys :+ Meta.Bucket): _*).parquet(tmpDir)
    writeVacuumMarker(mergedBound, mergedFloors)
    tableLog.rewrite(manifestAtStart, tmpDir, "expireLog")(identity)
    dropped
  }

  /** The log-start marker of [[vacuumLog]] and [[expireLog]]: the
    * time-travel floor and the per-bucket first retained offsets.
    */
  private def writeVacuumMarker(boundMillis: Long,
      floors: Map[Int, Long]): Unit =
    CatalogJson.atomicWrite(vacuumMarkerFile,
      JsonMethods.compact(JsonMethods.render(JObject(List(
        "boundMillis" -> (JInt(boundMillis): JValue),
        "floorOffsets" -> Manifest.bucketJson(floors))))))

  /** In-place restore to recorded commit `v` — the Delta `RESTORE` /
    * Iceberg `rollback_to_snapshot` analog (the reference has no
    * restore; its offsets-pinned version history makes one natural).
    * The retained log is REWRITTEN to rows below v's per-bucket offset
    * bound and the manifest flips to v's offsets with the history
    * truncated, all through the vacuum publish protocol — so later
    * commits reuse the rolled-back offset range with no ambiguity, and
    * scans, changelog and version reads behave as if the undone commits
    * never happened. A physical truncation (not a metadata edit) is
    * deliberate: after a [[rewriteLogFiles]], one file can hold rows on
    * both sides of the bound, so no id/offset gate alone could both
    * hide the undone rows and free their offsets for reuse.
    *
    * Snapshot tier: a snapshot whose cutoff is within v stays (a prefix
    * materialization remains valid); one AHEAD of v is dropped when the
    * log retains full history, and refused after a vacuum — the
    * pre-floor history lives only in that snapshot, so v is
    * unreconstructible. Streaming sink batch tags newer than v stay
    * recorded and will SKIP on replay; restart those pipelines from
    * fresh checkpoints after a rollback (the standard restore caveat).
    */
  def rollbackTo(v: Long): Unit = {
    val manifestAtStart = tableLog.read()
    val hist = manifestAtStart.history
    require(hist.nonEmpty, s"table at $path has no recorded version history")
    val entry = hist.find(_.version == v).getOrElse(
      throw new IllegalArgumentException(
        s"version $v not recorded for $path (recorded: " +
          s"${hist.head.version}..${hist.last.version})"))
    retentionFloorMillis().foreach { floor =>
      require(entry.tsMillis >= floor,
        s"version $v precedes a partition retention delete; unreconstructible")
    }
    val bound = entry.offsets
    retainedFloorOffsets.foreach { floors =>
      require(!floors.exists { case (b, f) => f > bound.getOrElse(b, 0L) },
        s"log vacuumed above version $v; that history is gone")
    }
    // ahead-snapshot handling: VALIDATE here for fast failure (before
    // the expensive log rewrite), but act only UNDER the commit lock —
    // a compact() completing between this read and the publish must not
    // resurrect the undone commits (a compact still writing aborts
    // itself on its own backward-offset check)
    def snapshotGuard(act: Boolean): Unit = readSnapshotMeta().foreach { cut =>
      if (cut.exists { case (b, o) => o > bound.getOrElse(b, 0L) }) {
        require(retainedFloorOffsets.forall(_.values.forall(_ == 0L)),
          s"snapshot is ahead of version $v and the log was vacuumed — " +
            "pre-floor history lives only in the snapshot; unreconstructible")
        if (act) {
          // full history is in the log: drop the now-too-new snapshot
          // tier. Meta FIRST — a crash between the two leaves an inert
          // orphan dir, never a meta pointing at a missing one.
          WarehouseIO.deleteIfExists(snapshotMetaFile)
          deleteTree(snapshotDir)
        }
      }
    }
    snapshotGuard(act = false)
    val tmpDir = tableLog.stagingDir("rollback")
    val retained = logDFFor(manifestAtStart)
      .filter(col(Meta.Offset) < bucketMapExpr(bound, 0L))
    retained.write.mode("overwrite").options(fileWriteOptions)
      .partitionBy((desc.partitionKeys :+ Meta.Bucket): _*).parquet(tmpDir)
    tableLog.rewrite(manifestAtStart, tmpDir, s"rollbackTo($v)", () => {
      snapshotGuard(act = true)
      // epoch bump BEFORE the manifest flip: a crash in between makes
      // derived state (secondary indexes) rebuild unnecessarily — the
      // fail-safe direction; the reverse order could leave an index
      // silently serving undone rows after version numbers are reused
      bumpRollbackEpoch()
    }) { m =>
      // a BACKWARD offset flip RESTORES older rows, which a post-compact
      // EXACT column-stats blob may not cover: it degrades (one-way) so
      // the planner never serves under-approximating bounds. Row removal
      // and same-row rewrites keep the blob a sound over-approximation.
      val rewound = m.offsets.exists { case (b, o) => bound.getOrElse(b, 0L) < o }
      m.copy(offsets = bound, history = m.history.filter(_.version <= v),
        colStats =
          if (rewound) m.colStats.map(_.copy(complete = false)) else m.colStats)
    }
    GraftMetrics.inc(path, GraftMetrics.Rollbacks)
  }

  /** Rewrite the table to `newBuckets` storage buckets — the library
    * twin of the reference's cluster rebalance (fluss-server/.../
    * coordinator/rebalance/RebalanceManager.java, user-facing
    * `CALL sys.rebalance`, website/docs/maintenance/operations/
    * rebalance.md): replica/leader movement has no analog in a library
    * engine (Spark schedules placement), but the load problem it solves
    * — a mis-chosen bucket count skewing per-bucket volume — maps to
    * the storage bucket count that SPJ co-partitioning, auto grouping,
    * bucket pruning and point lookups all key off. One distributed job
    * re-hashes every gated log row and renumbers per-bucket offsets in
    * (old bucket, old offset) order — a key's changes all share one old
    * bucket, so per-key changelog order is preserved exactly — then the
    * log swaps through the same atomic rewrite/visibility-flip protocol
    * as rollback/vacuum.
    *
    * Crash-safety (two files — descriptor and manifest — cannot flip in
    * one rename, so an intent marker bridges them):
    *  1. under the commit lock, `_rebucket.json` publishes the intent,
    *     pinning the manifest id set; from here EVERY other mutator
    *     refuses (the [[TableLog.withCommitLock]] fence) until the marker clears;
    *  2. the rewrite job + atomic swap: conflict check, rollback-epoch
    *     bump (derived secondary/vector indexes pin the epoch and now
    *     refuse-then-rebuild), snapshot tier dropped (its dirs are laid
    *     out in the OLD bucketing; the log retains full history —
    *     vacuumed tables are refused up front), manifest flips to the
    *     new per-bucket offsets with ONE fresh version entry (old
    *     entries pin old-space offsets — VERSION AS OF across a
    *     rebucket is deliberately unsupported);
    *     `stateSeeded = true` (PK tables only) re-hashes the CURRENT
    *     STATE instead of the full log — the opt-in for VACUUMED tables,
    *     whose pre-floor history lives only in the snapshot tier and
    *     cannot be re-hashed row-exactly: the changelog restarts as all
    *     `+I` rows at offset 0 with the vacuum/retention markers
    *     cleared (at 100 TB, TTL+vacuum is routine — the tables that
    *     most need a bucket-count fix are exactly the vacuumed ones);
    *  3. meta.json flips `numBuckets` and the marker clears. A crash
    *     between 2 and 3 leaves the marker: mutation stays fenced and
    *     [[completeCrashedRebucket]] (run by the next
    *     `CALL sys.rebucket`) replays or aborts from the marker — the
    *     manifest id set proves whether the swap published.
    *
    * Handles opened before the rebucket are STALE: their commits refuse
    * (the meta.json bucket-count fence) and their bucket-pruned READ
    * surfaces (lookup/lookupAll/prefixLookup/scanPruned/
    * scanPrunedToKeys) self-heal by re-resolving the published
    * descriptor ([[currentHandle]]) — full scans were never
    * bucketing-dependent. Column stats are PRESERVED: the row multiset
    * is identical, so the blob's bounds still cover every visible row.
    */
  private[core] def rebucketTo(newBuckets: Int,
      stateSeeded: Boolean = false): Unit = {
    require(newBuckets >= 1, s"bucket count must be >= 1, got $newBuckets")
    require(desc.effectiveBucketKeys.nonEmpty,
      "rebucket applies to key-bucketed tables (key-less logs spread " +
        "round-robin; their bucket count is cosmetic)")
    if (newBuckets == desc.numBuckets) return
    require(!stateSeeded || desc.isPrimaryKeyTable,
      "state-seeded rebucket applies to PK tables only: an append table " +
        "has no collapsed current state to seed from — its vacuumed " +
        "rows are simply gone")
    if (!stateSeeded)
      require(!retainedFloorOffsets.exists(_.values.exists(_ > 0L)),
        s"log vacuumed on $path: pre-floor history lives only in the " +
          "snapshot tier, whose layout cannot be re-hashed row-exactly; " +
          "rebucket before vacuuming" +
          (if (desc.isPrimaryKeyTable)
            " — or rebucket(stateSeeded = true) to re-hash the CURRENT " +
              "state with a fresh history" else ""))
    // 1. intent marker, atomically with the manifest read it pins: the
    // lock guarantees no commit is in flight, and from the marker's
    // rename on every other mutator refuses — so the id set can only be
    // changed by OUR swap, which is what recovery relies on
    val manifestAtStart = tableLog.withCommitLock(None) {
      val m = tableLog.read()
      CatalogJson.atomicWrite(tableLog.rebucketMarker,
        JsonMethods.compact(JsonMethods.render(JObject(List(
          "to" -> (JInt(newBuckets): JValue),
          "ids" -> m.ids.map(s => JArray(s.toList.sorted.map(JString(_)): List[JValue]))
            .getOrElse(JNull: JValue))))))
      m
    }
    TableLog.inRebucket.set(java.lang.Boolean.TRUE)
    var published = false
    try {
      // 2. the rewrite: re-hash, renumber, one hive-partitioned write.
      // The renumbering is DETERMINISTIC per plan (row_number over a
      // total per-bucket order; the state-seeded path bakes one literal
      // timestamp), so the write needs no checkpoint pin — and the
      // per-bucket counts are derived from the WRITTEN tree afterwards,
      // which by construction sees exactly the numbering the write
      // produced. (An earlier version localCheckpoint()ed the whole
      // renumbered table so write and counts shared one plan — a
      // transient second full copy of the table in executor storage,
      // intolerable at 100 TB.)
      val tmpDir = tableLog.stagingDir("rebucket")
      val keys = desc.effectiveBucketKeys
      val renumbered =
        if (stateSeeded) {
          // vacuumed-PK form: re-hash the CURRENT STATE (snapshot ∪ log
          // collapse) into the new bucket space as a fresh all-`+I`
          // changelog — history restarts, the same contract the rebucket
          // already declares for VERSION AS OF. One row per key, so
          // per-key changelog order is trivially preserved; rows order
          // by PK within a bucket (total, deterministic).
          val w = Window.partitionBy(col(Meta.Bucket))
            .orderBy(desc.primaryKey.map(col): _*)
          currentState()
            .withColumn(Meta.Bucket, Buckets.column(keys.map(col), newBuckets))
            .withColumn(Meta.Offset, (row_number().over(w) - 1).cast("long"))
            .withColumn(Meta.Timestamp,
              lit(new java.sql.Timestamp(System.currentTimeMillis())))
            .withColumn(Meta.ChangeTypeCol, lit(ChangeType.Insert))
            .select(logSchema.fieldNames.map(col).toIndexedSeq: _*)
        } else {
          val w = Window.partitionBy(col(Meta.Bucket))
            .orderBy(col("__old_b"), col("__old_o"))
          logDFFor(manifestAtStart)
            .withColumn("__old_b", col(Meta.Bucket))
            .withColumn("__old_o", col(Meta.Offset))
            .withColumn(Meta.Bucket, Buckets.column(keys.map(col), newBuckets))
            .withColumn(Meta.Offset, (row_number().over(w) - 1).cast("long"))
            .select(logSchema.fieldNames.map(col).toIndexedSeq: _*)
        }
      renumbered.write.mode("overwrite").options(fileWriteOptions)
        .partitionBy((desc.partitionKeys :+ Meta.Bucket): _*).parquet(tmpDir)
      // next-offset per new bucket = its row count (numbered from 0),
      // read back from the written tree: the group keys on the
      // `__bucket=` DIR column only, so no file column is decoded — the
      // parquet reader serves row counts from footer metadata — and
      // ≤ newBuckets rows reach the driver
      val newOffsets = spark.read.schema(logSchema)
        .option("basePath", tmpDir).parquet(tmpDir)
        .groupBy(col(Meta.Bucket)).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      tableLog.rewrite(manifestAtStart, tmpDir, s"rebucketTo($newBuckets)",
        () => {
          // meta FIRST, dir second — a crash between leaves an inert
          // orphan dir, never a meta pointing at a missing one (the
          // rollback snapshotGuard pattern)
          WarehouseIO.deleteIfExists(snapshotMetaFile)
          deleteTree(snapshotDir)
          if (stateSeeded) {
            // history restarts at offset 0: the old vacuum floor and
            // retention bound are coordinates in the vanished numbering
            WarehouseIO.deleteIfExists(vacuumMarkerFile)
            WarehouseIO.deleteIfExists(retentionMarkerFile)
          }
          // epoch bump BEFORE the flip: fail-safe direction, same as
          // rollback — indexes rebuild unnecessarily on a crash here,
          // never serve rows keyed to a vanished bucketing
          bumpRollbackEpoch()
        }) { m =>
        // the row multiset is identical, so the column-stats blob's
        // bounds still cover every row and carry over unchanged
        m.copy(offsets = newOffsets, history = List(VersionEntry(
          m.nextVersion, System.currentTimeMillis(), newOffsets)))
      }
      published = true
      // 3. descriptor flip + marker clear (replayed by recovery)
      finishRebucketMeta(newBuckets)
    } catch {
      case t: Throwable =>
        // the swap is atomic: if it never published, the attempt left no
        // trace but the marker — drop it so the table unfences
        if (!published) WarehouseIO.deleteIfExists(tableLog.rebucketMarker)
        throw t
    } finally TableLog.inRebucket.set(java.lang.Boolean.FALSE)
  }

  /** Per-bucket live load — (files, bytes) across the committed-visible
    * log and the snapshot tier — the MEASUREMENT half of the reference's
    * goal-based rebalance (its goal optimizer weighs per-tablet replica
    * counts and disk usage, `fluss-server/.../rebalance/goal/`; a
    * library engine's analogous imbalance lives in the per-bucket byte
    * distribution). ONE recursive listing per tier, bucket parsed from
    * the `__bucket=` dir name — no file opens, driver-scale output
    * (≤ numBuckets entries).
    */
  def bucketLoadStats(): Map[Int, (Long, Long)] = {
    val m = tableLog.read()
    def tier(files: Seq[(String, Long)]): Seq[(Int, Long)] =
      files.flatMap { case (f, len) => "__bucket=(\\d+)".r.findFirstMatchIn(f)
        .map(b => b.group(1).toInt -> len) }
    val logTier = tier(tableLog.visible(m).files.map(f => f.path -> f.len))
    val snapTier =
      if (!hasSnapshotTier) Nil
      else tier(WarehouseIO.walkFiles(snapshotDir)
        .filter(e => !e.isDir && e.name.endsWith(".parquet")).map(e => e.path -> e.len))
    // LIVE load, not scannable bytes: a compacted, frequently-updated PK
    // table holds its live data twice (snapshot tier + the changelog
    // history below the cutoff), and summing both would have
    // suggestBucketCount recommend up to ~2x more buckets than the live
    // volume warrants. Offsets are dense per bucket, so the retained-log
    // and post-cutoff-tail ROW counts are exact manifest arithmetic;
    // log-tier bytes scale by that tail fraction (uniform-row-size
    // estimate — advisory metric, no file opens).
    val tailFrac: Int => Double =
      if (snapTier.isEmpty) _ => 1.0
      else {
        val cut = readSnapshotMeta().getOrElse(Map.empty)
        val floor = retainedFloorOffsets.getOrElse(Map.empty)
        b => {
          val lo = floor.getOrElse(b, 0L)
          val hi = m.offsets.getOrElse(b, 0L)
          val retained = math.max(0L, hi - lo)
          val tail = math.max(0L, hi - math.max(lo, cut.getOrElse(b, 0L)))
          if (retained == 0L) 1.0 else tail.toDouble / retained
        }
      }
    val entries = logTier.map { case (b, len) =>
      (b, len, math.round(len * tailFrac(b))) } ++
      snapTier.map { case (b, len) => (b, len, len) }
    entries.groupBy(_._1).map { case (b, es) =>
      b -> (es.size.toLong, es.map(_._3).sum)
    }
  }

  /** Estimated distinct bucket-key tuples, from the manifest HLL column
    * stats ([[columnPlannerStats]]) — the CEILING on useful bucket
    * counts: hashing cannot spread K distinct keys over more than K
    * buckets, so suggesting past the NDV just manufactures empty
    * buckets. Compound keys use the per-column NDV product (an upper
    * bound on tuple NDV — the cap only fires when even the bound is
    * below the suggestion, never spuriously). None when any key column
    * lacks stats.
    */
  def bucketKeyNdv(): Option[Long] = {
    val keys = desc.effectiveBucketKeys
    if (keys.isEmpty) return None
    val stats = columnPlannerStats()
    val ndvs = keys.map(k => stats.get(k).flatMap(_.ndv))
    if (ndvs.exists(_.isEmpty)) None
    else Some(ndvs.flatten.foldLeft(1L) { (acc, n) =>
      val p = acc * math.max(1L, n)
      if (p / math.max(1L, n) != acc || p < 0) Long.MaxValue else p // saturate
    })
  }

  /** Advisory bucket count for a target per-bucket data volume — the
    * DECISION half of the rebalance twin ([[rebucketTo]] is the
    * execution half): enough buckets that each holds ≤ `targetBytes`
    * of LIVE data, never fewer than one, and never more than the bucket
    * key's NDV (when stats know it — more buckets cannot help a
    * low-cardinality key). The default target (1 GiB) keeps a bucket a
    * few scan partitions wide at `spark.sql.files.maxPartitionBytes`
    * while leaving SPJ/grouped plans enough buckets to fill a cluster's
    * cores at 100 TB scale.
    */
  def suggestBucketCount(targetBytes: Long = 1L << 30): Int = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val total = bucketLoadStats().values.iterator.map(_._2).sum
    val byVolume = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    bucketKeyNdv() match {
      case Some(ndv) if ndv < byVolume => math.max(1, ndv.toInt)
      case _ => byVolume
    }
  }

  /** Step 3 of [[rebucketTo]], idempotent (recovery replays it). */
  private def finishRebucketMeta(n: Int): Unit = {
    val metaFile = s"$path/meta.json"
    WarehouseIO.readStringIfExists(metaFile).foreach { m =>
      val d = CatalogJson.read(m)
      if (d.numBuckets != n)
        CatalogJson.atomicWrite(metaFile,
          CatalogJson.write(d.copy(numBuckets = n)))
    }
    WarehouseIO.deleteIfExists(tableLog.rebucketMarker)
  }

  /** Finish or abort a crashed [[rebucketTo]] (its marker fences all
    * mutation until this runs). The marker's pinned manifest id set
    * decides: ids unchanged ⇒ the swap never published — abort (drop
    * the marker, nothing else changed); ids changed ⇒ the swap
    * published (nothing else can commit under the marker) — replay the
    * descriptor flip. Returns true when the descriptor changed (the
    * caller must re-open the table).
    */
  private[core] def completeCrashedRebucket(): Boolean = {
    val mk = WarehouseIO.readStringIfExists(tableLog.rebucketMarker)
    if (mk.isEmpty) return false
    val obj = JsonMethods.parse(mk.get).asInstanceOf[JObject].obj.toMap
    val to = obj("to").asInstanceOf[JInt].num.toInt
    val markerIds: Option[Set[String]] = obj.get("ids").collect {
      case a: JArray => a.arr.map(_.asInstanceOf[JString].s).toSet
    }
    TableLog.inRebucket.set(java.lang.Boolean.TRUE)
    try tableLog.withCommitLock(None) {
      if (tableLog.read().ids == markerIds) {
        WarehouseIO.deleteIfExists(tableLog.rebucketMarker)
        false
      } else {
        finishRebucketMeta(to)
        true
      }
    } finally TableLog.inRebucket.set(java.lang.Boolean.FALSE)
  }

  /** Drop ALL rows and log/snapshot state back to an empty table (the
    * descriptor and auto-increment counter survive). Used by
    * secondary-index rebuilds after a base-table restore: a keyed
    * upsert alone cannot remove entries whose index values vanished
    * with the undone commits.
    */
  private[core] def truncate(): Unit = tableLog.withCommitLock(None) {
    val counter = tableLog.read().nextAutoInc
    deleteTree(logDir)
    WarehouseIO.mkdirs(logDir)
    deleteTree(snapshotDir)
    tableLog.write(Manifest.Empty.copy(nextAutoInc = counter))
    Seq(snapshotMetaFile, vacuumMarkerFile, retentionMarkerFile)
      .foreach(WarehouseIO.deleteIfExists)
  }

  /** Monotonic count of in-place restores — derived state (secondary
    * indexes) keys its validity on this: version numbers are REUSED
    * after a rollback, so "applied version == latest version" alone
    * cannot prove an index reflects the current timeline.
    */
  def rollbackEpoch: Long =
    readMarkerMillis(rollbackEpochFile, "epoch").getOrElse(0L)

  private def bumpRollbackEpoch(): Unit =
    CatalogJson.atomicWrite(rollbackEpochFile,
      s"""{"epoch": ${rollbackEpoch + 1}}""")

  /** Small-file compaction (iceberg `rewrite_data_files` analog; the
    * reference rolls log segments to a size target, LogSegment/LogManager):
    * every commit writes at least one file per touched (partition, bucket)
    * dir, so a frequently-committed table accumulates files whose count —
    * not size — dominates scan planning and open() cost at 100 TB. This
    * rewrites the visible log into one file per (partition, bucket) dir
    * (bounded by `maxRecordsPerFile` when > 0), byte-preserving every row
    * INCLUDING system columns — offsets, timestamps and version history
    * are untouched, so changelog reads, `scanAsOf` and `scanAtVersion`
    * are unaffected. Publication is the vacuum protocol: rewrite outside
    * the log dir, conflict-check under the commit lock, flip visibility
    * with one atomic manifest write whose id set is exactly the rewrite's,
    * then drop the now-invisible originals. Works on log tables and PK
    * tables alike (for PK tables it compacts the retained log tier;
    * [[compact]] is the state-snapshot tier). `zorderBy` additionally
    * clusters the rewritten rows by a Morton z-value over the named
    * columns (the Delta/Iceberg `ZORDER BY` analog — see
    * [[graft.ops.Zorder]]) so min/max skipping works on every clustered
    * dimension at once.
    */
  def rewriteLogFiles(maxRecordsPerFile: Long = 0L,
      zorderBy: Seq[String] = Nil, zorderBits: Int = 16): Unit = {
    val tmpDir = tableLog.stagingDir("rewrite")
    val manifestAtStart = tableLog.read()
    val retained = logDFFor(manifestAtStart)
    // one shuffle keyed by the dir layout: each (partition, bucket) lands
    // in one task -> one output file per dir (plus maxRecordsPerFile splits)
    val dirKeys = (desc.partitionKeys :+ Meta.Bucket).map(col)
    val parted = retained.repartition(dirKeys: _*)
    // Z-order clustering (Zorder.zvalueFor): rows sort by the interleaved
    // key so every row group / split file has a narrow min/max on EVERY
    // clustered column — multi-dimensional batch-stats skipping (P3).
    // The dir keys LEAD the sort so FileFormatWriter sees its required
    // partition-column ordering already satisfied and inserts no sort of
    // its own (a writer-inserted, possibly unstable sort on the dir keys
    // alone would silently destroy the clustering).
    val laid =
      if (zorderBy.isEmpty) parted
      else parted.sortWithinPartitions(
        dirKeys :+ graft.ops.Zorder.zvalueFor(retained, zorderBy, zorderBits): _*)
    laid.write.mode("overwrite").options(fileWriteOptions)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy((desc.partitionKeys :+ Meta.Bucket): _*).parquet(tmpDir)
    tableLog.rewrite(manifestAtStart, tmpDir, "rewriteLogFiles")(identity)
    GraftMetrics.inc(path, GraftMetrics.Rewrites)
  }

  /** The pre-merge state input: snapshot ∪ log tail (S4/S7: log wins,
    * DELETE removes), with an optional bucket predicate pushed into BOTH
    * sides so point lookups prune partition dirs of the snapshot AND the
    * log. Routing every state read through here is what keeps lookups
    * correct after `vacuumLog()` (history before the retained log lives
    * only in the snapshot).
    */
  private def stateInput(bucketPred: Option[Column]): DataFrame = {
    def p(df: DataFrame): DataFrame = bucketPred.map(df.filter).getOrElse(df)
    // Grouped state input (opt-in): snapshot ∪ log tail planned as ONE
    // DSv2 relation reporting KeyGroupedPartitioning over the bucket
    // function — the LatestRow collapse above it then needs NO exchange
    // (rows of one key live in one bucket on BOTH tiers; the reference's
    // per-bucket FlussUpsertPartitionReader merge, Spark-planner form).
    // A bucket predicate still applies above; its __bucket equality also
    // prunes files inside the scan. The snapshot cutoffs are read ONCE
    // here and pinned into the scan; the exact per-bucket tail gate
    // (`offset >= cutoff(bucket)`, snapshot rows pass at their
    // synthesized -1) applies ABOVE the scan as a Catalyst filter — with
    // the gate outside the reader, an id-gated manifest lets the scan
    // emit raw COLUMNAR batches (the V1 path applies the same
    // construction-time filter over its snapshot∪tail union below).
    // FilterExec preserves the reported grouping, so the collapse still
    // plans exchange-free.
    if (groupedReadEnabled) {
      val cut = snapshotCutoffs
      val base = graft.connector.GraftStateRelation.stateInput(this, cut)
      val gated = cut match {
        case Some(c) => base.filter(col(Meta.Offset) === lit(-1L) ||
          col(Meta.Offset) >= bucketMapExpr(c, 0L))
        case None => base
      }
      return p(gated)
    }
    readSnapshotMeta() match {
      case None => p(logDF)
      case Some(snapOffsets) =>
        // snapshots are bucket-partitioned dirs; a flat legacy layout
        // would read __bucket as null and silently vanish under bucket
        // pruning — fail loudly instead (checked once per handle, with
        // the directory stream closed)
        if (!snapshotLayoutChecked) {
          val flat = WarehouseIO.listDir(snapshotDir)
            .exists(e => e.name.endsWith(".parquet"))
          require(!flat, s"snapshot at $snapshotDir uses the legacy " +
            "unpartitioned layout; re-run compact() to rewrite it")
          snapshotLayoutChecked = true
        }
        val snapSchema = StructType(desc.schema.fields :+
          StructField(Meta.Bucket, IntegerType))
        val snap = p(spark.read.schema(snapSchema)
            .option("basePath", snapshotDir).parquet(snapshotDir))
          // snapshot rows replay as inserts below any tail offset
          .withColumn(Meta.ChangeTypeCol, lit(ChangeType.Insert))
          .withColumn(Meta.Offset, lit(-1L))
          .withColumn(Meta.Timestamp, lit(new java.sql.Timestamp(0L)))
        val tail = p(logDF).filter(
          col(Meta.Offset) >= bucketMapExpr(snapOffsets, 0L))
        snap.unionByName(tail)
    }
  }

  /** Current state: snapshot ∪ log tail, keyed-merged (S4/S7 semantics:
    * log wins, DELETE removes).
    */
  def currentState(): DataFrame = stateFor(None)

  /** The one keyed state read: current state of `buckets` only (None =
    * all). The `__bucket` predicate sits on the state INPUT, so it prunes
    * snapshot and log bucket dirs before the collapse.
    */
  private def stateFor(buckets: Option[Seq[Int]]): DataFrame =
    Materialize.currentState(
      stateInput(buckets.map(bs => col(Meta.Bucket).isin(bs: _*))), desc)

  // ---------------------------------------------------------------------
  // read surfaces
  // ---------------------------------------------------------------------

  /** Batch scan: log table = appended rows; PK table = current state.
    * With `spark.sql.graft.read.preserve-data-grouping`, a key-bucketed
    * append table's scan is a grouped DSv2 relation, so engine-API joins
    * and aggregates on its bucket keys plan exchange-free (the PK path
    * gets the same through [[stateInput]]'s grouped form).
    */
  def scan(): DataFrame =
    if (desc.isPrimaryKeyTable) currentState()
    else if (groupedReadEnabled)
      graft.connector.GraftStateRelation
        .grouped(this, graft.connector.GraftScanTier.AppendLog)
        .select(desc.schema.fieldNames.map(col).toIndexedSeq: _*)
    else logDF.select(desc.schema.fieldNames.map(col).toIndexedSeq: _*)

  /** The `preserve-data-grouping` setting ('true' | 'false' | 'auto',
    * session or warehouse-dynamic — [[GroupedReads]]), meaningful only
    * on key-bucketed tables.
    */
  // !bucketPruneUnsafe: grouped reads REPORT the descriptor's bucket
  // numbering (KeyGroupedPartitioning + key-hash runtime pruning); while
  // a rebucket marker exists that numbering is ambiguous, so the plain
  // union path (bucketing-independent) serves instead
  private def groupedReadEnabled: Boolean =
    desc.effectiveBucketKeys.nonEmpty && !bucketPruneUnsafe &&
      GroupedReads.enabled(spark, path, desc.numBuckets, plannerBytesCached)

  /** Read-optimized scan (the reference's `spark.sql.fluss.read.optimized`
    * connector option, website/docs/engine-spark/options.md:17): PK tables
    * serve the latest KV snapshot ONLY — the log merge is skipped, so the
    * read is a plain pruned parquet scan with no shuffle, at the cost of
    * staleness up to the last [[compact]]. A never-compacted table has no
    * snapshot tier yet and reads empty (stale by definition — same
    * contract as the reference reading an empty lake/KV snapshot). Log
    * tables have no merge to skip and read normally.
    */
  def scanReadOptimized(): DataFrame =
    if (!desc.isPrimaryKeyTable) scan()
    else readSnapshotMeta() match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
          StructType(desc.schema.fields))
      case Some(_) =>
        spark.read.schema(StructType(desc.schema.fields :+
            StructField(Meta.Bucket, IntegerType)))
          .option("basePath", snapshotDir).parquet(snapshotDir)
          .select(desc.schema.fieldNames.map(col).toIndexedSeq: _*)
    }

  /** The reference's LAKE UNION READ (S7's true shape: lake snapshot ∪
    * fresh log tail — fluss-client/.../batch/
    * LakeSnapshotAndLogSplitScanner.java, Spark side
    * fluss-spark/.../read/lake/FlussLakeUtils.scala +
    * FlussLakeUpsertPartitionReader.scala): cold state comes from the
    * tiered lake directory, resolved through the lake metadata (never by
    * listing), and freshness comes from the log tail above the lake's
    * pinned tier offsets — PK tables keyed-merge the two (log wins,
    * DELETE removes, the FlussLakeUpsertPartitionReader sort-merge),
    * append tables concatenate. At 100 TB the lake side is a bare pruned
    * parquet scan with no merge work for already-tiered history; only
    * the tail — bounded by tiering freshness, minutes of data — carries
    * CDC rows into the collapse.
    *
    * Fails loudly when the log has been vacuumed past the lake's pinned
    * offsets (the tail is unreconstructible; re-tier first).
    */
  def scanLakeUnion(dir: String, format: String = "iceberg"): DataFrame = {
    val fmt = LakeFormatOps.of(format)
    require(fmt.hasMetadata(dir),
      s"$dir has no ${fmt.name} metadata; lake union read requires a " +
        "lake-enabled export (tierSnapshot / export_snapshot_*)")
    // Grouped per-bucket union (opt-in, bucket-aligned lake): lake live
    // files ∪ gated log tail as ONE grouped DSv2 relation — both sides
    // keep the table's `__bucket=N/` dirs. PK tables merge per bucket
    // with NO exchange above the scan (the reference's
    // FlussLakeUpsertPartitionReader); append tables concatenate, and
    // the relation REPORTS the bucket grouping so a join downstream on
    // the bucket keys plans exchange-free too. At 100 TB this deletes
    // the full-lake shuffle every union read (or join above it)
    // otherwise pays.
    val lakeBucketAligned =
      WarehouseIO.readStringIfExists(s"$dir/_export_manifest.json")
        .exists(s => JsonMethods.parse(s).asInstanceOf[JObject].obj.toMap
          .get("layout").contains(JString("bucket"): JValue))
    if (groupedReadEnabled && lakeBucketAligned) {
      val (pinned: Map[Int, Long], rels: Seq[String]) = fmt.withLock(dir) {
        val p = fmt.committedTierTags(dir)
          .get(GraftTable.TierOffsetsKey).map(GraftTable.parseTierOffsets)
          .getOrElse(throw new IllegalArgumentException(
            s"$dir's ${fmt.name} metadata carries no graft tier offsets; " +
              "only tierSnapshot/exportSnapshot-published lakes support " +
              "union reads"))
        (p, fmt.liveFiles(spark, dir))
      }
      retainedFloorOffsets.foreach { floor =>
        val lost = floor.filter { case (b, f) => f > pinned.getOrElse(b, 0L) }
        require(lost.isEmpty,
          s"log at $path was vacuumed past the lake's tier offsets " +
            s"(buckets ${lost.keys.toSeq.sorted.mkString(",")}); " +
            "re-tier the lake before union reads")
      }
      // sizes from ONE recursive listing (seedFileEntries' posture)
      val sizes: Map[String, Long] = WarehouseIO.walkFiles(dir)
        .filter(e => !e.isDir).map(e => e.path -> e.len).toMap
      val entries = rels.map { r =>
        val abs = s"$dir/$r"
        abs -> sizes.getOrElse(abs, WarehouseIO.size(abs))
      }
      val base = graft.connector.GraftStateRelation
        .lakeUnionInput(this, dir, entries, pinned)
      // exact tail gate above the scan (lake rows pass at their
      // synthesized -1; absent buckets default to 0 = read everything)
      val gated = base.filter(col(Meta.Offset) === lit(-1L) ||
        col(Meta.Offset) >= bucketMapExpr(pinned, 0L))
      return if (desc.isPrimaryKeyTable)
        Materialize.currentState(gated, desc)
      else gated.select(desc.schema.fieldNames.map(col).toIndexedSeq: _*)
    }
    // offsets + live-file resolution under ONE lake lock: a tier
    // committing between the two reads would otherwise pin offsets from
    // before the commit against a live set from after it — the tiered
    // window then appears in both sides (duplicate rows on append
    // tables). readLive resolves its file list eagerly, so both reads
    // see the same committed snapshot.
    val (pinned: Map[Int, Long], lakeRaw) = fmt.withLock(dir) {
      val p = fmt.committedTierTags(dir)
        .get(GraftTable.TierOffsetsKey).map(GraftTable.parseTierOffsets)
        .getOrElse(throw new IllegalArgumentException(
          s"$dir's ${fmt.name} metadata carries no graft tier offsets; " +
            "only tierSnapshot/exportSnapshot-published lakes support " +
            "union reads"))
      (p, fmt.readLive(spark, dir))
    }
    retainedFloorOffsets.foreach { floor =>
      val lost = floor.filter { case (b, f) => f > pinned.getOrElse(b, 0L) }
      require(lost.isEmpty,
        s"log at $path was vacuumed past the lake's tier offsets " +
          s"(buckets ${lost.keys.toSeq.sorted.mkString(",")}); " +
          "re-tier the lake before union reads")
    }
    // partition columns come back type-inferred from the hive paths;
    // cast to the declared schema so the union is exact
    val lake = lakeRaw.select(
      desc.schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name))
        .toIndexedSeq: _*)
    if (!desc.isPrimaryKeyTable)
      // absent buckets default to 0 (read everything): a bucket that was
      // still empty at tier time has no pinned offset, and its later
      // appends are exactly the tail (scanFromOffsets' MaxValue default
      // means "do not read" — the opposite contract)
      lake.unionByName(logDF
        .filter(col(Meta.Offset) >= bucketMapExpr(pinned, 0L))
        .select(desc.schema.fieldNames.map(col).toIndexedSeq: _*))
    else {
      // lake rows replay as inserts below any tail offset — the same
      // convention as the snapshot side of stateInput
      val lakeAsLog = lake
        .withColumn(Meta.ChangeTypeCol, lit(ChangeType.Insert))
        .withColumn(Meta.Offset, lit(-1L))
      val tail = logDF.filter(
          col(Meta.Offset) >= bucketMapExpr(pinned, 0L))
        .select((desc.schema.fieldNames.map(col) ++
          Seq(col(Meta.ChangeTypeCol), col(Meta.Offset))).toIndexedSeq: _*)
      Materialize.currentState(lakeAsLog.unionByName(tail), desc)
    }
  }

  // ---------------------------------------------------------------------
  // full-startup stream seeding (T2's lake-aware form)
  // ---------------------------------------------------------------------

  /** Resolve a `scan.startup.mode=full` stream's seed: where batch 0's
    * cold state comes from, plus the per-bucket offsets its log tail
    * starts at. A `table.datalake.*`-enabled table seeds from the tiered
    * LAKE at its pinned tier offsets — the reference's lake-seeded hybrid
    * split (fluss-flink/.../source/split/HybridSnapshotLogSplit.java:37 +
    * fluss-spark/.../read/lake/FlussLakeUtils.scala): on a table whose
    * log is vacuumed/expired up to the lake, history lives ONLY in the
    * lake, and this is what makes such a table cold-startable as a
    * stream. Other PK tables seed from the KV snapshot ([[GraftStream
    * .hybrid]]'s source); None = nothing to seed yet (full degenerates
    * to earliest, the reference's contract for snapshotless tables).
    */
  private[graft] def resolveFullStartup()
      : Option[(GraftTable.SeedSource, Map[Int, Long])] = {
    val lake = LakeMaintenance.policyOf(desc.properties).flatMap { p =>
      val fmt = LakeFormatOps.of(p.format)
      if (!fmt.hasMetadata(p.dir)) None
      else fmt.withLock(p.dir)(fmt.committedTierTags(p.dir))
        .get(GraftTable.TierOffsetsKey).map(GraftTable.parseTierOffsets)
        .map(off =>
          (GraftTable.SeedSource.Lake(p.dir, p.format): GraftTable.SeedSource,
            off))
    }
    lake.orElse(readSnapshotMeta().map(off =>
      (GraftTable.SeedSource.Snapshot: GraftTable.SeedSource, off)))
  }

  /** The seed's CURRENT tail-start offsets — what [[resolveFullStartup]]
    * would pin right now.
    */
  private def currentSeedOffsets(seed: GraftTable.SeedSource)
      : Option[Map[Int, Long]] = seed match {
    case GraftTable.SeedSource.Lake(dir, format) =>
      LakeFormatOps.of(format).committedTierTags(dir)
        .get(GraftTable.TierOffsetsKey).map(GraftTable.parseTierOffsets)
    case GraftTable.SeedSource.Snapshot => readSnapshotMeta()
  }

  /** Replay guard shared by [[seedFrame]] and [[seedFileEntries]]: a
    * seed whose pinned offsets no longer match the stream's checkpointed
    * tail-start (the lake re-tiered / the snapshot re-compacted between
    * a crash and the batch-0 replay) fails loudly — replaying a NEWER
    * seed against the old tail window would double-deliver everything
    * committed in between.
    */
  private[graft] def requireSeedCurrent(seed: GraftTable.SeedSource,
      expected: Map[Int, Long]): Unit = {
    val cur = currentSeedOffsets(seed)
    if (!cur.contains(expected)) throw new IllegalStateException(
      s"full-startup seed for $path moved under a replaying first batch " +
        s"(checkpointed tail-start $expected, seed now at " +
        s"${cur.getOrElse(Map.empty)}): the lake re-tiered or the " +
        "snapshot re-compacted since the stream's offsets were logged — " +
        "restart the stream from a fresh checkpoint")
  }

  /** A full-startup stream's batch-0 seed rows in log-row shape: data
    * columns + system columns, replaying as inserts at offset -1 below
    * any tail offset (the [[stateInput]] convention; lake rows carry
    * bucket -1 — buckets are a log-layout notion the lake does not
    * keep). `expected` is the checkpointed tail-start the seed must
    * still match ([[requireSeedCurrent]]).
    */
  private[graft] def seedFrame(seed: GraftTable.SeedSource,
      expected: Map[Int, Long]): DataFrame = {
    val ordered = logSchema.fieldNames.map(col).toIndexedSeq
    seed match {
      case GraftTable.SeedSource.Lake(dir, format) =>
        val fmt = LakeFormatOps.of(format)
        // guard + live-file resolution under ONE lake lock, like
        // scanLakeUnion: a tier committing in between would pin the
        // guard's offsets against a newer live set
        val lakeRaw = fmt.withLock(dir) {
          requireSeedCurrent(seed, expected)
          fmt.readLive(spark, dir)
        }
        // bucket-aligned lakes carry each row's storage bucket as a
        // partition column — keep it; legacy exports don't keep buckets
        // (a log-layout notion), so their rows ride as bucket -1
        val bucketOf: Column =
          if (lakeRaw.columns.contains(Meta.Bucket))
            col(Meta.Bucket).cast(IntegerType)
          else lit(-1)
        lakeRaw.select((desc.schema.fields.map(f =>
            col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq :+
            bucketOf.as(Meta.Bucket)): _*)
          .withColumn(Meta.ChangeTypeCol, lit(ChangeType.Insert))
          .withColumn(Meta.Offset, lit(-1L))
          .withColumn(Meta.Timestamp, lit(new java.sql.Timestamp(0L)))
          .select(ordered: _*)
      case GraftTable.SeedSource.Snapshot =>
        requireSeedCurrent(seed, expected)
        val snapSchema = StructType(desc.schema.fields :+
          StructField(Meta.Bucket, IntegerType))
        spark.read.schema(snapSchema).option("basePath", snapshotDir)
          .parquet(snapshotDir)
          .withColumn(Meta.ChangeTypeCol, lit(ChangeType.Insert))
          .withColumn(Meta.Offset, lit(-1L))
          .withColumn(Meta.Timestamp, lit(new java.sql.Timestamp(0L)))
          .select(ordered: _*)
    }
  }

  /** The seed's physical parquet files for native (DSv2) planning:
    * (absolute path, length, hive `k=v` dir segments). Lake files carry
    * the table's partition keys in their paths; snapshot files
    * additionally carry `__bucket`. Same replay guard as [[seedFrame]].
    */
  private[graft] def seedFileEntries(seed: GraftTable.SeedSource,
      expected: Map[Int, Long]): Seq[(String, Long, Map[String, String])] = {
    def hiveKvs(rel: String): Map[String, String] = HiveDirValues.kvsOf(rel)
    seed match {
      case GraftTable.SeedSource.Lake(dir, format) =>
        val fmt = LakeFormatOps.of(format)
        val rels = fmt.withLock(dir) {
          requireSeedCurrent(seed, expected)
          fmt.liveFiles(spark, dir)
        }
        // sizes from ONE recursive listing, not one stat per file: a
        // 100 TB lake's live set is thousands of files, and per-file
        // HEADs would serialize cold-start planning on an object store
        val sizes: Map[String, Long] = WarehouseIO.walkFiles(dir)
          .filter(e => !e.isDir).map(e => e.path -> e.len).toMap
        rels.map { rel =>
          val abs = s"$dir/$rel"
          (abs, sizes.getOrElse(abs, WarehouseIO.size(abs)), hiveKvs(rel))
        }
      case GraftTable.SeedSource.Snapshot =>
        requireSeedCurrent(seed, expected)
        WarehouseIO.walkFiles(snapshotDir)
          .filter(_.name.endsWith(".parquet"))
          .map(e => (e.path, e.len,
            hiveKvs(WarehouseIO.relativize(snapshotDir, e.path))))
    }
  }

  /** This handle, re-resolved against the PUBLISHED descriptor when a
    * rebucket has made it stale: bucket-pruned reads (lookups,
    * scanPruned) through a stale handle hash keys with the old bucket
    * count and probe the wrong partition dirs — the read-side twin of
    * the commit fence. One small meta.json read; non-catalog tables
    * (no meta.json) are never stale. The reference's client refreshes
    * stale tablet metadata the same way (re-route on NOT_LEADER).
    */
  def currentHandle(): GraftTable =
    WarehouseIO.readStringIfExists(s"$path/meta.json") match {
      case Some(m) =>
        val d = CatalogJson.read(m)
        if (d.numBuckets != desc.numBuckets) new GraftTable(path, d, spark)
        else this
      case None => this
    }

  /** Best-effort bucket-pruned scan (P5 through any entry point, e.g.
    * the DSv2 connector): when equality predicates pin every bucket key,
    * read only that bucket's partition directory — 1/numBuckets of the
    * I/O before any merge work — and fall back to the full scan
    * otherwise. Values are cast to the declared column types before
    * hashing (same rule as lookup).
    */
  def scanPruned(eq: Map[String, Any]): DataFrame = {
    val fresh = currentHandle()
    if (fresh ne this) return fresh.scanPruned(eq)
    scanBuckets(keyBuckets(Seq(eq)))
  }

  /** Scan pruned to the buckets a SET of key rows hashes to — the
    * probe-side discipline of the reference's lookup path
    * (PrefixKeyLookuper.java:49 / TabletService.java:353: a probe reads
    * the buckets it routes to, never the table) generalized to a
    * DataFrame of keys, through the bounded probe of [[touchedBuckets]].
    * For a micro-batch probing a corpus-scale table this turns a full
    * scan into O(batch-bucket-set) IO: the dedup-at-ingest index probe
    * ([[graft.pipeline.MinHashIngestIndex]]) is the motivating caller.
    */
  def scanPrunedToKeys(keyRows: DataFrame): DataFrame = {
    val fresh = currentHandle()
    if (fresh ne this) return fresh.scanPrunedToKeys(keyRows)
    scanBuckets(touchedBuckets(keyRows))
  }

  /** The table's rows in `buckets` (None = every bucket): PK state
    * through [[stateFor]], or the log's data columns.
    */
  private def scanBuckets(buckets: Option[Seq[Int]]): DataFrame =
    if (buckets.isEmpty) scan()
    else if (desc.isPrimaryKeyTable) stateFor(buckets)
    else logDF.filter(col(Meta.Bucket).isin(buckets.get: _*))
      .select(desc.schema.fieldNames.map(col).toIndexedSeq: _*)

  /** The buckets a set of key rows hashes to, or None when nothing can
    * be pruned: the table has no bucket keys, the rows lack a key column,
    * a rebucket marker makes the numbering ambiguous
    * ([[bucketPruneUnsafe]]), the table is empty (no manifest offsets and
    * no snapshot), or the keys cover every bucket. `keyRows` is probed
    * BOUNDED: 16×numBuckets rows either (a) don't fill the limit — the
    * sample IS the key set, exact and done — or (b) already touch every
    * bucket — nothing to prune. Only the narrow middle (a big key set
    * with genuinely sparse coverage) pays an exact distinct, and that is
    * the case pruning wins. A driver-built `keyRows` costs no job (Spark
    * folds the limit into its LocalRelation); a generated one costs one
    * limit job. Keys are cast to the declared types before hashing.
    */
  private def touchedBuckets(keyRows: DataFrame): Option[Seq[Int]] = {
    val keys = desc.effectiveBucketKeys
    if (keys.isEmpty || !keys.forall(keyRows.columns.contains) ||
        bucketPruneUnsafe || (tableLog.read().offsets.isEmpty && readSnapshotMeta().isEmpty))
      return None
    val bucket = Buckets.column(
      keys.map(k => col(k).cast(desc.schema(k).dataType)), desc.numBuckets)
    val cap = 16 * desc.numBuckets
    val sample = keyRows.select(bucket).limit(cap).collect().map(_.getInt(0))
    val bs =
      if (sample.length < cap) sample.distinct
      else if (sample.distinct.length >= desc.numBuckets) return None
      else keyRows.select(bucket).distinct().collect().map(_.getInt(0))
    if (bs.length >= desc.numBuckets) None else Some(bs.toSeq.sorted)
  }

  /** `t$changelog` virtual table (website/docs/table-design/
    * virtual-tables.md:14): data + `_change_type`, `_log_offset`,
    * `_commit_timestamp`.
    */
  def changelog(): DataFrame =
    logDF.select((desc.schema.fieldNames.map(col) ++ Seq(
      col(Meta.ChangeTypeCol),
      col(Meta.Offset).as(Meta.LogOffset),
      col(Meta.Timestamp).as(Meta.CommitTimestamp))).toIndexedSeq: _*)

  /** Incremental changelog between two committed versions — the delta
    * `table_changes(from, to)` / CDF analog: every change committed AFTER
    * version `fromV`, up to and including version `toV`, in [[changelog]]
    * shape. `fromV = 0` means "since before the first commit". A consumer
    * loop alternates `latestVersion` + `changesBetween(lastSeen, now)` to
    * process exactly-once without a streaming checkpoint (the offset-range
    * form of the same contract is [[scanRange]] / LogPoller). Reads only
    * the offset slice — with the per-commit offset manifest this prunes to
    * the files of the requested commits, not the whole log. Fails loudly
    * when `fromV`'s offsets have been vacuumed away.
    */
  /** Per-bucket next-offset bound of a committed version (0 = before the
    * first commit). Fails on unrecorded versions.
    */
  def offsetsAtVersion(v: Long): Map[Int, Long] =
    if (v == 0L) Map.empty
    else {
      val hist = tableLog.read().history
      require(hist.nonEmpty, s"table at $path has no recorded version history")
      hist.find(_.version == v).map(_.offsets)
        .getOrElse(throw new IllegalArgumentException(
          s"version $v not recorded for $path (recorded: " +
            s"${hist.head.version}..${hist.last.version})"))
    }

  def changesBetween(fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"fromV $fromV > toV $toV")
    val from = offsetsAtVersion(fromV)
    val until = offsetsAtVersion(toV)
    // vacuum truncates the log: a from-bound below the retained floor
    // would silently miss deleted records — refuse instead
    retainedFloorOffsets.foreach { floor =>
      val gaps = floor.filter { case (b, f) => from.getOrElse(b, 0L) < f }
      require(gaps.isEmpty,
        s"changes after version $fromV start below the vacuumed log floor " +
          s"for buckets ${gaps.keys.toSeq.sorted.mkString(",")}; " +
          "re-baseline from a snapshot scan")
    }
    scanRange(from, until)
      .select((desc.schema.fieldNames.map(col) ++ Seq(
        col(Meta.ChangeTypeCol),
        col(Meta.Offset).as(Meta.LogOffset),
        col(Meta.Timestamp).as(Meta.CommitTimestamp))).toIndexedSeq: _*)
  }

  /** Undo every change committed past `offsets` — the reference's
    * exactly-once UNDO RECOVERY (fluss-flink/.../sink/undo/
    * UndoComputer.java:43). For each primary key, only the FIRST change
    * after the registered offsets governs the compensation:
    *
    *  - `+I` — the key did not exist at the registered point → DELETE it
    *  - `-U` — the key was updated → restore the pre-image it carries
    *  - `+U` — ignored (`-U` of the same pair already restored the key)
    *  - `-D` — the key was deleted → re-insert the row it carried
    *
    * One distributed pass: changelog-window scan (offset-pruned via the
    * per-commit manifest) → first-change-per-key hash aggregate (`min_by`
    * over the log offset) → ONE mixed upsert/delete batch through the
    * normal merge path — the compensations land as a single commit with
    * their own changelog, exactly like the reference applying undo
    * through a plain UpsertWriter. Returns the number of compensating
    * row intents written (0 = nothing to undo).
    *
    * Restricted to the default (LWW) merge engine: FIRST_ROW ignores
    * overwrites and VERSIONED/AGGREGATION fold rather than replace, so a
    * compensating upsert could not restore the pre-image — refusing
    * loudly beats silently half-undoing.
    */
  def undoTo(offsets: Map[Int, Long]): Long = {
    require(desc.isPrimaryKeyTable, "undo recovery applies to PK tables")
    require(desc.mergeEngine == MergeEngine.Default,
      s"undo recovery requires the default (LWW) merge engine; " +
        s"${desc.mergeEngine} folds writes and cannot restore pre-images")
    require(desc.changelogImage == ChangelogImage.Full,
      "undo recovery requires FULL changelog image: a WAL-image log " +
        "never records the -U pre-image an update's undo must restore")
    // vacuum truncates the log: a registered point below the retained
    // floor would silently miss changes — refuse instead (same contract
    // as changesBetween)
    retainedFloorOffsets.foreach { floor =>
      val gaps = floor.filter { case (b, f) => offsets.getOrElse(b, 0L) < f }
      require(gaps.isEmpty,
        s"undo to offsets below the vacuumed log floor for buckets " +
          s"${gaps.keys.toSeq.sorted.mkString(",")}; " +
          "that window is no longer replayable")
    }
    val cur = tableLog.read().offsets
    if (!cur.exists { case (b, o) => o > offsets.getOrElse(b, 0L) }) return 0L
    // +U is skipped BEFORE the first-change aggregate (UndoComputer.java:83):
    // its paired -U carries the pre-image the undo must restore and
    // sorts immediately before it anyway.
    val window = scanRange(offsets, cur)
      .filter(col(Meta.ChangeTypeCol) =!= ChangeType.UpdateAfter)
    val dataCols = desc.schema.fieldNames.toSeq
    val firsts = window
      .groupBy(desc.primaryKey.map(col): _*)
      .agg(min_by(
        struct((dataCols.map(col) :+ col(Meta.ChangeTypeCol).as("__ct")): _*),
        col(Meta.Offset)).as("__first"))
      .select(col("__first.*"))
      .withColumn("__delete", col("__ct") === ChangeType.Insert)
      .drop("__ct")
      .persist()
    try {
      val n = firsts.count()
      if (n > 0) upsertMixed(firsts)
      n
    } finally { firsts.unpersist(); () }
  }

  /** `t$binlog` virtual table (PK tables only): one row per state change
    * with `before`/`after` ROW images (TableDescriptor.java:69-70).
    * Before-images come from a per-key `lag`, so the view also works for
    * WAL-image tables that never logged `-U` rows.
    */
  def binlog(): DataFrame = {
    require(desc.isPrimaryKeyTable, "binlog requires a PK table")
    val dataStruct = struct(desc.schema.fieldNames.map(col).toIndexedSeq: _*)
    val w = Window.partitionBy(desc.primaryKey.map(col): _*).orderBy(col(Meta.Offset))
    logDF.filter(col(Meta.ChangeTypeCol) =!= ChangeType.UpdateBefore)
      .withColumn("__img", dataStruct)
      .withColumn("__prev", lag(col("__img"), 1).over(w))
      .select(
        col(Meta.ChangeTypeCol),
        when(col(Meta.ChangeTypeCol) === ChangeType.Insert, lit(null))
          .otherwise(col("__prev")).as("before"),
        when(col(Meta.ChangeTypeCol) === ChangeType.Delete, lit(null))
          .otherwise(col("__img")).as("after"),
        col(Meta.Offset).as(Meta.LogOffset),
        col(Meta.Timestamp).as(Meta.CommitTimestamp))
  }

  /** Primary-key point lookup (PrimaryKeyLookuper.java:49): bucket-pruned
    * scan of the key's bucket only — file pruning via the `__bucket`
    * partition dir.
    */
  def lookup(key: Map[String, Any]): DataFrame = {
    val fresh = currentHandle()
    if (fresh ne this) return fresh.lookup(key)
    require(desc.isPrimaryKeyTable, "lookup requires a PK table")
    require(key.keySet == desc.primaryKey.toSet, s"full PK required: ${desc.primaryKey}")
    GraftMetrics.inc(path, GraftMetrics.Lookups)
    stateFor(keyBuckets(Seq(key))).filter(keyPredicate(key))
  }

  /** Batched point lookups (the reference's LookupClient/LookupSender
    * batches lookups per bucket leader): one scan pruned to the union of
    * the keys' buckets, then the key predicates — N point reads for one
    * job, never N jobs.
    */
  def lookupAll(keys: Seq[Map[String, Any]]): DataFrame = {
    val fresh = currentHandle()
    if (fresh ne this) return fresh.lookupAll(keys)
    require(desc.isPrimaryKeyTable, "lookup requires a PK table")
    require(keys.nonEmpty, "no keys")
    keys.foreach(k => require(k.keySet == desc.primaryKey.toSet,
      s"full PK required: ${desc.primaryKey}"))
    // FLAT membership predicate, not an OR-chain reduce: n keys as nested
    // Or recurse n deep through every expression visitor (a 400-key batch
    // overflowed the stack), while one In(...) stays a single node that
    // the optimizer lowers to a hashed InSet above the conversion
    // threshold — O(1) per row at any batch size.
    val pk = desc.primaryKey
    val pred =
      if (pk.length == 1)
        col(pk.head).isin(keys.map(_(pk.head)): _*)
      else {
        val tuple = struct(pk.map(col): _*)
        val lits = keys.map(k => struct(pk.map(c =>
          lit(k(c)).cast(desc.schema(c).dataType).as(c)): _*))
        tuple.isin(lits: _*)
      }
    stateFor(keyBuckets(keys)).filter(pred)
  }

  /** Prefix-key lookup (PrefixKeyLookuper.java:49): prefix must be the
    * bucket key — a prefix of the PK (LookupNormalizer.java:241-256).
    */
  def prefixLookup(prefix: Map[String, Any]): DataFrame = {
    val fresh = currentHandle()
    if (fresh ne this) return fresh.prefixLookup(prefix)
    require(desc.isPrimaryKeyTable, "prefixLookup requires a PK table")
    require(prefix.keySet == desc.effectiveBucketKeys.toSet,
      s"prefix must equal bucket keys ${desc.effectiveBucketKeys}")
    require(desc.primaryKey.startsWith(desc.effectiveBucketKeys),
      "bucket keys must be a prefix of the PK for prefix lookup")
    stateFor(keyBuckets(Seq(prefix))).filter(keyPredicate(prefix))
  }

  /** Row-level DELETE (§4: FlinkTableSink SupportsDeletePushDown,
    * PushdownUtils.deleteSingleRow:285): delete current-state rows matching
    * `cond` through the merge path — emits `-D` change rows. More general
    * than the reference (any predicate, not just full-PK equality).
    */
  def deleteWhere(cond: Column): Unit =
    delete(currentState().filter(cond)
      .select(desc.primaryKey.map(col).toIndexedSeq: _*))

  /** Row-level UPDATE (§4: SupportsRowLevelUpdate): SET columns (computed
    * over the current row) where `cond` holds; routed through the
    * partial-update merge so untouched columns keep their values.
    */
  def updateWhere(cond: Column, set: Map[String, Column]): Unit = {
    val touched = set.keys.toSeq
    require(touched.forall(c => !desc.primaryKey.contains(c)),
      "cannot update primary-key columns")
    val updated = currentState().filter(cond)
      .select((desc.primaryKey.map(col) ++
        set.map { case (c, e) => e.as(c) }).toIndexedSeq: _*)
    upsert(updated, targetColumns = Some(touched))
  }

  /** MERGE INTO (Delta/Iceberg-style row-level merge, reduced to the
    * engine's mixed upsert): each source row either DELETEs its matched
    * target row, UPDATEs it, or INSERTs — decided by conditions evaluated
    * over a frame holding the source columns as-is plus the matched
    * target row as a `_target` struct (null when unmatched), so an update
    * like "add the delta to the current value" is
    * `Map("v" -> col("_target.v") + col("delta"))`.
    *
    * - `whenMatchedDelete`: matched rows where it holds are deleted
    *   (checked first, like SQL MERGE clause order).
    * - `whenMatchedUpdate` + `updateSet`: remaining matched rows where the
    *   condition holds update the SET columns (others keep target values).
    * - `insertUnmatched`: unmatched source rows insert (source must carry
    *   every data column).
    *
    * Source keys must be unique — the SQL MERGE cardinality rule (a
    * target row matched by two source rows is nondeterministic); enforced
    * in-plan, failing the job rather than merging garbage.
    *
    * Shape at scale: ONE join of the source against current state (state
    * materialization is the usual single hash-agg; broadcast when the
    * source is small — it's the probe side), then one mixed-batch merge
    * write, which itself only reads the buckets the decision rows touch.
    */
  def mergeInto(source: DataFrame,
      whenMatchedUpdate: Column = lit(true),
      updateSet: Map[String, Column] = Map.empty,
      whenMatchedDelete: Option[Column] = None,
      insertUnmatched: Boolean = true): Unit = {
    require(desc.isPrimaryKeyTable, "mergeInto requires a PK table")
    val pk = desc.primaryKey
    require(pk.forall(source.columns.contains),
      s"source must carry the primary key $pk")
    require(updateSet.keys.forall(c => !pk.contains(c)),
      "cannot update primary-key columns")
    val dataCols = desc.schema.fieldNames.toSeq
    // duplicate-key guard rides the same plan (no extra pass): a per-key
    // window count, folded into the __action expression below so column
    // pruning can't drop it — SQL MERGE's cardinality check
    val wk = Window.partitionBy(pk.map(col): _*)
    val guarded = source.withColumn("__src_n", count(lit(1)).over(wk))
    val srcHas = source.columns.toSet
    if (insertUnmatched) require(dataCols.forall(srcHas),
      s"insertUnmatched needs every data column in the source; missing " +
        s"${dataCols.filterNot(srcHas).mkString(",")}")
    def srcCol(c: String): Column =
      if (srcHas(c)) col(c) else lit(null).cast(desc.schema(c).dataType)
    val target = currentState()
      .select((struct(dataCols.map(col): _*).as("_target") +:
        pk.map(c => col(c).as(s"__tk_$c"))).toIndexedSeq: _*)
    val joined = guarded.join(target,
      pk.map(c => col(c) <=> col(s"__tk_$c")).reduce(_ && _), "left")
    val matched = col("_target").isNotNull
    val del = whenMatchedDelete.getOrElse(lit(false))
    // decision: 1 = delete, 2 = update, 3 = insert, 0 = no-op
    val action = when(col("__src_n") > 1, raise_error(concat(
        lit("MERGE source has duplicate keys: "),
        concat_ws(",", pk.map(c => col(c).cast("string")): _*))).cast("int"))
      .when(matched && del, 1)
      .when(matched && whenMatchedUpdate, 2)
      .when(!matched && lit(insertUnmatched), 3)
      .otherwise(0)
    val outCols = dataCols.map { c =>
      val updated =
        if (updateSet.contains(c)) updateSet(c)
        else if (pk.contains(c)) col(c)
        else if (updateSet.nonEmpty) col(s"_target.$c") // untouched keeps target
        else srcCol(c) // full-row overwrite: the source carries it
      when(col("__action") === 2, updated)
        .when(col("__action") === 3, srcCol(c))
        .otherwise(srcCol(c)) // delete rows only need the PK
        .as(c)
    }
    val decisions = joined.withColumn("__action", action)
      .filter(col("__action") =!= 0)
      .select(outCols :+ (col("__action") === 1).as("__delete"): _*)
    upsertMixed(decisions)
  }

  /** SQL surface: expose the table and its virtual tables as temp views —
    * `name`, `name__changelog`, and for PK tables `name__binlog`. The
    * reference names these `t$changelog`/`t$binlog`
    * (website/docs/table-design/virtual-tables.md:14-16); Spark forbids
    * `$` in view names, so the separator is `__`.
    */
  def createOrReplaceTempViews(name: String): Unit = {
    scan().createOrReplaceTempView(name)
    changelog().createOrReplaceTempView(s"${name}__changelog")
    if (desc.isPrimaryKeyTable)
      binlog().createOrReplaceTempView(s"${name}__binlog")
    if (desc.partitionKeys.nonEmpty) {
      // partition metadata view (the lakehouse `$partitions` analog; the
      // DSv2 path answers the same via SHOW PARTITIONS)
      import spark.implicits._
      partitionValues()
        .map(vs => desc.partitionKeys.zip(vs)
          .map { case (k, v) => s"$k=$v" }.mkString("/"))
        .toDF("partition")
        .createOrReplaceTempView(s"${name}__partitions")
    }
    // commit-history metadata view (the lakehouse `$history` analog)
    history().createOrReplaceTempView(s"${name}__history")
  }

  /** Visible log file count (driver-side listing — the same work the
    * scan's file index does; no Spark job). Feeds the `detail`
    * metadata table.
    */
  def logFileCount: Long = tableLog.visible().files.size.toLong

  /** A8 table stats (TabletService.getTableStats / TableStats.java:32). */
  def stats(): DataFrame = scan().agg(count(lit(1)).as("n_rows"))

  /** Planner statistics (size in bytes, exact row count when free):
    * on-disk bytes of the visible log + snapshot, and — for unpartitioned
    * log tables — the record count from the offset manifest. Drives
    * Spark's CBO through the DSv2 scan ([[graft.connector.GraftCatalog]]
    * reports these), so a small dimension table joins as a broadcast
    * instead of defaulting to `defaultSizeInBytes` = never-broadcast.
    * Driver-side file listing only — the same work the scan's file index
    * does anyway.
    */
  def plannerStats(): (Long, Option[Long]) = {
    val bytes = tableLog.visible().files.map(_.len).sum +
      WarehouseIO.walkFiles(snapshotDir)
        .filter(e => !e.isDir && e.name.endsWith(".parquet")).map(_.len).sum
    val rows =
      if (!desc.isPrimaryKeyTable && desc.partitionKeys.isEmpty) Some(fastCount)
      else None
    (bytes, rows)
  }

  /** [[plannerStats]] bytes behind the same mtime-keyed cache as
    * [[columnPlannerStats]] — [[GroupedReads]]' auto path reads it on
    * every plan, and re-listing files per plan would not stay flat.
    */
  /** Identity of the table's committed STATE for planning caches:
    * (manifest (mtime,len), snapshot meta (mtime,len)). Any commit,
    * compact, vacuum or rollback changes at least one component, so a
    * cache keyed on this can never serve a plan built over stale state.
    */
  private[graft] def planningStateKey: ((Long, Long), (Long, Long)) =
    (WarehouseIO.statIdentity(tableLog.manifestFile),
      WarehouseIO.statIdentity(snapshotMetaFile))

  private[graft] def plannerBytesCached: Long = {
    if (GraftTable.bytesCache.size > 512) GraftTable.bytesCache.clear()
    GraftTable.bytesCache.computeIfAbsent(
      (path, WarehouseIO.statIdentity(tableLog.manifestFile),
        WarehouseIO.statIdentity(snapshotMetaFile)),
      _ => plannerStats()._1)
  }

  /** Per-column planner stats (min/max/nullCount/NDV) for the DSv2
    * scans' `columnStats()` report. Source of truth, in order:
    *
    *  1. the MANIFEST blob ([[ManifestColStats]]) when complete — one
    *     manifest read, measured NDV, holds at ANY table size (the
    *     100 TB case the footer cap goes dark on), zero footer opens;
    *  2. the footer sweep ([[FooterStats]]) for pre-existing /
    *     incomplete tables, capped at [[FooterStats.MaxFiles]] visible
    *     files — past that CBO runs on rows+bytes alone (or run
    *     [[analyzeColumnStats]] once to arm the blob).
    *
    * Partition-key columns are dir-encoded either way: the dir NAMES are
    * the exact value set — one listing gives bounds and the TRUE
    * distinct count at any size.
    */
  /** One gate for every write-time stats collection site (commit
    * observe, compact rebuild) — see [[GraftTable.ColumnStatsProp]].
    */
  private def columnStatsEnabled: Boolean =
    desc.properties.getOrElse(GraftTable.ColumnStatsProp, "true") != "false"

  def columnPlannerStats(): Map[String, FooterStats.ColStats] = {
    val cols = FooterStats.statableColumns(StructType(
      desc.schema.fields.filterNot(f => desc.partitionKeys.contains(f.name))))
    FooterStats.cached((path, WarehouseIO.statIdentity(tableLog.manifestFile),
        WarehouseIO.statIdentity(snapshotMetaFile))) {
      val m = tableLog.read()
      val fromBlob = m.colStats
        .filter(_.complete)
        .map(b => ManifestColStats.toColStats(b, StructType(desc.schema
          .fields.filterNot(f => desc.partitionKeys.contains(f.name)))))
      val base = fromBlob.getOrElse {
        val files = tableLog.visible(m).files.map(_.path) ++
          WarehouseIO.walkFiles(snapshotDir)
            .filter(e => !e.isDir && e.name.endsWith(".parquet")).map(_.path)
        if (cols.isEmpty || files.isEmpty ||
          files.size > FooterStats.MaxFiles) Map.empty[String, FooterStats.ColStats]
        else FooterStats.collect(files, cols)
      }
      base ++ partitionKeyStats()
    }
  }

  /** Rebuild the manifest column-stats blob from the VISIBLE state — the
    * one-shot `ANALYZE` that arms [[columnPlannerStats]]' manifest path
    * on tables whose history predates write-time stats. One distributed
    * pass over the visible rows (snapshot ∪ gated log); the blob
    * publishes under the commit lock only if no commit landed during the
    * scan (loud conflict otherwise — retry, same posture as every other
    * table-maintenance op).
    */
  def analyzeColumnStats(): Unit = {
    val stateBefore = planningStateKey
    val visible =
      if (desc.isPrimaryKeyTable) stateInput(None)
      else logDF
    val (instrumented, fetch) =
      ManifestColStats.observe(visible.select(
          desc.schema.fieldNames.filterNot(desc.partitionKeys.contains)
            .map(col).toIndexedSeq: _*),
        desc.schema, desc.partitionKeys)
    // observation metrics resolve on job completion; a cheap count is the
    // smallest action that runs the full scan
    instrumented.write.format("noop").mode("overwrite").save()
    val entries = fetch().getOrElse(throw new IllegalStateException(
      s"analyzeColumnStats on $path: stats observation failed"))
    tableLog.withCommitLock(None) {
      if (planningStateKey != stateBefore)
        throw new java.util.ConcurrentModificationException(
          s"a commit landed on $path during analyzeColumnStats(); retry")
      tableLog.write(tableLog.read().copy(colStats = Some(
        ManifestColStats.Blob(complete = true, Map.empty).merge(entries))))
    }
  }

  /** Dir-value stats for int/long/date partition keys: exact bounds and
    * NDV from the partition directory names — no files opened, so this
    * holds even past the footer-sweep cap.
    */
  private def partitionKeyStats(): Map[String, FooterStats.ColStats] = {
    if (desc.partitionKeys.isEmpty) return Map.empty
    val statable = FooterStats.statableColumns(StructType(
      desc.partitionKeys.map(k => desc.schema(desc.schema.fieldIndex(k)))))
    if (statable.isEmpty) return Map.empty
    val values = try partitionValues() catch { case _: Exception => return Map.empty }
    if (values.isEmpty) return Map.empty
    statable.flatMap { k =>
      val i = desc.partitionKeys.indexOf(k)
      // catalyst-internal form (days for DATE, the raw number otherwise)
      def internal(v: String): Option[Any] = desc.schema(k).dataType match {
        case IntegerType => v.toIntOption.map(Int.box)
        case LongType => v.toLongOption.map(Long.box)
        case DateType => try Some(Int.box(
            java.time.LocalDate.parse(v).toEpochDay.toInt))
          catch { case _: Exception => None }
        case _ => None
      }
      val vs = values.map(_(i)).distinct.flatMap(internal)
      if (vs.isEmpty) None
      else {
        def lt(a: Any, b: Any) =
          a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
        // the dir-name value set IS the column's value set: its size is
        // the EXACT distinct count (carried explicitly — the consumer's
        // span-credibility gate must never suppress it for sparse keys,
        // e.g. 12 month dirs spanning 365 days)
        Some(k -> FooterStats.ColStats(
          vs.reduce((a, b) => if (lt(a, b)) a else b),
          vs.reduce((a, b) => if (lt(a, b)) b else a),
          nullCount = 0L, nonNullCount = vs.size.toLong,
          ndv = Some(vs.size.toLong)))
      }
    }.toMap
  }

  /** A6 count(*) from offset metadata — log tables only: the record count
    * is the sum of per-bucket next offsets, no scan (the reference's
    * `countTable`, PushdownUtils.java:348-440 summing latestOffset −
    * earliestOffset per bucket).
    */
  def fastCount: Long = {
    require(!desc.isPrimaryKeyTable,
      "offset-metadata count requires an append-only log table")
    // highwatermark − logStartOffset per bucket: TTL expiry ([[expireLog]])
    // advances the floor, so the metadata count stays exact after
    // retention — offsets alone would keep counting purged rows
    val floors = retainedFloorOffsets.getOrElse(Map.empty)
    tableLog.read().offsets.map { case (b, next) =>
      next - floors.getOrElse(b, 0L) }.sum
  }

  /** Stats-only min/max (the A6 family beyond count(*)): answered from
    * parquet FOOTER statistics — a file-count-sized metadata job (one
    * footer read per visible file, distributed over executors), never a
    * data scan. Exact for append-only log tables, where every visible
    * row is live; PK tables must scan (a file-level min could belong to
    * an overwritten or deleted row). Supported for int/long/string
    * columns (float/double excluded — parquet footer stats handle NaN
    * writer-dependently while Spark ranks NaN above all values, so a
    * metadata answer could be silently wrong); throws when any file's
    * footer lacks stats for the column (caller falls back to an
    * ordinary aggregate).
    *
    * @return (min, max), None when no visible file carries the column
    */
  def fastMinMax(column: String): Option[(Any, Any)] = {
    require(!desc.isPrimaryKeyTable,
      "stats-based min/max requires an append-only log table (PK state " +
        "would need the merge; use scan().agg(...))")
    require(desc.schema.fieldNames.contains(column),
      s"no such data column $column")
    val files = tableLog.visible().files.map(_.path)
    if (files.isEmpty) return None
    // tasks NEVER throw for a stats-less chunk — an executor exception
    // would reach the driver wrapped in SparkException and callers could
    // not distinguish "no stats, fall back" from a real failure. Each
    // chunk reports Right(range), Left(()) for "stats absent", or
    // nothing for all-null chunks (exactly representable: null rows
    // never contribute to SQL min/max).
    val perChunk: Array[Either[Unit, (Any, Any)]] = spark.sparkContext
      .parallelize(files, math.min(files.size, 64))
      .flatMap { f =>
        import org.apache.parquet.hadoop.ParquetFileReader
        import org.apache.parquet.hadoop.util.HadoopInputFile
        import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
        val in = HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f),
          new org.apache.hadoop.conf.Configuration())
        val reader = ParquetFileReader.open(in)
        try {
          import scala.jdk.CollectionConverters._
          reader.getFooter.getBlocks.asScala.flatMap { block =>
            block.getColumns.asScala
              .filter(_.getPath.toDotString == column)
              .flatMap { c =>
                val st = c.getStatistics
                if (st != null && !st.hasNonNullValue &&
                    st.isNumNullsSet && st.getNumNulls == c.getValueCount)
                  None // all-null chunk: contributes nothing, stays exact
                else if (st == null || !st.hasNonNullValue)
                  Some(Left(())) // stats genuinely absent/dropped
                else c.getPrimitiveType.getPrimitiveTypeName match {
                  case INT32 | INT64 =>
                    Some(Right((st.genericGetMin, st.genericGetMax): (Any, Any)))
                  case BINARY =>
                    Some(Right((st.minAsString, st.maxAsString): (Any, Any)))
                  // FLOAT/DOUBLE excluded: parquet stats omit or mis-order
                  // NaN (writer-dependent), while Spark's scan semantics
                  // rank NaN above every value — a footer answer could be
                  // finitely, silently wrong. Fall back to the real scan.
                  case _ => Some(Left(())) // unsupported physical type
                }
              }
          }
        } finally reader.close()
      }.collect()
    if (perChunk.exists(_.isLeft))
      throw new IllegalArgumentException(
        s"a parquet footer lacks stats for $column; use scan().agg(...)")
    val ranges = perChunk.collect { case Right(r) => r }
    if (ranges.isEmpty) None
    else {
      @annotation.nowarn
      def lt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Int, y: Int) => x < y
        case (x: Long, y: Long) => x < y
        case (x: Float, y: Float) => x < y
        case (x: Double, y: Double) => x < y
        case (x: String, y: String) =>
          // parquet UTF8 stats order = UNSIGNED lexicographic byte order
          // (Spark's string ordering too); Java's String < compares
          // UTF-16 code units, which diverges beyond the BMP
          val xb = x.getBytes(StandardCharsets.UTF_8)
          val yb = y.getBytes(StandardCharsets.UTF_8)
          java.util.Arrays.compareUnsigned(xb, yb) < 0
        case (x: Comparable[_], y) =>
          x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
      }
      Some((ranges.map(_._1).reduce((a, b) => if (lt(a, b)) a else b),
        ranges.map(_._2).reduce((a, b) => if (lt(a, b)) b else a)))
    }
  }

  /** Typed read surface (TypedLogScanner, fluss-client/.../scanner/log/
    * TypedLogScanner.java): current state / log as a Dataset[T].
    */
  def scanAs[T: org.apache.spark.sql.Encoder](): Dataset[T] = scan().as[T]

  /** Typed point lookup (TypedLookuper, client/lookup/TypedLookuper.java). */
  def lookupAs[T: org.apache.spark.sql.Encoder](key: Map[String, Any]): Option[T] =
    lookup(key).as[T].collect().headOption

  /** Partition retention (S14, ConfigOptions.java:1726-1803 auto-partition
    * expiry): drop whole hive partitions of `partitionCol` whose value sorts
    * strictly below `cutoff` (works for `yyyy-MM-dd`-style values where
    * lexicographic order = time order). Metadata-only: deletes partition
    * directories, never rewrites data files.
    */
  def expirePartitions(partitionCol: String, cutoff: String): Int =
    expirePartitionValues(partitionCol, cutoff).size

  private def expirePartitionValues(partitionCol: String, cutoff: String): Seq[String] = {
    require(desc.partitionKeys.contains(partitionCol), s"$partitionCol is not a partition key")
    requirePartitionedSnapshotLayout()
    val prefix = s"$partitionCol="
    def victimsUnder(root: String): Seq[WarehouseIO.Entry] =
      WarehouseIO.listDir(root)
        .filter(e => e.name.startsWith(prefix) &&
          e.name.stripPrefix(prefix) < cutoff)
    // expiry hits BOTH tiers: a partition-blind delete from the log alone
    // would resurface expired rows from the snapshot
    val victims = victimsUnder(logDir) ++ victimsUnder(snapshotDir)
    // pre-created partitions are empty dirs — deleting one destroys no
    // history, so only data-bearing deletes poison the travel floor.
    // Stamp BEFORE deleting (the vacuum marker-before-flip discipline): a
    // crash mid-delete must leave the guard in place, not the window open.
    val hadData = victims.exists(e => containsDataFiles(e.path))
    if (hadData) stampRetentionDelete()
    victims.foreach(e => deleteTree(e.path))
    victims.map(_.name.stripPrefix(prefix)).distinct.sorted
  }

  private def containsDataFiles(dir: String): Boolean =
    WarehouseIO.walkFiles(dir)
      .exists(e => !e.isDir && e.name.endsWith(".parquet"))

  /** Partition retention/drop physically deletes history that offsets and
    * the version list still count, so time/version travel to any point
    * BEFORE the delete would silently return partial state. The marker
    * records the last delete's wall-clock; [[scanAsOf]] and
    * [[scanAtVersion]] refuse anything older — loud, like the vacuum
    * floor.
    */
  private def stampRetentionDelete(): Unit =
    CatalogJson.atomicWrite(retentionMarkerFile,
      JsonMethods.compact(JsonMethods.render(JObject(List(
        "lastDeleteMillis" -> (JInt(System.currentTimeMillis()): JValue))))))

  private def retentionFloorMillis(): Option[Long] =
    readMarkerMillis(retentionMarkerFile, "lastDeleteMillis")

  /** One epoch-millis field out of a small JSON marker file. */
  private def readMarkerMillis(file: String, key: String): Option[Long] =
    WarehouseIO.readStringIfExists(file).flatMap(markerJson =>
      JsonMethods.parse(markerJson).asInstanceOf[JObject].obj
        .toMap[String, JValue].get(key).collect { case JInt(n) => n.toLong })

  /** One auto-partition maintenance tick (the coordinator's periodic
    * AutoPartitionManager.java:86 task; policy knobs from ConfigOptions
    * .java:1726-1817): pre-create the partition directories for
    * now .. now+numPreCreate-1 time units and expire every partition
    * strictly older than the newest `numToRetain`. Pre-created directories
    * are empty hive partitions — invisible to scans (readers enumerate
    * manifested files only) but listed by [[listPartitions]], so writers
    * and operators can see the upcoming layout, the reference's reason for
    * pre-creating. Scheduling the tick is the caller's concern (cron,
    * stream-batch hook); the engine stays a library. Returns
    * (created, expired) partition values, each sorted.
    */
  def maintainPartitions(policy: AutoPartitionPolicy,
      now: java.time.Instant): (Seq[String], Seq[String]) = {
    val keyCol = policy.key.getOrElse {
      require(desc.partitionKeys.size == 1,
        "auto-partition key is required for a multi-partition-key table " +
          "(TABLE_AUTO_PARTITION_KEY)")
      desc.partitionKeys.head
    }
    require(desc.partitionKeys.contains(keyCol), s"$keyCol is not a partition key")
    // pre-create is single-key only (ConfigOptions.java:1803 forces 0 for
    // composite partitioning — a one-key dir would be a malformed hive path)
    val created =
      if (desc.partitionKeys.size > 1) Nil
      else (0 until policy.numPreCreate).map(policy.partitionValue(now, _))
        .distinct.sorted.filter { v =>
          val dir = s"$logDir/$keyCol=$v"
          val fresh = !WarehouseIO.exists(dir)
          if (fresh) WarehouseIO.mkdirs(dir)
          fresh
        }
    val expired = policy.retentionCutoff(now) match {
      case Some(cutoff) => expirePartitionValues(keyCol, cutoff)
      case None => Nil
    }
    (created, expired)
  }

  /** Current partition values of `partitionCol` (directory listing, the
    * metadataManager.getPartitions analog) — includes empty pre-created
    * partitions.
    */
  def listPartitions(partitionCol: String): Seq[String] = {
    require(desc.partitionKeys.contains(partitionCol), s"$partitionCol is not a partition key")
    val prefix = s"$partitionCol="
    def under(root: String): Seq[String] =
      WarehouseIO.listDir(root).map(_.name)
        .filter(_.startsWith(prefix)).map(_.stripPrefix(prefix))
    (under(logDir) ++ under(snapshotDir)).distinct.sorted
  }

  // ----- generic partition-directory admin (the reference's partition
  // admin surface: Admin.createPartition / dropPartition, fluss-client/
  // .../admin/Admin.java; values are hive dir levels in partition-key
  // order, `k1=v1/k2=v2/...`) -------------------------------------------

  private def partitionDirUnder(root: String, values: Seq[String]): String = {
    require(desc.partitionKeys.nonEmpty, "table is not partitioned")
    require(values.length == desc.partitionKeys.length,
      s"expected values for ${desc.partitionKeys}, got ${values.length}")
    desc.partitionKeys.zip(values).foldLeft(root) {
      case (p, (k, v)) => s"$p/$k=$v"
    }
  }

  /** A snapshot written before the partition-aware layout (bucket dirs at
    * the top, partition values only inside the files) cannot drop a
    * partition with a dir delete — deleting from the log alone would
    * resurface the partition's rows from the snapshot on the next scan.
    */
  private def requirePartitionedSnapshotLayout(): Unit = {
    if (desc.partitionKeys.isEmpty) return
    val tops = WarehouseIO.listDir(snapshotDir).filter(_.isDir).map(_.name)
    require(!tops.exists(_.startsWith(s"${Meta.Bucket}=")),
      s"snapshot at $snapshotDir predates the partition-aware layout; " +
        "re-run compact() before dropping partitions")
  }

  /** Create an (empty) partition; false if it already existed. Empty
    * partitions are invisible to scans but listed by [[partitionValues]].
    */
  def createPartition(values: Seq[String]): Boolean = {
    val dir = partitionDirUnder(logDir, values)
    val fresh = !WarehouseIO.exists(dir)
    if (fresh) WarehouseIO.mkdirs(dir)
    fresh
  }

  /** Drop one partition (all its data, in the log AND the snapshot tier);
    * false if it existed in neither.
    */
  def dropPartition(values: Seq[String]): Boolean = {
    requirePartitionedSnapshotLayout()
    val dirs = Seq(partitionDirUnder(logDir, values),
      partitionDirUnder(snapshotDir, values)).filter(WarehouseIO.exists)
    // stamp before deleting — see expirePartitionValues
    if (dirs.exists(d => containsDataFiles(d))) stampRetentionDelete()
    dirs.foreach(deleteTree)
    dirs.nonEmpty
  }

  def partitionExists(values: Seq[String]): Boolean =
    WarehouseIO.exists(partitionDirUnder(logDir, values)) ||
      WarehouseIO.exists(partitionDirUnder(snapshotDir, values))

  /** All current partition value tuples in partition-key order — union of
    * the log and snapshot tiers (after [[vacuumLog]] a partition with no
    * retained tail rows lives only in the snapshot).
    */
  def partitionValues(): Seq[Seq[String]] = {
    require(desc.partitionKeys.nonEmpty, "table is not partitioned")
    def level(dir: String, keys: Seq[String]): Seq[Seq[String]] =
      keys match {
        case Seq() => Seq(Nil)
        case k +: rest =>
          val prefix = s"$k="
          WarehouseIO.listDir(dir)
            .filter(e => e.isDir && e.name.startsWith(prefix))
            .flatMap(e => level(e.path, rest)
              .map(e.name.stripPrefix(prefix) +: _))
      }
    (level(logDir, desc.partitionKeys) ++
      level(snapshotDir, desc.partitionKeys))
      .distinct.sortBy(_.mkString("/"))
  }

  private def keyPredicate(key: Map[String, Any]): Column =
    key.map { case (c, v) => col(c) === lit(v) }.reduce(_ && _)

  /** The buckets of driver-side keys (column → value maps), or None when
    * nothing can be pruned: no bucket keys, a bucket key unbound, or a
    * rebucket marker ([[bucketPruneUnsafe]]; unpruned is always correct).
    */
  private def keyBuckets(keys: Seq[Map[String, Any]]): Option[Seq[Int]] = {
    val bKeys = desc.effectiveBucketKeys
    if (bKeys.isEmpty || !keys.forall(k => bKeys.forall(k.contains)) ||
        bucketPruneUnsafe) None
    else {
      val types = bKeys.map(c => desc.schema(c).dataType)
      Some(keys.map(k =>
        Buckets.ofValues(bKeys.map(k), types, desc.numBuckets)).distinct)
    }
  }

  /** READ-side rebucket fence (the commit fence's quiet twin): while
    * `_rebucket.json` exists the bucket NUMBERING is ambiguous — after a
    * crash between the manifest swap and the meta.json flip, meta.json
    * still shows the old count while the log already lives in the new
    * space, so a key hashed with either count may probe the wrong
    * `__bucket=` dir and silently return empty. Mutation refuses loudly
    * (withCommitLock); reads need no refusal because the UNPRUNED form
    * is always correct — manifest-gated full scans never consult the
    * bucket hash — so every pruned entry point falls back to it for the
    * marker's lifetime (normal-operation swap window included). One
    * marker stat per pruned read, same cost class as the currentHandle
    * meta.json read beside it.
    */
  private[graft] def bucketPruneUnsafe: Boolean =
    WarehouseIO.exists(tableLog.rebucketMarker)
}

object GraftTable {

  /** (path, manifest (mtime,len), snapshot (mtime,len)) → visible bytes;
    * see [[GraftTable.plannerBytesCached]]. Bounded like FooterStats'
    * cache.
    */
  private val bytesCache = new java.util.concurrent.ConcurrentHashMap[
    (String, (Long, Long), (Long, Long)), java.lang.Long]()

  /** Table property gating write-time column statistics (observe-based
    * min/max/nulls/HLL merged into the commit manifest). Default ON;
    * `false` skips collection and marks the blob incomplete, so the
    * plan-time path falls back to footer sweeps — never a stale
    * under-approximation.
    */
  val ColumnStatsProp = "table.statistics.column.enabled"

  /** Iceberg snapshot-summary key holding the offset window a tier
    * covers (compact JSON bucket→offset map) — the tier commit's
    * idempotency marker: the next `tierSnapshot` compares it to the
    * export manifest's pinned offsets and rolls a half-finished tier
    * forward instead of re-appending the same window.
    */
  val TierOffsetsKey = "graft-pinned-offsets"

  /** The [[TierOffsetsKey]] JSON (`{"<bucket>": <nextOffset>}`) back to a
    * map — ONE parser for every reader of the tier bookkeeping tag.
    */
  private[graft] def parseTierOffsets(s: String): Map[Int, Long] =
    Manifest.bucketMap(JsonMethods.parse(s))

  /** Iceberg snapshot-summary key holding the pinned source version. */
  val TierVersionKey = "graft-source-version"

  /** Where a `scan.startup.mode=full` stream's batch-0 seed comes from
    * ([[GraftTable.resolveFullStartup]]): the tiered lake (datalake-
    * enabled tables) or the native KV snapshot.
    */
  private[graft] sealed trait SeedSource
  private[graft] object SeedSource {
    final case class Lake(dir: String, format: String) extends SeedSource
    case object Snapshot extends SeedSource
  }
}

/** One commit in a table's version history: the manifest's per-bucket
  * next offsets as of `version`, plus the commit wall-clock time.
  * Recorded atomically with the offsets (same `_offsets.json` rename) by
  * every offset-advancing commit — see `GraftTable.history`.
  */
final case class VersionEntry(version: Long, tsMillis: Long,
    offsets: Map[Int, Long])
