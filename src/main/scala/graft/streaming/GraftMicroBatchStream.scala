package graft.streaming

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => ConnectorOffset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graftshim.ParquetRead
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{GraftTable, LogFile, Meta, WarehouseIO}

/** Native DSv2 micro-batch stream over a graft table's log — what
  * `spark.readStream.table("cat.db.t")` rides (the reference's
  * fluss-spark/.../read/FlussMicroBatchStream.scala:43 shape: offsets
  * are the per-bucket next-offset map, `ReportsSourceMetrics` carries
  * lag). Replaces the earlier `V2TableWithV1Fallback` bridge: reader
  * options now reach the stream directly (the V1 fallback resolution
  * dropped them), and the scan is a real `PartitionReaderFactory`
  * instead of a re-planned DataFrame.
  *
  * Division of labor: ALL offset semantics — startup modes, admission
  * control ([[ReadLimit]] capping), Trigger.AvailableNow pinning, the
  * OFFSET_OUT_OF_RANGE guard, the stream-lag gauge, progress metrics —
  * live in [[GraftSource]] and are DELEGATED to an embedded instance
  * (one definition, two transports), so the V1 `format("graft")` source
  * and this stream can never drift. What this class adds is the
  * executor plan: one [[InputPartition]] per BUCKET per batch (the
  * reference's per-bucket splits,
  * fluss-spark/.../read/FlussMicroBatchStream.scala:39) holding the
  * bucket's committed-visible log files whose window is non-empty —
  * chunked into several single-bucket partitions when cores exceed
  * buckets, so grouping never costs parallelism — each read by the
  * session-configured parquet reader ([[ParquetRead]]) with the
  * batch's offset-window envelope PUSHED as parquet filters — row-group
  * stats on `__offset` skip already-consumed files, the same skipping
  * the V1 path got from Catalyst pushdown — and the exact per-bucket
  * window gated row-level in the reader.
  *
  * Scale posture: planning is one manifest read + one log-dir walk on
  * the driver (no footers opened); each micro-batch reads only row
  * groups overlapping its offset window, and per-batch task count is
  * O(max(buckets, cores)) — not O(files) — so a short trigger on a
  * many-partition table doesn't drown the scheduler in tiny tasks.
  * Nothing data-scale sits in the stream or the checkpoint (offsets =
  * ≤numBuckets longs).
  */
final class GraftMicroBatchStream(table: GraftTable,
    outputSchema: StructType, parameters: Map[String, String],
    checkpointPath: Option[String] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow with ReportsSourceMetrics {

  private val source = new GraftSource(table, parameters, checkpointPath)

  override def initialOffset(): ConnectorOffset = source.initialOffset()

  override def latestOffset(): ConnectorOffset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control entry point")

  override def latestOffset(start: ConnectorOffset,
      limit: ReadLimit): ConnectorOffset = source.latestOffset(start, limit)

  override def getDefaultReadLimit: ReadLimit = source.getDefaultReadLimit

  override def reportLatestOffset(): ConnectorOffset =
    source.reportLatestOffset()

  override def prepareForTriggerAvailableNow(): Unit =
    source.prepareForTriggerAvailableNow()

  override def metrics(latestConsumedOffset: java.util.Optional[ConnectorOffset])
      : java.util.Map[String, String] = source.metrics(latestConsumedOffset)

  override def deserializeOffset(json: String): ConnectorOffset =
    // fromJson, not parse: the full-startup seed marker must survive the
    // checkpoint round-trip or a replayed first batch would drop its seed
    GraftSourceOffset.fromJson(json)

  override def commit(end: ConnectorOffset): Unit = ()

  override def stop(): Unit = ()

  // ---- schema split: log dirs encode (partitionKeys, __bucket); files
  // physically hold the rest ----

  private val partitionFields: Array[StructField] =
    (table.desc.partitionKeys.map(k =>
      table.desc.schema(table.desc.schema.fieldIndex(k))) :+
      StructField(Meta.Bucket, IntegerType, nullable = false)).toArray

  private val partitionSchema = StructType(partitionFields)

  private val fileSchema = StructType(table.logSchema.fields.filterNot(f =>
    table.desc.partitionKeys.contains(f.name) || f.name == Meta.Bucket))

  /** What parquet is asked for: the non-dir-encoded output columns plus
    * `__offset` (the window predicate's column, projected away after).
    */
  private val requiredSchema = StructType(
    outputSchema.fields.filterNot(f =>
      table.desc.partitionKeys.contains(f.name) || f.name == Meta.Bucket) ++
      (if (outputSchema.fieldNames.contains(Meta.Offset)) Nil
       else Seq(StructField(Meta.Offset, LongType, nullable = false))))

  // reader rows are requiredSchema ++ partitionSchema; map each output
  // column to its ordinal there
  private val combinedTypes: Array[DataType] =
    (requiredSchema.fields ++ partitionFields).map(_.dataType)

  private val outputOrdinals: Array[Int] = outputSchema.fields.map { f =>
    if (requiredSchema.fieldNames.contains(f.name))
      requiredSchema.fieldIndex(f.name)
    else requiredSchema.length +
      partitionFields.indexWhere(_.name == f.name)
  }

  private val offsetOrdinal = requiredSchema.fieldIndex(Meta.Offset)

  override def planInputPartitions(start: ConnectorOffset,
      end: ConnectorOffset): Array[InputPartition] = {
    val fromOff = Option(start).map(GraftSourceOffset.offsetOf).getOrElse(
      GraftSourceOffset(source.resolvedStartOffsets,
        seedPending = source.resolvedSeed.isDefined))
    val from = fromOff.buckets
    val until = GraftSourceOffset.from(end)
    source.noteBatchWindow(fromOff, until)
    val seedParts: Seq[InputPartition] = source.seedToDeliver(fromOff)
      .map(planSeedPartitions(_, from)).getOrElse(Nil)
    val logDir = table.logDirPath
    val spark = table.sparkSession
    val windows = table.tableLog.visible().files.flatMap { case LogFile(path, len, _) =>
      val kvs = graft.core.HiveDirValues.kvsOf(
        WarehouseIO.relativize(logDir, path))
      val bucket = kvs.getOrElse(Meta.Bucket,
        throw new IllegalStateException(
          s"log file $path has no ${Meta.Bucket}= dir segment")).toInt
      val lo = from.getOrElse(bucket, 0L)
      val hi = until.getOrElse(bucket, 0L)
      if (lo >= hi) None else Some((path, len, kvs, bucket, lo, hi))
    }
    val logParts: Seq[InputPartition] =
      if (windows.isEmpty) Nil
      else {
        // ONE reader closure per micro-batch, not per bucket:
        // buildReader broadcasts a hadoop conf each call, and a
        // many-bucket table on a short trigger would pile up broadcasts.
        // The pushed bounds are the batch's global window envelope —
        // row groups below EVERY bucket's lo still skip — and the exact
        // per-bucket [lo, hi) gate is row-level in the reader anyway.
        val reader = ParquetRead.buildReader(spark, fileSchema,
          partitionSchema, requiredSchema,
          Seq(GreaterThanOrEqual(Meta.Offset, windows.map(_._5).min),
            LessThan(Meta.Offset, windows.map(_._6).max)))
        // SAME-BUCKET files group into one partition (the reference
        // plans one split per bucket per batch —
        // fluss-spark/.../read/FlussMicroBatchStream.scala:39): a short
        // trigger on a many-partition table otherwise launches one task
        // per tiny file, and at 100 TB (hundreds of buckets × a file per
        // partition-dir per commit) per-batch task count is the
        // scheduler bottleneck. When cores exceed buckets — the big
        // catch-up batch 0 on a small cluster — a bucket's files CHUNK
        // into several single-bucket partitions instead, so grouping
        // never costs parallelism (the batch analogue is
        // partiallyClusteredDistribution splitting a hot bucket). Rows
        // stay bucket-clustered per task either way. No
        // KeyGroupedPartitioning is REPORTED: Spark's DataSourceV2Strategy
        // hard-codes None for MicroBatchScanExec, and stateful operators
        // require exact stable HashPartitioning for their state stores —
        // a reported grouping could not legally elide those exchanges.
        val byBucket = windows.groupBy(_._4)
        val chunksPerBucket = math.max(1,
          spark.sparkContext.defaultParallelism / byBucket.size)
        byBucket.toSeq.sortBy(_._1).flatMap { case (bucket, fs) =>
          val lo = fs.head._5
          val hi = fs.head._6
          val nChunks = math.min(chunksPerBucket, fs.size)
          val per = math.ceil(fs.size.toDouble / nChunks).toInt
          fs.sortBy(_._1).grouped(per).map { chunk =>
            GraftStreamInputPartition(
              chunk.map { case (path, len, kvs, _, _, _) =>
                StreamFile(path, len, partitionFields.map { f =>
                  if (f.name == Meta.Bucket) Int.box(bucket)
                  else hiveValue(kvs.get(f.name), f)
                })
              }, lo, hi,
              offsetOrdinal, outputOrdinals, combinedTypes, reader)
          }
        }
      }
    (seedParts ++ logParts).toArray
  }

  /** A full startup's first batch: the seed's parquet files (lake live
    * set / KV snapshot dir) as native partitions alongside the log
    * window. The files physically hold the table's data columns; the
    * partition keys (and, for snapshot files, `__bucket`) come from hive
    * dir segments, and the remaining system columns are synthesized —
    * inserts at offset -1, below any tail offset (the stateInput
    * convention; lake rows carry bucket -1, a log-layout notion the lake
    * does not keep). No offset gate: a seed file is always read whole.
    */
  private def planSeedPartitions(seed: graft.core.GraftTable.SeedSource,
      expected: Map[Int, Long]): Seq[InputPartition] = {
    val files = table.seedFileEntries(seed, expected)
    if (files.isEmpty) Nil
    else {
      val seedPartFields: Array[StructField] = partitionFields ++ Array(
        StructField(Meta.Offset, LongType, nullable = false),
        StructField(Meta.Timestamp, TimestampType, nullable = false),
        StructField(Meta.ChangeTypeCol, StringType, nullable = false))
      val seedFileSchema = StructType(table.desc.schema.fields.filterNot(
        f => table.desc.partitionKeys.contains(f.name)))
      val seedRequired = StructType(outputSchema.fields.filter(f =>
        seedFileSchema.fieldNames.contains(f.name)))
      val combined: Array[DataType] =
        (seedRequired.fields ++ seedPartFields).map(_.dataType)
      val ordinals: Array[Int] = outputSchema.fields.map { f =>
        if (seedRequired.fieldNames.contains(f.name))
          seedRequired.fieldIndex(f.name)
        else seedRequired.length +
          seedPartFields.indexWhere(_.name == f.name)
      }
      val reader = ParquetRead.buildReader(table.sparkSession,
        seedFileSchema, StructType(seedPartFields), seedRequired, Nil)
      files.map { case (path, len, kvs) =>
        val pv: Array[Any] = seedPartFields.map { f =>
          f.name match {
            case Meta.Bucket =>
              Int.box(kvs.get(Meta.Bucket).map(_.toInt).getOrElse(-1))
            case Meta.Offset => Long.box(-1L)
            case Meta.Timestamp => Long.box(0L)
            case Meta.ChangeTypeCol =>
              UTF8String.fromString(graft.core.ChangeType.Insert)
            case _ => hiveValue(kvs.get(f.name), f)
          }
        }
        // seeds stay one partition per file: the cold-start batch is the
        // biggest read a stream ever does, full parallel load matters
        GraftStreamInputPartition(Seq(StreamFile(path, len, pv)),
          lo = 0L, hi = 0L, offsetOrdinal = -1, ordinals, combined, reader)
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftStreamReaderFactory

  /** Hive dir value → catalyst partition value, by declared type
    * (shared with the key-grouped batch planner).
    */
  private def hiveValue(raw: Option[String], f: StructField): Any =
    graft.core.HiveDirValues.decode(raw, f, table.sparkSession)

  override def toString: String = s"GraftMicroBatchStream[${table.path}]"
}

/** One file of one streaming partition: path, size, catalyst-typed dir
  * values (partition keys + `__bucket`; seeds add synthesized system
  * columns).
  */
private[streaming] final case class StreamFile(path: String,
    fileSize: Long, partValues: Array[Any])

/** One micro-batch partition: a SINGLE bucket's committed-visible log
  * files whose offset window `[lo, hi)` is non-empty (possibly a chunk
  * of them, when cores exceed buckets), or one full-startup seed file.
  * `reader` is the serializable session-configured parquet closure,
  * shared across the batch's partitions.
  */
private[streaming] final case class GraftStreamInputPartition(
    files: Seq[StreamFile],
    lo: Long, hi: Long, offsetOrdinal: Int, outputOrdinals: Array[Int],
    combinedTypes: Array[DataType],
    reader: ParquetRead.FileReader) extends InputPartition

private[streaming] object GraftStreamReaderFactory
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftStreamInputPartition]
    new PartitionReader[InternalRow] {
      // files read sequentially within the task; each parquet iterator
      // registers its own task-completion close
      private val it = p.files.iterator.flatMap(f =>
        p.reader(ParquetRead.partitionedFile(
          new GenericInternalRow(f.partValues), f.path, f.fileSize)))
      private val proj = UnsafeProjection.create(
        p.outputOrdinals.toIndexedSeq.map(i =>
          BoundReference(i, p.combinedTypes(i), nullable = true)))
      private var current: InternalRow = _

      override def next(): Boolean = {
        while (it.hasNext) {
          val r = it.next()
          // pushed filters only skip row groups; the exact window gate
          // is row-level here (ordinal -1 = ungated full-startup seed
          // file, always read whole)
          if (p.offsetOrdinal < 0) {
            current = proj(r)
            return true
          }
          val off = r.getLong(p.offsetOrdinal)
          if (off >= p.lo && off < p.hi) {
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
}
