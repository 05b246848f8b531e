package graft.core

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Iceberg-spec (format v2) table metadata over an exported snapshot:
  * `metadata/vN.metadata.json` + Avro manifest lists + Avro manifests +
  * `version-hint.text`, so an export is a TABLE to any Iceberg-reading
  * engine — schema, snapshot and file inventory resolved from metadata,
  * not directory listing. The reference tiers changelogs into exactly
  * these formats (fluss-lake/fluss-lake-iceberg/,
  * LakeTableTieringManager.java:110); here the lake export grows the
  * same property, INCREMENTALLY: [[commit]] appends a new snapshot to an
  * already-exported directory — added/removed files only — so a
  * freshness-scheduled tiering loop moves just the delta, never a full
  * 100 TB re-export. Data file paths in the manifests are absolute, so
  * the parquet can stay wherever [[GraftTable.exportSnapshot]] wrote it.
  *
  * Everything is hand-built against the public Iceberg spec
  * (https://iceberg.apache.org/spec/): field-ids on every Avro field,
  * the v2 required `data_file` columns, identity partition transforms,
  * per-column `lower_bounds`/`upper_bounds`/`null_value_counts` taken
  * from the parquet footers (so downstream Iceberg readers get file
  * skipping, not just an inventory). Only Avro (shipped with Spark) is
  * needed — no Iceberg runtime.
  *
  * Snapshot mechanics, following Iceberg's own two append flavors:
  *  - pure append (no removed files): the previous snapshot's manifests
  *    are carried into the new manifest list untouched and ONE new
  *    manifest holds the added entries (FastAppend) — metadata work is
  *    O(delta).
  *  - overwrite (some files replaced): one fresh merged manifest holds
  *    EXISTING entries (reused verbatim from the previous manifests,
  *    stats included — no footer re-crawl), DELETED tombstones for the
  *    replaced files, and ADDED entries (MergeAppend). Old snapshots
  *    keep their own manifest lists, so time travel stays intact.
  */
object IcebergExport extends LakeFormatOps {

  val name = "iceberg"
  val historyNoun = "snapshot"
  val firstVersionLabel = "metadata v1"
  val exportShape = "as an Iceberg v2 table " +
    "(parquet + metadata/v1.metadata.json + Avro manifests)"

  private val EntryAdded = 1
  private val EntryExisting = 0
  private val EntryDeleted = 2

  // ---------------------------------------------------------------------
  // public API
  // ---------------------------------------------------------------------

  /** Append one snapshot to `dir`'s Iceberg table: `addedFiles`
    * (dir-relative path → size) become ADDED entries, `removedRels`
    * become DELETED tombstones, every other previously-live file stays
    * EXISTING; `summaryExtra` lands in the snapshot summary. First call
    * on a fresh dir writes metadata v1. Partition values are recovered
    * from the hive-style directory names [[GraftTable.exportSnapshot]]
    * produced; per-file record counts and column bounds come from the
    * parquet footers (metadata-sized IO — no data read). The live set is
    * re-resolved from the metadata, so `priorLive` is unused.
    */
  def commit(spark: SparkSession, dir: String, schema: StructType,
      partitionKeys: Seq[String], addedFiles: Seq[(String, Long)],
      removedRels: Set[String], sourcePath: String,
      summaryExtra: Map[String, String], priorLive: Seq[String]): Unit =
      withLock(dir) {
    val now = System.currentTimeMillis()
    // & MaxValue, not math.abs: abs(Long.MinValue) is negative
    val snapshotId = (java.util.UUID.randomUUID()
      .getLeastSignificantBits & Long.MaxValue) | 1L
    val commitUuid = java.util.UUID.randomUUID().toString
    val qualifiedDir = WarehouseIO.qualify(dir)
    val prev = currentVersion(dir).map(v => v -> parseMetadata(dir, v))
    // a removal against a dir with no prior snapshot cannot be a silent
    // append: the caller believes files are being replaced
    require(removedRels.isEmpty || prev.isDefined,
      s"cannot remove files from $dir: no prior Iceberg snapshot exists " +
        s"to remove them from (asked to remove ${removedRels.size} file(s))")
    val seq = prev.map(_._2.lastSequenceNumber + 1L).getOrElse(1L)
    val metadataVersion = prev.map(_._1 + 1).getOrElse(1)
    prev.foreach { case (_, p) =>
      require(p.partitionKeys == partitionKeys,
        s"partition keys changed (${p.partitionKeys} -> $partitionKeys); " +
          "incremental tiering requires a stable partition spec — export " +
          "to a fresh directory instead")
    }

    // ---- ids: pre-order allocation, top-level fields first ----
    val ids = new java.util.concurrent.atomic.AtomicInteger(0)
    val topIds: Map[String, Int] =
      schema.fields.map(f => f.name -> ids.incrementAndGet()).toMap

    def typeJson(dt: DataType): JValue = dt match {
      case BooleanType => JString("boolean")
      case ByteType | ShortType | IntegerType => JString("int")
      case LongType => JString("long")
      case FloatType => JString("float")
      case DoubleType => JString("double")
      case StringType => JString("string")
      case BinaryType => JString("binary")
      case DateType => JString("date")
      case TimestampType => JString("timestamptz")
      case TimestampNTZType => JString("timestamp")
      case d: DecimalType => JString(s"decimal(${d.precision}, ${d.scale})")
      case a: ArrayType => JObject(List(
        "type" -> JString("list"),
        "element-id" -> JInt(ids.incrementAndGet()),
        "element" -> typeJson(a.elementType),
        "element-required" -> JBool(!a.containsNull)))
      case m: MapType => JObject(List(
        "type" -> JString("map"),
        "key-id" -> JInt(ids.incrementAndGet()),
        "key" -> typeJson(m.keyType),
        "value-id" -> JInt(ids.incrementAndGet()),
        "value" -> typeJson(m.valueType),
        "value-required" -> JBool(!m.valueContainsNull)))
      case s: StructType => JObject(List(
        "type" -> JString("struct"),
        "fields" -> JArray(s.fields.toList.map { f =>
          JObject(List(
            "id" -> JInt(ids.incrementAndGet()),
            "name" -> JString(f.name),
            "required" -> JBool(!f.nullable),
            "type" -> typeJson(f.dataType)))
        })))
      case other => throw new IllegalArgumentException(
        s"no Iceberg mapping for Spark type $other")
    }

    val schemaJson: JValue = JObject(List(
      "type" -> JString("struct"),
      "schema-id" -> JInt(0),
      "fields" -> JArray(schema.fields.toList.map { f =>
        JObject(List(
          "id" -> JInt(topIds(f.name)),
          "name" -> JString(f.name),
          "required" -> JBool(!f.nullable),
          "type" -> typeJson(f.dataType)))
      })))
    prev.foreach { case (_, p) =>
      require(JsonMethods.compact(JsonMethods.render(p.schemaJson)) ==
        JsonMethods.compact(JsonMethods.render(schemaJson)),
        "table schema changed since the last export; incremental tiering " +
          "requires a stable schema — export to a fresh directory instead")
    }

    // ---- partition spec: identity transform per partition key ----
    val specFields: JValue = JArray(partitionKeys.toList.zipWithIndex.map {
      case (k, i) => JObject(List(
        "name" -> JString(k),
        "transform" -> JString("identity"),
        "source-id" -> JInt(topIds(k)),
        "field-id" -> JInt(1000 + i)))
    })
    val lastPartitionId = 999 + partitionKeys.size

    val manifestEntrySchema = entrySchema(schema, partitionKeys)
    val partSchema = manifestEntrySchema.getField("data_file").schema()
      .getField("partition").schema()

    // ---- per-file facts for ADDED files: hive partition values +
    // footer row counts + column chunk statistics ----
    val hconf = spark.sessionState.newHadoopConf()
    // footer reads are metadata-sized but one round-trip each — run them
    // on a bounded pool so a many-file export on a remote warehouse isn't
    // a serial driver crawl
    val facts: Map[String, FileFacts] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, addedFiles.size)))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: Seq[java.util.concurrent.Callable[(String, FileFacts)]] =
          addedFiles.map { case (rel, _) =>
            (() => rel -> footerFacts(s"$qualifiedDir/$rel", hconf, schema,
              topIds)): java.util.concurrent.Callable[(String, FileFacts)]
          }
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toMap
      } finally pool.shutdown()
    }
    def partValue(k: String, raw: String): AnyRef =
      if (raw == "__HIVE_DEFAULT_PARTITION__") null
      else schema(schema.fieldIndex(k)).dataType match {
        case StringType => raw
        case ByteType | ShortType | IntegerType => Int.box(raw.toInt)
        case LongType => Long.box(raw.toLong)
        case DateType => Int.box(java.time.LocalDate.parse(raw)
          .toEpochDay.toInt)
        case other => throw new IllegalArgumentException(
          s"unsupported partition type $other for $k")
      }
    // The dirs were written by Spark's partitionBy, which escapes via
    // ExternalCatalogUtils.escapePathName (%XX for a specific char set;
    // '+' and space pass through UNescaped) — so decode with the exact
    // inverse. URLDecoder would additionally map '+' to space and record
    // a value like "c++" wrong in the manifests, silently mis-pruning
    // downstream Iceberg readers.
    def partitionOf(rel: String): Map[String, AnyRef] =
      rel.split('/').dropRight(1).flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, v) if partitionKeys.contains(k) =>
            Some(k -> partValue(k,
              org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
                .unescapePathName(v)))
          case _ => None
        }
      }.toMap

    def statsMap[V](m: Map[Int, V], kv: Schema,
        box: V => AnyRef): java.util.List[GenericRecord] = {
      val l = new java.util.ArrayList[GenericRecord](m.size)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(kv)
        r.put("key", Int.box(k)); r.put("value", box(v)); l.add(r)
      }
      l
    }
    def kvSchema(df: Schema, field: String): Schema =
      nonNull(df.getField(field).schema()).getElementType

    val dfSchema = manifestEntrySchema.getField("data_file").schema()
    val addedEntries = addedFiles.map { case (rel, bytes) =>
      val f = facts(rel)
      val part = new GenericData.Record(partSchema)
      partitionOf(rel).foreach { case (k, v) => part.put(k, v) }
      val df = new GenericData.Record(dfSchema)
      df.put("content", Int.box(0))
      df.put("file_path", s"$qualifiedDir/$rel")
      df.put("file_format", "PARQUET")
      df.put("partition", part)
      df.put("record_count", Long.box(f.rows))
      df.put("file_size_in_bytes", Long.box(bytes))
      df.put("column_sizes", statsMap[Long](f.columnSizes,
        kvSchema(dfSchema, "column_sizes"), Long.box))
      df.put("value_counts", statsMap[Long](f.valueCounts,
        kvSchema(dfSchema, "value_counts"), Long.box))
      df.put("null_value_counts", statsMap[Long](f.nullCounts,
        kvSchema(dfSchema, "null_value_counts"), Long.box))
      df.put("lower_bounds", statsMap[Array[Byte]](f.lowerBounds,
        kvSchema(dfSchema, "lower_bounds"), b => ByteBuffer.wrap(b)))
      df.put("upper_bounds", statsMap[Array[Byte]](f.upperBounds,
        kvSchema(dfSchema, "upper_bounds"), b => ByteBuffer.wrap(b)))
      val e = new GenericData.Record(manifestEntrySchema)
      e.put("status", Int.box(EntryAdded))
      e.put("snapshot_id", Long.box(snapshotId))
      e.put("sequence_number", Long.box(seq))
      e.put("file_sequence_number", Long.box(seq))
      e.put("data_file", df)
      e
    }
    val addedRows = addedFiles.map(f => facts(f._1).rows).sum

    val manifestMeta = Seq(
      "schema" -> JsonMethods.compact(JsonMethods.render(schemaJson)),
      "partition-spec" -> JsonMethods.compact(JsonMethods.render(specFields)),
      "partition-spec-id" -> "0",
      "format-version" -> "2",
      "content" -> "data")

    WarehouseIO.mkdirs(s"$dir/metadata")

    /** Re-key a previously-written entry into the CURRENT entry schema
      * (older exports may predate the stats fields), with `status` and
      * optionally `snapshot_id` rewritten.
      */
    def rekey(old: GenericRecord, status: Int,
        snapshotOverride: Option[Long]): GenericRecord = {
      val oldDf = old.get("data_file").asInstanceOf[GenericRecord]
      val df = new GenericData.Record(dfSchema)
      dfSchema.getFields.forEach { f =>
        if (f.name == "partition") {
          val oldPart = oldDf.get("partition").asInstanceOf[GenericRecord]
          val part = new GenericData.Record(partSchema)
          partSchema.getFields.forEach { pf =>
            if (oldPart.getSchema.getField(pf.name) != null)
              part.put(pf.name, oldPart.get(pf.name))
          }
          df.put("partition", part)
        } else if (oldDf.getSchema.getField(f.name) != null) {
          df.put(f.name, oldDf.get(f.name))
        }
      }
      val e = new GenericData.Record(manifestEntrySchema)
      e.put("status", Int.box(status))
      e.put("snapshot_id", snapshotOverride.map(Long.box)
        .getOrElse(old.get("snapshot_id")))
      e.put("sequence_number", old.get("sequence_number"))
      e.put("file_sequence_number", old.get("file_sequence_number"))
      e.put("data_file", df)
      e
    }

    // ---- manifests for this snapshot ----
    val manifestFileRecords: Seq[GenericRecord] = prev match {
      case Some((_, p)) if removedRels.nonEmpty =>
        // overwrite: one fresh merged manifest (EXISTING + DELETED + ADDED)
        val live = priorLiveEntries(p)
        val missing = removedRels.filterNot(r =>
          live.exists(e => relOf(e, qualifiedDir) == r))
        require(missing.isEmpty,
          s"cannot remove files absent from the current snapshot: $missing")
        val (removed, kept) = live.partition(e =>
          removedRels.contains(relOf(e, qualifiedDir)))
        val entries = kept.map(rekey(_, EntryExisting, None)) ++
          removed.map(rekey(_, EntryDeleted, Some(snapshotId))) ++
          addedEntries
        val rel = s"metadata/$commitUuid-m0.avro"
        val len = LakeFormatOps.writeAvro(s"$dir/$rel", manifestEntrySchema,
          entries, manifestMeta)
        Seq(manifestFileRecord(s"$qualifiedDir/$rel", len, snapshotId, seq,
          minSeq = 1L,
          added = addedEntries.size, existing = kept.size,
          deleted = removed.size,
          addedRows = addedRows,
          existingRows = kept.map(recordCountOf).sum,
          deletedRows = removed.map(recordCountOf).sum))
      case _ =>
        // pure append: carry the previous manifests forward untouched and
        // add ONE manifest with the new entries — O(delta) metadata work
        val carried = prev.toSeq.flatMap { case (_, p) =>
          LakeFormatOps.readAvro(p.manifestListPath).map(reManifestFile(_))
        }
        val rel = s"metadata/$commitUuid-m0.avro"
        val len = LakeFormatOps.writeAvro(s"$dir/$rel", manifestEntrySchema,
          addedEntries, manifestMeta)
        manifestFileRecord(s"$qualifiedDir/$rel", len, snapshotId, seq,
          minSeq = 1L, added = addedEntries.size, existing = 0, deleted = 0,
          addedRows = addedRows, existingRows = 0L, deletedRows = 0L) +:
          carried
    }

    val listRel = s"metadata/snap-$snapshotId-1-$commitUuid.avro"
    LakeFormatOps.writeAvro(s"$dir/$listRel", manifestFileSchema,
      manifestFileRecords,
      Seq("format-version" -> "2", "snapshot-id" -> snapshotId.toString,
        "sequence-number" -> seq.toString,
        "parent-snapshot-id" -> prev.map(_._2.currentSnapshotId.toString)
          .getOrElse("null")))

    // ---- table metadata vN + version hint ----
    val operation = if (removedRels.nonEmpty) "overwrite" else "append"
    val newSnapshot: JValue = JObject(List(
      "snapshot-id" -> JInt(snapshotId),
      "timestamp-ms" -> JInt(now),
      "sequence-number" -> JInt(seq)) ++
      prev.map(p => "parent-snapshot-id" ->
        (JInt(p._2.currentSnapshotId): JValue)).toList ++ List(
      "summary" -> JObject(List(
        "operation" -> JString(operation),
        "added-data-files" -> JString(addedFiles.size.toString),
        "deleted-data-files" -> JString(removedRels.size.toString),
        "added-records" -> JString(addedRows.toString)) ++
        summaryExtra.toList.sortBy(_._1)
          .map { case (k, v) => k -> (JString(v): JValue) }),
      "manifest-list" -> JString(s"$qualifiedDir/$listRel"),
      "schema-id" -> JInt(0)))
    val snapshots = prev.map(_._2.snapshotsJson).getOrElse(Nil) :+ newSnapshot
    val snapshotLog = prev.map(_._2.snapshotLogJson).getOrElse(Nil) :+
      (JObject(List("timestamp-ms" -> JInt(now),
        "snapshot-id" -> JInt(snapshotId))): JValue)
    val metadataLog = prev.map { case (v, p) =>
      p.metadataLogJson :+ (JObject(List(
        "timestamp-ms" -> JInt(p.lastUpdatedMs),
        "metadata-file" -> JString(s"$qualifiedDir/metadata/v$v.metadata.json")
      )): JValue)
    }.getOrElse(Nil)

    val metadata: JValue = JObject(List(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(prev.map(_._2.tableUuid)
        .getOrElse(java.util.UUID.randomUUID().toString)),
      "location" -> JString(qualifiedDir),
      "last-sequence-number" -> JInt(seq),
      "last-updated-ms" -> JInt(now),
      "last-column-id" -> JInt(ids.get()),
      "current-schema-id" -> JInt(0),
      "schemas" -> JArray(List(schemaJson)),
      "default-spec-id" -> JInt(0),
      "partition-specs" -> JArray(List(JObject(List(
        "spec-id" -> JInt(0), "fields" -> specFields)))),
      "last-partition-id" -> JInt(lastPartitionId),
      "default-sort-order-id" -> JInt(0),
      "sort-orders" -> JArray(List(JObject(List(
        "order-id" -> JInt(0), "fields" -> JArray(Nil))))),
      "properties" -> JObject(List(
        "graft.source" -> JString(sourcePath),
        "write.format.default" -> JString("parquet"))),
      "current-snapshot-id" -> JInt(snapshotId),
      "snapshots" -> JArray(snapshots),
      "snapshot-log" -> JArray(snapshotLog),
      "metadata-log" -> JArray(metadataLog)))
    CatalogJson.atomicWrite(s"$dir/metadata/v$metadataVersion.metadata.json",
      JsonMethods.pretty(JsonMethods.render(metadata)))
    CatalogJson.atomicWrite(s"$dir/metadata/version-hint.text",
      metadataVersion.toString)
  }

  /** Serialize the lake dir's metadata read-modify-write cycles
    * ([[commit]] vs [[expireHistory]] — both read version-hint and
    * write v+1): without this, an expire racing a slow tier commit can
    * resurrect expired snapshots whose files are already deleted, or
    * silently drop the tier's snapshot. Same posture as the table-level
    * `_commit.lock`: exclusive-create, loud ConcurrentModificationException
    * on contention, stale holders (> 10 min) broken for the NEXT attempt.
    *
    * Re-entrant per thread so [[GraftTable.tierSnapshot]] can span one
    * lock over publish -> commit -> manifest update (otherwise an expire
    * sweeping in that window would delete the tier's published-but-not-
    * yet-committed files). Mechanics (heartbeat, stale-breaking,
    * re-entrancy) live in the format-shared [[LakeLock]].
    */
  def withLock[T](dir: String)(body: => T): T =
    LakeLock.withLock(s"$dir/metadata/_lake.lock")(body)

  /** Dir-relative live data files of `dir`'s CURRENT Iceberg snapshot,
    * resolved from metadata the way an Iceberg reader would (version
    * hint → metadata → manifest list → manifests, DELETED entries
    * skipped) — never from directory listing, which would double-read
    * files replaced by an overwrite snapshot.
    */
  def liveFiles(dir: String): Seq[String] = {
    val v = currentVersion(dir).getOrElse(throw new IllegalArgumentException(
      s"$dir has no Iceberg metadata (metadata/version-hint.text missing)"))
    val p = parseMetadata(dir, v)
    priorLiveEntries(p).map(relOf(_, WarehouseIO.qualify(dir))).sorted
  }

  /** The CURRENT snapshot's summary map (operation, counters, and any
    * `summaryExtra` the committer recorded — [[GraftTable.tierSnapshot]]
    * pins its offset window here so a crash between the Iceberg commit
    * and the export-manifest update is detectable and rolled forward).
    * Empty when the dir has no Iceberg metadata.
    */
  def committedTierTags(dir: String): Map[String, String] =
    currentVersion(dir).map { v =>
      val p = parseMetadata(dir, v)
      p.snapshotsJson.map(_.asInstanceOf[JObject].obj.toMap)
        .find(_("snapshot-id").asInstanceOf[JInt].num.toLong ==
          p.currentSnapshotId)
        .flatMap(_.get("summary")).collect { case o: JObject =>
          o.obj.collect { case (k, JString(s)) => k -> s }.toMap
        }.getOrElse(Map.empty)
    }.getOrElse(Map.empty)

  def latestVersion(dir: String): Option[String] =
    currentVersion(dir).map(v => s"v$v")

  def retainedVersions(dir: String): Seq[String] =
    snapshotIds(dir).map(_.toString)

  /** Snapshot ids still present in the table metadata, oldest first. */
  def snapshotIds(dir: String): Seq[Long] =
    currentVersion(dir).map { v =>
      parseMetadata(dir, v).snapshotsJson
        .map(_.asInstanceOf[JObject].obj.toMap
          .apply("snapshot-id").asInstanceOf[JInt].num.toLong)
    }.getOrElse(Nil)

  /** Dir-relative live files of a SPECIFIC retained snapshot — Iceberg
    * time travel through the metadata chain. Fails with a clear error
    * when the snapshot was expired (or never existed).
    */
  def liveFilesAt(dir: String, snapshotId: Long): Seq[String] = {
    val v = currentVersion(dir).getOrElse(throw new IllegalArgumentException(
      s"$dir has no Iceberg metadata (metadata/version-hint.text missing)"))
    val p = parseMetadata(dir, v)
    val snap = p.snapshotsJson.map(_.asInstanceOf[JObject].obj.toMap)
      .find(_("snapshot-id").asInstanceOf[JInt].num.toLong == snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"snapshot $snapshotId of $dir has been expired or never existed; " +
          s"retained snapshots: ${snapshotIds(dir).mkString(", ")}"))
    liveEntriesOf(snap("manifest-list").asInstanceOf[JString].s)
      .map(relOf(_, WarehouseIO.qualify(dir))).sorted
  }

  /** Read a specific retained snapshot's data — the time-travel
    * counterpart of [[readLive]].
    */
  def readSnapshot(spark: SparkSession, dir: String,
      snapshotId: Long): DataFrame =
    readFiles(spark, dir, liveFilesAt(dir, snapshotId))

  /** Iceberg's `expireSnapshots` posture ([[expireHistory]]): history is
    * bounded by policy, the current snapshot is never expirable.
    * Metadata advances one version with only the retained snapshots;
    * reading an expired snapshot id afterwards fails loudly
    * ([[liveFilesAt]]). Every data file, manifest and manifest list
    * unreachable from the retained snapshots is swept.
    */
  protected def expireMetadata(spark: SparkSession, dir: String,
      keepLast: Int): collection.Set[String] = {
    val v = currentVersion(dir).getOrElse(throw new IllegalArgumentException(
      s"$dir has no Iceberg metadata (metadata/version-hint.text missing)"))
    val md = JsonMethods.parse(WarehouseIO.readString(
      s"$dir/metadata/v$v.metadata.json")).asInstanceOf[JObject].obj.toMap
    def snapId(s: JValue): Long = s.asInstanceOf[JObject].obj.toMap
      .apply("snapshot-id").asInstanceOf[JInt].num.toLong
    val snaps = md("snapshots").asInstanceOf[JArray].arr
    val qualifiedDir = WarehouseIO.qualify(dir)
    def rel(abs: String): String = {
      require(abs.startsWith(qualifiedDir + "/"),
        s"metadata path $abs is outside the export dir $qualifiedDir")
      abs.substring(qualifiedDir.length + 1)
    }
    // ---- 1. advance metadata to only the retained snapshots ----
    val retained =
      if (snaps.length <= keepLast) snaps
      else {
        // snapshots are append-ordered; the current one is last by contract
        require(snapId(snaps.last) ==
            md("current-snapshot-id").asInstanceOf[JInt].num.toLong,
          s"current snapshot is not the newest in $dir metadata — refusing " +
            "to expire (metadata is inconsistent)")
        val kept = snaps.takeRight(keepLast)
        val keptIds = kept.map(snapId).toSet
        val newLog = md.get("snapshot-log").collect { case a: JArray => a.arr }
          .getOrElse(Nil).filter(e => keptIds.contains(
            e.asInstanceOf[JObject].obj.toMap
              .apply("snapshot-id").asInstanceOf[JInt].num.toLong))
        val newMd = JObject(md.toList.map {
          case ("snapshots", _) => "snapshots" -> (JArray(kept): JValue)
          case ("snapshot-log", _) =>
            "snapshot-log" -> (JArray(newLog): JValue)
          case ("last-updated-ms", _) =>
            "last-updated-ms" -> (JInt(System.currentTimeMillis()): JValue)
          case other => other
        })
        CatalogJson.atomicWrite(s"$dir/metadata/v${v + 1}.metadata.json",
          JsonMethods.pretty(JsonMethods.render(newMd)))
        CatalogJson.atomicWrite(s"$dir/metadata/version-hint.text",
          (v + 1).toString)
        kept
      }
    // ---- 2. what the retained snapshots reach: every manifest list,
    // manifest, and live data file (the sweep then takes the residue of
    // a crashed earlier expire or a tier that died between publish and
    // commit too). Shared manifests are read once (memoized) — linear
    // in distinct files, not snapshots × manifests.
    val manifestCache = collection.mutable.Map[String, Seq[GenericRecord]]()
    def manifests(path: String): Seq[GenericRecord] =
      manifestCache.getOrElseUpdate(path, LakeFormatOps.readAvro(path))
    val keep = collection.mutable.Set[String]()
    retained.foreach { s =>
      val listPath = s.asInstanceOf[JObject].obj.toMap
        .apply("manifest-list").asInstanceOf[JString].s
      keep += rel(listPath)
      manifests(listPath).foreach { mf =>
        val mPath = mf.get("manifest_path").toString
        keep += rel(mPath)
        manifests(mPath)
          .filter(_.get("status").asInstanceOf[Int] != EntryDeleted)
          .foreach(e => keep += relOf(e, qualifiedDir))
      }
    }
    keep
  }

  /** Non-Avro metadata (metadata.json versions, version-hint, the lock)
    * is never a candidate.
    */
  protected def sweepable(rel: String): Boolean =
    rel.endsWith(".parquet") ||
      (rel.startsWith("metadata/") && rel.endsWith(".avro"))

  // ---------------------------------------------------------------------
  // internals
  // ---------------------------------------------------------------------

  /** Per-added-file footer facts (keyed by Iceberg field id). */
  private final case class FileFacts(rows: Long,
      columnSizes: Map[Int, Long], valueCounts: Map[Int, Long],
      nullCounts: Map[Int, Long], lowerBounds: Map[Int, Array[Byte]],
      upperBounds: Map[Int, Array[Byte]])

  private final case class PrevMetadata(tableUuid: String,
      lastSequenceNumber: Long, currentSnapshotId: Long,
      lastUpdatedMs: Long, manifestListPath: String,
      partitionKeys: Seq[String], schemaJson: JValue,
      snapshotsJson: List[JValue], snapshotLogJson: List[JValue],
      metadataLogJson: List[JValue])

  /** Current metadata version from `version-hint.text`, if exported. */
  def currentVersion(dir: String): Option[Int] =
    WarehouseIO.readStringIfExists(s"$dir/metadata/version-hint.text")
      .map(_.trim.toInt)

  private def parseMetadata(dir: String, v: Int): PrevMetadata = {
    val md = JsonMethods.parse(WarehouseIO.readString(
      s"$dir/metadata/v$v.metadata.json")).asInstanceOf[JObject].obj.toMap
    def jlong(k: String): Long = md(k).asInstanceOf[JInt].num.toLong
    val snaps = md("snapshots").asInstanceOf[JArray].arr
    val curId = jlong("current-snapshot-id")
    val cur = snaps.map(_.asInstanceOf[JObject].obj.toMap)
      .find(_("snapshot-id").asInstanceOf[JInt].num.toLong == curId)
      .getOrElse(throw new IllegalStateException(
        s"current-snapshot-id $curId not in snapshots of v$v.metadata.json"))
    val specKeys = md("partition-specs").asInstanceOf[JArray].arr.head
      .asInstanceOf[JObject].obj.toMap.apply("fields")
      .asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JObject].obj.toMap.apply("name")
        .asInstanceOf[JString].s)
    PrevMetadata(
      tableUuid = md("table-uuid").asInstanceOf[JString].s,
      lastSequenceNumber = jlong("last-sequence-number"),
      currentSnapshotId = curId,
      lastUpdatedMs = jlong("last-updated-ms"),
      manifestListPath = cur("manifest-list").asInstanceOf[JString].s,
      partitionKeys = specKeys,
      schemaJson = md("schemas").asInstanceOf[JArray].arr.head,
      snapshotsJson = snaps,
      snapshotLogJson = md("snapshot-log").asInstanceOf[JArray].arr,
      metadataLogJson = md.get("metadata-log")
        .collect { case a: JArray => a.arr }.getOrElse(Nil))
  }

  /** All live (non-DELETED) entries of the previous current snapshot,
    * as the raw Avro records they were written as.
    */
  private def priorLiveEntries(p: PrevMetadata): Seq[GenericRecord] =
    liveEntriesOf(p.manifestListPath)

  /** Walk one snapshot's manifest list → manifests → entries, keeping
    * the live (non-DELETED) ones — the single chain-walk definition
    * [[priorLiveEntries]], [[liveFilesAt]] and [[liveFiles]] share.
    */
  private def liveEntriesOf(manifestListPath: String): Seq[GenericRecord] =
    LakeFormatOps.readAvro(manifestListPath).flatMap { mf =>
      LakeFormatOps.readAvro(mf.get("manifest_path").toString)
    }.filter(_.get("status").asInstanceOf[Int] != EntryDeleted)

  private def relOf(entry: GenericRecord, qualifiedDir: String): String = {
    val p = entry.get("data_file").asInstanceOf[GenericRecord]
      .get("file_path").toString
    require(p.startsWith(qualifiedDir + "/"),
      s"manifest data file $p is outside the export dir $qualifiedDir")
    p.substring(qualifiedDir.length + 1)
  }

  private def recordCountOf(entry: GenericRecord): Long =
    entry.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count").asInstanceOf[Long]

  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.stream.filter(_.getType != Schema.Type.NULL).findFirst.get
    else s

  // ---- avro schemas (field-id props are what make them Iceberg) ----

  private def entrySchema(schema: StructType,
      partitionKeys: Seq[String]): Schema = {
    // Partition names are interpolated into hand-built Avro schema JSON:
    // refuse anything outside Avro's identifier grammar up front with a
    // clear message instead of a SchemaParseException mid-write. (Iceberg
    // itself sanitizes such names, AvroSchemaUtil; data columns are safe
    // — their names only pass through json4s, which escapes.)
    partitionKeys.find(!_.matches("[A-Za-z_][A-Za-z0-9_]*")).foreach { bad =>
      throw new IllegalArgumentException(
        s"partition column '$bad' is not a valid Avro identifier " +
          "([A-Za-z_][A-Za-z0-9_]*) — rename it to export Iceberg metadata")
    }
    def partAvroField(k: String, i: Int): String = {
      val t = schema(schema.fieldIndex(k)).dataType match {
        case StringType => "\"string\""
        case ByteType | ShortType | IntegerType => "\"int\""
        case LongType => "\"long\""
        case DateType => """{"type":"int","logicalType":"date"}"""
        case other => throw new IllegalArgumentException(
          s"iceberg export supports string/int/long/date partition " +
            s"columns, $k is $other")
      }
      s"""{"name":"$k","type":["null",$t],"default":null,"field-id":${1000 + i}}"""
    }
    val partRecord = s"""{"type":"record","name":"r102","fields":[${
      partitionKeys.zipWithIndex.map { case (k, i) => partAvroField(k, i) }
        .mkString(",")}]}"""
    // Iceberg stores int-keyed maps as arrays of key/value records with
    // logicalType "map" (spec Appendix A)
    def mapField(name: String, fieldId: Int, kId: Int, vId: Int,
        vType: String): String =
      s"""{"name":"$name","type":["null",{"type":"array","items":
         |{"type":"record","name":"k${kId}_v$vId","fields":[
         |{"name":"key","type":"int","field-id":$kId},
         |{"name":"value","type":"$vType","field-id":$vId}]},
         |"logicalType":"map"}],"default":null,"field-id":$fieldId}"""
        .stripMargin.replaceAll("\n", "")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int","field-id":0},
         |{"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |{"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |{"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
         |{"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |{"name":"content","type":"int","field-id":134},
         |{"name":"file_path","type":"string","field-id":100},
         |{"name":"file_format","type":"string","field-id":101},
         |{"name":"partition","field-id":102,"type":$partRecord},
         |{"name":"record_count","type":"long","field-id":103},
         |{"name":"file_size_in_bytes","type":"long","field-id":104},
         |${mapField("column_sizes", 108, 117, 118, "long")},
         |${mapField("value_counts", 109, 119, 120, "long")},
         |${mapField("null_value_counts", 110, 121, 122, "long")},
         |${mapField("lower_bounds", 125, 126, 127, "bytes")},
         |${mapField("upper_bounds", 128, 129, 130, "bytes")}
         |]}}]}""".stripMargin)
  }

  private val manifestFileSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string","field-id":500},
      |{"name":"manifest_length","type":"long","field-id":501},
      |{"name":"partition_spec_id","type":"int","field-id":502},
      |{"name":"content","type":"int","field-id":517},
      |{"name":"sequence_number","type":"long","field-id":515},
      |{"name":"min_sequence_number","type":"long","field-id":516},
      |{"name":"added_snapshot_id","type":"long","field-id":503},
      |{"name":"added_files_count","type":"int","field-id":504},
      |{"name":"existing_files_count","type":"int","field-id":505},
      |{"name":"deleted_files_count","type":"int","field-id":506},
      |{"name":"added_rows_count","type":"long","field-id":512},
      |{"name":"existing_rows_count","type":"long","field-id":513},
      |{"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  private def manifestFileRecord(path: String, length: Long,
      snapshotId: Long, seq: Long, minSeq: Long, added: Int, existing: Int,
      deleted: Int, addedRows: Long, existingRows: Long,
      deletedRows: Long): GenericRecord = {
    val mf = new GenericData.Record(manifestFileSchema)
    mf.put("manifest_path", path)
    mf.put("manifest_length", Long.box(length))
    mf.put("partition_spec_id", Int.box(0))
    mf.put("content", Int.box(0))
    mf.put("sequence_number", Long.box(seq))
    mf.put("min_sequence_number", Long.box(minSeq))
    mf.put("added_snapshot_id", Long.box(snapshotId))
    mf.put("added_files_count", Int.box(added))
    mf.put("existing_files_count", Int.box(existing))
    mf.put("deleted_files_count", Int.box(deleted))
    mf.put("added_rows_count", Long.box(addedRows))
    mf.put("existing_rows_count", Long.box(existingRows))
    mf.put("deleted_rows_count", Long.box(deletedRows))
    mf
  }

  /** Copy a carried-forward manifest_file record into our schema (it was
    * written by us, so the fields line up; rebuilding guards against a
    * future schema extension).
    */
  private def reManifestFile(old: GenericRecord): GenericRecord = {
    val mf = new GenericData.Record(manifestFileSchema)
    manifestFileSchema.getFields.forEach { f =>
      if (old.getSchema.getField(f.name) != null)
        mf.put(f.name, old.get(f.name))
    }
    mf
  }

  // ---- parquet footer stats → Iceberg bounds ----

  /** Record count + per-top-level-column chunk statistics aggregated
    * across row groups, serialized per the Iceberg single-value spec
    * (Appendix D: little-endian numerics, UTF-8 strings, big-endian
    * unscaled decimals). Columns whose footers lack usable stats (e.g.
    * INT96 timestamps) are simply absent from the bounds maps — the
    * maps are per-column partial by spec.
    */
  private def footerFacts(abs: String,
      hconf: org.apache.hadoop.conf.Configuration, schema: StructType,
      topIds: Map[String, Int]): FileFacts = {
    import scala.jdk.CollectionConverters._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(abs), hconf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val rows = r.getRecordCount
      val sizes = collection.mutable.Map.empty[Int, Long]
      val values = collection.mutable.Map.empty[Int, Long]
      val nulls = collection.mutable.Map.empty[Int, Long]
      // raw min/max tracked as parquet stat objects; compared via the
      // parquet statistics ordering, serialized once at the end
      val mins = collection.mutable.Map.empty[Int, Any]
      val maxs = collection.mutable.Map.empty[Int, Any]
      val noBounds = collection.mutable.Set.empty[Int]
      val types = schema.fields.map(f => f.name -> f.dataType).toMap
      for (block <- r.getFooter.getBlocks.asScala;
           col <- block.getColumns.asScala) {
        val path = col.getPath.toArray
        if (path.length == 1 && topIds.contains(path(0))) {
          val id = topIds(path(0))
          val dt = types(path(0))
          sizes.updateWith(id)(v => Some(v.getOrElse(0L) + col.getTotalSize))
          values.updateWith(id)(v => Some(v.getOrElse(0L) + col.getValueCount))
          val st = col.getStatistics
          if (st != null && st.isNumNullsSet)
            nulls.updateWith(id)(v => Some(v.getOrElse(0L) + st.getNumNulls))
          else noBounds.add(id) // unknown nulls -> drop the count entirely
          if (st != null && st.hasNonNullValue && boundable(dt)) {
            val lo: Any = st.genericGetMin
            val hi: Any = st.genericGetMax
            mins.updateWith(id)(cur => Some(cur.fold(lo)(c =>
              if (compareStat(dt, lo, c) < 0) lo else c)))
            maxs.updateWith(id)(cur => Some(cur.fold(hi)(c =>
              if (compareStat(dt, hi, c) > 0) hi else c)))
          } else if (st == null || !st.isNumNullsSet ||
              st.getNumNulls < col.getValueCount) {
            // a chunk with real values but no usable min/max poisons the
            // file's bound for this column (all-null chunks don't)
            mins.remove(id); maxs.remove(id); noBounds.add(id)
          }
        }
      }
      noBounds.foreach { id => nulls.remove(id) }
      def ser(m: collection.Map[Int, Any]): Map[Int, Array[Byte]] =
        m.filterNot { case (id, _) => noBounds.contains(id) }.flatMap {
          case (id, v) =>
            val name = topIds.collectFirst { case (n, i) if i == id => n }.get
            boundBytes(types(name), v).map(id -> _)
        }.toMap
      FileFacts(rows, sizes.toMap, values.toMap, nulls.toMap,
        ser(mins), ser(maxs))
    } finally r.close()
  }

  /** Spark types whose parquet stats translate to Iceberg bounds here. */
  private def boundable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | StringType | DateType | BinaryType =>
      true
    case _: DecimalType => true
    case _ => false // INT96 timestamps have no stats; nested handled above
  }

  private def compareStat(dt: DataType, a: Any, b: Any): Int = (a, b) match {
    case (x: java.lang.Boolean, y: java.lang.Boolean) => x.compareTo(y)
    case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
    case (x: java.lang.Float, y: java.lang.Float) => x.compareTo(y)
    case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
    case (x: org.apache.parquet.io.api.Binary,
          y: org.apache.parquet.io.api.Binary) => dt match {
      case _: DecimalType =>
        new java.math.BigInteger(x.getBytes)
          .compareTo(new java.math.BigInteger(y.getBytes))
      case _ =>
        // unsigned lexicographic, the parquet UTF8/BYTE_ARRAY sort order
        java.util.Arrays.compareUnsigned(x.getBytes, y.getBytes)
    }
    case _ => throw new IllegalStateException(
      s"uncomparable parquet stats for $dt: ${a.getClass}")
  }

  /** Iceberg single-value serialization (spec Appendix D). None for
    * combinations we don't serialize (dropped from the bounds map).
    */
  private def boundBytes(dt: DataType, v: Any): Option[Array[Byte]] = {
    def le(n: Int, put: ByteBuffer => Unit): Array[Byte] = {
      val b = ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      put(b); b.array()
    }
    (dt, v) match {
      case (BooleanType, x: java.lang.Boolean) =>
        Some(Array[Byte](if (x) 1 else 0))
      case (ByteType | ShortType | IntegerType | DateType,
          x: java.lang.Integer) => Some(le(4, _.putInt(x)))
      case (LongType, x: java.lang.Long) => Some(le(8, _.putLong(x)))
      case (FloatType, x: java.lang.Float) => Some(le(4, _.putFloat(x)))
      case (DoubleType, x: java.lang.Double) => Some(le(8, _.putDouble(x)))
      case (StringType, x: org.apache.parquet.io.api.Binary) =>
        Some(x.getBytes) // already UTF-8
      case (BinaryType, x: org.apache.parquet.io.api.Binary) =>
        Some(x.getBytes)
      case (_: DecimalType, x: org.apache.parquet.io.api.Binary) =>
        // FIXED_LEN_BYTE_ARRAY two's-complement BE -> minimal BE
        Some(new java.math.BigInteger(x.getBytes).toByteArray)
      case (d: DecimalType, x: java.lang.Integer) =>
        Some(java.math.BigInteger.valueOf(x.longValue).toByteArray)
      case (d: DecimalType, x: java.lang.Long) =>
        Some(java.math.BigInteger.valueOf(x).toByteArray)
      case _ => None
    }
  }
}
