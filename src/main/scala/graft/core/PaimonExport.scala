package graft.core

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Apache Paimon table-format export — the third lake format of the
  * export layer, hand-built against the PUBLIC Paimon table spec
  * (paimon.apache.org/docs/master/concepts/spec/) the way
  * [[IcebergExport]] / [[DeltaExport]] are built against theirs. The
  * reference's PRIMARY lake is Paimon
  * (fluss-lake/fluss-lake-paimon/, the tiering commit flow in
  * tiering/PaimonLakeCommitter.java:103 — tier bookkeeping rides the
  * snapshot's properties map, exactly what [[commit]]'s `tags` do).
  *
  * Layout (spec "overview"):
  *   - `schema/schema-0` — JSON table schema (Paimon SQL type strings)
  *   - `snapshot/snapshot-<id>` — JSON snapshot, ids from 1;
  *     `snapshot/LATEST` / `snapshot/EARLIEST` hint files
  *   - `manifest/manifest-list-<uuid>-<n>` + `manifest/manifest-<uuid>-<n>`
  *     — Avro (record name `org.apache.paimon.avro.generated.record`,
  *     spec field names `_KIND`/`_PARTITION`/`_FILE`/...)
  *
  * Snapshot resolution is the spec's: the full state of snapshot N is
  * `baseManifestList` (state before the commit) merged with
  * `deltaManifestList` (the commit's ADD/DELETE entries); readers never
  * list directories. Snapshot publish is a put-if-absent rename — two
  * writers racing the same id surface as a loud conflict — under the
  * same [[LakeLock]] discipline as the other formats.
  *
  * Documented deviations (this engine shares ONE hive-layout data dir
  * across all three formats): `_FILE._FILE_NAME` holds the dir-relative
  * path rather than a bucket-dir-derived name, and `_PARTITION` holds
  * the utf8 hive path prefix (`dt=a`) rather than a serialized
  * BinaryRow. Both are loud in the metadata, not silent drift.
  */
object PaimonExport extends LakeFormatOps {

  val name = "paimon"
  val historyNoun = "snapshot"
  val firstVersionLabel = "snapshot 1"
  val exportShape =
    "as a Paimon table (parquet + snapshot/ JSON + manifest/ Avro)"

  private val CommitUser = "graft-tiering"

  /** Provenance key stamped into every snapshot's properties — the
    * Paimon analog of Iceberg's `graft.source` table property and the
    * Delta metaData.name stamp, so any lake dir traces back to its
    * source table.
    */
  val SourceProp = "graft.source"

  private def snapshotDir(dir: String) = s"$dir/snapshot"
  private def manifestDir(dir: String) = s"$dir/manifest"
  private def schemaDir(dir: String) = s"$dir/schema"
  private def snapshotFile(dir: String, id: Long) =
    s"${snapshotDir(dir)}/snapshot-$id"

  def withLock[T](dir: String)(body: => T): T =
    LakeLock.withLock(s"${snapshotDir(dir)}/_graft.lock")(body)

  /** Latest committed snapshot id (ids start at 1), None when `dir` has
    * no Paimon metadata.
    */
  def currentSnapshotId(dir: String): Option[Long] =
    WarehouseIO.readStringIfExists(s"${snapshotDir(dir)}/LATEST")
      .map(_.trim.toLong)

  def latestVersion(dir: String): Option[String] =
    currentSnapshotId(dir).map(_.toString)

  def retainedVersions(dir: String): Seq[String] =
    (earliestSnapshotId(dir).get to currentSnapshotId(dir).get).map(_.toString)

  /** Earliest retained snapshot id — 1 until [[expireHistory]] raises
    * it.
    */
  def earliestSnapshotId(dir: String): Option[Long] =
    WarehouseIO.readStringIfExists(s"${snapshotDir(dir)}/EARLIEST")
      .map(_.trim.toLong)

  /** Initial export: schema-0 + snapshot-1 (APPEND) whose delta carries
    * every file; the base manifest list is empty, per the spec's
    * first-commit shape.
    */
  def write(dir: String, schema: StructType, partitionKeys: Seq[String],
      files: Seq[(String, Long)], sourcePath: String,
      tags: Map[String, String] = Map.empty): Long = withLock(dir) {
    require(currentSnapshotId(dir).isEmpty,
      s"$dir already has Paimon metadata; use commit() to append a snapshot")
    writeSchemaFile(dir, schema, partitionKeys)
    commitSnapshot(dir, 1L, priorLive = Map.empty,
      added = files, removed = Set.empty,
      tags = tags + (SourceProp -> sourcePath))
    WarehouseIO.atomicWriteString(s"${snapshotDir(dir)}/EARLIEST", "1")
    1L
  }

  /** Append one snapshot: `added` become ADD entries, `removed` DELETE
    * entries (validated against the live set) in the delta manifest
    * list; the prior full state becomes the base. First call on a fresh
    * dir delegates to [[write]].
    */
  def commit(dir: String, schema: StructType, partitionKeys: Seq[String],
      added: Seq[(String, Long)], removed: Set[String],
      sourcePath: String, tags: Map[String, String] = Map.empty): Long =
      withLock(dir) {
    currentSnapshotId(dir) match {
      case None =>
        require(removed.isEmpty,
          s"cannot remove files from $dir: no prior Paimon snapshot exists " +
            s"to remove them from (asked to remove ${removed.size} file(s))")
        write(dir, schema, partitionKeys, added, sourcePath, tags)
      case Some(n) =>
        val live = entriesAt(dir, n)
        val missing = removed.filterNot(live.contains)
        require(missing.isEmpty,
          s"cannot remove file(s) not live in $dir's current snapshot: " +
            missing.toSeq.sorted.take(5).mkString(", "))
        commitSnapshot(dir, n + 1, live, added, removed,
          tags + (SourceProp -> sourcePath))
        n + 1
    }
  }

  /** The trait face of [[commit]]. `priorLive` carries no sizes and the
    * base manifest needs them; the re-resolution inside is one Avro read
    * under the same re-entrant lock.
    */
  def commit(spark: SparkSession, dir: String, schema: StructType,
      partitionKeys: Seq[String], added: Seq[(String, Long)],
      removed: Set[String], sourcePath: String,
      tags: Map[String, String], priorLive: Seq[String]): Unit = {
    commit(dir, schema, partitionKeys, added, removed, sourcePath, tags)
    ()
  }

  /** Dir-relative live data files of the CURRENT snapshot, resolved
    * base+delta through the manifests the way a Paimon reader would.
    */
  def liveFiles(dir: String): Seq[String] = {
    val id = currentSnapshotId(dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no Paimon metadata (snapshot/LATEST missing)"))
    entriesAt(dir, id).keys.toSeq.sorted
  }

  /** Dir-relative live files AT a snapshot id — Paimon time travel.
    * Expired ids refuse loudly.
    */
  def liveFilesAt(dir: String, id: Long): Seq[String] =
    entriesAt(dir, requireRetained(dir, id)).keys.toSeq.sorted

  private def requireRetained(dir: String, id: Long): Long = {
    val latest = currentSnapshotId(dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no Paimon metadata (snapshot/LATEST missing)"))
    val earliest = earliestSnapshotId(dir).getOrElse(1L)
    require(id <= latest,
      s"snapshot $id does not exist at $dir (latest is $latest)")
    require(id >= earliest,
      s"snapshot $id of $dir has been expired by expireHistory " +
        s"(earliest retained snapshot is $earliest)")
    id
  }

  /** A specific retained snapshot's data — the time-travel counterpart
    * of [[readLive]].
    */
  def readSnapshot(spark: SparkSession, dir: String, id: Long): DataFrame =
    readFiles(spark, dir, liveFilesAt(dir, id))

  /** The LATEST snapshot's `properties` map — where tier bookkeeping
    * rides (the reference's PaimonLakeCommitter.commit adds its
    * snapshotProperties through ManifestCommittable the same way).
    * Empty when the dir has no Paimon metadata.
    */
  def committedTierTags(dir: String): Map[String, String] =
    currentSnapshotId(dir).map { id =>
      parseSnapshot(dir, id)._4
    }.getOrElse(Map.empty)

  /** Dir-relative manifest lists + manifests snapshot `id` references —
    * the metadata reachability set [[expireHistory]] retains.
    */
  private[core] def manifestFilesAt(dir: String, id: Long): Seq[String] = {
    val (base, delta, _, _) = parseSnapshot(dir, id)
    Seq(base, delta).flatMap { listName =>
      s"manifest/$listName" +:
        LakeFormatOps.readAvro(s"${manifestDir(dir)}/$listName")
          .map(mf => s"manifest/${mf.get("_FILE_NAME")}")
    }.distinct
  }

  /** [[expireHistory]] for Paimon: the EARLIEST hint advances, then the
    * expired snapshot files go; every data file and manifest unreachable
    * from the retained snapshots is swept.
    */
  protected def expireMetadata(spark: SparkSession, dir: String,
      keepLast: Int): collection.Set[String] = {
    val latest = currentSnapshotId(dir).getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no Paimon metadata (snapshot/LATEST missing)"))
    val earliest = earliestSnapshotId(dir).getOrElse(1L)
    val cutoff = math.max(earliest, latest - keepLast + 1)
    if (cutoff > earliest) {
      WarehouseIO.atomicWriteString(
        s"${snapshotDir(dir)}/EARLIEST", cutoff.toString)
    }
    // snapshot-file sweep from the ACTUAL listing, not (earliest until
    // cutoff): a crash between the hint write and the deletes re-runs
    // with earliest == cutoff, and a hint-delta loop would then skip
    // the stale files forever
    val snapName = "snapshot-(\\d+)".r
    WarehouseIO.listDir(snapshotDir(dir)).filterNot(_.isDir).foreach { e =>
      e.name match {
        case snapName(n) if n.toLong < cutoff =>
          WarehouseIO.deleteIfExists(e.path); ()
        case _ => ()
      }
    }
    // every manifest list, manifest, and data file a retained snapshot
    // reaches stays. Shared manifests are read once.
    val manifestCache = collection.mutable.Map[String, Seq[GenericRecord]]()
    val keep = collection.mutable.Set[String]()
    (cutoff to latest).foreach { id =>
      val (base, delta, _, _) = parseSnapshot(dir, id)
      // data files kept = the snapshot's MERGED live set (an entry net-
      // deleted within the retained range must not pin its file), while
      // every referenced manifest/list stays regardless
      val live = collection.mutable.LinkedHashSet[String]()
      Seq(base, delta).foreach { listName =>
        keep += s"manifest/$listName"
        manifestCache.getOrElseUpdate(listName,
          LakeFormatOps.readAvro(s"${manifestDir(dir)}/$listName"))
          .foreach { mf =>
            val mName = mf.get("_FILE_NAME").toString
            keep += s"manifest/$mName"
            manifestCache.getOrElseUpdate(mName,
              LakeFormatOps.readAvro(s"${manifestDir(dir)}/$mName"))
              .foreach { e =>
                val rel = e.get("_FILE").asInstanceOf[GenericRecord]
                  .get("_FILE_NAME").toString
                if (e.get("_KIND").asInstanceOf[Int] == 0) live += rel
                else live -= rel
              }
          }
      }
      keep ++= live
    }
    keep
  }

  /** snapshot/ + schema/ metadata is never a candidate. */
  protected def sweepable(rel: String): Boolean =
    !rel.startsWith("snapshot/") && !rel.startsWith("schema/") &&
      (rel.endsWith(".parquet") || rel.startsWith("manifest/"))

  // -------------------------------------------------------------------
  // snapshot JSON
  // -------------------------------------------------------------------

  /** (baseManifestList, deltaManifestList, commitKind, properties). */
  private def parseSnapshot(dir: String, id: Long)
      : (String, String, String, Map[String, String]) = {
    val f = JsonMethods.parse(WarehouseIO.readString(snapshotFile(dir, id)))
      .asInstanceOf[JObject].obj.toMap
    def str(k: String) = f(k).asInstanceOf[JString].s
    val props = f.get("properties") match {
      case Some(JObject(ps)) =>
        ps.collect { case (k, JString(s)) => k -> s }.toMap
      case _ => Map.empty[String, String]
    }
    (str("baseManifestList"), str("deltaManifestList"),
      str("commitKind"), props)
  }

  /** The full live state (rel path -> size) of snapshot `id`: base
    * merged with delta, ADDs inserting and DELETEs removing.
    */
  private def entriesAt(dir: String, id: Long): Map[String, Long] = {
    val (base, delta, _, _) = parseSnapshot(dir, id)
    val live = collection.mutable.LinkedHashMap[String, Long]()
    Seq(base, delta).foreach { listName =>
      LakeFormatOps.readAvro(s"${manifestDir(dir)}/$listName").foreach { mf =>
        LakeFormatOps.readAvro(
            s"${manifestDir(dir)}/${mf.get("_FILE_NAME")}").foreach { e =>
          val file = e.get("_FILE").asInstanceOf[GenericRecord]
          val rel = file.get("_FILE_NAME").toString
          e.get("_KIND").asInstanceOf[Int] match {
            case 0 => live(rel) = file.get("_FILE_SIZE").asInstanceOf[Long]
            case _ => live.remove(rel); ()
          }
        }
      }
    }
    live.toMap
  }

  /** Write base + delta manifest lists and publish snapshot `id`.
    * `priorLive` becomes the base (one compacted manifest of ADDs);
    * `added`/`removed` become the delta.
    */
  private def commitSnapshot(dir: String, id: Long,
      priorLive: Map[String, Long], added: Seq[(String, Long)],
      removed: Set[String], tags: Map[String, String]): Unit = {
    val uuid = java.util.UUID.randomUUID().toString
    WarehouseIO.mkdirs(manifestDir(dir))
    val baseManifests: Seq[(String, Long, Long, Long)] =
      if (priorLive.isEmpty) Nil
      else {
        val name = s"manifest-$uuid-0"
        val len = writeManifest(dir, name,
          priorLive.toSeq.sortBy(_._1).map { case (r, s) => (0, r, s) })
        Seq((name, len, priorLive.size.toLong, 0L))
      }
    val deltaName = s"manifest-$uuid-1"
    val deltaLen = writeManifest(dir, deltaName,
      removed.toSeq.sorted.map(r => (1, r, 0L)) ++
        added.sortBy(_._1).map { case (r, s) => (0, r, s) })
    val baseListName = s"manifest-list-$uuid-0"
    val deltaListName = s"manifest-list-$uuid-1"
    writeManifestList(dir, baseListName, baseManifests)
    writeManifestList(dir, deltaListName,
      Seq((deltaName, deltaLen, added.size.toLong, removed.size.toLong)))
    // spec-native logOffsets: mirror the tier window (bucket -> offset)
    // when the tags carry one — the field Paimon defines for exactly
    // this bookkeeping
    val logOffsets: JValue = tags.get(GraftTable.TierOffsetsKey)
      .map(s => JsonMethods.parse(s))
      .getOrElse(JObject(Nil))
    val snap = JObject(List(
      "version" -> (JInt(3): JValue),
      "id" -> (JInt(id): JValue),
      "schemaId" -> (JInt(0): JValue),
      "baseManifestList" -> (JString(baseListName): JValue),
      "deltaManifestList" -> (JString(deltaListName): JValue),
      "changelogManifestList" -> (JNull: JValue),
      "indexManifest" -> (JNull: JValue),
      "commitUser" -> (JString(CommitUser): JValue),
      "commitIdentifier" -> (JInt(id): JValue),
      "commitKind" -> (JString(
        if (removed.nonEmpty) "OVERWRITE" else "APPEND"): JValue),
      "timeMillis" -> (JInt(System.currentTimeMillis()): JValue),
      "logOffsets" -> logOffsets,
      "totalRecordCount" -> (JNull: JValue),
      "deltaRecordCount" -> (JNull: JValue),
      "changelogRecordCount" -> (JNull: JValue),
      "watermark" -> (JNull: JValue)) ++
      (if (tags.isEmpty) Nil
       else List("properties" -> (JObject(tags.toList.sortBy(_._1)
         .map { case (k, v) => k -> (JString(v): JValue) }): JValue))))
    // put-if-absent: the atomicity Paimon requires of snapshot files
    LakeFormatOps.publishIfAbsent(snapshotFile(dir, id),
      JsonMethods.pretty(JsonMethods.render(snap)),
      s"Paimon snapshot $id already committed at $dir")
    WarehouseIO.atomicWriteString(
      s"${snapshotDir(dir)}/LATEST", id.toString)
  }

  // -------------------------------------------------------------------
  // manifests (avro)
  // -------------------------------------------------------------------

  private val ManifestFileMetaSchema = new Schema.Parser().parse("""{
    "type": "record",
    "name": "record",
    "namespace": "org.apache.paimon.avro.generated",
    "fields": [
      {"name": "_FILE_NAME", "type": "string"},
      {"name": "_FILE_SIZE", "type": "long"},
      {"name": "_NUM_ADDED_FILES", "type": "long"},
      {"name": "_NUM_DELETED_FILES", "type": "long"},
      {"name": "_PARTITION_STATS", "type": ["null", "bytes"], "default": null},
      {"name": "_SCHEMA_ID", "type": "long"}
    ]}""")

  private val ManifestEntrySchema = new Schema.Parser().parse("""{
    "type": "record",
    "name": "record",
    "namespace": "org.apache.paimon.avro.generated",
    "fields": [
      {"name": "_KIND", "type": "int"},
      {"name": "_PARTITION", "type": "bytes"},
      {"name": "_BUCKET", "type": "int"},
      {"name": "_TOTAL_BUCKETS", "type": "int"},
      {"name": "_FILE", "type": {
        "type": "record",
        "name": "file",
        "fields": [
          {"name": "_FILE_NAME", "type": "string"},
          {"name": "_FILE_SIZE", "type": "long"},
          {"name": "_ROW_COUNT", "type": ["null", "long"], "default": null},
          {"name": "_LEVEL", "type": "int"}
        ]}}
    ]}""")

  /** One manifest of (kind, rel path, size) entries; returns file size. */
  private def writeManifest(dir: String, name: String,
      entries: Seq[(Int, String, Long)]): Long = {
    val fileSchema = ManifestEntrySchema.getField("_FILE").schema()
    LakeFormatOps.writeAvro(s"${manifestDir(dir)}/$name",
      ManifestEntrySchema,
      entries.map { case (kind, rel, size) =>
        val file = new GenericData.Record(fileSchema)
        file.put("_FILE_NAME", rel)
        file.put("_FILE_SIZE", Long.box(size))
        file.put("_ROW_COUNT", null)
        file.put("_LEVEL", Int.box(0))
        val e = new GenericData.Record(ManifestEntrySchema)
        e.put("_KIND", Int.box(kind))
        e.put("_PARTITION", java.nio.ByteBuffer.wrap(
          rel.split('/').dropRight(1).mkString("/")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        e.put("_BUCKET", Int.box(0))
        e.put("_TOTAL_BUCKETS", Int.box(1))
        e.put("_FILE", file)
        e
      })
  }

  private def writeManifestList(dir: String, name: String,
      manifests: Seq[(String, Long, Long, Long)]): Unit = {
    LakeFormatOps.writeAvro(s"${manifestDir(dir)}/$name",
      ManifestFileMetaSchema,
      manifests.map { case (mName, mLen, nAdded, nDeleted) =>
        val r = new GenericData.Record(ManifestFileMetaSchema)
        r.put("_FILE_NAME", mName)
        r.put("_FILE_SIZE", Long.box(mLen))
        r.put("_NUM_ADDED_FILES", Long.box(nAdded))
        r.put("_NUM_DELETED_FILES", Long.box(nDeleted))
        r.put("_PARTITION_STATS", null)
        r.put("_SCHEMA_ID", Long.box(0L))
        r
      })
    ()
  }

  // -------------------------------------------------------------------
  // schema file
  // -------------------------------------------------------------------

  private def writeSchemaFile(dir: String, schema: StructType,
      partitionKeys: Seq[String]): Unit = {
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      JObject(List(
        "id" -> (JInt(i): JValue),
        "name" -> (JString(f.name): JValue),
        "type" -> (JString(paimonType(f.dataType) +
          (if (f.nullable) "" else " NOT NULL")): JValue)))
    }.toList
    WarehouseIO.mkdirs(schemaDir(dir))
    CatalogJson.atomicWrite(s"${schemaDir(dir)}/schema-0",
      JsonMethods.pretty(JsonMethods.render(JObject(List(
        "version" -> (JInt(3): JValue),
        "id" -> (JInt(0): JValue),
        "fields" -> (JArray(fields): JValue),
        "highestFieldId" -> (JInt(schema.fields.length - 1): JValue),
        "partitionKeys" -> (JArray(
          partitionKeys.toList.map(JString(_))): JValue),
        "primaryKeys" -> (JArray(Nil): JValue),
        "options" -> (JObject(Nil): JValue),
        "timeMillis" -> (JInt(System.currentTimeMillis()): JValue))))))
  }

  /** Spark -> Paimon SQL type strings (spec "data types"). */
  private[core] def paimonType(dt: DataType): String = dt match {
    case BooleanType => "BOOLEAN"
    case ByteType => "TINYINT"
    case ShortType => "SMALLINT"
    case IntegerType => "INT"
    case LongType => "BIGINT"
    case FloatType => "FLOAT"
    case DoubleType => "DOUBLE"
    case StringType => "STRING"
    case BinaryType => "BYTES"
    case DateType => "DATE"
    case TimestampType => "TIMESTAMP(6)"
    case TimestampNTZType => "TIMESTAMP(6)"
    case d: DecimalType => s"DECIMAL(${d.precision}, ${d.scale})"
    case a: ArrayType => s"ARRAY<${paimonType(a.elementType)}>"
    case m: MapType =>
      s"MAP<${paimonType(m.keyType)}, ${paimonType(m.valueType)}>"
    case s: StructType =>
      s.fields.map(f => s"${f.name} ${paimonType(f.dataType)}")
        .mkString("ROW<", ", ", ">")
    case other => throw new IllegalArgumentException(
      s"no Paimon type mapping for Spark type ${other.sql}")
  }
}
