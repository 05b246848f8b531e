package graft.core

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The format face of the lake-tiering path — what
  * [[GraftTable.tierSnapshot]] needs from a lake format, implemented by
  * each exporter object ([[IcebergExport]], [[DeltaExport]],
  * [[PaimonExport]], [[HudiExport]]; the reference's fluss-lake/
  * fluss-lake-* modules behind its common tiering service).
  * Everything else about tiering — delta-window computation, staging,
  * publish, crash roll-forward, the export manifest — is
  * format-independent and lives in [[GraftTable]]; the protocol pieces
  * every layout shares (the read path, expiry with its orphan sweep,
  * put-if-absent publish, Avro files) live here once.
  */
private[graft] trait LakeFormatOps {
  def name: String
  /** What one history entry is called ("snapshot", "version", ...). */
  def historyNoun: String
  /** The first history entry an initial export writes, as reported. */
  def firstVersionLabel: String
  /** How an export carrying this format's metadata is described. */
  def exportShape: String
  /** Id of the latest committed history entry; None when `dir` has no
    * metadata of this format.
    */
  def latestVersion(dir: String): Option[String]
  /** Ids of the retained history entries, oldest first. */
  def retainedVersions(dir: String): Seq[String]
  /** Lake metadata exists at `dir` (vs a bare-parquet export). */
  final def hasMetadata(dir: String): Boolean = latestVersion(dir).isDefined
  /** Dir-relative live data files of the current snapshot/version,
    * resolved through the metadata, never by listing.
    */
  def liveFiles(dir: String): Seq[String]
  /** [[liveFiles]] with a session at hand (Delta resolves through its
    * parquet checkpoints with it).
    */
  def liveFiles(spark: SparkSession, dir: String): Seq[String] =
    liveFiles(dir)
  /** Tier bookkeeping of the LATEST commit (Iceberg snapshot summary /
    * Delta commitInfo tags / Paimon snapshot properties / Hudi
    * extraMetadata): where [[GraftTable.TierOffsetsKey]] rides.
    */
  def committedTierTags(dir: String): Map[String, String]
  /** Append one snapshot/version: adds + removes + tier tags. The first
    * call on a fresh dir writes the initial metadata. `priorLive` is the
    * live set the caller just resolved under this format's lock — Delta
    * reuses it instead of replaying the log a second time for remove
    * validation; the others re-resolve what they need.
    */
  def commit(spark: SparkSession, dir: String, schema: StructType,
      partitionKeys: Seq[String], added: Seq[(String, Long)],
      removed: Set[String], sourcePath: String,
      tags: Map[String, String], priorLive: Seq[String]): Unit
  /** The current state as a DataFrame, resolved through the metadata. */
  def readLive(spark: SparkSession, dir: String): DataFrame =
    readFiles(spark, dir, liveFiles(spark, dir))
  /** The format's lake lock for `dir` (re-entrant, heartbeated). */
  def withLock[T](dir: String)(body: => T): T

  /** Expire all but the last `keepLast` history entries and delete the
    * files unreachable from the retained ones; returns the dir-relative
    * files deleted (the [[LakeMaintenance]] auto-expiry hook — without
    * it a freshness-scheduled tiering loop grows the lake
    * monotonically). Metadata advances FIRST, then an idempotent orphan
    * sweep deletes whatever the retained entries no longer reach — a
    * crash anywhere leaves either the old history (nothing lost) or the
    * new one plus orphans a RE-RUN (any keepLast) cleans. Serialized
    * against [[commit]] by the lake lock; data files are never read.
    */
  final def expireHistory(spark: SparkSession, dir: String,
      keepLast: Int): Seq[String] = withLock(dir) {
    require(keepLast >= 1,
      s"keepLast must be >= 1 (the current $historyNoun cannot be " +
        s"expired), got $keepLast")
    val keep = expireMetadata(spark, dir, keepLast)
    val toDelete = WarehouseIO.walkFiles(dir)
      .filter(!_.isDir)
      .map(e => WarehouseIO.relativize(dir, e.path))
      .filterNot(r => r.split('/').exists(_.startsWith(".")))
      .filter(sweepable)
      .filterNot(keep.contains)
      .sorted
    toDelete.foreach(r => WarehouseIO.deleteIfExists(s"$dir/$r"))
    toDelete
  }

  /** Advance the metadata to the last `keepLast` entries (the current
    * one is never expirable) and return every dir-relative file a
    * retained entry reaches — the set [[expireHistory]]'s sweep keeps.
    */
  protected def expireMetadata(spark: SparkSession, dir: String,
      keepLast: Int): collection.Set[String]

  /** Dir-relative files the orphan sweep may delete when unreachable
    * (data files plus the format's own per-snapshot metadata files).
    * Dot-prefixed segments (in-flight tier staging, `.hoodie`) are never
    * candidates.
    */
  protected def sweepable(rel: String): Boolean

  /** `rels` of `dir` as one DataFrame, hive partition columns re-attached
    * via basePath — the read behind [[readLive]] and every time-travel
    * read. An empty set reads as the export manifest's pinned schema
    * ([[LakeFormatOps.emptyRead]]).
    */
  protected final def readFiles(spark: SparkSession, dir: String,
      rels: Seq[String]): DataFrame =
    if (rels.isEmpty) LakeFormatOps.emptyRead(spark, dir, name)
    else {
      val base = WarehouseIO.qualify(dir)
      spark.read.option("basePath", base)
        .parquet(rels.map(r => s"$base/$r"): _*)
    }
}

private[graft] object LakeFormatOps {

  val all: Seq[LakeFormatOps] =
    Seq(IcebergExport, DeltaExport, PaimonExport, HudiExport)

  def of(format: String): LakeFormatOps = {
    val key = format.trim.toLowerCase
    all.find(_.name == key).getOrElse(throw new IllegalArgumentException(
      s"unknown lake format '$key' (supported: " +
        s"${all.map(_.name).mkString(", ")})"))
  }

  /** Empty-lake read: a zero-row export (a table tiered before its
    * first commit) has no data file to infer a schema from, so the
    * format readers fall back to the schema the export manifest pinned
    * atomically alongside the metadata — Spark StructType JSON plus, on
    * a bucket-aligned layout, the `__bucket` partition column. A dir
    * with format metadata but NO manifest (hand-rolled, or a crash
    * before the manifest write) fails naming the real condition —
    * falling through to a zero-path `spark.read.parquet()` would
    * surface as Spark's opaque 'Unable to infer schema for Parquet'.
    */
  private def emptyRead(spark: SparkSession, dir: String,
      fmtName: String): DataFrame = {
    import org.json4s.jackson.JsonMethods
    val em = JsonMethods.parse(
      WarehouseIO.readStringIfExists(s"$dir/_export_manifest.json")
        .getOrElse(throw new IllegalStateException(
          s"$dir has $fmtName metadata but no live data files and no " +
            "_export_manifest.json to pin a schema; only " +
            "tierSnapshot/exportSnapshot-published lakes are readable empty")))
      .asInstanceOf[org.json4s.JObject].obj.toMap
    val base = org.apache.spark.sql.types.DataType.fromJson(
      JsonMethods.compact(JsonMethods.render(em("schema"))))
      .asInstanceOf[StructType]
    val schema =
      if (em.get("layout").contains(org.json4s.JString("bucket")))
        StructType(base.fields :+ org.apache.spark.sql.types.StructField(
          Meta.Bucket, org.apache.spark.sql.types.IntegerType))
      else base
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Publish `content` at `target` with put-if-absent semantics: write a
    * unique temp, then a no-overwrite move — the atomicity every format's
    * commit point requires (Delta log versions, Paimon snapshot files,
    * Hudi completed instants). Two writers racing the same target
    * surface as a loud conflict naming `what`.
    */
  private[core] def publishIfAbsent(target: String, content: String,
      what: => String): Unit = {
    val tmp = s"$target.tmp-${java.util.UUID.randomUUID()}"
    WarehouseIO.rawPutBytes(tmp,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // local path throws FileAlreadyExistsException; the Hadoop path's
    // failed no-overwrite rename surfaces as a generic IOException — in
    // either case an existing target means a concurrent writer won
    try WarehouseIO.moveFile(tmp, target)
    catch {
      case e: java.io.IOException => // FileAlreadyExistsException included
        WarehouseIO.deleteIfExists(tmp)
        if (WarehouseIO.exists(target))
          throw new java.util.ConcurrentModificationException(
            s"$what (concurrent writer)", e)
        throw e
    }
  }

  /** Every record of the Avro container file at `path`. */
  private[core] def readAvro(path: String): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](
      new SeekableByteArrayInput(WarehouseIO.readBytes(path)),
      new GenericDatumReader[GenericRecord]())
    try {
      import scala.jdk.CollectionConverters._
      r.iterator().asScala.toVector
    } finally r.close()
  }

  /** Write `records` as an Avro container file with file-level `meta`;
    * returns the file's length.
    */
  private[core] def writeAvro(path: String, sch: Schema,
      records: Seq[GenericRecord],
      meta: Seq[(String, String)] = Nil): Long = {
    val baos = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](sch))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(sch, baos)
    records.foreach(w.append)
    w.close()
    val bytes = baos.toByteArray
    WarehouseIO.rawPutBytes(path, bytes)
    bytes.length.toLong
  }
}
