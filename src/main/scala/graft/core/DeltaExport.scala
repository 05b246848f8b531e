package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Delta Lake transaction-log export — the second lake format of the
  * export layer, hand-built against the PUBLIC Delta protocol
  * (delta-io/delta PROTOCOL.md; protocol (1,2), JSON commit files) the
  * same way [[IcebergExport]] is built against the Iceberg v2 spec. The
  * reference ships one lake module per format
  * (fluss-lake/fluss-lake-{paimon,iceberg,lance,hudi}) behind a common
  * tiering service; this engine mirrors that shape with one
  * [[LakeFormatOps]] face per format.
  *
  * Log layout: `_delta_log/%020d.json`, one JSON action per line.
  * Version 0 carries `protocol` + `metaData` + the initial `add`s; each
  * tier appends a version with `commitInfo` (tier offsets ride in its
  * `tags`, the Iceberg-summary analog) + `add` / `remove` actions.
  * Commit files are published with a no-overwrite move — the protocol's
  * put-if-absent requirement — under the same [[LakeLock]] discipline
  * as the Iceberg path.
  *
  * `schemaString` IS Spark's StructType JSON (the protocol's schema
  * serialization format), `partitionValues` are the hive-unescaped
  * string values, and `path` is percent-encoded as a relative URI.
  */
object DeltaExport extends LakeFormatOps {

  val name = "delta"
  val historyNoun = "version"
  val firstVersionLabel = "log version 0"
  val exportShape = "as a Delta table (parquet + _delta_log JSON commits)"

  private def logDir(dir: String): String = s"$dir/_delta_log"

  private def versionFile(dir: String, v: Long): String =
    f"${logDir(dir)}/$v%020d.json"

  private def checkpointFile(dir: String, v: Long): String =
    f"${logDir(dir)}/$v%020d.checkpoint.parquet"

  /** Checkpoint cadence — the protocol's conventional every-10-commits
    * (PROTOCOL.md "Checkpoints"), so replay cost stays bounded by
    * (live set + ≤10 JSON tail commits) no matter how many tiers have
    * run.
    */
  private val CheckpointInterval = 10L

  def withLock[T](dir: String)(body: => T): T =
    LakeLock.withLock(s"${logDir(dir)}/_graft.lock")(body)

  private def jsonVersions(dir: String): Seq[Long] = {
    val ld = logDir(dir)
    if (!WarehouseIO.exists(ld)) Nil
    else WarehouseIO.listDir(ld).filter(!_.isDir).map(_.name)
      .filter(n => n.length == 25 && n.endsWith(".json"))
      .flatMap(n => scala.util.Try(n.stripSuffix(".json").toLong).toOption)
  }

  /** Latest committed version, None when `dir` has no Delta log. */
  def currentVersion(dir: String): Option[Long] = {
    val vs = jsonVersions(dir)
    if (vs.isEmpty) None else Some(vs.max)
  }

  def latestVersion(dir: String): Option[String] =
    currentVersion(dir).map(_.toString)

  def retainedVersions(dir: String): Seq[String] =
    (earliestVersion(dir).get to currentVersion(dir).get).map(_.toString)

  /** Earliest JSON commit still present — 0 until [[expireHistory]]
    * truncates history, the expiry cutoff afterwards.
    */
  def earliestVersion(dir: String): Option[Long] = {
    val vs = jsonVersions(dir)
    if (vs.isEmpty) None else Some(vs.min)
  }

  /** Checkpoint versions present on disk, ascending (from filenames, not
    * `_last_checkpoint` — replay selection must see mid-history
    * checkpoints [[expireHistory]] leaves behind).
    */
  private def checkpointVersions(dir: String): Seq[Long] = {
    val ld = logDir(dir)
    val suffix = ".checkpoint.parquet"
    if (!WarehouseIO.exists(ld)) Nil
    else WarehouseIO.listDir(ld).filter(!_.isDir).map(_.name)
      .filter(n => n.length == 20 + suffix.length && n.endsWith(suffix))
      .flatMap(n => scala.util.Try(n.stripSuffix(suffix).toLong).toOption)
      .sorted
  }

  /** Initial export: version 0 with protocol + metaData + `files`
    * (dir-relative path → size) as add actions.
    */
  def write(dir: String, schema: StructType, partitionKeys: Seq[String],
      files: Seq[(String, Long)], sourcePath: String,
      tags: Map[String, String] = Map.empty): Long = withLock(dir) {
    require(currentVersion(dir).isEmpty,
      s"$dir already has a Delta log; use commit() to append a version")
    val now = System.currentTimeMillis()
    val meta: Seq[JValue] = Seq(
      JObject(List("protocol" -> JObject(List(
        "minReaderVersion" -> JInt(1), "minWriterVersion" -> JInt(2))))),
      JObject(List("metaData" -> JObject(List(
        "id" -> JString(java.util.UUID.randomUUID().toString),
        "name" -> JString(sourcePath.split('/').last),
        "format" -> JObject(List("provider" -> JString("parquet"),
          "options" -> JObject(Nil))),
        "schemaString" -> JString(schema.json),
        "partitionColumns" -> JArray(
          partitionKeys.toList.map(JString(_))),
        "configuration" -> JObject(Nil),
        "createdTime" -> JInt(now))))))
    publish(dir, 0L, meta ++ files.map(addAction(_, partitionKeys, now)) :+
      commitInfo("WRITE", now, tags))
    0L
  }

  /** Append one version: `addedFiles` become adds, `removedRels` become
    * removes (validated against the live set). First call on a fresh dir
    * delegates to [[write]]. When `checkpointWith` carries a session and
    * the new version hits the checkpoint cadence, a protocol checkpoint
    * is written so later replays skip the JSON history.
    */
  def commit(dir: String, schema: StructType, partitionKeys: Seq[String],
      addedFiles: Seq[(String, Long)], removedRels: Set[String],
      sourcePath: String, tags: Map[String, String] = Map.empty,
      checkpointWith: Option[SparkSession] = None,
      knownLive: Option[Set[String]] = None): Long =
      withLock(dir) {
    currentVersion(dir) match {
      case None =>
        require(removedRels.isEmpty,
          s"cannot remove files from $dir: no prior Delta version exists " +
            s"to remove them from (asked to remove ${removedRels.size} file(s))")
        write(dir, schema, partitionKeys, addedFiles, sourcePath, tags)
      case Some(v) =>
        // a caller that just computed the live set under THIS lock
        // (tierSnapshot does) hands it in rather than paying a second
        // log replay for the same state
        val live = knownLive.getOrElse(liveFiles(dir, checkpointWith).toSet)
        val missing = removedRels.filterNot(live.contains)
        require(missing.isEmpty,
          s"cannot remove file(s) not live in $dir's current version: " +
            missing.toSeq.sorted.take(5).mkString(", "))
        val now = System.currentTimeMillis()
        val removes: Seq[JValue] = removedRels.toSeq.sorted.map { rel =>
          JObject(List("remove" -> JObject(List(
            "path" -> JString(encodePath(rel)),
            "deletionTimestamp" -> JInt(now),
            "dataChange" -> JBool(true)))))
        }
        publish(dir, v + 1,
          (removes ++ addedFiles.map(addAction(_, partitionKeys, now))) :+
            commitInfo(if (removedRels.nonEmpty) "OVERWRITE" else "WRITE",
              now, tags))
        checkpointWith.foreach { spark =>
          if ((v + 1) % CheckpointInterval == 0)
            writeCheckpoint(spark, dir, v + 1)
        }
        v + 1
    }
  }

  /** The trait face of [[commit]]: checkpoints at the cadence, and
    * validates removals against the caller's `priorLive`.
    */
  def commit(spark: SparkSession, dir: String, schema: StructType,
      partitionKeys: Seq[String], added: Seq[(String, Long)],
      removed: Set[String], sourcePath: String,
      tags: Map[String, String], priorLive: Seq[String]): Unit = {
    commit(dir, schema, partitionKeys, added, removed, sourcePath, tags,
      checkpointWith = Some(spark), knownLive = Some(priorLive.toSet))
    ()
  }

  /** Dir-relative live data files of the CURRENT version, resolved by
    * log replay the way a Delta reader would (last checkpoint + JSON
    * tail when a session is supplied; full JSON replay otherwise) —
    * never from directory listing.
    */
  def liveFiles(dir: String): Seq[String] = liveFiles(dir, None)

  override def liveFiles(spark: SparkSession, dir: String): Seq[String] =
    liveFiles(dir, Some(spark))

  def liveFiles(dir: String, spark: Option[SparkSession]): Seq[String] =
    replay(dir, spark).live.keys.toSeq.sorted

  /** Dir-relative live files AT a specific version — Delta time travel
    * (`VERSION AS OF`) by replaying the log up to `v`. On an intact log
    * this is a pure JSON replay; once [[expireHistory]] has truncated
    * history, versions at or after the cutoff replay from the cutoff
    * checkpoint (pass a session via the 3-arg overload) and expired
    * versions fail loudly.
    */
  def liveFilesAt(dir: String, v: Long): Seq[String] =
    liveFilesAt(dir, v, None)

  def liveFilesAt(dir: String, v: Long,
      spark: Option[SparkSession]): Seq[String] =
    replayTo(dir, v, spark).live.keys.toSeq.sorted

  /** A specific version's data as a DataFrame — tombstoned files stay on
    * disk until [[expireHistory]] reclaims them, so any RETAINED version
    * reads back exactly; an expired one fails with a clear error.
    */
  def readVersion(spark: SparkSession, dir: String, v: Long): DataFrame =
    readFiles(spark, dir, liveFilesAt(dir, v, Some(spark)))

  /** [[expireHistory]] for Delta, closing the only unbounded-growth path
    * a freshness-scheduled Delta tiering loop had (each re-tier of a PK
    * table tombstones its prior files; without this they live forever).
    *
    * Protocol shape (delta-io PROTOCOL.md "Checkpoints" + the reference
    * VACUUM posture): a checkpoint is written AT the cutoff version
    * carrying the full replay state (protocol + metaData + live adds), so
    * every retained version remains reconstructible as checkpoint + JSON
    * tail; then JSON commits and checkpoints strictly below the cutoff
    * are deleted, and the sweep removes data files no retained version
    * reaches. Metadata-first ordering: a crash after the checkpoint but
    * before the deletes just leaves extra history a re-run (any
    * keepLast) cleans; replay never depends on anything the sweep
    * deletes.
    */
  protected def expireMetadata(spark: SparkSession, dir: String,
      keepLast: Int): collection.Set[String] = {
    val v = currentVersion(dir).getOrElse(throw new IllegalArgumentException(
      s"$dir has no Delta log (_delta_log/ missing or empty)"))
    val e = earliestVersion(dir).get
    val cutoff = v - keepLast + 1
    // ---- 1. make the retained range self-replayable, then truncate ----
    if (cutoff > e) {
      if (!WarehouseIO.exists(checkpointFile(dir, cutoff)))
        writeCheckpoint(spark, dir, cutoff)
      (e until cutoff).foreach(i => WarehouseIO.deleteIfExists(versionFile(dir, i)))
      checkpointVersions(dir).filter(_ < cutoff)
        .foreach(cv => WarehouseIO.deleteIfExists(checkpointFile(dir, cv)))
      // _last_checkpoint must not name a checkpoint the truncation just
      // deleted (the cutoff checkpoint is ≥ cutoff by construction)
      if (lastCheckpointVersion(dir).exists(_ < cutoff)) {
        val newest = checkpointVersions(dir).max
        CatalogJson.atomicWrite(s"${logDir(dir)}/_last_checkpoint",
          JsonMethods.compact(JsonMethods.render(JObject(List(
            "version" -> (JInt(newest): JValue),
            "size" -> (JInt(spark.read.parquet(checkpointFile(dir, newest))
              .count()): JValue))))))
      }
    }
    // ---- 2. a data file is reachable iff it is live at the earliest
    // retained version or added by a later retained commit (removes only
    // shrink reachability going forward, so this union is exact)
    val base = earliestVersion(dir).get
    val reach = collection.mutable.Set[String]()
    reach ++= replayTo(dir, base, Some(spark)).live.keys
    ((base + 1) to v).foreach { i =>
      actionsOf(dir, i).foreach {
        case JObject(fields) => fields.toMap.foreach {
          case ("add", JObject(a)) =>
            reach += decodePath(a.toMap.apply("path").asInstanceOf[JString].s)
            ()
          case _ => ()
        }
        case _ => ()
      }
    }
    reach
  }

  /** Everything under _delta_log/ is metadata, never a candidate. */
  protected def sweepable(rel: String): Boolean =
    !rel.startsWith("_delta_log/") && rel.endsWith(".parquet")

  /** `commitInfo.tags` of the LATEST version (the Iceberg snapshot-
    * summary analog — [[GraftTable.tierSnapshot]] pins its offset window
    * here). Empty when the dir has no Delta log.
    */
  def committedTierTags(dir: String): Map[String, String] =
    currentVersion(dir).map { v =>
      actionsOf(dir, v).flatMap {
        case JObject(fields) => fields.toMap.get("commitInfo")
        case _ => None
      }.collectFirst { case JObject(ci) =>
        ci.toMap.get("tags") match {
          case Some(JObject(ts)) =>
            ts.collect { case (k, JString(s)) => k -> s }.toMap
          case _ => Map.empty[String, String]
        }
      }.getOrElse(Map.empty)
    }.getOrElse(Map.empty)

  // -------------------------------------------------------------------

  private final case class ReplayState(schemaString: String,
      partitionCols: Seq[String], live: Map[String, Long],
      metaId: String, metaName: String, metaCreated: Long)

  /** Log replay: from the latest checkpoint ≤ current when a session is
    * available (checkpoint parquet + ≤CheckpointInterval JSON tail),
    * else every JSON version from 0.
    */
  private def replay(dir: String,
      spark: Option[SparkSession]): ReplayState = {
    val v = currentVersion(dir).getOrElse(throw new IllegalArgumentException(
      s"$dir has no Delta log (_delta_log/ missing or empty)"))
    replayTo(dir, v, spark)
  }

  /** Replay up to (and including) version `upTo`. On an intact log
    * (earliest JSON = 0) a checkpoint is a perf shortcut taken only when
    * a session can read it; on a truncated log ([[expireHistory]] ran)
    * the cutoff checkpoint is REQUIRED — replay of an expired version,
    * or a checkpoint replay without a session, fails loudly.
    */
  private def replayTo(dir: String, upTo: Long,
      spark: Option[SparkSession]): ReplayState = {
    val v = currentVersion(dir).getOrElse(throw new IllegalArgumentException(
      s"$dir has no Delta log (_delta_log/ missing or empty)"))
    require(upTo >= 0 && upTo <= v,
      s"version $upTo does not exist at $dir (log has versions up to $v)")
    val earliest = earliestVersion(dir).get
    // a checkpoint at cv replays versions >= cv only when the JSON tail
    // cv+1.. is intact, i.e. cv+1 >= earliest
    val usable = checkpointVersions(dir).filter(cv =>
      cv <= upTo && cv + 1 >= earliest)
    val fromCkpt: Option[Long] =
      if (earliest == 0) { if (spark.isDefined) usable.lastOption else None }
      else {
        if (usable.isEmpty) throw new IllegalArgumentException(
          s"version $upTo of $dir has been expired by expireHistory " +
            s"(earliest readable version is ${checkpointVersions(dir)
              .filter(_ + 1 >= earliest).headOption.getOrElse(earliest)})")
        if (spark.isEmpty) throw new IllegalStateException(
          s"$dir's Delta log was truncated by expireHistory; replaying " +
            s"version $upTo needs the checkpoint at version ${usable.last} " +
            "— pass a SparkSession")
        Some(usable.last)
      }
    var schemaString = ""
    var partitionCols = Seq.empty[String]
    var metaId = ""
    var metaName = ""
    var metaCreated = 0L
    val live = collection.mutable.LinkedHashMap[String, Long]()
    val start: Long = (spark, fromCkpt) match {
      case (Some(s), Some(cv)) =>
        val rows = s.read.parquet(checkpointFile(dir, cv)).collect()
        rows.foreach { r =>
          val pi = r.fieldIndex("protocol")
          val mi = r.fieldIndex("metaData")
          val ai = r.fieldIndex("add")
          if (!r.isNullAt(mi)) {
            val m = r.getStruct(mi)
            metaId = m.getString(m.fieldIndex("id"))
            metaName = m.getString(m.fieldIndex("name"))
            schemaString = m.getString(m.fieldIndex("schemaString"))
            partitionCols = m.getSeq[String](m.fieldIndex("partitionColumns"))
            metaCreated = m.getLong(m.fieldIndex("createdTime"))
          } else if (!r.isNullAt(ai)) {
            val a = r.getStruct(ai)
            live(decodePath(a.getString(a.fieldIndex("path")))) =
              a.getLong(a.fieldIndex("size"))
          } else if (r.isNullAt(pi)) ()
        }
        cv + 1
      case _ => earliest
    }
    (start to upTo).foreach { i =>
      actionsOf(dir, i).foreach {
        case JObject(fields) => fields.toMap.foreach {
          case ("metaData", JObject(m)) =>
            val mm = m.toMap
            metaId = mm("id").asInstanceOf[JString].s
            metaName = mm.get("name").collect {
              case JString(s) => s }.getOrElse("")
            metaCreated = mm.get("createdTime").collect {
              case JInt(n) => n.toLong }.getOrElse(0L)
            schemaString = mm("schemaString").asInstanceOf[JString].s
            partitionCols = mm("partitionColumns").asInstanceOf[JArray]
              .arr.map(_.asInstanceOf[JString].s)
          case ("add", JObject(a)) =>
            val am = a.toMap
            live(decodePath(am("path").asInstanceOf[JString].s)) =
              am("size").asInstanceOf[JInt].num.toLong
          case ("remove", JObject(r)) =>
            live.remove(decodePath(r.toMap.apply("path")
              .asInstanceOf[JString].s))
            ()
          case _ => ()
        }
        case _ => ()
      }
    }
    ReplayState(schemaString, partitionCols, live.toMap,
      metaId, metaName, metaCreated)
  }

  private def lastCheckpointVersion(dir: String): Option[Long] =
    WarehouseIO.readStringIfExists(s"${logDir(dir)}/_last_checkpoint")
      .flatMap { s =>
        JsonMethods.parse(s).asInstanceOf[JObject].obj.toMap
          .get("version").collect { case JInt(n) => n.toLong }
      }

  /** Write a protocol checkpoint at `v`: a single parquet file with the
    * complete replay state (protocol + metaData + one add per live
    * file), plus `_last_checkpoint`. Unexpired remove tombstones are not
    * carried — these exports are single-writer and never vacuumed by a
    * concurrent engine (documented trade against the full protocol).
    */
  private def writeCheckpoint(spark: SparkSession, dir: String,
      v: Long): Unit = {
    import org.apache.spark.sql.types._
    val st = replayTo(dir, v, Some(spark))
    val now = System.currentTimeMillis()
    val protoType = StructType(Seq(
      StructField("minReaderVersion", IntegerType, nullable = false),
      StructField("minWriterVersion", IntegerType, nullable = false)))
    val metaType = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("name", StringType),
      StructField("format", StructType(Seq(
        StructField("provider", StringType, nullable = false),
        StructField("options", MapType(StringType, StringType)))),
        nullable = false),
      StructField("schemaString", StringType, nullable = false),
      StructField("partitionColumns", ArrayType(StringType),
        nullable = false),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val addType = StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("partitionValues",
        MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType, nullable = false),
      StructField("modificationTime", LongType, nullable = false),
      StructField("dataChange", BooleanType, nullable = false)))
    val ckptSchema = StructType(Seq(
      StructField("protocol", protoType),
      StructField("metaData", metaType),
      StructField("add", addType)))
    def pv(rel: String): Map[String, String] =
      rel.split('/').dropRight(1).flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, raw) if st.partitionCols.contains(k) =>
            val dec = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(raw)
            Some(k -> (if (dec == "__HIVE_DEFAULT_PARTITION__") null else dec))
          case _ => None
        }
      }.toMap
    val rows: Seq[org.apache.spark.sql.Row] =
      Seq(org.apache.spark.sql.Row(
          org.apache.spark.sql.Row(Int.box(1), Int.box(2)), null, null),
        org.apache.spark.sql.Row(null,
          org.apache.spark.sql.Row(st.metaId, st.metaName,
            org.apache.spark.sql.Row("parquet", Map.empty[String, String]),
            st.schemaString, st.partitionCols,
            Map.empty[String, String], Long.box(st.metaCreated)), null)) ++
      st.live.toSeq.sortBy(_._1).map { case (rel, size) =>
        org.apache.spark.sql.Row(null, null, org.apache.spark.sql.Row(
          encodePath(rel), pv(rel), Long.box(size), Long.box(now),
          Boolean.box(false)))
      }
    import scala.jdk.CollectionConverters._
    val tmpDir = s"${logDir(dir)}/.ckpt-tmp-${java.util.UUID.randomUUID()}"
    spark.createDataFrame(rows.asJava, ckptSchema)
      .repartition(1).write.parquet(tmpDir)
    val part = WarehouseIO.walkFiles(tmpDir)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
    require(part.size == 1, s"expected one checkpoint part, got ${part.size}")
    WarehouseIO.moveFile(part.head.path, checkpointFile(dir, v))
    WarehouseIO.deleteRecursively(tmpDir)
    // _last_checkpoint names the NEWEST checkpoint; a cutoff checkpoint
    // written mid-history by expireHistory must not regress it past a
    // later cadence checkpoint
    if (lastCheckpointVersion(dir).forall(_ <= v))
      CatalogJson.atomicWrite(s"${logDir(dir)}/_last_checkpoint",
        JsonMethods.compact(JsonMethods.render(JObject(List(
          "version" -> (JInt(v): JValue),
          "size" -> (JInt(rows.size): JValue))))))
  }

  private def actionsOf(dir: String, v: Long): Seq[JValue] =
    WarehouseIO.readString(versionFile(dir, v)).split('\n')
      .map(_.trim).filter(_.nonEmpty).toSeq.map(JsonMethods.parse(_))

  private def addAction(file: (String, Long), partitionKeys: Seq[String],
      now: Long): JValue = {
    val (rel, size) = file
    val pv: List[(String, JValue)] = rel.split('/').dropRight(1).toList
      .flatMap { seg =>
        seg.split("=", 2) match {
          case Array(k, raw) if partitionKeys.contains(k) =>
            val dec = org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(raw)
            Some(k -> (if (dec == "__HIVE_DEFAULT_PARTITION__") JNull
                       else JString(dec): JValue))
          case _ => None
        }
      }
    JObject(List("add" -> JObject(List(
      "path" -> JString(encodePath(rel)),
      "partitionValues" -> JObject(pv),
      "size" -> JInt(size),
      "modificationTime" -> JInt(now),
      "dataChange" -> JBool(true)))))
  }

  private def commitInfo(op: String, now: Long,
      tags: Map[String, String]): JValue =
    JObject(List("commitInfo" -> JObject(List(
      "timestamp" -> (JInt(now): JValue),
      "operation" -> (JString(op): JValue),
      "operationParameters" -> (JObject(Nil): JValue)) ++
      (if (tags.isEmpty) Nil
       else List("tags" -> (JObject(tags.toList.sortBy(_._1)
         .map { case (k, s) => k -> (JString(s): JValue) }): JValue))))))

  /** Publish version `v` put-if-absent, the protocol's atomicity
    * requirement.
    */
  private def publish(dir: String, v: Long, actions: Seq[JValue]): Unit =
    LakeFormatOps.publishIfAbsent(versionFile(dir, v),
      actions.map(a => JsonMethods.compact(JsonMethods.render(a)))
        .mkString("\n"),
      s"Delta version $v already committed at $dir")

  /** Percent-encode a dir-relative path as the protocol requires;
    * hive-escaped segments ('%XX') round-trip because '%' encodes to
    * '%25'.
    */
  private def encodePath(rel: String): String =
    new java.net.URI(null, null, rel, null).toASCIIString

  private def decodePath(enc: String): String = new java.net.URI(enc).getPath
}
