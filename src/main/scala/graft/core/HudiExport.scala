package graft.core

import java.time.format.DateTimeFormatter
import java.time.{Instant => JInstant, ZoneOffset}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Apache Hudi copy-on-write table-format export — the fourth lake
  * format of the export layer, hand-built against the PUBLIC Hudi table
  * layout (hudi.apache.org/docs/concepts, the `.hoodie/` timeline) the
  * way [[IcebergExport]] / [[DeltaExport]] / [[PaimonExport]] are built
  * against theirs. The reference ships a Hudi lake module
  * (fluss-lake/fluss-lake-hudi/; tier bookkeeping rides
  * `HoodieCommitMetadata.extraMetadata` in
  * tiering/HudiLakeCommitter.java:114 and is read back for crash
  * recovery at :210 — exactly what [[commit]]'s `tags` do here).
  *
  * Layout:
  *   - `.hoodie/hoodie.properties` — table config (name, COPY_ON_WRITE,
  *     partition fields)
  *   - `.hoodie/<instant>.commit` / `<instant>.replacecommit` — one
  *     COMPLETED timeline instant per tier, JSON `HoodieCommitMetadata`
  *     (`partitionToWriteStats` with per-file `fileId`/`path`/size;
  *     replace commits add `partitionToReplaceFileIds`). The transition
  *     states are materialized the way Hudi's timeline does:
  *     `<instant>.commit.requested` + `<instant>.inflight` (the commit
  *     action's legacy extension-less inflight), and
  *     `<instant>.replacecommit.{requested,inflight}`.
  *   - `.hoodie/archived/` — instants moved out of the active timeline
  *     by [[expireHistory]], plus the compacted replay base
  *     (`state.json`).
  *
  * Live-set resolution replays the ACTIVE timeline in instant order
  * (each file group = one base file here, so a `replacecommit`'s
  * `partitionToReplaceFileIds` retires whole files and its write stats
  * add the replacements) — the same file-slice outcome Hudi's
  * file-system view computes. Instant publish is put-if-absent, so two
  * writers racing the same instant surface as a loud conflict.
  *
  * Documented deviations (this engine shares ONE hive-layout data dir
  * shape across all four formats): data files keep the tier layer's
  * names rather than Hudi's `<fileId>_<token>_<instant>.parquet` base-
  * file convention — the `fileId` lives in the write stats instead, and
  * readers resolve files through the timeline metadata, never by
  * listing. The archived timeline is compacted into one JSON replay
  * base rather than Hudi's Avro archive logs. Both are loud in the
  * metadata, not silent drift.
  */
object HudiExport extends LakeFormatOps {

  val name = "hudi"
  val historyNoun = "instant"
  val firstVersionLabel = "timeline instant 1"
  val exportShape = "as a Hudi COW table (parquet + .hoodie/ timeline)"

  private val CommitUser = "graft-tiering"

  /** Provenance key inside every instant's `extraMetadata` — the Hudi
    * analog of Iceberg's `graft.source` table property.
    */
  val SourceProp = "graft.source"

  private def hoodieDir(dir: String) = s"$dir/.hoodie"
  private def archivedDir(dir: String) = s"${hoodieDir(dir)}/archived"
  private def stateFile(dir: String) = s"${archivedDir(dir)}/state.json"

  def withLock[T](dir: String)(body: => T): T =
    LakeLock.withLock(s"${hoodieDir(dir)}/_graft.lock")(body)

  private val InstantFmt =
    DateTimeFormatter.ofPattern("yyyyMMddHHmmssSSS").withZone(ZoneOffset.UTC)
  private val CompletedName = "(\\d+)\\.(commit|replacecommit)".r

  /** Completed instants of the ACTIVE timeline, ascending: (ts, action). */
  def completedInstants(dir: String): Seq[(String, String)] =
    if (!WarehouseIO.exists(hoodieDir(dir))) Nil
    else WarehouseIO.listDir(hoodieDir(dir)).filterNot(_.isDir)
      .flatMap(e => e.name match {
        case CompletedName(ts, action) => Some((ts, action))
        case _ => None
      }).sortBy(_._1)

  /** Latest completed instant ts, None when `dir` has no Hudi metadata. */
  def currentInstant(dir: String): Option[String] =
    completedInstants(dir).lastOption.map(_._1)

  def latestVersion(dir: String): Option[String] = currentInstant(dir)

  def retainedVersions(dir: String): Seq[String] =
    completedInstants(dir).map(_._1)

  /** Earliest instant still in the active timeline (time-travel floor). */
  def earliestInstant(dir: String): Option[String] =
    completedInstants(dir).headOption.map(_._1)

  /** Initial export: hoodie.properties + one `commit` instant carrying
    * every file.
    */
  def write(dir: String, schema: StructType, partitionKeys: Seq[String],
      files: Seq[(String, Long)], sourcePath: String,
      tags: Map[String, String] = Map.empty): String = withLock(dir) {
    require(currentInstant(dir).isEmpty,
      s"$dir already has Hudi metadata; use commit() to append an instant")
    writeTableProperties(dir, schema, partitionKeys, sourcePath)
    commitInstant(dir, files, replacedFileIds = Map.empty,
      tags + (SourceProp -> sourcePath))
  }

  /** Append one instant: `added` files become write stats of a new file
    * group each; `removed` (validated against the live set) retire their
    * file groups through `partitionToReplaceFileIds` — the instant is
    * then a `replacecommit` (Hudi's insert-overwrite shape), a plain
    * `commit` otherwise. First call on a fresh dir delegates to
    * [[write]].
    */
  def commit(dir: String, schema: StructType, partitionKeys: Seq[String],
      added: Seq[(String, Long)], removed: Set[String],
      sourcePath: String, tags: Map[String, String] = Map.empty): String =
      withLock(dir) {
    currentInstant(dir) match {
      case None =>
        require(removed.isEmpty,
          s"cannot remove files from $dir: no prior Hudi instant exists " +
            s"to remove them from (asked to remove ${removed.size} file(s))")
        write(dir, schema, partitionKeys, added, sourcePath, tags)
      case Some(_) =>
        val live = liveEntries(dir, None) // fileId -> (path, size)
        val byPath = live.map { case (fid, (p, _)) => p -> fid }
        val missing = removed.filterNot(byPath.contains)
        require(missing.isEmpty,
          s"cannot remove file(s) not live in $dir's current instant: " +
            missing.toSeq.sorted.take(5).mkString(", "))
        val replaced = removed.toSeq.map { p =>
          (partitionOf(p), byPath(p))
        }.groupBy(_._1).map { case (part, xs) => part -> xs.map(_._2).sorted }
        commitInstant(dir, added, replaced,
          tags + (SourceProp -> sourcePath))
    }
  }

  /** The trait face of [[commit]]. `priorLive` carries paths but the
    * replacecommit needs the replaced file groups' fileIds; the
    * re-resolution inside is one timeline replay under the same
    * re-entrant lock.
    */
  def commit(spark: SparkSession, dir: String, schema: StructType,
      partitionKeys: Seq[String], added: Seq[(String, Long)],
      removed: Set[String], sourcePath: String,
      tags: Map[String, String], priorLive: Seq[String]): Unit = {
    commit(dir, schema, partitionKeys, added, removed, sourcePath, tags)
    ()
  }

  /** Dir-relative live data files of the CURRENT instant, resolved by
    * timeline replay the way a Hudi file-system view would.
    */
  def liveFiles(dir: String): Seq[String] = {
    requireMetadata(dir)
    liveEntries(dir, None).values.map(_._1).toSeq.sorted
  }

  /** Dir-relative live files AS OF a completed instant — Hudi time
    * travel. Archived (expired) or unknown instants refuse loudly.
    */
  def liveFilesAt(dir: String, instant: String): Seq[String] = {
    requireRetained(dir, instant)
    liveEntries(dir, Some(instant)).values.map(_._1).toSeq.sorted
  }

  private def requireMetadata(dir: String): Unit =
    if (currentInstant(dir).isEmpty)
      throw new IllegalArgumentException(
        s"$dir has no Hudi metadata (.hoodie timeline missing or empty)")

  private def requireRetained(dir: String, instant: String): Unit = {
    requireMetadata(dir)
    // an instant strictly below the compacted base's asOf is rejected
    // even when its file still sits in the ACTIVE timeline (the
    // expireHistory crash window between the base publish and the
    // archive moves): liveEntries applies no instants when
    // upTo <= asOf, so replay would silently return the base's NEWER
    // live set for it. AT asOf the base IS the state as of that
    // instant — replay answers it exactly, so equality stays readable.
    val active = completedInstants(dir).map(_._1)
    if (baseAsOf(dir).contains(instant)) {
      // AT the base's asOf the base IS that instant's exact state — but
      // it is only READABLE while the instant still sits in the ACTIVE
      // timeline (the expireHistory crash window between the base
      // publish and the archive moves: the orphan sweep runs after the
      // moves, so the base's files are still on disk). After a
      // COMPLETED expiry the sweep may have deleted files only the base
      // references (the retained replay chain removes them) — refuse.
      if (active.contains(instant)) return
      throw new IllegalArgumentException(
        s"instant $instant of $dir has been archived by expireHistory " +
          s"(compacted base covers through ${baseAsOf(dir).get})")
    }
    if (baseAsOf(dir).exists(instant < _))
      throw new IllegalArgumentException(
        s"instant $instant of $dir has been archived by expireHistory " +
          s"(compacted base covers through ${baseAsOf(dir).get})")
    if (!active.contains(instant))
      throw new IllegalArgumentException(
        s"instant $instant does not exist at $dir " +
          s"(latest is ${active.last})")
  }

  /** A specific retained instant's state — the time-travel counterpart
    * of [[readLive]].
    */
  def readInstant(spark: SparkSession, dir: String,
      instant: String): DataFrame =
    readFiles(spark, dir, liveFilesAt(dir, instant))

  /** The LATEST completed instant's `extraMetadata` — where tier
    * bookkeeping rides (the reference's HudiLakeCommitter.java:114
    * attaches snapshotProperties the same way and reads them back at
    * :210). Empty when the dir has no Hudi metadata.
    */
  def committedTierTags(dir: String): Map[String, String] =
    completedInstants(dir).lastOption.map { case (ts, action) =>
      parseInstant(dir, ts, action)._3
    }.getOrElse(Map.empty)

  /** [[expireHistory]] for Hudi: all but the last `keepLast` completed
    * instants are archived; every data file unreachable from the
    * retained ones is swept. Archived instants compact into ONE replay
    * base (`archived/state.json`, the live set as of the newest archived
    * instant) so active-timeline replay stays bounded no matter how many
    * tiers have run; the instant files themselves move under
    * `archived/` for audit. Write order is crash-safe: the new base is
    * published FIRST, and replay only applies active instants NEWER than
    * the base's asOf — a crash between the base write and the moves
    * double-counts nothing.
    */
  protected def expireMetadata(spark: SparkSession, dir: String,
      keepLast: Int): collection.Set[String] = {
    requireMetadata(dir)
    val active = completedInstants(dir)
    val toArchive = active.dropRight(keepLast)
    if (toArchive.nonEmpty) {
      // compact the replay base THROUGH the newest archived instant
      val base = liveEntries(dir, Some(toArchive.last._1))
      WarehouseIO.mkdirs(archivedDir(dir))
      CatalogJson.atomicWrite(stateFile(dir),
        JsonMethods.pretty(JsonMethods.render(JObject(List(
          "asOf" -> (JString(toArchive.last._1): JValue),
          "live" -> (JObject(base.toList.sortBy(_._1).map {
            case (fid, (p, sz)) => fid -> (JObject(List(
              "path" -> (JString(p): JValue),
              "size" -> (JInt(sz): JValue))): JValue)
          }): JValue))))))
      toArchive.foreach { case (ts, action) =>
        // completed file plus its requested/inflight transition files
        val names = Seq(s"$ts.$action", s"$ts.$action.requested") ++
          (if (action == "commit") Seq(s"$ts.inflight")
           else Seq(s"$ts.$action.inflight"))
        names.foreach { n =>
          val src = s"${hoodieDir(dir)}/$n"
          if (WarehouseIO.exists(src))
            WarehouseIO.moveFile(src, s"${archivedDir(dir)}/$n")
        }
      }
    }
    // every data file some retained instant reaches stays
    completedInstants(dir).map(_._1)
      .flatMap(ts => liveEntries(dir, Some(ts)).values.map(_._1)).toSet
  }

  protected def sweepable(rel: String): Boolean = rel.endsWith(".parquet")

  // -------------------------------------------------------------------
  // timeline replay
  // -------------------------------------------------------------------

  private def baseAsOf(dir: String): Option[String] =
    WarehouseIO.readStringIfExists(stateFile(dir)).map { s =>
      JsonMethods.parse(s).asInstanceOf[JObject].obj.toMap
        .apply("asOf").asInstanceOf[JString].s
    }

  /** The live file groups (fileId -> (rel path, size)) as of `upTo`
    * (inclusive; None = latest): the compacted base, then every active
    * completed instant newer than the base, in instant order.
    */
  private def liveEntries(dir: String,
      upTo: Option[String]): Map[String, (String, Long)] = {
    val live = collection.mutable.LinkedHashMap[String, (String, Long)]()
    val asOf = WarehouseIO.readStringIfExists(stateFile(dir)).map { s =>
      val m = JsonMethods.parse(s).asInstanceOf[JObject].obj.toMap
      m("live").asInstanceOf[JObject].obj.foreach { case (fid, v) =>
        val f = v.asInstanceOf[JObject].obj.toMap
        live(fid) = (f("path").asInstanceOf[JString].s,
          f("size").asInstanceOf[JInt].num.toLong)
      }
      m("asOf").asInstanceOf[JString].s
    }.getOrElse("")
    completedInstants(dir)
      .filter { case (ts, _) => ts > asOf && upTo.forall(ts <= _) }
      .foreach { case (ts, action) =>
        val (writeStats, replaced, _) = parseInstant(dir, ts, action)
        replaced.valuesIterator.flatten.foreach(live.remove)
        writeStats.foreach { case (fid, p, sz) => live(fid) = (p, sz) }
      }
    live.toMap
  }

  /** (writeStats as (fileId, path, size), partitionToReplaceFileIds,
    * extraMetadata) of a completed instant.
    */
  private def parseInstant(dir: String, ts: String, action: String)
      : (Seq[(String, String, Long)], Map[String, Seq[String]],
         Map[String, String]) = {
    val m = JsonMethods.parse(
      WarehouseIO.readString(s"${hoodieDir(dir)}/$ts.$action"))
      .asInstanceOf[JObject].obj.toMap
    val stats = m("partitionToWriteStats").asInstanceOf[JObject].obj
      .flatMap { case (_, JArray(xs)) =>
        xs.map { x =>
          val s = x.asInstanceOf[JObject].obj.toMap
          (s("fileId").asInstanceOf[JString].s,
            s("path").asInstanceOf[JString].s,
            s("fileSizeInBytes").asInstanceOf[JInt].num.toLong)
        }
      case _ => Nil
      }.toSeq
    val replaced = m.get("partitionToReplaceFileIds") match {
      case Some(JObject(ps)) => ps.map { case (part, JArray(ids)) =>
        part -> ids.map(_.asInstanceOf[JString].s)
      case (part, _) => part -> Nil
      }.toMap
      case _ => Map.empty[String, Seq[String]]
    }
    val extra = m.get("extraMetadata") match {
      case Some(JObject(es)) =>
        es.collect { case (k, JString(s)) => k -> s }.toMap
      case _ => Map.empty[String, String]
    }
    (stats, replaced, extra)
  }

  // -------------------------------------------------------------------
  // instant publish
  // -------------------------------------------------------------------

  private def partitionOf(rel: String): String =
    rel.split('/').dropRight(1).mkString("/")

  /** Next instant ts: wall clock in Hudi's yyyyMMddHHmmssSSS, bumped
    * past any existing instant so the timeline stays strictly
    * increasing even within one millisecond.
    */
  private def nextInstantTs(dir: String): String = {
    val now = InstantFmt.format(JInstant.now())
    currentInstant(dir) match {
      case Some(last) if last >= now =>
        // bump via the datetime, not numeric +1: across a ...999-ms
        // boundary plain +1 yields a string that is not a valid
        // yyyyMMddHHmmssSSS instant (seconds=60), which an external Hudi
        // reader parsing instant timestamps would reject
        InstantFmt.format(
          JInstant.from(InstantFmt.parse(last)).plusMillis(1L))
      case _ => now
    }
  }

  /** Write the transition files + completed instant (put-if-absent
    * publish); returns the instant ts.
    */
  private def commitInstant(dir: String, added: Seq[(String, Long)],
      replacedFileIds: Map[String, Seq[String]],
      tags: Map[String, String]): String = {
    val ts = nextInstantTs(dir)
    val action = if (replacedFileIds.nonEmpty) "replacecommit" else "commit"
    val writeStats = added.sortBy(_._1).map { case (rel, size) =>
      (java.util.UUID.randomUUID().toString, rel, size)
    }
    val statsByPartition = writeStats.groupBy { case (_, rel, _) =>
      partitionOf(rel)
    }
    val body = JObject(List(
      "partitionToWriteStats" -> (JObject(statsByPartition.toList
        .sortBy(_._1).map { case (part, xs) =>
          part -> (JArray(xs.toList.map { case (fid, rel, size) =>
            JObject(List(
              "fileId" -> (JString(fid): JValue),
              "path" -> (JString(rel): JValue),
              "prevCommit" -> (JString("null"): JValue),
              "numWrites" -> (JInt(0): JValue),
              "fileSizeInBytes" -> (JInt(size): JValue),
              "totalWriteBytes" -> (JInt(size): JValue))): JValue
          }): JValue)
        }): JValue)) ++
      (if (replacedFileIds.isEmpty) Nil
       else List("partitionToReplaceFileIds" -> (JObject(
         replacedFileIds.toList.sortBy(_._1).map { case (part, ids) =>
           part -> (JArray(ids.toList.map(JString(_): JValue)): JValue)
         }): JValue))) ++
      List(
        "compacted" -> (JBool(false): JValue),
        "operationType" -> (JString(
          if (replacedFileIds.nonEmpty) "INSERT_OVERWRITE"
          else "BULK_INSERT"): JValue),
        "extraMetadata" -> (JObject(
          (tags + ("commit-user" -> CommitUser)).toList.sortBy(_._1)
            .map { case (k, v) => k -> (JString(v): JValue) }): JValue)))
    WarehouseIO.mkdirs(hoodieDir(dir))
    // the timeline's transition states, then the completed instant
    WarehouseIO.rawPutBytes(
      s"${hoodieDir(dir)}/$ts.$action.requested", Array.emptyByteArray)
    val inflight =
      if (action == "commit") s"$ts.inflight" else s"$ts.$action.inflight"
    WarehouseIO.rawPutBytes(
      s"${hoodieDir(dir)}/$inflight", Array.emptyByteArray)
    // completed timeline files are immutable in Hudi: put-if-absent
    LakeFormatOps.publishIfAbsent(s"${hoodieDir(dir)}/$ts.$action",
      JsonMethods.pretty(JsonMethods.render(body)),
      s"Hudi instant $ts.$action already committed at $dir")
    ts
  }

  // -------------------------------------------------------------------
  // hoodie.properties
  // -------------------------------------------------------------------

  private def writeTableProperties(dir: String, schema: StructType,
      partitionKeys: Seq[String], sourcePath: String): Unit = {
    val name = sourcePath.split('/').takeRight(1).mkString match {
      case "" => "graft_export"
      case n => n
    }
    val props = Seq(
      "hoodie.table.name" -> name,
      "hoodie.table.type" -> "COPY_ON_WRITE",
      "hoodie.table.version" -> "6",
      "hoodie.timeline.layout.version" -> "1",
      "hoodie.table.base.file.format" -> "PARQUET",
      "hoodie.table.partition.fields" -> partitionKeys.mkString(","),
      "hoodie.datasource.write.drop.partition.columns" -> "false",
      // deviation, loud: the Spark schema JSON (Hudi stores an Avro
      // schema here; engine-side readers resolve from parquet footers)
      "graft.schema" -> schema.json,
      SourceProp -> sourcePath)
    WarehouseIO.mkdirs(hoodieDir(dir))
    CatalogJson.atomicWrite(s"${hoodieDir(dir)}/hoodie.properties",
      props.map { case (k, v) =>
        s"$k=${v.replace("\\", "\\\\").replace("\n", "\\n")}"
      }.mkString("", "\n", "\n"))
  }
}
