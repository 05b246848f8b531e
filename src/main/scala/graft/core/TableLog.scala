package graft.core

import scala.util.control.NonFatal

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The commit manifest, `_offsets.json`: per-bucket next offsets, the
  * last committed batch id per streaming sink, the committed-commit-id
  * set, the version history, the column-stats blob and the next
  * auto-increment id — in ONE file, so a commit's "advance offsets",
  * "mark batch committed", "make files visible", "record the version"
  * and "advance the id counter" are a single atomic rename, with no crash
  * window between any of them (the reference's WriterStateManager
  * batch-sequence dedup; iceberg keeps its snapshot list in the table
  * metadata file the same way). History entries are tiny (≤numBuckets
  * longs), so thousands of commits stay driver-scale.
  *
  * Legacy formats (a flat bucket→offset map; offsets+commits without
  * ids) still read; ids=None marks a manifest written before id gating
  * existed. A manifest without `nextAutoInc` takes the counter from the
  * legacy `_autoinc.json`, else 1.
  *
  * A MISSING manifest also reads as ids=None ("the directory is the
  * truth"): readers list every file (its rows stay hidden by the empty
  * offset gate) and the first commit after the loss sweeps no residue.
  * That commit writes an id set naming only itself, though, so the
  * SECOND commit's residue sweep deletes every earlier file: a lost
  * manifest loses the table's data two commits later. (Residue of a
  * crashed FIRST commit is likewise cleaned by the second.)
  */
private[graft] final case class Manifest(offsets: Map[Int, Long],
    commitTags: Map[String, Long], ids: Option[Set[String]],
    history: List[VersionEntry], colStats: Option[ManifestColStats.Blob],
    nextAutoInc: Long) {

  /** The version number the next offset-advancing commit records. */
  def nextVersion: Long = history.lastOption.map(_.version + 1).getOrElse(1L)
}

private[graft] object Manifest {

  val Empty: Manifest = Manifest(Map.empty, Map.empty, None, Nil, None, 1L)

  /** `legacyAutoInc` is read only when the manifest lacks the counter. */
  def read(file: String, legacyAutoInc: => Long): Manifest =
    WarehouseIO.readStringIfExists(file) match {
      case None => Empty.copy(nextAutoInc = legacyAutoInc)
      case Some(json) =>
        val obj = JsonMethods.parse(json).asInstanceOf[JObject].obj.toMap
        obj.get("offsets") match {
          case Some(o: JObject) => Manifest(
            bucketMap(o),
            obj.get("commits").collect { case c: JObject =>
              c.obj.map { case (k, v) => k -> v.asInstanceOf[JInt].num.toLong }.toMap
            }.getOrElse(Map.empty),
            obj.get("ids").collect { case a: JArray =>
              a.arr.map(_.asInstanceOf[JString].s).toSet },
            obj.get("history").collect { case a: JArray =>
              a.arr.map { e =>
                val m = e.asInstanceOf[JObject].obj.toMap
                VersionEntry(m("v").asInstanceOf[JInt].num.toLong,
                  m("ts").asInstanceOf[JInt].num.toLong, bucketMap(m("o")))
              }
            }.getOrElse(Nil),
            obj.get("colstats").map(ManifestColStats.fromJson),
            obj.get("nextAutoInc").collect { case JInt(n) => n.toLong }
              .getOrElse(legacyAutoInc))
          case _ => Empty.copy(offsets = bucketMap(JObject(obj.toList)),
            nextAutoInc = legacyAutoInc)
        }
    }

  /** Atomic replace. Every written manifest is id-gated (ids=None writes
    * an empty set). The counter is written only once it has moved off
    * its default, so tables without auto-increment keep their manifest
    * bytes.
    */
  def write(file: String, m: Manifest): Unit =
    CatalogJson.atomicWrite(file, JsonMethods.compact(JsonMethods.render(
      JObject(List(
        "offsets" -> bucketJson(m.offsets),
        "commits" -> JObject(m.commitTags.toList.sorted
          .map { case (k, v) => k -> (JInt(v): JValue) }),
        "ids" -> JArray(m.ids.getOrElse(Set.empty).toList.sorted
          .map(i => JString(i): JValue)),
        "history" -> JArray(m.history.map(e => JObject(List(
          "v" -> (JInt(e.version): JValue),
          "ts" -> (JInt(e.tsMillis): JValue),
          "o" -> bucketJson(e.offsets))): JValue))) ++
        m.colStats.map(b => "colstats" -> ManifestColStats.toJson(b)) ++
        (if (m.nextAutoInc == 1L) Nil
         else List("nextAutoInc" -> (JInt(m.nextAutoInc): JValue)))))))

  /** A per-bucket offset map's JSON (`{"<bucket>": <offset>}`), the shape
    * of every offsets file and field of a table.
    */
  def bucketMap(j: JValue): Map[Int, Long] =
    j.asInstanceOf[JObject].obj
      .map { case (k, v) => k.toInt -> v.asInstanceOf[JInt].num.toLong }.toMap

  def bucketJson(m: Map[Int, Long]): JValue =
    JObject(m.toList.sortBy(_._1).map { case (k, v) => k.toString -> (JInt(v): JValue) })
}

/** One committed-visible log file: its qualified path, its length and
  * the commit id its name carries (None for legacy un-prefixed files).
  */
private[graft] final case class LogFile(path: String, len: Long, commitId: Option[String])

/** The log as one pinned manifest sees it: the visible files, whether
  * unmanifested residue was excluded, and whether the listing PROVES the
  * row-level offset gate redundant — with an id-gated manifest and every
  * visible file commit-id-stamped, a visible file's rows all sit below
  * the offsets published atomically with its id, so `offset <
  * next(bucket)` can never fire. Legacy manifests (ids=None) and
  * un-prefixed legacy files keep the gate load-bearing.
  */
private[graft] final case class VisibleLog(files: Seq[LogFile], residue: Boolean,
    gateFree: Boolean)

/** The commit layer of one table: the manifest, the visible-log
  * listing, the commit lock and the ONE publish every commit and log
  * rewrite goes through.
  *
  * A batch is written OUTSIDE the log dir into a staging dir, then moved
  * in file by file under a commit-id name prefix (`cid-<uuid>--<spark
  * part name>`; Spark part names are globally unique). Visibility is
  * granted by ONE atomic manifest write that publishes the id together
  * with the advanced offsets — readers enumerate only manifested files,
  * so a commit that failed validation or crashed anywhere between move
  * and publish can never surface, even after later commits reuse its
  * offset range (the reference closes this with the tablet leader's
  * WriterStateManager; this is the shared-filesystem analog of iceberg's
  * per-commit file manifest, one ~36-byte id per commit instead of every
  * file name). Un-prefixed files (legacy layout) stay visible
  * unconditionally, gated only by offsets. Residue of crashed commits is
  * deleted by the next publish under the same lock.
  */
private[graft] final class TableLog(path: String, desc: TableDescriptor) {

  val logDir = s"$path/log"
  val manifestFile = s"$path/_offsets.json"
  val rebucketMarker = s"$path/_rebucket.json"
  private val legacyAutoIncFile = s"$path/_autoinc.json"
  private val lockFile = s"$path/_commit.lock"

  private val CidPrefix = "cid-"
  private val CidLen = CidPrefix.length + 36 // uuid is 36 chars

  private def cidOf(fileName: String): Option[String] =
    if (fileName.startsWith(CidPrefix) && fileName.length > CidLen)
      Some(fileName.substring(CidPrefix.length, CidLen))
    else None

  def read(): Manifest = Manifest.read(manifestFile,
    if (desc.autoIncrementColumn.isEmpty) 1L
    else WarehouseIO.readStringIfExists(legacyAutoIncFile)
      .map(_.trim.toLong).getOrElse(1L))

  def write(m: Manifest): Unit = Manifest.write(manifestFile, m)

  /** The log parquet files visible under `m`'s committed-id set: one
    * driver-side walk — the same work Spark's file index does for a
    * directory scan. Paths stay FULLY QUALIFIED (Hadoop listing form):
    * stripping `file:` would re-resolve them against fs.defaultFS, which
    * on a cluster whose default is hdfs:// points a file:-scheme
    * warehouse at the wrong filesystem. Callers that join against
    * input_file_name() normalize both sides at the join only.
    */
  def visible(m: Manifest = read()): VisibleLog = {
    val all = WarehouseIO.walkFiles(logDir).collect {
      case e if !e.isDir && e.name.endsWith(".parquet") =>
        LogFile(e.path, e.len, cidOf(e.name))
    }
    // ids=None (legacy or missing manifest): the directory is the truth
    val vis = m.ids.fold(all)(ids => all.filter(_.commitId.forall(ids.contains)))
    VisibleLog(vis, vis.length != all.length,
      m.ids.isDefined && vis.forall(_.commitId.isDefined))
  }

  /** A fresh staging dir for operation `op`: `log.<op>-<uuid>`, the one
    * shape [[removeOrphanFiles]] reclaims — concurrent operations never
    * share one.
    */
  def stagingDir(op: String): String =
    s"$path/log.$op-${java.util.UUID.randomUUID()}"

  /** File-based mutual exclusion around validate+move+publish: the
    * optimistic manifest check alone is check-then-act — two commits
    * interleaving between check and manifest write would both pass and
    * both move duplicate-offset files in. `createFile` is atomic on any
    * POSIX filesystem; a holder that crashed leaves a stale lock which
    * is broken after 10 minutes. (The reference serializes commits
    * through the tablet leader; this is the shared-filesystem analog.)
    *
    * Any refusal — the lock, a fence, or the body itself — deletes
    * `staging`: this is the one place a refused operation drops its
    * staged files.
    */
  def withCommitLock[T](staging: Option[String])(body: => T): T =
    try {
      if (!WarehouseIO.createExclusive(lockFile)) {
        // the holder may release between our failed create and this
        // stat — that's still a conflict (retry), just not a stale one
        val ageMs = System.currentTimeMillis() -
          (try WarehouseIO.mtimeMillis(lockFile)
           catch { case _: java.io.IOException => System.currentTimeMillis() })
        val stale = ageMs > 10 * 60 * 1000
        if (stale) WarehouseIO.deleteIfExists(lockFile)
        throw new java.util.ConcurrentModificationException(
          s"another commit holds the lock on $path" +
            (if (stale) " (stale lock broken; retry)" else ""))
      }
      try {
        requireUnfenced()
        body
      } finally WarehouseIO.deleteIfExists(lockFile)
    } catch {
      case t: Throwable =>
        staging.foreach { s =>
          try WarehouseIO.deleteRecursively(s)
          catch { case NonFatal(e) => t.addSuppressed(e) }
        }
        throw t
    }

  /** Every mutator serializes through the lock, so this is the ONE place
    * the rebucket fences live: (1) an intent marker blocks all other
    * mutation from marker-write to meta-flip — including after a crash
    * (loud, recovered by the next CALL sys.rebucket); (2) a handle whose
    * descriptor bucket count no longer matches the published meta.json
    * must not commit — its rows are hashed with the OLD bucket count and
    * would land in the wrong partition dirs. The fences are evaluated
    * INSIDE the lock: a rebucket cannot swap the numbering between a
    * mutator's fence check and its commit (a pre-lock check left that
    * window open — a mutator delayed across the whole rebucket, e.g. a
    * long GC pause, could pass stale checks and then commit old-space
    * rows into the new-space log).
    */
  private def requireUnfenced(): Unit =
    if (!TableLog.inRebucket.get()) {
      if (WarehouseIO.exists(rebucketMarker))
        throw new java.util.ConcurrentModificationException(
          s"a rebucket is in progress (or crashed) on $path; mutation is " +
            "fenced until it completes — re-run CALL sys.rebucket(table, n) " +
            "to finish or abort it")
      WarehouseIO.readStringIfExists(s"$path/meta.json").foreach { m =>
        val live = CatalogJson.read(m).numBuckets
        if (live != desc.numBuckets)
          throw new java.util.ConcurrentModificationException(
            s"table at $path was rebucketed from ${desc.numBuckets} to " +
              s"$live buckets; this handle is stale — re-open the table")
      }
    }

  /** Publish a commit that was numbered from `pinned`. With `staging`
    * (a data commit) the manifest must still carry the pinned offsets
    * and auto-increment counter — a concurrent commit would have
    * advanced them, and our staged files carry offsets and ids computed
    * from the stale values, so they are DISCARDED, not moved (the
    * reference serializes through a single tablet leader; we detect
    * instead of lock) — and `inLock` runs its own check; the commit's
    * id joins the set. Without staging (an empty batch) `next` may
    * still record a commit tag, merged into the CURRENT manifest so a
    * concurrent sink's tags are never clobbered and offsets another
    * writer advanced never rewind.
    */
  def commit(pinned: Manifest, staging: Option[String],
      inLock: () => Unit = () => ())(next: Manifest => Manifest): Unit =
    publish(staging, replaceIds = false) { m =>
      if (staging.isDefined) {
        if (m.offsets != pinned.offsets || m.nextAutoInc != pinned.nextAutoInc) {
          GraftMetrics.inc(path, GraftMetrics.CommitConflicts)
          throw new java.util.ConcurrentModificationException(
            s"concurrent commit detected on $path: offsets advanced from " +
              s"${pinned.offsets} to ${m.offsets} during this commit")
        }
        inLock()
      }
    }(next)

  /** Publish a rewrite of the log (vacuum, expiry, file compaction,
    * rollback, rebucket) planned against `pinned`. The conflict check
    * compares BOTH offsets and the committed-id set: a concurrent
    * rewrite leaves offsets unchanged but always replaces the id set,
    * and offsets alone would let this one resurrect files the other
    * dropped. `inLock` runs op-specific checks and tier maintenance
    * before the flip; the id set becomes exactly the rewrite's, and
    * every other log file — legacy un-prefixed ones included — is
    * deleted after it. A legacy table's un-prefixed files are visible
    * unconditionally, so a crash between the flip and their deletion
    * briefly double-reads them; tables written entirely by the id-gated
    * path are safe in every ordering.
    */
  def rewrite(pinned: Manifest, staging: String, op: String,
      inLock: () => Unit = () => ())(next: Manifest => Manifest): Unit =
    publish(Some(staging), replaceIds = true) { m =>
      if (m.offsets != pinned.offsets || m.ids != pinned.ids)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit detected on $path during $op: manifest " +
            s"advanced since the rewrite was planned; retry $op()")
      inLock()
    }(next)

  /** The one publish: under the lock, read the manifest and run the
    * caller's check; require that the staging dir still exists; move
    * the staged files in under a fresh commit id; write the caller's
    * next manifest (a `next` that returns the manifest it was given
    * writes nothing); delete the log files that manifest no longer
    * names. A commit sweeps only residue, and only when the manifest
    * it replaced was id-gated.
    */
  private def publish(staging: Option[String], replaceIds: Boolean)(
      check: Manifest => Unit)(next: Manifest => Manifest): Unit =
    withCommitLock(staging) {
      val m = read()
      check(m)
      // an aggressive removeOrphanFiles may have reclaimed the staging
      // while we waited: publishing a commit with zero files would
      // advance offsets over rows that do not exist, and flip a
      // rewrite's id set to an empty commit whose sweep destroys the
      // whole log. Both run under the commit lock, so this is race-free.
      staging.foreach { s =>
        if (!WarehouseIO.exists(s)) throw new IllegalStateException(
          s"staging $s vanished before it was published (reclaimed by " +
            "removeOrphanFiles?); retry")
      }
      val id = staging.map { s =>
        val id = java.util.UUID.randomUUID().toString
        moveStagedFiles(s, id)
        id
      }
      val n = id.fold(next(m))(i => next(m).copy(ids = Some(
        if (replaceIds) Set(i) else m.ids.getOrElse(Set.empty) + i)))
      if (n ne m) write(n)
      if (id.isDefined && (replaceIds || m.ids.isDefined))
        sweep(n.ids.getOrElse(Set.empty), legacy = replaceIds)
    }

  /** Move staged parquet files into the log dir under `commitId`'s name
    * prefix. The files stay INVISIBLE until the manifest publishes the
    * id, so a crash anywhere in here leaves only inert residue.
    */
  private def moveStagedFiles(staging: String, commitId: String): Unit = {
    WarehouseIO.walkFiles(staging)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .foreach { e =>
        val rel = WarehouseIO.relativize(staging, e.path)
        val relDir = rel.lastIndexOf('/') match {
          case -1 => ""
          case i => rel.substring(0, i + 1)
        }
        WarehouseIO.moveFile(e.path,
          s"$logDir/$relDir$CidPrefix$commitId--${e.name}")
      }
    WarehouseIO.deleteRecursively(staging)
  }

  /** The one sweep: delete the cid-files whose id `ids` does not name —
    * residue of commits that crashed between move and publish, or the
    * files a rewrite replaced — and with `legacy` also the un-prefixed
    * parquet files. Runs under the commit lock, so no in-flight commit's
    * files qualify.
    */
  private def sweep(ids: Set[String], legacy: Boolean): Unit =
    WarehouseIO.walkFiles(logDir)
      .filter(e => !e.isDir && (cidOf(e.name) match {
        case Some(id) => !ids.contains(id)
        case None => legacy && e.name.endsWith(".parquet")
      }))
      .foreach(e => WarehouseIO.deleteIfExists(e.path))

  /** See [[GraftTable.removeOrphanFiles]]. */
  def removeOrphanFiles(stagingOlderThanMs: Long): Unit =
    withCommitLock(None) {
      read().ids.foreach(sweep(_, legacy = false))
      val now = System.currentTimeMillis()
      // op staging left by a crashed commit or log rewrite, or by a
      // compact (unique names — concurrent ops never collide); an
      // IN-FLIGHT op whose staging we reclaim aborts at its
      // staging-exists check instead of publishing empty. NOT
      // snapshot.old: after a compact crashed mid-swap it may be the
      // only copy of a post-vacuum load-bearing snapshot — repair
      // material, never garbage. (`log.expire` without a uuid is the
      // staging of older expires.)
      WarehouseIO.listDir(path)
        .filter(e => e.isDir && TableLog.StagingName.matches(e.name) &&
          now - e.mtimeMillis >= stagingOlderThanMs)
        .foreach(e => WarehouseIO.deleteRecursively(e.path))
      // atomic-write temps a crashed writer never renamed (unique
      // .tmp-<uuid> names) — anywhere under the table, e.g. consumer
      // group offsets in _consumer_offsets/: inert, but free the bytes
      WarehouseIO.walkFiles(path)
        .filter(e => !e.isDir && e.name.contains(".tmp-") &&
          now - e.mtimeMillis >= stagingOlderThanMs)
        .foreach(e => WarehouseIO.deleteIfExists(e.path))
      // per-QUERY staging left by a crashed streaming sink or row-level
      // DML statement (commit/abort clean up in-process; a driver crash
      // leaks the dir). Age-check the per-query SUBDIR, not the parent —
      // a live query keeps its own dir's mtime fresh (new epoch dirs /
      // task files), while a dead query's dir goes stale
      Seq("_stream_staging", "_rowlevel_staging").foreach { root =>
        val dir = s"$path/$root"
        if (WarehouseIO.exists(dir))
          WarehouseIO.listDir(dir)
            .filter(e => e.isDir && now - e.mtimeMillis >= stagingOlderThanMs)
            .foreach(e => WarehouseIO.deleteRecursively(e.path))
      }
    }
}

private[graft] object TableLog {

  /** Staging dirs of log operations and compactions. */
  private val StagingName = """log\.[a-z]+(-.+)?|snapshot\.compact-.+""".r

  /** Exemption flag for the rebucket fences in `withCommitLock`: the
    * rebucket flow itself must commit THROUGH its own marker (and
    * through the temporarily stale meta.json) — everyone else refuses.
    * Thread-local because the fence must hold across tables and
    * sessions sharing a JVM.
    */
  private[core] val inRebucket: ThreadLocal[java.lang.Boolean] =
    ThreadLocal.withInitial(() => java.lang.Boolean.FALSE)
}
