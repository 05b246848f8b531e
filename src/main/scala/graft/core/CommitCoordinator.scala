package graft.core

/** Coordination point for the two commit-critical primitives the engine's
  * single-writer guarantee rests on: exclusive create (the `_commit.lock`
  * mutex, exactly-once batch markers) and atomic overwrite-rename (the
  * manifest publish). On `file:` and `hdfs:` the filesystem provides both
  * atomically; object stores (`s3a:`, `gs:`, ...) provide NEITHER — their
  * create is not check-and-act and their rename is copy+delete — so two
  * concurrent writers would silently corrupt a table. The reference never
  * faces this because every write funnels through a coordinating server
  * (fluss-server coordinator/, tablet-leader serialization in
  * ReplicaManager); a library engine needs an explicit coordination SPI
  * instead.
  *
  * [[CommitCoordinators]] resolves an implementation per scheme. With no
  * coordinator registered, a known non-atomic scheme REFUSES commit-side
  * IO loudly (never corrupts silently); the escape hatch for externally
  * serialized deployments is the Hadoop conf flag
  * `graft.commit.allow-non-atomic=true`.
  */
trait CommitCoordinator {

  /** Atomic test-and-set: true iff THIS call created the file at `path`
    * (the exactly-one-winner lock/marker primitive). The file must be
    * durably visible on the warehouse filesystem afterwards — stale-lock
    * breaking and exactly-once markers stat/delete it directly.
    */
  def createExclusive(path: String): Boolean

  /** Atomically publish `src`'s bytes at `dst`: a concurrent reader sees
    * the old content or the new content, never a torn or missing file.
    * `src` is consumed.
    */
  def overwriteRename(src: String, dst: String): Unit
}

/** Per-scheme [[CommitCoordinator]] registry + the atomicity verdict per
  * filesystem scheme.
  */
object CommitCoordinators {

  /** Schemes whose FileSystem `create(overwrite=false)` / rename are NOT
    * atomic check-and-act operations (object stores). Writes on these
    * refuse unless a coordinator is registered or the deployment opts
    * into external serialization via `graft.commit.allow-non-atomic`.
    * Not listed: `abfs:`/`abfss:` (ADLS Gen2 renames are atomic) and
    * `hdfs:`/`viewfs:`/`file:` (atomic by contract).
    */
  private val builtinNonAtomic = Set(
    "s3", "s3a", "s3n", "gs", "oss", "cos", "cosn", "obs", "swift",
    "wasb", "wasbs")

  private val extraNonAtomic =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, CommitCoordinator]()

  /** Register a coordinator for a scheme (e.g. `"s3a"`). */
  def register(scheme: String, c: CommitCoordinator): Unit =
    registry.put(scheme, c)

  def unregister(scheme: String): Unit = registry.remove(scheme)

  def forScheme(scheme: String): Option[CommitCoordinator] =
    Option(registry.get(scheme))

  /** Declare a custom scheme non-atomic (embedders with object-store
    * connectors outside the built-in list; tests). Idempotent.
    */
  def markNonAtomic(scheme: String): Unit = { extraNonAtomic.add(scheme); () }

  def isAtomic(scheme: String): Boolean =
    !builtinNonAtomic.contains(scheme) && !extraNonAtomic.contains(scheme)
}

/** Reference [[CommitCoordinator]]: serializes the check-and-act window
  * through short-lived lease files in `leaseRoot` — a directory on a
  * filesystem whose exclusive-create IS atomic (a local mount, HDFS, any
  * POSIX path all committers share) — while the coordinated files
  * themselves stay on the object store. The same role a DynamoDB lock
  * table / conditional-put plays for S3-native table formats; deployments
  * with such a service implement [[CommitCoordinator]] over it directly.
  *
  *  - `createExclusive`: under the path's lease, exists-check then write
  *    — the lease makes check-and-create one critical section, and the
  *    created file lands durably on the store (stale-lock mtime checks
  *    and exactly-once markers keep working untouched).
  *  - `overwriteRename`: one whole-object PUT of `src`'s bytes at `dst`
  *    (atomic per-object on every real object store — readers see the
  *    old or the new manifest, never a torn one), then delete `src`.
  */
final class FileLeaseCommitCoordinator(leaseRoot: String)
    extends CommitCoordinator {
  require(CommitCoordinators.isAtomic(WarehouseIO.schemeOf(leaseRoot)),
    s"leaseRoot $leaseRoot must live on a filesystem with atomic " +
      "exclusive-create (file:, hdfs:, a shared POSIX mount) — an " +
      "object-store leaseRoot would re-open the race this coordinator closes")
  WarehouseIO.mkdirs(leaseRoot)

  private def leaseFor(path: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"$leaseRoot/lease-${md.map("%02x".format(_)).mkString}"
  }

  private def withLease[T](path: String)(body: => T): T = {
    // leaseRoot is empty between commits (leases delete after use) and a
    // tmp-cleaner may remove it; recreate per acquisition, and make a
    // still-missing parent FATAL — inheriting withFileLock's run-unlocked
    // fallback here would reopen the exact multi-writer race this
    // coordinator exists to close, silently.
    //
    // Acquisition budget: generous (2 min), NOT withFileLock's 10 s
    // default — the critical section is tiny (one exists check + one
    // put) but on a loaded host many racers starve each other past 10 s,
    // and a coordinator that times out under load turns contention into
    // spurious commit failures. Stale leases still break at 60 s, so a
    // crashed holder never wedges the queue.
    WarehouseIO.mkdirs(leaseRoot)
    CatalogJson.withFileLock(leaseFor(path), timeoutMs = 120000L,
      missingParentFatal = true)(body)
  }

  override def createExclusive(path: String): Boolean = withLease(path) {
    if (WarehouseIO.exists(path)) false
    else {
      val parent = path.substring(0, math.max(path.lastIndexOf('/'), 0))
      if (parent.nonEmpty && !WarehouseIO.isDirectory(parent))
        throw new java.io.FileNotFoundException(path) // dropped mid-race
      WarehouseIO.rawPutBytes(path, Array.emptyByteArray)
      true
    }
  }

  override def overwriteRename(src: String, dst: String): Unit = {
    WarehouseIO.rawPutBytes(dst, WarehouseIO.readBytes(src))
    WarehouseIO.deleteIfExists(src)
    ()
  }
}
