package graft.core

import java.nio.file.{Files, Path => NioPath, StandardCopyOption}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase

/** Every crash point of the commit publish, enumerated rather than
  * hand-picked: each protocol runs once on [[CrashFs]] to count its N
  * mutating filesystem calls, then once per k in 1..N with the process
  * "dying" at call k. After each crash the leftover commit lock is aged
  * past its 10-minute break, the catalog is reopened, and the recovery
  * runs — the next commit, then `removeOrphanFiles(0)`. The table must
  * then show the pre-state or the post-state (plus the recovery row),
  * per-bucket offsets without gaps or repeats, no duplicate rows, unique
  * auto-increment ids, and neither an unmanifested `cid-` file nor a
  * staging dir. Two buckets keep N small.
  */
class CommitCrashSpec extends SparkTestBase {

  private def register(): Unit = {
    WarehouseIO.setConf("fs.crashfs.impl", classOf[CrashFs].getName)
    WarehouseIO.setConf("fs.AbstractFileSystem.crashfs.impl",
      classOf[CrashAfs].getName)
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashFs].getName)
    spark.conf.set("spark.hadoop.fs.crashfs.impl", classOf[CrashFs].getName)
  }

  private val kv = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType)))

  private def rows(ks: Seq[Long], v: Long): DataFrame =
    spark.createDataFrame(ks.map(k => Row(k, v)).asJava, kv)

  private def append(t: GraftTable, ks: Seq[Long], v: Long): Unit = {
    val d = rows(ks, v)
    t.append(d, orderBy = Seq(d("k")))
  }

  private def upsert(t: GraftTable, ks: Seq[Long], v: Long): Unit = {
    val d = rows(ks, v)
    t.upsert(d, orderBy = Seq(d("k")))
  }

  private val logTable =
    TableDescriptor(kv, bucketKeys = Seq("k"), numBuckets = 2)
  private val pkTable =
    TableDescriptor(kv, primaryKey = Seq("k"), numBuckets = 2)
  private val autoIncTable = TableDescriptor(kv, bucketKeys = Seq("k"),
    numBuckets = 2, autoIncrementColumn = Some("v"))

  /** One protocol: the table, the state before it, the operation, and
    * the next commit that recovers after a crash. The visible state
    * compares (k, v) pairs, or keys alone when `v` is an auto-increment
    * id (its values depend on the commit order).
    */
  private case class Protocol(desc: TableDescriptor,
      setup: GraftTable => Unit, op: GraftTable => Unit) {
    def recover(t: GraftTable): Unit =
      if (desc.isPrimaryKeyTable) upsert(t, Seq(100L), 100L)
      else append(t, Seq(100L), 100L)

    /** A log table's state is its log rows, so `log` serves it. */
    def state(t: GraftTable, log: => Seq[Row]): Seq[String] =
      (if (desc.isPrimaryKeyTable) t.scan().collect().toSeq else log).map(r =>
        if (desc.autoIncrementColumn.isDefined) s"${r.getLong(0)}"
        else s"${r.getLong(0)}:${r.getLong(1)}").sorted

    val recoveryRow: String =
      if (desc.autoIncrementColumn.isDefined) "100" else "100:100"
  }

  private def copyTree(from: NioPath, to: NioPath): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  private def deleteTree(dir: NioPath): Unit = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally walk.close()
  }

  private def open(local: NioPath): GraftTable =
    new Catalog("crashfs://test" + local, spark).getTable("db", "t")

  /** The next call after a crash may find the dead holder's lock: it
    * breaks it (aged past 10 minutes) and asks for a retry.
    */
  private def retryingStale[T](body: => T): T =
    try body catch {
      case e: java.util.ConcurrentModificationException
          if e.getMessage.contains("stale lock broken") => body
    }

  private def manifestIds(table: NioPath): Option[Set[String]] = {
    val f = table.resolve("_offsets.json")
    if (!Files.exists(f)) None
    else JsonMethods.parse(Files.readString(f)).asInstanceOf[JObject].obj
      .toMap.get("ids").collect { case a: JArray =>
        a.arr.map(_.asInstanceOf[JString].s).toSet }
  }

  /** Everything a recovered table must satisfy; the failures found. */
  private def check(p: Protocol, t: GraftTable, table: NioPath,
      pre: Seq[String], post: Seq[String]): Seq[String] = {
    val problems = Seq.newBuilder[String]
    val log = t.logDF.collect().toSeq
    val state = p.state(t, log)
    val rest = state.diff(Seq(p.recoveryRow))
    if (rest.size == state.size) problems += "recovery commit not visible"
    if (rest != pre && rest != post) problems += s"state $rest"
    if (state.distinct.size != state.size) problems += "duplicate rows"
    val next = t.latestOffsets
    log.groupBy(_.getAs[Int](Meta.Bucket)).foreach { case (b, rs) =>
      val offs = rs.map(_.getAs[Long](Meta.Offset)).sorted
      if (offs != (offs.head to offs.last) ||
          !next.get(b).contains(offs.last + 1))
        problems += s"bucket $b offsets $offs, next ${next.get(b)}"
    }
    if (!p.desc.isPrimaryKeyTable) {
      val keys = log.map(_.getAs[Long]("k"))
      if (keys.distinct.size != keys.size) problems += "duplicate log rows"
    }
    p.desc.autoIncrementColumn.foreach { c =>
      val ids = log.map(_.getAs[Long](c))
      if (ids.distinct.size != ids.size)
        problems += s"auto-increment ids repeat: ${ids.sorted}"
    }
    val ids = manifestIds(table)
    val walk = Files.walk(table.resolve("log"))
    val strays = try walk.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.startsWith("cid-") &&
        ids.exists(s => !s.contains(n.substring(4, 40))))
      .toVector finally walk.close()
    if (strays.nonEmpty) problems += s"unmanifested files $strays"
    val list = Files.list(table)
    val staging = try list.iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.matches("log\\..+|snapshot\\.compact-.*"))
      .toVector finally list.close()
    if (staging.nonEmpty) problems += s"staging dirs $staging"
    problems.result()
  }

  /** Dry-run N, then crash at every k in 1..N and check the recovery. */
  private def crashEveryPoint(name: String, p: Protocol): Unit = {
    val started = System.nanoTime()
    register()
    CrashFs.disarm()
    val template = Files.createTempDirectory("graft-crash-tpl")
    val t0 = new Catalog("crashfs://test" + template, spark)
      .createTable("db", "t", p.desc)
    p.setup(t0)
    val pre = p.state(t0, t0.logDF.collect().toSeq)
    def fresh(): NioPath = {
      val wh = Files.createTempDirectory("graft-crash-wh")
      copyTree(template, wh)
      wh
    }
    val dry = fresh()
    val td = open(dry)
    CrashFs.arm(0L)
    p.op(td)
    val n = CrashFs.count
    val post = p.state(td, td.logDF.collect().toSeq)
    // crash points run three at a time: the crash state is per thread
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val points = (1L to n).map(k => Future {
      val wh = fresh()
      val table = wh.resolve("db/t")
      CrashFs.arm(k)
      val crashed = try { p.op(open(wh)); false } catch { case NonFatal(_) => true }
      CrashFs.disarm()
      val lock = table.resolve("_commit.lock")
      if (Files.exists(lock))
        Files.setLastModifiedTime(lock, java.nio.file.attribute.FileTime
          .fromMillis(System.currentTimeMillis() - 11L * 60 * 1000))
      val problems =
        if (!crashed) Seq("no crash")
        else try {
          val t = open(wh)
          retryingStale(p.recover(t))
          retryingStale(t.removeOrphanFiles(0L))
          check(p, open(wh), table, pre, post)
        } catch { case NonFatal(e) => Seq(s"recovery failed: $e") }
      deleteTree(wh)
      problems.map(m => s"k=$k: $m")
    })
    val failures =
      try Await.result(Future.sequence(points), Duration.Inf).flatten
      finally {
        pool.shutdown()
        Seq(template, dry).foreach(deleteTree)
      }
    info(s"$name: N=$n")
    println(s"[crash-points] $name N=$n ${(System.nanoTime() - started) / 1000000} ms failing=" +
      failures.map(_.takeWhile(_ != ':')).distinct.mkString(","))
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("append commit survives a crash at every publish step") {
    crashEveryPoint("append", Protocol(logTable,
      t => append(t, 1L to 4L, 1L),
      t => append(t, 5L to 8L, 2L)))
  }

  test("upsert commit survives a crash at every publish step") {
    crashEveryPoint("upsert", Protocol(pkTable,
      t => upsert(t, 1L to 4L, 1L),
      t => upsert(t, 3L to 6L, 2L)))
  }

  test("auto-increment append survives a crash at every publish step") {
    crashEveryPoint("auto-increment append", Protocol(autoIncTable,
      t => append(t, 1L to 4L, -1L),
      t => append(t, 5L to 8L, -1L)))
  }

  test("vacuumLog survives a crash at every publish step") {
    crashEveryPoint("vacuumLog", Protocol(pkTable,
      t => {
        upsert(t, 1L to 4L, 1L)
        upsert(t, 3L to 6L, 2L)
        t.compact()
        upsert(t, Seq(7L), 3L)
      },
      t => t.vacuumLog()))
  }

  test("expireLog survives a crash at every publish step") {
    var cut = 0L
    crashEveryPoint("expireLog", Protocol(logTable,
      t => {
        append(t, 1L to 4L, 1L)
        Thread.sleep(20)
        append(t, 5L to 6L, 2L)
        cut = t.history().collect().map(_.getTimestamp(1).getTime).max
      },
      t => assert(t.expireLog(0L, nowMillis = cut) == 4L)))
  }

  test("an expireLog crashed after its staging write leaves no staging " +
      "dir after removeOrphanFiles(0)") {
    register()
    CrashFs.disarm()
    val wh = Files.createTempDirectory("graft-crash-wh")
    val t = new Catalog("crashfs://test" + wh, spark)
      .createTable("db", "t", logTable)
    append(t, 1L to 4L, 1L)
    val table = wh.resolve("db/t")
    def stagingDirs(): Seq[String] = {
      val list = Files.list(table)
      try list.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("log.")).toVector
      finally list.close()
    }
    CrashFs.arm(1L) // the first step after the staging write
    intercept[java.io.IOException](t.expireLog(0L))
    CrashFs.disarm()
    assert(stagingDirs().nonEmpty, "the crashed expire left no staging")
    t.removeOrphanFiles(0L)
    assert(stagingDirs().isEmpty)
    assert(t.scan().count() == 4L)
    deleteTree(wh)
  }

  test("rewriteLogFiles survives a crash at every publish step") {
    crashEveryPoint("rewriteLogFiles", Protocol(logTable,
      t => {
        append(t, 1L to 2L, 1L)
        append(t, 3L to 4L, 2L)
        append(t, 5L to 6L, 3L)
      },
      t => t.rewriteLogFiles()))
  }

  test("rollbackTo survives a crash at every publish step") {
    crashEveryPoint("rollbackTo", Protocol(logTable,
      t => {
        append(t, 1L to 4L, 1L)
        append(t, 5L to 6L, 2L)
        append(t, 7L to 8L, 3L)
      },
      t => t.rollbackTo(1L)))
  }
}
