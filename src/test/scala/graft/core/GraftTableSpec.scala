package graft.core

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** End-to-end table behavior over the parquet log: mirrors the shape of the
  * reference's KvTabletTest / SparkPrimaryKeyTableReadTest scenarios.
  */
class GraftTableSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private def newCatalog() =
    new Catalog(Files.createTempDirectory("graft-test-wh").toString, spark)

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("v", IntegerType),
    StructField("s", StringType)))

  private def df(rows: (Long, Integer, String)*) =
    spark.createDataFrame(
      rows.zipWithIndex.map { case ((k, v, s), i) =>
        Row(k, v, s, i.toLong)
      }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))

  test("log table: append assigns contiguous per-bucket offsets") {
    val cat = newCatalog()
    val t = cat.createTable("db", "log1",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 4))
    t.append(df((1L, 1, "a"), (2L, 2, "b"), (1L, 3, "c")), orderBy = Seq(col("ord")))
    t.append(df((1L, 4, "d")), orderBy = Seq(col("ord")))
    val log = t.logDF.collect()
    assert(log.length == 4)
    // per-bucket offsets are 0..n-1 with no gaps
    val perBucket = log.groupBy(_.getAs[Int](Meta.Bucket))
    perBucket.foreach { case (_, rows) =>
      val offs = rows.map(_.getAs[Long](Meta.Offset)).sorted
      assert(offs.sameElements(offs.indices.map(_.toLong)))
    }
    assert(t.scan().count() == 4)
    // count(*) from offset metadata alone (A6 semantics)
    assert(t.latestOffsets.values.sum == 4)
  }

  test("crash residue between move and publish is invisible and self-healed") {
    val cat = newCatalog()
    val t = cat.createTable("db", "crash1",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    t.append(df((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c")), orderBy = Seq(col("ord")))
    assert(t.scan().count() == 3)

    // Simulate a commit that crashed between moveStagedFiles and the
    // manifest publish: a data file lands in the log dir under a commit
    // id that was never manifested. Its offsets OVERLAP already-committed
    // ones — the exact case the pre-manifest offset gate could not catch.
    val logDir = java.nio.file.Paths.get(s"${t.path}/log")
    val committed = Files.walk(logDir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    assert(committed.nonEmpty)
    assert(committed.forall(_.getFileName.toString.startsWith("cid-")),
      "committed files must carry the commit-id prefix")
    val victim = committed.head
    val residue = victim.getParent.resolve(
      s"cid-${java.util.UUID.randomUUID()}--part-crashed.snappy.parquet")
    Files.copy(victim, residue)

    // every batch read surface excludes the residue
    assert(t.scan().count() == 3)
    assert(t.logDF.count() == 3)
    assert(t.fastCount == 3)

    // the next successful commit deletes the residue from disk
    t.append(df((4L, 4, "d")), orderBy = Seq(col("ord")))
    assert(!Files.exists(residue), "residue file should be cleaned by the next commit")
    assert(t.scan().count() == 4)

    // an UNPREFIXED (legacy-layout) file stays visible subject to the
    // offset gate only — backward compatibility for pre-id tables
    val legacy = victim.getParent.resolve("part-legacy.snappy.parquet")
    Files.copy(victim, legacy)
    assert(t.logDF.count() > 4) // duplicate rows visible: gated by offsets, not ids
    Files.delete(legacy)
  }

  test("removeOrphanFiles frees residue and stale staging without a commit") {
    val cat = newCatalog()
    val t = cat.createTable("db", "orphan1",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    t.append(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    val logDir = java.nio.file.Paths.get(s"${t.path}/log")
    val victim = Files.walk(logDir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq.head
    val residue = victim.getParent.resolve(
      s"cid-${java.util.UUID.randomUUID()}--part-crashed.snappy.parquet")
    Files.copy(victim, residue)
    val staleStaging = java.nio.file.Paths.get(
      s"${t.path}/log.staging-${java.util.UUID.randomUUID()}")
    Files.createDirectories(staleStaging)
    Files.createFile(staleStaging.resolve("part-0.snappy.parquet"))
    val freshStaging = java.nio.file.Paths.get(
      s"${t.path}/log.staging-${java.util.UUID.randomUUID()}")
    Files.createDirectories(freshStaging)
    Files.setLastModifiedTime(staleStaging,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))

    t.removeOrphanFiles() // default 24h threshold
    assert(!Files.exists(residue), "unmanifested cid file should be deleted")
    assert(!Files.exists(staleStaging), "stale staging dir should be deleted")
    assert(Files.exists(freshStaging),
      "fresh staging dir may belong to an in-flight commit — must survive")
    assert(t.scan().count() == 2)
    Files.delete(freshStaging)
  }

  test("vacuumLog keeps only the vacuum commit's files, atomically flipped") {
    val cat = newCatalog()
    val t = cat.createTable("db", "crash2",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    t.upsert(df((1L, 10, "a2"), (3L, 3, "c")), orderBy = Seq(col("ord")))
    t.compact()
    t.upsert(df((4L, 4, "d")), orderBy = Seq(col("ord")))
    t.vacuumLog()
    val logDir = java.nio.file.Paths.get(s"${t.path}/log")
    val files = Files.walk(logDir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    // all survivors share ONE commit id (the vacuum's)
    val ids = files.map(_.getFileName.toString.substring(4, 40)).distinct
    assert(ids.size == 1, s"expected one vacuum id, got $ids")
    assertSameRows(t.scan().select("k", "v", "s").collect().toSeq,
      Seq(Row(1L, 10, "a2"), Row(2L, 2, "b"), Row(3L, 3, "c"), Row(4L, 4, "d")))
  }

  test("concurrent appenders: every commit lands exactly once, offsets contiguous") {
    // the commit lock is non-blocking (loser gets ConcurrentModification
    // and retries) — under 4 racing writers every commit must land
    // exactly once, offsets must stay per-bucket contiguous, and no
    // residue may be visible (the WriterStateManager-style guarantee)
    val cat = newCatalog()
    val t = cat.createTable("db", "race1",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def appendWithRetry(base: Long): Unit = {
      var attempts = 0
      var done = false
      while (!done) {
        try { t.append(df((base, base.toInt, s"w$base")),
          orderBy = Seq(col("ord"))); done = true }
        catch {
          case _: java.util.ConcurrentModificationException =>
            attempts += 1
            require(attempts < 1000, "livelock")
            Thread.sleep(10 + scala.util.Random.nextInt(40))
        }
      }
    }
    val futs = (1L to 8L).map(i => Future(appendWithRetry(i)))
    try Await.result(Future.sequence(futs), 300.seconds)
    finally pool.shutdown()
    assert(t.scan().count() == 8)
    assert(t.fastCount == 8) // offset manifest agrees with the data
    val log = t.logDF.collect()
    log.groupBy(_.getAs[Int](Meta.Bucket)).foreach { case (_, rows) =>
      val offs = rows.map(_.getAs[Long](Meta.Offset)).sorted
      assert(offs.sameElements(offs.indices.map(_.toLong)),
        s"offsets must be contiguous per bucket: ${offs.mkString(",")}")
    }
    // 8 commits recorded, strictly increasing versions
    val hist = t.history().select("version").collect().map(_.getLong(0))
    assert(hist.length == 8 && hist.sorted.sameElements(hist))
    // distinct payloads all present exactly once
    assert(t.scan().select("k").collect().map(_.getLong(0)).sorted
      .sameElements(1L to 8L))
  }

  test("kv snapshot lease pins the log floor against vacuum; drop releases it") {
    val cat = newCatalog()
    val t = cat.createTable("db", "lease1",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    t.upsert(df((1L, 10, "a2")), orderBy = Seq(col("ord")))
    val fullChangelog = t.changelog().count() // +I,+I then -U,+U
    // a batch reader pins everything currently readable...
    val floors = t.acquireKvSnapshotLease("job-42", 3600_000L)
    assert(floors.values.forall(_ == 0L))
    t.compact()
    t.vacuumLog()
    // ...so the vacuum retains the FULL changelog despite the snapshot
    assert(t.changelog().count() == fullChangelog,
      "leased history must survive vacuumLog")
    assert(t.kvSnapshotLeases().keySet == Set("job-42"))
    // drop_kv_snapshot_lease remnant cleanup, then vacuum really cuts
    assert(t.dropKvSnapshotLease("job-42"))
    assert(!t.dropKvSnapshotLease("job-42")) // second drop: not found
    t.vacuumLog()
    assert(t.changelog().count() < fullChangelog,
      "after release the vacuum proceeds")
    assertSameRows(t.scan().select("k", "v", "s").collect().toSeq,
      Seq(Row(1L, 10, "a2"), Row(2L, 2, "b")))
  }

  test("fastMinMax answers from parquet footers; exact under TTL expiry") {
    val cat = newCatalog()
    val t = cat.createTable("db", "fmm1",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    assert(t.fastMinMax("v").isEmpty) // empty table
    t.append(df((1L, 5, "bb"), (2L, 42, "aa")), orderBy = Seq(col("ord")))
    t.append(df((3L, -7, "zz")), orderBy = Seq(col("ord")))
    assert(t.fastMinMax("v").contains((-7, 42)))
    assert(t.fastMinMax("s").contains(("aa", "zz")))
    assert(t.fastMinMax("k").contains((1L, 3L)))
    intercept[IllegalArgumentException](t.fastMinMax("nope"))
    // stays exact after a TTL cut: expired files are invisible to it
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(df((4L, 9, "mm")), orderBy = Seq(col("ord")))
    t.expireLog(ttlMillis = System.currentTimeMillis() - mid)
    assert(t.fastMinMax("v").contains((9, 9)),
      "expired rows must not contribute footer stats")
  }

  test("table.statistics.columns property drives default filesMeta stats") {
    val cat = newCatalog()
    val t = cat.createTable("db", "stats1",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2,
        properties = Map("table.statistics.columns" -> "v,s")))
    t.append(df((1L, 1, "a"), (2L, 9, "z")), orderBy = Seq(col("ord")))
    val cols = t.filesMeta().columns.toSet
    assert(Set("min_v", "max_v", "min_s", "max_s").subsetOf(cols),
      s"property-declared stats columns missing: $cols")
    // explicit arg still wins over the property
    assert(!t.filesMeta(statsFor = Seq("v")).columns.contains("min_s"))
    import org.apache.spark.sql.functions.{min => mn, max => mx}
    val agg = t.filesMeta().agg(mn("min_v"), mx("max_v")).head
    assert(agg.getInt(0) == 1 && agg.getInt(1) == 9)
  }

  test("expired leases do not block retention; re-acquire keeps the floor") {
    val cat = newCatalog()
    val t = cat.createTable("db", "lease2",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    t.append(df((1L, 1, "old"), (2L, 2, "old2")), orderBy = Seq(col("ord")))
    val now = System.currentTimeMillis()
    t.acquireKvSnapshotLease("gone", 1L, nowMillis = now - 10_000)
    // refresh of a live lease keeps the ORIGINAL floor
    val f1 = t.acquireKvSnapshotLease("held", 3600_000L, nowMillis = now)
    assert(t.acquireKvSnapshotLease("held", 3600_000L, nowMillis = now) == f1)
    assert(t.kvSnapshotLeases(now).keySet == Set("held"))
    // age-based expiry on a log table: the held lease pins the old rows
    Thread.sleep(5)
    val mid = System.currentTimeMillis()
    Thread.sleep(5)
    t.append(df((3L, 3, "new")), orderBy = Seq(col("ord")))
    assert(t.expireLog(ttlMillis = System.currentTimeMillis() - mid) == 0L,
      "held lease must pin every pre-cutoff row")
    t.dropKvSnapshotLease("held")
    assert(t.expireLog(ttlMillis = System.currentTimeMillis() - mid) == 2L)
    assertSameRows(t.logDF.select("k", "v", "s").collect().toSeq,
      Seq(Row(3L, 3, "new")))
  }

  test("rewriteLogFiles compacts to one file per bucket, byte-preserving history") {
    val cat = newCatalog()
    val t = cat.createTable("db", "rw1",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    t.append(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    t.append(df((1L, 3, "c"), (2L, 4, "d")), orderBy = Seq(col("ord")))
    t.append(df((3L, 5, "e")), orderBy = Seq(col("ord")))
    val before = t.logDF.orderBy(Meta.Bucket, Meta.Offset).collect()
    def files() = Files.walk(java.nio.file.Paths.get(s"${t.path}/log"))
      .iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    assert(files().size >= 3)

    t.rewriteLogFiles()
    // one file per touched bucket dir, all under the rewrite's commit id
    val after = files()
    val perBucket = after.groupBy(_.getParent.getFileName.toString)
    assert(perBucket.values.forall(_.size == 1), s"expected 1 file/bucket: $perBucket")
    assert(after.map(_.getFileName.toString.substring(4, 40)).distinct.size == 1)
    // every row, system columns included, survives byte-identically
    assertSameRows(t.logDF.orderBy(Meta.Bucket, Meta.Offset).collect().toSeq,
      before.toSeq)
    // offsets and version history are untouched -> version travel still works
    assert(t.latestVersion.contains(3L))
    assert(t.scanAtVersion(1L).count() == 2)
    // appends after the rewrite continue the same offset sequence
    t.append(df((4L, 6, "f")), orderBy = Seq(col("ord")))
    assert(t.scan().count() == 6)
  }

  test("version history records one entry per commit; scanAtVersion replays each") {
    val cat = newCatalog()
    val t = cat.createTable("db", "vt1", TableDescriptor(schema, primaryKey = Seq("k")))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    t.upsert(df((1L, 10, "a2"), (3L, 3, "c")), orderBy = Seq(col("ord")))
    t.delete(df((2L, null, null)), orderBy = Seq(col("ord")))

    val hist = t.history().orderBy("version").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // log-record deltas: commit 2 appends -U/+U for key 1 plus +I for key 3
    assert(hist.map(_.getLong(2)).toSeq == Seq(2L, 3L, 1L))
    assert(hist.map(_.getLong(3)).toSeq == Seq(2L, 5L, 6L)) // cumulative log length
    assert(t.latestVersion.contains(3L))

    assertSameRows(t.scanAtVersion(1L).select("k", "v").collect().toSeq,
      Seq(Row(1L, 1), Row(2L, 2)))
    assertSameRows(t.scanAtVersion(2L).select("k", "v").collect().toSeq,
      Seq(Row(1L, 10), Row(2L, 2), Row(3L, 3)))
    assertSameRows(t.scanAtVersion(3L).select("k", "v").collect().toSeq,
      Seq(Row(1L, 10), Row(3L, 3)))
    intercept[IllegalArgumentException](t.scanAtVersion(99L))
  }

  test("scanAtVersion after vacuum: covered versions replay snapshot ∪ tail; older fail") {
    val cat = newCatalog()
    val t = cat.createTable("db", "vt2",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    t.upsert(df((1L, 10, "a2"), (3L, 3, "c")), orderBy = Seq(col("ord")))
    t.compact() // snapshot covers versions 1-2
    t.upsert(df((4L, 4, "d")), orderBy = Seq(col("ord")))
    t.vacuumLog() // log below the snapshot cutoff is gone

    // at the snapshot cutoff: reconstructible from snapshot alone
    assertSameRows(t.scanAtVersion(2L).select("k", "v").collect().toSeq,
      Seq(Row(1L, 10), Row(2L, 2), Row(3L, 3)))
    // past the cutoff: snapshot ∪ retained tail
    assertSameRows(t.scanAtVersion(3L).select("k", "v").collect().toSeq,
      Seq(Row(1L, 10), Row(2L, 2), Row(3L, 3), Row(4L, 4)))
    // before the cutoff: unreconstructible — loud failure, not partial state
    intercept[IllegalArgumentException](t.scanAtVersion(1L).collect())
  }

  test("mergeInto: update, conditional delete, insert, SET mode, dup-key guard") {
    import spark.implicits._
    val cat = newCatalog()
    val t = cat.createTable("db", "merge1",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c")), orderBy = Seq(col("ord")))

    // full-row overwrite for matched, delete when target s=="b", insert new
    val src = Seq((1L, 10, "a2"), (2L, 99, "x"), (4L, 4, "d")).toDF("k", "v", "s")
    t.mergeInto(src, whenMatchedDelete = Some(col("_target.s") === "b"))
    assertSameRows(t.scan().collect().toSeq,
      Seq(Row(1L, 10, "a2"), Row(3L, 3, "c"), Row(4L, 4, "d")))

    // SET mode: partial source, target columns referenced via _target
    val src2 = Seq((1L, 5)).toDF("k", "delta")
    t.mergeInto(src2,
      updateSet = Map("v" -> (col("_target.v") + col("delta"))),
      insertUnmatched = false)
    assertSameRows(t.scan().filter(col("k") === 1L).collect().toSeq,
      Seq(Row(1L, 15, "a2")))

    // conditional update: rows failing the condition are no-ops
    val src3 = Seq((3L, -1), (4L, 7)).toDF("k", "delta")
    t.mergeInto(src3, whenMatchedUpdate = col("delta") > 0,
      updateSet = Map("v" -> (col("_target.v") + col("delta"))),
      insertUnmatched = false)
    assertSameRows(t.scan().select("k", "v").collect().toSeq,
      Seq(Row(1L, 15), Row(3L, 3), Row(4L, 11)))

    // duplicate source keys fail the job (SQL MERGE cardinality rule)
    val dup = Seq((1L, 1, "x"), (1L, 2, "y")).toDF("k", "v", "s")
    val e = intercept[Exception](t.mergeInto(dup))
    assert(e.getMessage.contains("duplicate keys")
      || Option(e.getCause).exists(_.getMessage.contains("duplicate keys")))
    // insertUnmatched with a partial source is rejected up front
    intercept[IllegalArgumentException](t.mergeInto(Seq((9L, 1)).toDF("k", "delta")))
  }

  test("changesBetween: per-version changelog slices, CDF loop, vacuum guard") {
    val cat = newCatalog()
    val t = cat.createTable("db", "cdf1",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    t.upsert(df((1L, 10, "a2"), (3L, 3, "c")), orderBy = Seq(col("ord")))

    // commit 2 only: -U/+U for k=1, +I for k=3
    val c2 = t.changesBetween(1L, 2L)
      .select("_change_type", "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(c2 == Set(("-U", 1L, 1), ("+U", 1L, 10), ("+I", 3L, 3)))

    // from 0 = full history; (0,2) equals the whole changelog
    assert(t.changesBetween(0L, 2L).count() == t.changelog().count())
    // empty range
    assert(t.changesBetween(2L, 2L).count() == 0)
    // the CDF consumer loop: union of slices == full changelog
    assert(t.changesBetween(0L, 1L).count() + t.changesBetween(1L, 2L).count()
      == t.changelog().count())
    // unknown version fails loudly
    intercept[IllegalArgumentException](t.changesBetween(1L, 9L))

    // vacuum: slices starting below the retained floor refuse
    t.compact()
    t.upsert(df((4L, 4, "d")), orderBy = Seq(col("ord")))
    t.vacuumLog()
    intercept[IllegalArgumentException](t.changesBetween(0L, 2L))
    assert(t.changesBetween(2L, 3L)
      .select("_change_type", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet == Set(("+I", 4L)))
  }

  test("pk table: upsert/delete lifecycle with changelog") {
    val cat = newCatalog()
    val t = cat.createTable("db", "pk1", TableDescriptor(schema, primaryKey = Seq("k")))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    t.upsert(df((1L, 10, "a2")), orderBy = Seq(col("ord")))
    t.delete(df((2L, null, null)), orderBy = Seq(col("ord")))

    assertSameRows(t.scan().collect(), Seq(Row(1L, 10, "a2")))

    val cts = t.changelog().select("_change_type").collect().map(_.getString(0))
    assert(cts.count(_ == "+I") == 2)
    assert(cts.count(_ == "-U") == 1 && cts.count(_ == "+U") == 1)
    assert(cts.count(_ == "-D") == 1)

    // binlog pairs before/after images
    val bl = t.binlog().orderBy("_log_offset").collect()
    val up = bl.find(_.getString(0) == "+U").get
    assert(up.getStruct(1).getInt(1) == 1 && up.getStruct(2).getInt(1) == 10)
    val del = bl.find(_.getString(0) == "-D").get
    assert(del.getStruct(1).getInt(1) == 2 && del.isNullAt(2))
  }

  /** The buckets each planned state scan of `plan` reads: the
    * `__bucket=` dirs of a V1 scan's listed files, the bucket keys of
    * the grouped scan's input partitions.
    */
  private def bucketsRead(plan: org.apache.spark.sql.execution.SparkPlan): Seq[Set[Int]] = {
    import org.apache.spark.sql.connector.read.HasPartitionKey
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    new AdaptiveSparkPlanHelper {}.collect(plan) {
      case f: FileSourceScanExec =>
        f.relation.location.listFiles(f.partitionFilters, f.dataFilters)
          .flatMap(_.files).map(st => raw"__bucket=(\d+)".r
            .findFirstMatchIn(st.getPath.toString).get.group(1).toInt).toSet
      case b: BatchScanExec =>
        b.inputPartitions.map(_.asInstanceOf[HasPartitionKey]
          .partitionKey().getInt(0)).toSet
    }
  }

  test("pk table: lookup and prefix lookup prune to one bucket") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val cat = newCatalog()
    val t = cat.createTable("db", "pk2",
      TableDescriptor(schema, primaryKey = Seq("k", "s"), bucketKeys = Seq("k"),
        numBuckets = 64))
    t.upsert(df((1L, 1, "x"), (1L, 2, "y"), (2L, 3, "x"), (1L, 9, "x")),
      orderBy = Seq(col("ord")))
    // other keys fill most of the 64 buckets, so an unpruned read shows
    t.upsert(df((3L until 300L).map(k => (k, Int.box(k.toInt), "z")): _*),
      orderBy = Seq(col("ord")))
    val b = Buckets.ofValues(Seq(1L), Seq(LongType), 64)
    def onlyKeyBucket(what: String, plan: org.apache.spark.sql.execution.SparkPlan): Unit = {
      val read = bucketsRead(plan)
      assert(read.nonEmpty && read.forall(_ == Set(b)),
        s"$what read buckets $read, not just $b:\n$plan")
    }
    val prev = spark.conf.getOption(GroupedReads.Key)
    try Seq("true", "false").foreach { grouped =>
      spark.conf.set(GroupedReads.Key, grouped)
      // the scans return the key's whole bucket: their rows are
      // compared on the key
      def check(what: String, q: org.apache.spark.sql.DataFrame,
          exp: Seq[Row], keyOnly: Boolean = false): Unit = {
        val got = q.collect().toSeq
        assertSameRows(if (keyOnly) got.filter(_.getLong(0) == 1L) else got, exp)
        onlyKeyBucket(s"$what (grouped=$grouped)", q.queryExecution.executedPlan)
      }
      check("lookup", t.lookup(Map("k" -> 1L, "s" -> "x")), Seq(Row(1L, 9, "x")))
      check("lookupAll", t.lookupAll(Seq(Map("k" -> 1L, "s" -> "y"))),
        Seq(Row(1L, 2, "y")))
      check("prefixLookup", t.prefixLookup(Map("k" -> 1L)),
        Seq(Row(1L, 9, "x"), Row(1L, 2, "y")))
      check("scanPruned", t.scanPruned(Map("k" -> 1L)),
        Seq(Row(1L, 9, "x"), Row(1L, 2, "y")), keyOnly = true)
      check("scanPrunedToKeys",
        t.scanPrunedToKeys(spark.range(1).selectExpr("CAST(1 AS INT) AS k")),
        Seq(Row(1L, 9, "x"), Row(1L, 2, "y")), keyOnly = true)

      // a one-key upsert (rewriting the key's value: the rows above
      // hold in both passes) merges against the key's bucket only
      val merges = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (f == "localCheckpoint") merges.add(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        t.upsert(df((1L, 9, "x")), orderBy = Seq(col("ord")))
        eventually(timeout(30.seconds))(assert(merges.size == 1))
      } finally spark.listenerManager.unregister(listener)
      onlyKeyBucket(s"upsert merge input (grouped=$grouped)",
        merges.peek().executedPlan)
    } finally prev match {
      case Some(v) => spark.conf.set(GroupedReads.Key, v)
      case None => spark.conf.unset(GroupedReads.Key)
    }
  }

  test("pk table keyed only by partition columns: lookups find every key") {
    // no bucket keys are left to route by: the writer buckets by the PK,
    // so lookups read unpruned rather than hash an empty key
    val cat = newCatalog()
    val t = cat.createTable("db", "pkpart", TableDescriptor(
      StructType(Seq(StructField("p", StringType), StructField("v", LongType))),
      primaryKey = Seq("p"), partitionKeys = Seq("p"), numBuckets = 8))
    t.upsert(spark.range(20).selectExpr("CAST(id AS STRING) AS p", "id AS v"),
      orderBy = Seq(col("v")))
    assertSameRows(t.lookupAll(Seq(Map("p" -> "3"), Map("p" -> "5"))).collect().toSeq,
      Seq(Row("3", 3L), Row("5", 5L)))
    assertSameRows(t.lookup(Map("p" -> "3")).collect().toSeq, Seq(Row("3", 3L)))
  }

  test("pk table: compact snapshot + tail reads match full materialization") {
    val cat = newCatalog()
    val t = cat.createTable("db", "pk3", TableDescriptor(schema, primaryKey = Seq("k")))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c")), orderBy = Seq(col("ord")))
    t.compact()
    t.upsert(df((1L, 11, "a2")), orderBy = Seq(col("ord")))
    t.delete(df((3L, null, null)), orderBy = Seq(col("ord")))
    assertSameRows(t.scan().collect(),
      Seq(Row(1L, 11, "a2"), Row(2L, 2, "b")))
  }

  test("descriptor json roundtrip") {
    val d = TableDescriptor(schema, primaryKey = Seq("k"), bucketKeys = Seq("k"),
      numBuckets = 16, partitionKeys = Seq("s"),
      mergeEngine = MergeEngine.Aggregation(Map("v" -> "sum")),
      deleteBehavior = DeleteBehavior.Ignore,
      changelogImage = ChangelogImage.Wal)
    assert(CatalogJson.read(CatalogJson.write(d)) == d)
    val v = TableDescriptor(schema, primaryKey = Seq("k"),
      mergeEngine = MergeEngine.Versioned("v"))
    assert(CatalogJson.read(CatalogJson.write(v)) == v)
  }

  test("scanFromOffsets reads each bucket from its own offset") {
    val cat = newCatalog()
    val t = cat.createTable("db", "offs",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    t.append(df((1L, 1, "a"), (2L, 2, "b"), (1L, 3, "c"), (2L, 4, "d")),
      orderBy = Seq(col("ord")))
    val all = t.logDF.collect()
    val buckets = all.map(_.getAs[Int](Meta.Bucket)).distinct.sorted
    // from offset 1 in every present bucket -> exactly the second record
    // of each; absent buckets are not read at all
    val got = t.scanFromOffsets(buckets.map(b => b -> 1L).toMap).collect()
    assert(got.length == all.length - buckets.length)
    assert(t.scanFromOffsets(Map(buckets.head -> 0L)).count() ==
      all.count(_.getAs[Int](Meta.Bucket) == buckets.head))
  }

  test("single-key upsert against a wide table reads prior state (touched-bucket merge)") {
    val cat = newCatalog()
    val t = cat.createTable("db", "touched",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 16))
    val base = df((1L to 100L).map(i => (i, Int.box(i.toInt), s"v$i")): _*)
    t.upsert(base, orderBy = Seq(col("ord")))
    // second commit touches ONE bucket; the merge still sees the prior
    // row (correct -U before-image) and every other key is untouched
    val one = df((7L, 999, "upd"))
    t.upsert(one, orderBy = Seq(col("ord")))
    val state = t.scan().collect()
    assert(state.length == 100)
    assert(state.find(_.getLong(0) == 7L).get.getInt(1) == 999)
    val ch = t.changelog().filter(col("k") === 7L)
      .orderBy(col(Meta.LogOffset)).collect()
    assert(ch.map(_.getAs[String](Meta.ChangeTypeCol)).toSeq ==
      Seq("+I", "-U", "+U"))
    assert(ch(1).getInt(1) == 7) // -U carries the pre-update image
  }

  test("partition drop reaches the snapshot tier (no resurfacing after compact)") {
    val cat = newCatalog()
    val pSchema = StructType(schema.fields :+ StructField("dt", StringType))
    val t = cat.createTable("db", "snapdrop",
      TableDescriptor(pSchema, primaryKey = Seq("dt", "k"),
        partitionKeys = Seq("dt"), numBuckets = 2))
    def df(rows: (Long, Int, String, Long)*) = spark.createDataFrame(
      rows.map { case (k, v, dt, o) => Row(k, Int.box(v), s"s$k", dt, o) }.asJava,
      StructType(pSchema.fields :+ StructField("ord", LongType)))
    t.upsert(df((1L, 1, "2024-01-01", 0L), (2L, 2, "2024-01-01", 1L),
      (3L, 3, "2024-01-02", 2L)), orderBy = Seq(col("ord")))
    t.compact() // dropped-partition rows now ALSO live in the snapshot
    assert(t.dropPartition(Seq("2024-01-01")))
    assert(t.scan().select("dt").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("2024-01-02"))
    assert(t.partitionValues() == Seq(Seq("2024-01-02")))
    assert(!t.partitionExists(Seq("2024-01-01")))
    // TTL expiry takes the same both-tier path
    t.upsert(df((4L, 4, "2024-01-03", 3L)), orderBy = Seq(col("ord")))
    t.compact()
    assert(t.expirePartitions("dt", "2024-01-03") == 1)
    assert(t.scan().select("dt").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("2024-01-03"))
  }

  test("partition retention poisons travel to older points, loudly") {
    val cat = newCatalog()
    val pSchema = StructType(schema.fields :+ StructField("dt", StringType))
    val t = cat.createTable("db", "retguard",
      TableDescriptor(pSchema, bucketKeys = Seq("k"),
        partitionKeys = Seq("dt"), numBuckets = 2))
    def df(rows: (Long, Int, String, Long)*) = spark.createDataFrame(
      rows.map { case (k, v, dt, o) => Row(k, Int.box(v), s"s$k", dt, o) }.asJava,
      StructType(pSchema.fields :+ StructField("ord", LongType)))
    t.append(df((1L, 1, "2024-01-01", 0L), (2L, 2, "2024-01-02", 1L)),
      orderBy = Seq(col("ord")))
    Thread.sleep(20)
    val preExpiry = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    assert(t.expirePartitions("dt", "2024-01-02") == 1)
    // v1 counted the expired rows -> unreconstructible, must refuse
    intercept[IllegalArgumentException](t.scanAtVersion(1L).collect())
    intercept[IllegalArgumentException](t.scanAsOf(preExpiry).collect())
    // post-expiry commits are fine
    t.append(df((3L, 3, "2024-01-03", 2L)), orderBy = Seq(col("ord")))
    assert(t.scanAtVersion(2L).count() == 2)
    assert(t.scan().count() == 2)
  }

  test("expiring an EMPTY pre-created partition does not poison travel") {
    val cat = newCatalog()
    val pSchema = StructType(schema.fields :+ StructField("dt", StringType))
    val t = cat.createTable("db", "retguard2",
      TableDescriptor(pSchema, bucketKeys = Seq("k"),
        partitionKeys = Seq("dt"), numBuckets = 2))
    def df(rows: (Long, Int, String, Long)*) = spark.createDataFrame(
      rows.map { case (k, v, dt, o) => Row(k, Int.box(v), s"s$k", dt, o) }.asJava,
      StructType(pSchema.fields :+ StructField("ord", LongType)))
    t.append(df((1L, 1, "2024-01-02", 0L)), orderBy = Seq(col("ord")))
    Files.createDirectories(
      java.nio.file.Paths.get(s"${t.path}/log/dt=2024-01-01"))
    assert(t.expirePartitions("dt", "2024-01-02") == 1) // empty dir only
    assert(t.scanAtVersion(1L).count() == 1) // travel floor untouched
  }

  test("missing offsets manifest hides rows but never deletes data") {
    val cat = newCatalog()
    val t = cat.createTable("db", "lostman",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    t.append(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    assert(t.scan().count() == 2)
    Files.delete(java.nio.file.Paths.get(s"${t.path}/_offsets.json"))
    def dataFiles = {
      val walk = Files.walk(java.nio.file.Paths.get(s"${t.path}/log"))
      try walk.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally walk.close()
    }
    val before = dataFiles
    assert(before > 0)
    // rows are hidden by the empty offset gate — fail-safe, not visible garbage
    assert(t.scan().count() == 0)
    // …and the files survive the read (nothing treated them as residue)
    assert(dataFiles == before)
  }

  test("auto-partition tick: pre-create + retention, idempotent") {
    val cat = newCatalog()
    val pSchema = StructType(schema.fields :+ StructField("dt", StringType))
    val t = cat.createTable("db", "autopart",
      TableDescriptor(pSchema, partitionKeys = Seq("dt"),
        bucketKeys = Seq("k"), numBuckets = 2))
    val days = (20 to 28).map(d => f"2024-01-$d%02d")
    val rows = days.zipWithIndex.map { case (d, i) =>
      Row(i.toLong, Int.box(i), s"s$i", d, i.toLong)
    }
    t.append(spark.createDataFrame(rows.asJava,
      StructType(pSchema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))
    val policy = AutoPartitionPolicy(timeUnit = AutoPartitionUnit.Day,
      numPreCreate = 2, numToRetain = 3, timeFormat = Some("yyyy-MM-dd"))
    val now = java.time.Instant.parse("2024-01-28T06:00:00Z")
    val (created, expired) = t.maintainPartitions(policy, now)
    assert(created == Seq("2024-01-29")) // 01-28 already exists
    assert(expired == (20 to 24).map(d => f"2024-01-$d%02d"))
    assert(t.listPartitions("dt") ==
      (25 to 29).map(d => f"2024-01-$d%02d"))
    // the empty pre-created partition is invisible to scans
    assert(t.scan().select("dt").distinct().collect().map(_.getString(0))
      .sorted.toSeq == (25 to 28).map(d => f"2024-01-$d%02d"))
    // a second tick at the same instant changes nothing
    assert(t.maintainPartitions(policy, now) == ((Nil, Nil)))
    // numToRetain < 0 disables expiry (TABLE_AUTO_PARTITION_NUM_RETENTION)
    val keepAll = policy.copy(numToRetain = -1, numPreCreate = 0)
    assert(t.maintainPartitions(keepAll,
      java.time.Instant.parse("2030-01-01T00:00:00Z")) == ((Nil, Nil)))
  }

  test("auto-partition units: default formats and arithmetic") {
    val now = java.time.Instant.parse("2024-11-11T13:30:00Z")
    def v(u: AutoPartitionUnit, off: Int = 0) =
      AutoPartitionPolicy(timeUnit = u).partitionValue(now, off)
    assert(v(AutoPartitionUnit.Hour) == "2024111113")
    assert(v(AutoPartitionUnit.Hour, 11) == "2024111200")
    assert(v(AutoPartitionUnit.Day) == "20241111")
    assert(v(AutoPartitionUnit.Day, -11) == "20241031")
    assert(v(AutoPartitionUnit.Month) == "202411")
    assert(v(AutoPartitionUnit.Month, 2) == "202501")
    assert(v(AutoPartitionUnit.Quarter) == "20244")
    assert(v(AutoPartitionUnit.Quarter, 1) == "20251")
    assert(v(AutoPartitionUnit.Year) == "2024")
    // time zone shifts the bucket the instant lands in
    val tokyo = AutoPartitionPolicy(timeUnit = AutoPartitionUnit.Hour,
      timeZone = java.time.ZoneId.of("Asia/Tokyo"))
    assert(tokyo.partitionValue(now, 0) == "2024111122")
  }

  test("auto-partition on a multi-key table: key required, no pre-create") {
    val cat = newCatalog()
    val pSchema = StructType(schema.fields ++
      Seq(StructField("dt", StringType), StructField("region", StringType)))
    val t = cat.createTable("db", "autopart2",
      TableDescriptor(pSchema, partitionKeys = Seq("dt", "region"),
        bucketKeys = Seq("k"), numBuckets = 2))
    t.append(spark.createDataFrame(Seq(
        Row(1L, Int.box(1), "a", "2024-01-20", "eu", 0L),
        Row(2L, Int.box(2), "b", "2024-01-27", "us", 1L)).asJava,
      StructType(pSchema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))
    val policy = AutoPartitionPolicy(timeUnit = AutoPartitionUnit.Day,
      key = Some("dt"), numPreCreate = 2, numToRetain = 3,
      timeFormat = Some("yyyy-MM-dd"))
    val now = java.time.Instant.parse("2024-01-28T06:00:00Z")
    val (created, expired) = t.maintainPartitions(policy, now)
    assert(created.isEmpty) // pre-create unsupported for composite keys
    assert(expired == Seq("2024-01-20"))
    assert(t.scan().count() == 1)
    // without an explicit key the tick must refuse, not guess
    intercept[IllegalArgumentException] {
      t.maintainPartitions(policy.copy(key = None), now)
    }
  }

  test("rollbackTo restores a recorded version in place; offsets reusable") {
    val cat = newCatalog()
    val t = cat.createTable("db", "rb1",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))  // v1
    t.upsert(df((1L, 10, "a2")), orderBy = Seq(col("ord")))              // v2
    t.upsert(df((3L, 3, "c")), orderBy = Seq(col("ord")))                // v3
    t.delete(df((2L, null, null)), orderBy = Seq(col("ord")))            // v4
    assert(t.scan().count() == 2)
    val v2State = t.scanAtVersion(2).collect().toSeq

    t.rollbackTo(2)
    // state, history and changelog behave as if v3/v4 never happened
    assertSameRows(t.scan().collect().toSeq, v2State)
    assert(t.latestVersion.contains(2L))
    assert(t.changelog().count() == 4) // v1: 2 inserts, v2: -U/+U
    intercept[IllegalArgumentException](t.scanAtVersion(3))

    // the rolled-back offset range is reusable: new commits continue
    // cleanly and per-bucket offsets stay contiguous
    t.upsert(df((9L, 9, "z")), orderBy = Seq(col("ord")))
    assert(t.scan().count() == 3)
    t.logDF.collect().groupBy(_.getAs[Int](Meta.Bucket)).foreach {
      case (_, rows) =>
        val offs = rows.map(_.getAs[Long](Meta.Offset)).sorted
        assert(offs.sameElements(offs.indices.map(_.toLong)),
          s"offsets contiguous after rollback: ${offs.mkString(",")}")
    }
    assert(t.latestVersion.contains(3L)) // history continues from v2
    assert(GraftMetrics.counter(t.path, GraftMetrics.Rollbacks) == 1)
  }

  test("rollbackTo guards: ahead snapshot dropped; vacuumed history refused") {
    val cat = newCatalog()
    val t = cat.createTable("db", "rb2",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t.upsert(df((1L, 1, "a")), orderBy = Seq(col("ord")))  // v1
    t.upsert(df((2L, 2, "b")), orderBy = Seq(col("ord")))  // v2
    t.compact() // snapshot cutoff at v2 — AHEAD of v1
    // log still holds full history: the too-new snapshot is dropped
    t.rollbackTo(1)
    assert(t.scan().collect().map(_.getLong(0)).toSeq == Seq(1L))

    val t2 = cat.createTable("db", "rb3",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t2.upsert(df((1L, 1, "a")), orderBy = Seq(col("ord"))) // v1
    t2.upsert(df((2L, 2, "b")), orderBy = Seq(col("ord"))) // v2
    t2.compact()
    t2.vacuumLog() // history before v2 now lives only in the snapshot
    t2.upsert(df((3L, 3, "c")), orderBy = Seq(col("ord"))) // v3
    // rolling back INTO vacuumed history must refuse, not corrupt
    intercept[IllegalArgumentException](t2.rollbackTo(1))
    // but a version at/after the floor still works
    t2.rollbackTo(2)
    assert(t2.scan().count() == 2)
  }

  test("compact crash mid-swap: loud failure, snapshot.old is repair material") {
    val cat = newCatalog()
    val t = cat.createTable("db", "cw1",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b")), orderBy = Seq(col("ord")))
    t.compact()
    t.upsert(df((3L, 3, "c")), orderBy = Seq(col("ord")))
    assert(t.scan().count() == 3)
    // simulate the swap crash window: old moved aside, new never arrived
    WarehouseIO.moveFile(s"${t.path}/snapshot", s"${t.path}/snapshot.old")
    intercept[Exception](t.scan().collect()) // loud, never silent
    // orphan GC must NOT reclaim the only copy of the snapshot
    t.removeOrphanFiles(stagingOlderThanMs = 0L)
    assert(WarehouseIO.exists(s"${t.path}/snapshot.old"))
    // operator repair: move it back — table serves full state again
    WarehouseIO.moveFile(s"${t.path}/snapshot.old", s"${t.path}/snapshot")
    assert(t.scan().count() == 3)
    // ... or simply re-run compact(), which re-stages and swaps cleanly
    t.compact()
    assert(t.scan().count() == 3)
  }

  test("exportSnapshot: bare parquet read matches scan(); manifest complete") {
    val cat = newCatalog()
    val t = cat.createTable("db", "exp1",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 4))
    t.upsert(df((1L, 1, "a"), (2L, 2, "b"), (3L, 3, "c")), orderBy = Seq(col("ord")))
    t.upsert(df((1L, 10, "a2")), orderBy = Seq(col("ord")))
    t.delete(df((2L, null, null)), orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-export").toString
    t.exportSnapshot(out)
    // NO graft involved in the read-back: any parquet engine sees this.
    // A small table auto-picks the partition-level layout (no __bucket
    // dirs — one file per (partition, bucket) would be a small-file
    // regime); `table.datalake.layout = bucket` pins alignment (below)
    val back = spark.read.parquet(out)
    assert(back.schema.fieldNames.toSeq == schema.fieldNames.toSeq)
    assertSameRows(
      back.select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .collect().toSeq,
      t.scan().collect().toSeq)
    // pinned bucket alignment: same rows, __bucket riding as a dir column
    val t2 = cat.createTable("db", "exp1b",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 4,
        properties = Map("table.datalake.layout" -> "bucket")))
    t2.upsert(df((1L, 10, "a2"), (3L, 3, "c")), orderBy = Seq(col("ord")))
    val out2 = Files.createTempDirectory("graft-export-b").toString
    t2.exportSnapshot(out2)
    val back2 = spark.read.parquet(out2)
    assert(back2.schema.fieldNames.toSeq ==
      schema.fieldNames.toSeq :+ "__bucket")
    assertSameRows(
      back2.select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .collect().toSeq,
      t2.scan().collect().toSeq)
    // the manifest names every data file with its size, and pins the
    // exported version/offsets
    val mf = org.json4s.jackson.JsonMethods.parse(new String(
        Files.readAllBytes(java.nio.file.Paths.get(s"$out/_export_manifest.json"))))
      .asInstanceOf[org.json4s.JObject].obj.toMap
    val listed = mf("files").asInstanceOf[org.json4s.JArray].arr.map(f =>
      f.asInstanceOf[org.json4s.JObject].obj.toMap
        .apply("path").asInstanceOf[org.json4s.JString].s)
    val onDisk = Files.walk(java.nio.file.Paths.get(out)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet")).toSeq
    assert(listed.nonEmpty && listed.size == onDisk.size)
    assert(mf("version").asInstanceOf[org.json4s.JInt].num.toLong ==
      t.latestVersion.get)
    assert(mf("partitionKeys").asInstanceOf[org.json4s.JArray].arr.isEmpty)
  }

  test("exportSnapshot: hive-partitioned layout for a partitioned table") {
    val cat = newCatalog()
    val pSchema = StructType(schema.fields :+ StructField("dt", StringType))
    val t = cat.createTable("db", "exp2", TableDescriptor(pSchema,
      bucketKeys = Seq("k"), numBuckets = 2, partitionKeys = Seq("dt")))
    t.append(spark.createDataFrame(Seq(
        Row(1L, Int.box(1), "a", "2024-01-01", 0L),
        Row(2L, Int.box(2), "b", "2024-01-02", 1L)).asJava,
      StructType(pSchema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-export-p").toString
    t.exportSnapshot(out)
    // partition dirs are plain hive layout
    assert(Files.isDirectory(java.nio.file.Paths.get(s"$out/dt=2024-01-01")))
    val back = spark.read.parquet(out)
      .withColumn("dt", col("dt").cast(StringType)) // reader-side inference
    assertSameRows(back.select("k", "v", "s", "dt").collect().toSeq,
      t.scan().select("k", "v", "s", "dt").collect().toSeq)
  }
}
