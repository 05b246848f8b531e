package graft.core

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase

/** Property-driven lake tick: table.datalake.* options gate the
  * freshness-scheduled tier + optional history expiry.
  */
class LakeMaintenanceSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", IntegerType)))

  private def appendRow(t: GraftTable, k: Long, v: Int, ord: Long): Unit =
    t.append(spark.createDataFrame(
      Seq(Row(k, Int.box(v), ord)).asJava,
      StructType(schema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))

  test("maintainLake: disabled -> None; freshness gates; auto-expire reclaims") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-lm-wh").toString, spark)
    val t0 = cat.createTable("db", "lmlog",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    appendRow(t0, 1L, 1, 0L)
    // the manifest stamps real wall-clock time, so ticks must be
    // real-clock-relative
    val now = System.currentTimeMillis()

    // no properties -> the tick skips the table
    assert(LakeMaintenance.maintainLake(t0, now).isEmpty)

    // enabled without a dir fails loudly
    val broken = cat.updateProperties("db", "lmlog",
      Map("table.datalake.enabled" -> "true"), Nil)
    intercept[IllegalArgumentException](
      LakeMaintenance.maintainLake(broken, now))

    val out = Files.createTempDirectory("graft-lm-out").toString
    val t = cat.updateProperties("db", "lmlog", Map(
      "table.datalake.enabled" -> "true",
      "table.datalake.dir" -> out,
      "table.datalake.freshness" -> "1h",
      "table.datalake.auto-expire-snapshot" -> "true",
      "table.datalake.snapshot.keep-last" -> "1"), Nil)

    // first tick: fresh directory -> initial full export
    val first = LakeMaintenance.maintainLake(t, now).get
    assert(first.contains("initial full export"))
    assert(IcebergExport.readLive(spark, out).count() == 1)

    // a tick inside the freshness window is a no-op even after a commit
    appendRow(t, 2L, 2, 1L)
    val fresh = LakeMaintenance.maintainLake(t, now + 60000L).get
    assert(fresh.startsWith("lake fresh"))
    assert(IcebergExport.readLive(spark, out).count() == 1)

    // past the window: incremental tier runs AND history expires to
    // keep-last=1 (the replaced state must be reclaimed, not accreted)
    val tiered = LakeMaintenance.maintainLake(t, now + 2 * 3600000L).get
    assert(tiered.contains("tiered"), tiered)
    assert(tiered.contains("keeping last 1 snapshot(s)"), tiered)
    assert(IcebergExport.readLive(spark, out).count() == 2)
    assert(IcebergExport.snapshotIds(out).size == 1)

    // offsets unchanged past the window: tier reports already current
    // and RE-ARMS the freshness gate, so the next in-window tick is a
    // one-stat no-op instead of another full tier-path read
    val idle = LakeMaintenance.maintainLake(t, now + 4 * 3600000L).get
    assert(idle.contains("already current"), idle)
    assert(idle.contains("re-armed"), idle)
    val rearmed = LakeMaintenance.maintainLake(
      t, System.currentTimeMillis() + 60000L).get
    assert(rearmed.startsWith("lake fresh"), rearmed)
  }

  test("an empty lake snapshot reads back empty through readLive and " +
      "time travel in every format") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-lm-empty-wh").toString, spark)
    val sch = StructType(Seq(StructField("dt", StringType),
      StructField("k", LongType), StructField("v", IntegerType)))
    for (fmt <- LakeFormatOps.all) {
      val t = cat.createTable("db", s"empty_${fmt.name}", TableDescriptor(sch,
        primaryKey = Seq("dt", "k"), partitionKeys = Seq("dt"),
        numBuckets = 2))
      val lake = t.path + "_lake"
      // tiered before the table's first commit: no data file at all
      t.tierSnapshot(lake, fmt.name)
      val first = fmt match {
        case IcebergExport => IcebergExport.readSnapshot(
          spark, lake, IcebergExport.snapshotIds(lake).head)
        case DeltaExport => DeltaExport.readVersion(spark, lake, 0L)
        case PaimonExport => PaimonExport.readSnapshot(spark, lake, 1L)
        case HudiExport => HudiExport.readInstant(
          spark, lake, HudiExport.earliestInstant(lake).get)
      }
      for (df <- Seq(fmt.readLive(spark, lake), first)) {
        assert(df.schema.fieldNames.toSeq == Seq("dt", "k", "v"), fmt.name)
        assert(df.count() == 0, fmt.name)
      }
    }
  }

  test("policyOf: defaults mirror the reference; keep-last validated") {
    val p = LakeMaintenance.policyOf(Map(
      "table.datalake.enabled" -> "true",
      "table.datalake.dir" -> "/tmp/x")).get
    assert(p.freshnessMs == 3 * 60000L) // reference default: 3 minutes
    assert(!p.autoExpire && p.keepLast == 10)
    assert(p.format == "iceberg")
    assert(LakeMaintenance.policyOf(Map(
      "table.datalake.enabled" -> "true",
      "table.datalake.dir" -> "/tmp/x",
      "table.datalake.format" -> "delta")).get.format == "delta")
    intercept[IllegalArgumentException](LakeMaintenance.policyOf(Map(
      "table.datalake.enabled" -> "true",
      "table.datalake.dir" -> "/tmp/x",
      "table.datalake.snapshot.keep-last" -> "0")))
    // auto-expire is format-dispatched (DeltaExport.expireVersions gives
    // Delta the same bounded-history contract Iceberg has)
    val dp = LakeMaintenance.policyOf(Map(
      "table.datalake.enabled" -> "true",
      "table.datalake.dir" -> "/tmp/x",
      "table.datalake.format" -> "delta",
      "table.datalake.auto-expire-snapshot" -> "true")).get
    assert(dp.format == "delta" && dp.autoExpire)
  }

  test("maintainLake on a Delta lake: auto-expire truncates the log and " +
      "reclaims tombstoned files") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-lmd-wh").toString, spark)
    val t0 = cat.createTable("db", "lmdelta", TableDescriptor(schema,
      primaryKey = Seq("k"), bucketKeys = Seq("k"), numBuckets = 1))
    def put(k: Long, v: Int, ord: Long): Unit =
      t0.upsert(spark.createDataFrame(
        Seq(Row(k, Int.box(v), ord)).asJava,
        StructType(schema.fields :+ StructField("ord", LongType))),
        orderBy = Seq(col("ord")))
    put(1L, 1, 0L)
    val out = Files.createTempDirectory("graft-lmd-out").toString
    val t = cat.updateProperties("db", "lmdelta", Map(
      "table.datalake.enabled" -> "true",
      "table.datalake.dir" -> out,
      "table.datalake.format" -> "delta",
      "table.datalake.freshness" -> "1h",
      "table.datalake.auto-expire-snapshot" -> "true",
      "table.datalake.snapshot.keep-last" -> "1"), Nil)
    val now = System.currentTimeMillis()
    assert(LakeMaintenance.maintainLake(t, now).get
      .contains("delta log version 0"))
    // PK overwrite: the re-tier tombstones version 0's files; keep-last=1
    // must RECLAIM them in the same tick (the unbounded-growth hole)
    put(1L, 2, 1L)
    val tiered = LakeMaintenance.maintainLake(t, now + 2 * 3600000L).get
    assert(tiered.contains("keeping last 1 snapshot(s)"), tiered)
    assert(DeltaExport.earliestVersion(out).contains(1L))
    val live = DeltaExport.liveFiles(out, Some(spark))
    val onDisk = WarehouseIO.walkFiles(out)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .map(e => WarehouseIO.relativize(out, e.path))
      .filterNot(_.startsWith("_delta_log/"))
    assert(onDisk.toSet == live.toSet,
      s"tombstoned files must be gone: disk=$onDisk live=$live")
    val got = DeltaExport.readLive(spark, out)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(got == Seq((1L, 2)))
  }
}
