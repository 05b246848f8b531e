package graft.core

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase

/** Delta-protocol export: no Delta runtime ships in this environment, so
  * the spec validates the log the way a Delta reader would — parse the
  * `_delta_log/%020d.json` commits, replay add/remove actions, and check
  * the live set + read-back against the table state.
  */
class DeltaExportSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("dt", StringType), StructField("k", LongType),
    StructField("v", IntegerType)))

  private def rows(t: GraftTable, ordBase: Long,
      r: (String, Long, Int)*): Unit =
    t.upsert(spark.createDataFrame(
      r.zipWithIndex.map { case ((dt, k, v), i) =>
        Row(dt, k, Int.box(v), ordBase + i) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))

  test("delta tiering: v0 protocol+metaData, incremental commits tombstone " +
      "replaced files, read-back through the log") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-delta-wh").toString, spark)
    val t = cat.createTable("db", "pkdelta", TableDescriptor(schema,
      primaryKey = Seq("dt", "k"), partitionKeys = Seq("dt"), numBuckets = 2,
      // pin the bucket-aligned layout (tiny tables auto-pick partition)
      properties = Map("table.datalake.layout" -> "bucket")))
    rows(t, 0L, ("a", 1L, 1), ("b", 1L, 10))
    val out = Files.createTempDirectory("graft-delta-out").toString

    // initial tier = full export with Delta metadata
    val first = t.tierSnapshot(out, format = "delta")
    assert(first.contains("delta log version 0"), first)
    assert(DeltaExport.currentVersion(out).contains(0L))
    // version 0 carries protocol(1,2) + metaData with Spark-JSON schema
    val v0 = WarehouseIO.readString(
      f"$out/_delta_log/${0L}%020d.json").split('\n').map(JsonMethods.parse(_))
    val proto = v0.collectFirst {
      case JObject(f) if f.toMap.contains("protocol") =>
        f.toMap.apply("protocol").asInstanceOf[JObject].obj.toMap }.get
    assert(proto("minReaderVersion") == JInt(1) &&
      proto("minWriterVersion") == JInt(2))
    val md = v0.collectFirst {
      case JObject(f) if f.toMap.contains("metaData") =>
        f.toMap.apply("metaData").asInstanceOf[JObject].obj.toMap }.get
    // bucket-aligned layout: the lake schema carries __bucket as the
    // innermost partition column
    assert(md("schemaString").asInstanceOf[JString].s ==
      org.apache.spark.sql.types.StructType(t.desc.schema.fields :+
        org.apache.spark.sql.types.StructField("__bucket",
          org.apache.spark.sql.types.IntegerType)).json)
    assert(md("partitionColumns") ==
      JArray(List(JString("dt"), JString("__bucket"))))
    // every add carries the hive partition value
    val adds0 = v0.flatMap {
      case JObject(f) => f.toMap.get("add").map(
        _.asInstanceOf[JObject].obj.toMap)
      case _ => None }
    assert(adds0.nonEmpty && adds0.forall(a =>
      a("partitionValues").asInstanceOf[JObject].obj.toMap.keySet ==
        Set("dt", "__bucket")))

    // incremental tier: changed partition swapped, replaced files
    // tombstoned in the log but still on disk (history is the lake's)
    rows(t, 10L, ("a", 1L, 2))
    val second = t.tierSnapshot(out, format = "delta")
    assert(second.contains("tiered overwrite snapshot"), second)
    assert(DeltaExport.currentVersion(out).contains(1L))
    val live = DeltaExport.liveFiles(out)
    val onDisk = WarehouseIO.walkFiles(out)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .map(e => WarehouseIO.relativize(out, e.path))
    assert(onDisk.exists(!live.contains(_)),
      "replaced dt=a files must remain on disk for older versions")
    val got = DeltaExport.readLive(spark, out)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq(("a", 1L, 2), ("b", 1L, 10)))

    // tier offsets ride commitInfo.tags (crash roll-forward bookkeeping)
    val tags = DeltaExport.committedTierTags(out)
    assert(tags.contains(GraftTable.TierOffsetsKey))
    t.requireTierBase(DeltaExport, out, JsonMethods
      .parse(tags(GraftTable.TierOffsetsKey)).asInstanceOf[JObject].obj
      .map { case (k, v) => k.toInt -> v.asInstanceOf[JInt].num.toLong }.toMap)
    intercept[java.util.ConcurrentModificationException](
      t.requireTierBase(DeltaExport, out, Map(0 -> 0L)))

    // idle tier is a no-op; offsets unchanged
    assert(t.tierSnapshot(out, format = "delta").contains("already current"))
    assert(DeltaExport.currentVersion(out).contains(1L))

    // time travel: version 0 still reads the PRE-overwrite state (its
    // tombstoned files are on disk); out-of-range versions refuse
    val v0got = DeltaExport.readVersion(spark, out, 0L)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(v0got == Seq(("a", 1L, 1), ("b", 1L, 10)))
    assert(DeltaExport.liveFilesAt(out, 1L) == DeltaExport.liveFiles(out))
    val oob = intercept[IllegalArgumentException](
      DeltaExport.liveFilesAt(out, 2L))
    assert(oob.getMessage.contains("does not exist"))
  }

  test("delta commit: put-if-absent version publish conflicts loudly; " +
      "removes validated against the live set") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-delta2-wh").toString, spark)
    val t = cat.createTable("db", "logdelta",
      TableDescriptor(StructType(Seq(StructField("k", LongType))),
        bucketKeys = Seq("k"), numBuckets = 1))
    t.append(spark.createDataFrame(
      Seq(Row(1L, 0L)).asJava,
      StructType(Seq(StructField("k", LongType),
        StructField("ord", LongType)))), orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-delta2-out").toString
    t.exportSnapshot(out, lake = Some("delta"))
    // a concurrent lake-metadata holder makes the commit fail loudly
    // (the lock is the primary serialization; the no-overwrite version
    // publish is the backstop beneath it)
    assert(WarehouseIO.createExclusive(s"$out/_delta_log/_graft.lock"))
    try intercept[java.util.ConcurrentModificationException](
      DeltaExport.commit(out, t.desc.schema, Nil,
        Seq("x.parquet" -> 1L), Set.empty, t.path))
    finally WarehouseIO.deleteIfExists(s"$out/_delta_log/_graft.lock")
    // removing a file that is not live is refused
    val e = intercept[IllegalArgumentException](
      DeltaExport.commit(out, t.desc.schema, Nil,
        Nil, Set("nope.parquet"), t.path))
    assert(e.getMessage.contains("not live"))
    // removals against a fresh dir are refused (no silent append)
    val fresh = Files.createTempDirectory("graft-delta2-fresh").toString
    intercept[IllegalArgumentException](
      DeltaExport.commit(fresh, t.desc.schema, Nil,
        Nil, Set("nope.parquet"), t.path))
  }

  test("delta checkpoints: every 10th version writes a parquet checkpoint; " +
      "checkpointed replay equals full JSON replay") {
    val dir = Files.createTempDirectory("graft-delta-ckpt").toString
    val sch = StructType(Seq(StructField("k", LongType)))
    DeltaExport.write(dir, sch, Nil, Seq("f0.parquet" -> 10L), "src")
    // 12 commits, each adding f$i and removing f${i-1}: versions 1..12,
    // checkpoint due at version 10
    (1 to 12).foreach { i =>
      DeltaExport.commit(dir, sch, Nil,
        Seq(s"f$i.parquet" -> (10L + i)), Set(s"f${i - 1}.parquet"),
        "src", checkpointWith = Some(spark))
    }
    assert(DeltaExport.currentVersion(dir).contains(12L))
    assert(WarehouseIO.exists(
      f"$dir/_delta_log/${10L}%020d.checkpoint.parquet"))
    val lc = WarehouseIO.readString(s"$dir/_delta_log/_last_checkpoint")
    assert(lc.contains("\"version\":10"), lc)
    // checkpoint parquet is protocol-shaped: protocol/metaData/add rows
    val ck = spark.read.parquet(
      f"$dir/_delta_log/${10L}%020d.checkpoint.parquet")
    assert(ck.columns.toSet == Set("protocol", "metaData", "add"))
    assert(ck.where("add is not null").count() == 1)     // one live file at v10
    assert(ck.where("metaData is not null").count() == 1)
    // checkpointed replay (spark) == full JSON replay (no spark)
    assert(DeltaExport.liveFiles(dir, Some(spark)) ==
      DeltaExport.liveFiles(dir))
    assert(DeltaExport.liveFiles(dir) == Seq("f12.parquet"))
  }

  test("expireVersions: tiers expire to keep-last, tombstoned files deleted, " +
      "retained versions replay, expired versions refuse loudly") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-dexp-wh").toString, spark)
    val t = cat.createTable("db", "pkexp", TableDescriptor(schema,
      primaryKey = Seq("dt", "k"), partitionKeys = Seq("dt"), numBuckets = 1))
    val out = Files.createTempDirectory("graft-dexp-out").toString
    rows(t, 0L, ("a", 1L, 1), ("b", 1L, 10))
    t.tierSnapshot(out, format = "delta")          // v0
    rows(t, 10L, ("a", 1L, 2))
    t.tierSnapshot(out, format = "delta")          // v1 (dt=a swapped)
    rows(t, 20L, ("a", 1L, 3), ("b", 1L, 30))
    t.tierSnapshot(out, format = "delta")          // v2 (both swapped)
    assert(DeltaExport.currentVersion(out).contains(2L))
    def dataOnDisk(): Set[String] = WarehouseIO.walkFiles(out)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .map(e => WarehouseIO.relativize(out, e.path))
      .filterNot(_.startsWith("_delta_log/")).toSet
    assert(dataOnDisk().size > DeltaExport.liveFiles(out, Some(spark)).size,
      "precondition: tombstoned files from v0/v1 on disk")

    val deleted = DeltaExport.expireHistory(spark, out, keepLast = 1)
    assert(deleted.nonEmpty)
    // all tombstoned files reclaimed; the live set reads back exactly
    assert(dataOnDisk() == DeltaExport.liveFiles(out, Some(spark)).toSet)
    val got = DeltaExport.readLive(spark, out)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq(("a", 1L, 3), ("b", 1L, 30)))
    // log truncated to the cutoff; the cutoff checkpoint carries replay state
    assert(DeltaExport.earliestVersion(out).contains(2L))
    assert(WarehouseIO.exists(
      f"$out/_delta_log/${2L}%020d.checkpoint.parquet"))
    // retained version replays via checkpoint; time travel matches readLive
    assert(DeltaExport.readVersion(spark, out, 2L)
      .select("dt", "k", "v").orderBy("dt", "k").collect().toSeq ==
      DeltaExport.readLive(spark, out)
        .select("dt", "k", "v").orderBy("dt", "k").collect().toSeq)
    // expired versions refuse with a clear error
    val exp = intercept[IllegalArgumentException](
      DeltaExport.liveFilesAt(out, 0L, Some(spark)))
    assert(exp.getMessage.contains("expired"), exp.getMessage)
    assert(exp.getMessage.contains("earliest readable version is 2"),
      exp.getMessage)
    // truncated-log replay without a session refuses, naming the fix
    val ns = intercept[IllegalStateException](DeltaExport.liveFiles(out))
    assert(ns.getMessage.contains("pass a SparkSession"), ns.getMessage)
    // expiry is idempotent and the table still tiers afterwards
    assert(DeltaExport.expireHistory(spark, out, keepLast = 1).isEmpty)
    rows(t, 30L, ("b", 1L, 40))
    assert(t.tierSnapshot(out, format = "delta")
      .contains("tiered overwrite snapshot"))
    assert(DeltaExport.currentVersion(out).contains(3L))
    assert(DeltaExport.readLive(spark, out).count() == 2)
  }

  test("expireVersions: cadence checkpoints satisfy the cutoff; " +
      "_last_checkpoint never regresses and never dangles") {
    val dir = Files.createTempDirectory("graft-dexp2").toString
    val sch = StructType(Seq(StructField("k", LongType)))
    def touchData(i: Int): Unit = WarehouseIO.rawPutBytes(
      s"$dir/f$i.parquet", Array[Byte](1))
    touchData(0)
    DeltaExport.write(dir, sch, Nil, Seq("f0.parquet" -> 10L), "src")
    (1 to 12).foreach { i =>
      touchData(i)
      DeltaExport.commit(dir, sch, Nil,
        Seq(s"f$i.parquet" -> (10L + i)), Set(s"f${i - 1}.parquet"),
        "src", checkpointWith = Some(spark))
    }
    // keep 3 -> cutoff 10, exactly the cadence checkpoint: no new
    // checkpoint needed, JSON 0..9 go, f0..f9 reclaimed
    val del1 = DeltaExport.expireHistory(spark, dir, keepLast = 3)
    assert(del1 == (0 to 9).map(i => s"f$i.parquet"))
    assert(DeltaExport.earliestVersion(dir).contains(10L))
    assert(DeltaExport.liveFilesAt(dir, 10L, Some(spark)) ==
      Seq("f10.parquet"))
    assert(DeltaExport.liveFiles(dir, Some(spark)) == Seq("f12.parquet"))
    // keep 2 -> cutoff 11: a NEW checkpoint at 11 is written, the v10
    // one is deleted, _last_checkpoint advances to 11
    val del2 = DeltaExport.expireHistory(spark, dir, keepLast = 2)
    assert(del2 == Seq("f10.parquet"))
    assert(!WarehouseIO.exists(
      f"$dir/_delta_log/${10L}%020d.checkpoint.parquet"))
    assert(WarehouseIO.exists(
      f"$dir/_delta_log/${11L}%020d.checkpoint.parquet"))
    assert(WarehouseIO.readString(s"$dir/_delta_log/_last_checkpoint")
      .contains("\"version\":11"))
    assert(DeltaExport.liveFilesAt(dir, 11L, Some(spark)) ==
      Seq("f11.parquet"))
    assert(DeltaExport.liveFiles(dir, Some(spark)) == Seq("f12.parquet"))
    // keeping more than history is a no-op
    assert(DeltaExport.expireHistory(spark, dir, keepLast = 99).isEmpty)
    intercept[IllegalArgumentException](
      DeltaExport.expireHistory(spark, dir, keepLast = 0))
  }
}
