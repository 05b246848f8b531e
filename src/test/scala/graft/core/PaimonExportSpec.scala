package graft.core

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase

/** Paimon table-format export: no Paimon runtime ships in this
  * environment, so the spec validates the metadata the way a Paimon
  * reader would — parse the snapshot JSON, resolve base + delta manifest
  * lists through the Avro manifests, and check the live set + read-back
  * against the table state.
  */
class PaimonExportSpec extends SparkTestBase {
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

  test("paimon tiering: snapshot-1 schema + manifests, incremental commit " +
      "swaps partitions, read-back through base+delta manifests") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-paimon-wh").toString, spark)
    val t = cat.createTable("db", "pkpaimon", TableDescriptor(schema,
      primaryKey = Seq("dt", "k"), partitionKeys = Seq("dt"), numBuckets = 2,
      // pin the bucket-aligned layout (tiny tables auto-pick partition)
      properties = Map("table.datalake.layout" -> "bucket")))
    rows(t, 0L, ("a", 1L, 1), ("b", 1L, 10))
    val out = Files.createTempDirectory("graft-paimon-out").toString

    // initial tier = full export with Paimon metadata (ids start at 1)
    val first = t.tierSnapshot(out, format = "paimon")
    assert(first.contains("paimon snapshot 1"), first)
    assert(PaimonExport.currentSnapshotId(out).contains(1L))
    assert(PaimonExport.earliestSnapshotId(out).contains(1L))
    // snapshot-1 carries the spec's field names and first-commit shape
    val s1 = JsonMethods.parse(WarehouseIO.readString(
      s"$out/snapshot/snapshot-1")).asInstanceOf[JObject].obj.toMap
    assert(s1("version") == JInt(3) && s1("id") == JInt(1))
    assert(s1("commitKind") == JString("APPEND"))
    assert(s1("commitUser") == JString("graft-tiering"))
    assert(s1("schemaId") == JInt(0))
    // schema-0 has Paimon SQL types and the partition keys
    val sch = JsonMethods.parse(WarehouseIO.readString(
      s"$out/schema/schema-0")).asInstanceOf[JObject].obj.toMap
    assert(sch("partitionKeys") ==
      JArray(List(JString("dt"), JString("__bucket"))))
    val fieldTypes = sch("fields").asInstanceOf[JArray].arr.map { f =>
      val m = f.asInstanceOf[JObject].obj.toMap
      m("name").asInstanceOf[JString].s -> m("type").asInstanceOf[JString].s
    }.toMap
    assert(fieldTypes("k") == "BIGINT" && fieldTypes("v") == "INT" &&
      fieldTypes("dt") == "STRING")
    // tier offsets ride the snapshot's logOffsets (spec-native) AND the
    // properties map (the reference's PaimonLakeCommitter posture)
    val tags = PaimonExport.committedTierTags(out)
    assert(tags.contains(GraftTable.TierOffsetsKey))
    assert(s1("logOffsets").asInstanceOf[JObject].obj.nonEmpty)
    // provenance: the source table path is stamped like Iceberg's
    // graft.source property / Delta's metaData.name
    assert(tags.get(PaimonExport.SourceProp).contains(t.path), tags)

    // incremental tier: changed partition swapped (OVERWRITE), replaced
    // files tombstoned through the delta manifest but still on disk
    rows(t, 10L, ("a", 1L, 2))
    val second = t.tierSnapshot(out, format = "paimon")
    assert(second.contains("tiered overwrite snapshot"), second)
    assert(PaimonExport.currentSnapshotId(out).contains(2L))
    val s2 = JsonMethods.parse(WarehouseIO.readString(
      s"$out/snapshot/snapshot-2")).asInstanceOf[JObject].obj.toMap
    assert(s2("commitKind") == JString("OVERWRITE"))
    val live = PaimonExport.liveFiles(out)
    val onDisk = WarehouseIO.walkFiles(out)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .map(e => WarehouseIO.relativize(out, e.path))
    assert(onDisk.exists(!live.contains(_)),
      "replaced dt=a files must remain on disk for older snapshots")
    val got = PaimonExport.readLive(spark, out)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq(("a", 1L, 2), ("b", 1L, 10)))

    // crash roll-forward bookkeeping round-trips through the properties
    t.requireTierBase(PaimonExport, out, JsonMethods
      .parse(PaimonExport.committedTierTags(out)(
        GraftTable.TierOffsetsKey)).asInstanceOf[JObject].obj
      .map { case (k, v) => k.toInt -> v.asInstanceOf[JInt].num.toLong }.toMap)
    intercept[java.util.ConcurrentModificationException](
      t.requireTierBase(PaimonExport, out, Map(0 -> 0L)))

    // idle tier is a no-op
    assert(t.tierSnapshot(out, format = "paimon").contains("already current"))
    assert(PaimonExport.currentSnapshotId(out).contains(2L))

    // time travel: snapshot 1 still reads the PRE-overwrite state
    val s1got = PaimonExport.readSnapshot(spark, out, 1L)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(s1got == Seq(("a", 1L, 1), ("b", 1L, 10)))
    assert(PaimonExport.liveFilesAt(out, 2L) == PaimonExport.liveFiles(out))
    val oob = intercept[IllegalArgumentException](
      PaimonExport.liveFilesAt(out, 3L))
    assert(oob.getMessage.contains("does not exist"))
  }

  test("paimon commit: put-if-absent snapshot publish conflicts loudly; " +
      "removes validated against the live set") {
    val dir = Files.createTempDirectory("graft-paimon2").toString
    val sch = StructType(Seq(StructField("k", LongType)))
    PaimonExport.write(dir, sch, Nil, Seq("f0.parquet" -> 10L), "src")
    // a concurrent lake-metadata holder makes the commit fail loudly
    assert(WarehouseIO.createExclusive(s"$dir/snapshot/_graft.lock"))
    try intercept[java.util.ConcurrentModificationException](
      PaimonExport.commit(dir, sch, Nil,
        Seq("x.parquet" -> 1L), Set.empty, "src"))
    finally WarehouseIO.deleteIfExists(s"$dir/snapshot/_graft.lock")
    // removing a file that is not live is refused
    val e = intercept[IllegalArgumentException](
      PaimonExport.commit(dir, sch, Nil, Nil, Set("nope.parquet"), "src"))
    assert(e.getMessage.contains("not live"))
    // removals against a fresh dir are refused (no silent append)
    val fresh = Files.createTempDirectory("graft-paimon2f").toString
    intercept[IllegalArgumentException](
      PaimonExport.commit(fresh, sch, Nil, Nil, Set("nope.parquet"), "src"))
  }

  test("expireSnapshots: keep-last truncates history, sweeps unreachable " +
      "data files and manifests; expired snapshots refuse loudly") {
    val dir = Files.createTempDirectory("graft-paimon3").toString
    val sch = StructType(Seq(StructField("k", LongType)))
    def touchData(i: Int): Unit = WarehouseIO.rawPutBytes(
      s"$dir/f$i.parquet", Array[Byte](1))
    touchData(0)
    PaimonExport.write(dir, sch, Nil, Seq("f0.parquet" -> 10L), "src")
    (1 to 4).foreach { i =>
      touchData(i)
      PaimonExport.commit(dir, sch, Nil,
        Seq(s"f$i.parquet" -> (10L + i)), Set(s"f${i - 1}.parquet"), "src")
    }
    assert(PaimonExport.currentSnapshotId(dir).contains(5L))
    // keep 2 -> snapshots 4,5 retained; f0..f2 unreachable (f3 is live
    // at snapshot 4, f4 at 5)
    val deleted = PaimonExport.expireHistory(spark, dir, keepLast = 2)
    assert(deleted.filter(_.endsWith(".parquet")).filterNot(
      _.startsWith("manifest/")) == Seq("f0.parquet", "f1.parquet",
      "f2.parquet"), deleted)
    // manifests reachable only from expired snapshots are reclaimed too
    // (they carry no extension — the sweep must not demand one), and
    // every manifest left on disk is reachable from a retained snapshot
    assert(deleted.exists(_.startsWith("manifest/")), deleted)
    val reachable = Seq(4L, 5L).flatMap { id =>
      PaimonExport.manifestFilesAt(dir, id)
    }.toSet
    val onDisk = WarehouseIO.listDir(s"$dir/manifest").filterNot(_.isDir)
      .map(e => s"manifest/${e.name}").toSet
    assert(onDisk == reachable, s"orphan manifests: ${onDisk -- reachable}")
    assert(PaimonExport.earliestSnapshotId(dir).contains(4L))
    assert(!WarehouseIO.exists(s"$dir/snapshot/snapshot-3"))
    assert(PaimonExport.liveFilesAt(dir, 4L) == Seq("f3.parquet"))
    assert(PaimonExport.liveFiles(dir) == Seq("f4.parquet"))
    val exp = intercept[IllegalArgumentException](
      PaimonExport.liveFilesAt(dir, 2L))
    assert(exp.getMessage.contains("expired"), exp.getMessage)
    assert(exp.getMessage.contains("earliest retained snapshot is 4"),
      exp.getMessage)
    // idempotent; keeping more than history is a no-op
    assert(PaimonExport.expireHistory(spark, dir, keepLast = 2).isEmpty)
    assert(PaimonExport.expireHistory(spark, dir, keepLast = 99).isEmpty)
    intercept[IllegalArgumentException](
      PaimonExport.expireHistory(spark, dir, keepLast = 0))
    // history continues past an expiry
    touchData(5)
    PaimonExport.commit(dir, sch, Nil,
      Seq("f5.parquet" -> 15L), Set("f4.parquet"), "src")
    assert(PaimonExport.currentSnapshotId(dir).contains(6L))
    assert(PaimonExport.liveFiles(dir) == Seq("f5.parquet"))
    // crash resume: a prior run advanced EARLIEST but died before the
    // snapshot-file deletes; the re-run sweeps from the ACTUAL listing
    // even though cutoff == earliest (no hint advance this time)
    WarehouseIO.atomicWriteString(s"$dir/snapshot/EARLIEST", "6")
    assert(WarehouseIO.exists(s"$dir/snapshot/snapshot-4"))
    PaimonExport.expireHistory(spark, dir, keepLast = 99)
    assert(!WarehouseIO.exists(s"$dir/snapshot/snapshot-4"))
    assert(!WarehouseIO.exists(s"$dir/snapshot/snapshot-5"))
    assert(WarehouseIO.exists(s"$dir/snapshot/snapshot-6"))
    assert(PaimonExport.liveFiles(dir) == Seq("f5.parquet"))
  }

  test("paimonType: Spark -> Paimon SQL type strings") {
    assert(PaimonExport.paimonType(LongType) == "BIGINT")
    assert(PaimonExport.paimonType(StringType) == "STRING")
    assert(PaimonExport.paimonType(DecimalType(18, 6)) == "DECIMAL(18, 6)")
    assert(PaimonExport.paimonType(ArrayType(DoubleType)) == "ARRAY<DOUBLE>")
    assert(PaimonExport.paimonType(MapType(StringType, LongType)) ==
      "MAP<STRING, BIGINT>")
    assert(PaimonExport.paimonType(StructType(Seq(
      StructField("a", IntegerType)))) == "ROW<a INT>")
    intercept[IllegalArgumentException](
      PaimonExport.paimonType(CalendarIntervalType))
  }
}
