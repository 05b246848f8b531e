package graft.core

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase

/** Hudi COW table-format export: no Hudi runtime ships in this
  * environment, so the spec validates the metadata the way a Hudi
  * reader would — list the `.hoodie/` timeline, parse the
  * `HoodieCommitMetadata` JSON of each completed instant, resolve file
  * groups through `partitionToWriteStats` / `partitionToReplaceFileIds`,
  * and check the live set + read-back against the table state.
  */
class HudiExportSpec extends SparkTestBase {
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

  test("hudi tiering: hoodie.properties + first commit instant, " +
      "incremental replacecommit swaps partitions, read-back through " +
      "timeline replay") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-hudi-wh").toString, spark)
    val t = cat.createTable("db", "pkhudi", TableDescriptor(schema,
      primaryKey = Seq("dt", "k"), partitionKeys = Seq("dt"), numBuckets = 2))
    rows(t, 0L, ("a", 1L, 1), ("b", 1L, 10))
    val out = Files.createTempDirectory("graft-hudi-out").toString

    // initial tier = full export with a .hoodie timeline
    val first = t.tierSnapshot(out, format = "hudi")
    assert(first.contains("hudi timeline instant 1"), first)
    val instants1 = HudiExport.completedInstants(out)
    assert(instants1.size == 1 && instants1.head._2 == "commit")
    val ts1 = instants1.head._1
    // timeline transition files exist the way Hudi writes them (the
    // commit action's inflight is extension-less)
    assert(WarehouseIO.exists(s"$out/.hoodie/$ts1.commit.requested"))
    assert(WarehouseIO.exists(s"$out/.hoodie/$ts1.inflight"))
    // hoodie.properties carries the table shape
    val props = WarehouseIO.readString(s"$out/.hoodie/hoodie.properties")
    assert(props.contains("hoodie.table.type=COPY_ON_WRITE"), props)
    assert(props.contains("hoodie.table.partition.fields=dt"), props)
    // tier offsets ride extraMetadata (the reference's
    // HudiLakeCommitter.java:114 posture), with provenance
    val tags = HudiExport.committedTierTags(out)
    assert(tags.contains(GraftTable.TierOffsetsKey), tags)
    assert(tags.get(HudiExport.SourceProp).contains(t.path), tags)
    assert(tags.get("commit-user").contains("graft-tiering"), tags)

    // incremental tier: changed partition's file groups retired through
    // a replacecommit; replaced files stay on disk for older instants
    rows(t, 10L, ("a", 1L, 2))
    val second = t.tierSnapshot(out, format = "hudi")
    assert(second.contains("tiered overwrite snapshot"), second)
    val instants2 = HudiExport.completedInstants(out)
    assert(instants2.size == 2 && instants2.last._2 == "replacecommit")
    val meta2 = JsonMethods.parse(WarehouseIO.readString(
      s"$out/.hoodie/${instants2.last._1}.replacecommit"))
      .asInstanceOf[JObject].obj.toMap
    assert(meta2("operationType") == JString("INSERT_OVERWRITE"))
    assert(meta2.contains("partitionToReplaceFileIds"))
    val live = HudiExport.liveFiles(out)
    val onDisk = WarehouseIO.walkFiles(out)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .map(e => WarehouseIO.relativize(out, e.path))
      .filterNot(r => r.split('/').exists(_.startsWith(".")))
    assert(onDisk.exists(!live.contains(_)),
      "replaced dt=a files must remain on disk for older instants")
    val got = HudiExport.readLive(spark, out)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq(("a", 1L, 2), ("b", 1L, 10)))

    // crash roll-forward bookkeeping round-trips through extraMetadata
    t.requireTierBase(HudiExport, out, JsonMethods
      .parse(HudiExport.committedTierTags(out)(
        GraftTable.TierOffsetsKey)).asInstanceOf[JObject].obj
      .map { case (k, v) => k.toInt -> v.asInstanceOf[JInt].num.toLong }.toMap)
    intercept[java.util.ConcurrentModificationException](
      t.requireTierBase(HudiExport, out, Map(0 -> 0L)))

    // idle tier is a no-op
    assert(t.tierSnapshot(out, format = "hudi").contains("already current"))
    assert(HudiExport.completedInstants(out).size == 2)

    // time travel: the first instant still reads the PRE-overwrite state
    val t1got = HudiExport.readInstant(spark, out, ts1)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(t1got == Seq(("a", 1L, 1), ("b", 1L, 10)))
    assert(HudiExport.liveFilesAt(out, instants2.last._1) ==
      HudiExport.liveFiles(out))
    val oob = intercept[IllegalArgumentException](
      HudiExport.liveFilesAt(out, "99999999999999999"))
    assert(oob.getMessage.contains("does not exist"))
  }

  test("hudi commit: put-if-absent instant publish conflicts loudly; " +
      "removes validated against the live set; instants strictly " +
      "increase") {
    val dir = Files.createTempDirectory("graft-hudi2").toString
    val sch = StructType(Seq(StructField("k", LongType)))
    val ts0 = HudiExport.write(dir, sch, Nil, Seq("f0.parquet" -> 10L), "src")
    // a concurrent lake-metadata holder makes the commit fail loudly
    assert(WarehouseIO.createExclusive(s"$dir/.hoodie/_graft.lock"))
    try intercept[java.util.ConcurrentModificationException](
      HudiExport.commit(dir, sch, Nil,
        Seq("x.parquet" -> 1L), Set.empty, "src"))
    finally WarehouseIO.deleteIfExists(s"$dir/.hoodie/_graft.lock")
    // removing a file that is not live is refused
    val e = intercept[IllegalArgumentException](
      HudiExport.commit(dir, sch, Nil, Nil, Set("nope.parquet"), "src"))
    assert(e.getMessage.contains("not live"))
    // removals against a fresh dir are refused (no silent append)
    val fresh = Files.createTempDirectory("graft-hudi2f").toString
    intercept[IllegalArgumentException](
      HudiExport.commit(fresh, sch, Nil, Nil, Set("nope.parquet"), "src"))
    // same-millisecond commits bump: the timeline stays strictly ordered
    val ts1 = HudiExport.commit(dir, sch, Nil,
      Seq("f1.parquet" -> 11L), Set.empty, "src")
    val ts2 = HudiExport.commit(dir, sch, Nil,
      Seq("f2.parquet" -> 12L), Set.empty, "src")
    assert(ts0 < ts1 && ts1 < ts2, Seq(ts0, ts1, ts2))
    assert(HudiExport.liveFiles(dir) ==
      Seq("f0.parquet", "f1.parquet", "f2.parquet"))
  }

  test("expireInstants: keep-last archives instants into a compacted " +
      "replay base, sweeps unreachable data files; archived instants " +
      "refuse loudly") {
    val dir = Files.createTempDirectory("graft-hudi3").toString
    val sch = StructType(Seq(StructField("k", LongType)))
    def touchData(i: Int): Unit = WarehouseIO.rawPutBytes(
      s"$dir/f$i.parquet", Array[Byte](1))
    touchData(0)
    HudiExport.write(dir, sch, Nil, Seq("f0.parquet" -> 10L), "src")
    val all = (1 to 4).map { i =>
      touchData(i)
      HudiExport.commit(dir, sch, Nil,
        Seq(s"f$i.parquet" -> (10L + i)), Set(s"f${i - 1}.parquet"), "src")
    }
    assert(HudiExport.completedInstants(dir).size == 5)
    // keep 2 -> last two instants retained; f0..f2 unreachable (f3 is
    // live at the 4th instant, f4 at the 5th)
    val deleted = HudiExport.expireHistory(spark, dir, keepLast = 2)
    assert(deleted == Seq("f0.parquet", "f1.parquet", "f2.parquet"), deleted)
    val retained = HudiExport.completedInstants(dir)
    assert(retained.size == 2)
    assert(HudiExport.liveFilesAt(dir, retained.head._1) ==
      Seq("f3.parquet"))
    assert(HudiExport.liveFiles(dir) == Seq("f4.parquet"))
    // the archived instant files moved (audit trail), replay base exists
    assert(WarehouseIO.exists(s"$dir/.hoodie/archived/state.json"))
    val exp = intercept[IllegalArgumentException](
      HudiExport.liveFilesAt(dir, all.head))
    assert(exp.getMessage.contains("archived"), exp.getMessage)
    // idempotent; keeping more than history is a no-op
    assert(HudiExport.expireHistory(spark, dir, keepLast = 2).isEmpty)
    assert(HudiExport.expireHistory(spark, dir, keepLast = 99).isEmpty)
    intercept[IllegalArgumentException](
      HudiExport.expireHistory(spark, dir, keepLast = 0))
    // history continues past an expiry: replay = compacted base + the
    // active tail, so a new commit still resolves correctly
    touchData(5)
    HudiExport.commit(dir, sch, Nil,
      Seq("f5.parquet" -> 15L), Set("f4.parquet"), "src")
    assert(HudiExport.liveFiles(dir) == Seq("f5.parquet"))
    assert(HudiExport.completedInstants(dir).size == 3)
    // crash resume: base written but instants not yet moved — replay
    // must not double-apply instants at or below the base's asOf. The
    // state file's asOf equals the newest archived instant; re-copying
    // an archived instant back into the active timeline simulates the
    // crash window.
    val archived = WarehouseIO.listDir(s"$dir/.hoodie/archived")
      .filterNot(_.isDir).map(_.name)
      .filter(_.matches("\\d+\\.(commit|replacecommit)"))
    val back = archived.max
    WarehouseIO.rawPutBytes(s"$dir/.hoodie/$back",
      WarehouseIO.readBytes(s"$dir/.hoodie/archived/$back"))
    assert(HudiExport.liveFiles(dir) == Seq("f5.parquet"),
      "an instant covered by the replay base must be skipped")
    WarehouseIO.deleteIfExists(s"$dir/.hoodie/$back")
    ()
  }

  test("lake maintenance + expire procedure work format-dispatched on " +
      "hudi") {
    val dir = Files.createTempDirectory("graft-hudi4").toString
    val sch = StructType(Seq(StructField("k", LongType)))
    WarehouseIO.rawPutBytes(s"$dir/g0.parquet", Array[Byte](1))
    HudiExport.write(dir, sch, Nil, Seq("g0.parquet" -> 1L), "src")
    WarehouseIO.rawPutBytes(s"$dir/g1.parquet", Array[Byte](1))
    HudiExport.commit(dir, sch, Nil,
      Seq("g1.parquet" -> 1L), Set("g0.parquet"), "src")
    val fmt = LakeFormatOps.of("hudi")
    assert(fmt.hasMetadata(dir))
    assert(fmt.liveFiles(spark, dir) == Seq("g1.parquet"))
    assert(fmt.expireHistory(spark, dir, 1) == Seq("g0.parquet"))
    assert(fmt.liveFiles(spark, dir) == Seq("g1.parquet"))
  }

  test("expiry crash window: time travel AT the base's asOf stays " +
      "readable while the instant is still active; strictly-below " +
      "refuses") {
    // the TRUE crash-window state: expireInstants published
    // archived/state.json but crashed BEFORE the archive moves (and so
    // before the orphan sweep) — every instant still active, every data
    // file still on disk. Reading AT asOf must answer with the base
    // (that IS the state as of that instant); strictly below must
    // refuse (replay would return the base's newer live set).
    val dir = Files.createTempDirectory("graft-hudi-cw").toString
    val sch = StructType(Seq(StructField("k", LongType)))
    def touchData(i: Int): Unit = WarehouseIO.rawPutBytes(
      s"$dir/f$i.parquet", Array[Byte](1))
    touchData(0)
    HudiExport.write(dir, sch, Nil, Seq("f0.parquet" -> 10L), "src")
    (1 to 2).foreach { i =>
      touchData(i)
      HudiExport.commit(dir, sch, Nil,
        Seq(s"f$i.parquet" -> (10L + i)), Set(s"f${i - 1}.parquet"), "src")
    }
    val instants = HudiExport.completedInstants(dir).map(_._1)
    assert(instants.size == 3)
    val asOf = instants(1) // base covers through the second instant
    // the base must key its live map by the commit-assigned fileId (a
    // UUID) — read it from the asOf instant's own metadata, like
    // expireInstants' liveEntries replay does
    val instantFile = WarehouseIO.listDir(s"$dir/.hoodie")
      .map(_.name).find(n => n == s"$asOf.commit" ||
        n == s"$asOf.replacecommit").get
    val meta = JsonMethods.parse(WarehouseIO.readString(
        s"$dir/.hoodie/$instantFile")).asInstanceOf[JObject].obj.toMap
    val stat = meta("partitionToWriteStats").asInstanceOf[JObject].obj
      .head._2.asInstanceOf[JArray].arr.head.asInstanceOf[JObject].obj.toMap
    val fid = stat("fileId").asInstanceOf[JString].s
    // hand-publish the base the way expireInstants does, then "crash"
    WarehouseIO.mkdirs(s"$dir/.hoodie/archived")
    CatalogJson.atomicWrite(s"$dir/.hoodie/archived/state.json",
      JsonMethods.pretty(JsonMethods.render(JObject(List(
        "asOf" -> (JString(asOf): JValue),
        "live" -> (JObject(List(fid -> (JObject(List(
          "path" -> (JString("f1.parquet"): JValue),
          "size" -> (JInt(11): JValue))): JValue))): JValue))))))
    // current state replays base + the tail above asOf
    assert(HudiExport.liveFiles(dir) == Seq("f2.parquet"))
    // AT asOf: the base answers exactly (file still on disk)
    assert(HudiExport.liveFilesAt(dir, asOf) == Seq("f1.parquet"))
    // strictly below asOf: refused even though the instant is active
    val e = intercept[IllegalArgumentException](
      HudiExport.liveFilesAt(dir, instants.head))
    assert(e.getMessage.contains("archived"), e.getMessage)
  }
}
