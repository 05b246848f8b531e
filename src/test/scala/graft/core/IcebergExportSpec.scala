package graft.core

import java.nio.file.Files

import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.SparkTestBase

/** Iceberg-v2 export metadata shape: no Iceberg runtime ships in this
  * environment, so the spec validates the artifacts the way an engine's
  * reader would — parse `metadata/v1.metadata.json`, follow
  * `manifest-list` to the Avro manifest list, follow `manifest_path` to
  * the Avro manifest, and check the file inventory + record counts +
  * partition tuples against the actual parquet.
  */
class IcebergExportSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private def readAvro(path: String): (Seq[GenericRecord], Map[String, String]) = {
    val in = new SeekableByteArrayInput(WarehouseIO.readBytes(path))
    val r = new DataFileReader[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try {
      val metaKeys = r.getMetaKeys.asScala.toSeq
      val meta = metaKeys.filterNot(_.startsWith("avro."))
        .map(k => k -> r.getMetaString(k)).toMap
      (r.iterator().asScala.toVector, meta)
    } finally r.close()
  }

  private def stripScheme(p: String): String =
    if (p.startsWith("file:")) new java.net.URI(p).getPath else p

  test("iceberg export: metadata.json -> manifest list -> manifest -> data files") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-iceberg-wh").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType),
      StructField("v", IntegerType),
      StructField("tags", ArrayType(StringType)),
      StructField("dt", StringType)))
    val t = cat.createTable("db", "ice", TableDescriptor(schema,
      primaryKey = Seq("dt", "k"), partitionKeys = Seq("dt"), numBuckets = 2,
      // this spec pins the bucket-aligned layout (tiny tables auto-pick
      // the partition layout otherwise)
      properties = Map("table.datalake.layout" -> "bucket")))
    def rows(r: (Long, Integer, Seq[String], String)*) = spark.createDataFrame(
      r.zipWithIndex.map { case ((k, v, tg, dt), i) =>
        Row(k, v, tg, dt, i.toLong) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))
    t.upsert(rows(
      (1L, Int.box(1), Seq("a"), "2024-01-01"),
      (2L, Int.box(2), Seq("b", "c"), "2024-01-01"),
      (3L, Int.box(3), Seq(), "2024-01-02")), orderBy = Seq(col("ord")))
    t.upsert(rows((1L, Int.box(10), Seq("a2"), "2024-01-01")),
      orderBy = Seq(col("ord")))

    val out = Files.createTempDirectory("graft-iceberg-out").toString
    t.exportSnapshot(out, lake = Some("iceberg"))

    // version hint + table metadata
    assert(WarehouseIO.readString(s"$out/metadata/version-hint.text") == "1")
    val md = JsonMethods.parse(
      WarehouseIO.readString(s"$out/metadata/v1.metadata.json"))
      .asInstanceOf[JObject].obj.toMap
    assert(md("format-version") == JInt(2))
    val snapId = md("current-snapshot-id").asInstanceOf[JInt].num.toLong
    val snaps = md("snapshots").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JObject].obj.toMap)
    assert(snaps.map(_("snapshot-id")) == List(JInt(snapId)))
    // schema: distinct positive field ids; last-column-id covers nested
    val fields = md("schemas").asInstanceOf[JArray].arr.head
      .asInstanceOf[JObject].obj.toMap.apply("fields")
      .asInstanceOf[JArray].arr.map(_.asInstanceOf[JObject].obj.toMap)
    // bucket-aligned layout: the lake schema carries __bucket as the
    // innermost partition column (the reference's paimon lake tables
    // keep the same system column)
    assert(fields.map(f => f("name").asInstanceOf[JString].s) ==
      List("k", "v", "tags", "dt", "__bucket"))
    val ids = fields.map(_("id").asInstanceOf[JInt].num.toInt)
    assert(ids == ids.distinct && ids.forall(_ > 0))
    assert(md("last-column-id").asInstanceOf[JInt].num.toInt > ids.max,
      "array element id must be allocated beyond the top-level ids")
    // partition spec: identity on (dt, __bucket), sourced from their ids
    val specFields = md("partition-specs").asInstanceOf[JArray].arr.head
      .asInstanceOf[JObject].obj.toMap.apply("fields")
      .asInstanceOf[JArray].arr.map(_.asInstanceOf[JObject].obj.toMap)
    assert(specFields.map(_("transform")) ==
      List(JString("identity"), JString("identity")))
    assert(specFields.map(_("source-id")) == List(JInt(ids(3)), JInt(ids(4))))
    assert(specFields.map(_("field-id")) == List(JInt(1000), JInt(1001)))
    val spec = specFields.head

    // manifest list -> manifest
    val listPath = stripScheme(snaps.head("manifest-list")
      .asInstanceOf[JString].s)
    val (mlRecords, mlMeta) = readAvro(listPath)
    assert(mlMeta.get("format-version").contains("2"))
    assert(mlRecords.length == 1)
    val mf = mlRecords.head
    assert(mf.get("added_snapshot_id") == snapId)
    val manifestPath = stripScheme(mf.get("manifest_path").toString)
    assert(mf.get("manifest_length") == WarehouseIO.size(manifestPath))

    val (entries, mMeta) = readAvro(manifestPath)
    assert(mMeta.get("format-version").contains("2"))
    assert(mMeta.get("content").contains("data"))
    assert(mMeta("schema").contains("\"fields\""))
    // the data-file inventory matches the parquet on disk, byte for byte
    val onDisk = WarehouseIO.walkFiles(out)
      .filter(e => e.name.endsWith(".parquet"))
      .map(e => stripScheme(WarehouseIO.qualify(e.path)) -> e.len).toMap
    val listed = entries.map { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      stripScheme(df.get("file_path").toString) ->
        df.get("file_size_in_bytes").asInstanceOf[Long]
    }.toMap
    assert(listed == onDisk)
    // record counts from the footers sum to the table row count
    val totalRows = entries.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count").asInstanceOf[Long]).sum
    assert(totalRows == t.scan().count())
    assert(mf.get("added_rows_count") == totalRows)
    // partition tuples match the hive directories the files sit in
    entries.foreach { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val dt = df.get("partition").asInstanceOf[GenericRecord]
        .get("dt").toString
      assert(df.get("file_path").toString.contains(s"dt=$dt"))
    }
  }

  test("column bounds: lower/upper/null counts from the parquet footers") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-iceberg-wh3").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", IntegerType),
      StructField("s", StringType)))
    val t = cat.createTable("db", "bounds",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 1))
    t.upsert(spark.createDataFrame(Seq(
      Row(5L, Int.box(7), "mango", 0L), Row(9L, Int.box(-3), "apple", 1L),
      Row(2L, null, "zebra", 2L)).asJava,
      StructType(schema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-iceberg-bounds").toString
    t.exportSnapshot(out, lake = Some("iceberg"))
    val md = JsonMethods.parse(
      WarehouseIO.readString(s"$out/metadata/v1.metadata.json"))
      .asInstanceOf[JObject].obj.toMap
    val listPath = stripScheme(md("snapshots").asInstanceOf[JArray].arr.head
      .asInstanceOf[JObject].obj.toMap.apply("manifest-list")
      .asInstanceOf[JString].s)
    val manifestPath = stripScheme(readAvro(listPath)._1.head
      .get("manifest_path").toString)
    val (entries, _) = readAvro(manifestPath)
    assert(entries.size == 1)
    val df = entries.head.get("data_file").asInstanceOf[GenericRecord]
    def m(field: String): Map[Int, Any] =
      df.get(field).asInstanceOf[java.util.List[GenericRecord]].asScala
        .map(r => r.get("key").asInstanceOf[Int] -> r.get("value")).toMap
    def le(b: Any): java.nio.ByteBuffer =
      b.asInstanceOf[java.nio.ByteBuffer].duplicate()
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // field ids are position+1 (pre-order allocation: k=1, v=2, s=3)
    assert(m("value_counts") == Map(1 -> 3L, 2 -> 3L, 3 -> 3L))
    assert(m("null_value_counts") == Map(1 -> 0L, 2 -> 1L, 3 -> 0L))
    val lo = m("lower_bounds"); val hi = m("upper_bounds")
    assert(le(lo(1)).getLong == 2L && le(hi(1)).getLong == 9L)
    assert(le(lo(2)).getInt == -3 && le(hi(2)).getInt == 7)
    def utf8(b: Any): String = {
      val bb = b.asInstanceOf[java.nio.ByteBuffer].duplicate()
      val arr = new Array[Byte](bb.remaining()); bb.get(arr)
      new String(arr, java.nio.charset.StandardCharsets.UTF_8)
    }
    assert(utf8(lo(3)) == "apple" && utf8(hi(3)) == "zebra")
    assert(m("column_sizes").keySet == Set(1, 2, 3))
  }

  test("a '+' in a string partition value survives into the manifests") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-iceberg-wh4").toString, spark)
    val schema = StructType(Seq(
      StructField("lang", StringType), StructField("k", LongType),
      StructField("v", IntegerType)))
    val t = cat.createTable("db", "plus", TableDescriptor(schema,
      primaryKey = Seq("lang", "k"), partitionKeys = Seq("lang"),
      numBuckets = 1))
    t.upsert(spark.createDataFrame(Seq(
      Row("c++", 1L, Int.box(1), 0L), Row("go go", 2L, Int.box(2), 1L)).asJava,
      StructType(schema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-iceberg-plus").toString
    t.exportSnapshot(out, lake = Some("iceberg"))
    val md = JsonMethods.parse(
      WarehouseIO.readString(s"$out/metadata/v1.metadata.json"))
      .asInstanceOf[JObject].obj.toMap
    val listPath = stripScheme(md("snapshots").asInstanceOf[JArray].arr.head
      .asInstanceOf[JObject].obj.toMap.apply("manifest-list")
      .asInstanceOf[JString].s)
    val manifestPath = stripScheme(readAvro(listPath)._1.head
      .get("manifest_path").toString)
    val langs = readAvro(manifestPath)._1.map(
      _.get("data_file").asInstanceOf[GenericRecord]
        .get("partition").asInstanceOf[GenericRecord].get("lang").toString)
      .toSet
    // URLDecoder would have turned 'c++' into 'c  ' — exact inverse of
    // Spark's escapePathName is required
    assert(langs == Set("c++", "go go"))
  }

  test("incremental tiering on a log table: FastAppend, manifests carried forward") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-tier-wh1").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", IntegerType)))
    val t = cat.createTable("db", "applog",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    def rows(kv: (Long, Int)*) = spark.createDataFrame(
      kv.zipWithIndex.map { case ((k, v), i) =>
        Row(k, Int.box(v), i.toLong) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))
    t.append(rows(1L -> 1, 2L -> 2, 3L -> 3), orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-tier-out1").toString
    assert(t.tierSnapshot(out).startsWith("initial full export"))
    val firstFiles = IcebergExport.liveFiles(out)
    // second batch -> only the delta moves
    t.append(rows(4L -> 4, 5L -> 5), orderBy = Seq(col("ord")))
    val msg = t.tierSnapshot(out)
    assert(msg.contains("tiered append snapshot"), msg)
    assert(WarehouseIO.readString(s"$out/metadata/version-hint.text") == "2")
    val md = JsonMethods.parse(
      WarehouseIO.readString(s"$out/metadata/v2.metadata.json"))
      .asInstanceOf[JObject].obj.toMap
    val snaps = md("snapshots").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JObject].obj.toMap)
    assert(snaps.size == 2)
    assert(md("last-sequence-number") == JInt(2))
    val curId = md("current-snapshot-id").asInstanceOf[JInt].num.toLong
    val cur = snaps.find(_("snapshot-id") == JInt(curId)).get
    assert(cur("sequence-number") == JInt(2))
    assert(cur("parent-snapshot-id") ==
      snaps.filterNot(_ == cur).head("snapshot-id"))
    // manifest list: the v1 manifest carried forward + one new manifest
    val listPath = stripScheme(cur("manifest-list").asInstanceOf[JString].s)
    val (mfs, _) = readAvro(listPath)
    assert(mfs.size == 2)
    assert(mfs.map(_.get("added_files_count").asInstanceOf[Int]).sum ==
      IcebergExport.liveFiles(out).size)
    // the initial files were NOT rewritten
    assert(firstFiles.toSet.subsetOf(IcebergExport.liveFiles(out).toSet))
    // live read equals the table
    val got = IcebergExport.readLive(spark, out)
      .select("k", "v").orderBy("k").collect().map(r =>
        r.getLong(0) -> r.getInt(1)).toSeq
    assert(got == Seq(1L -> 1, 2L -> 2, 3L -> 3, 4L -> 4, 5L -> 5))
    // a third call with nothing new is a no-op
    assert(t.tierSnapshot(out).startsWith("already current"))
    assert(WarehouseIO.readString(s"$out/metadata/version-hint.text") == "2")
  }

  test("unpartitioned PK tier rewrites only the changed BUCKETS") {
    // the 100 TB property: before bucket alignment an unpartitioned PK
    // table re-exported its ENTIRE state every tier (changedDirs = {""});
    // now the tier is O(buckets the delta touched)
    val cat = new Catalog(
      Files.createTempDirectory("graft-tier-whb").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", IntegerType)))
    val t = cat.createTable("db", "pkflat", TableDescriptor(schema,
      primaryKey = Seq("k"), numBuckets = 4,
      properties = Map("table.datalake.layout" -> "bucket")))
    def rows(r: (Long, Int)*)(ordBase: Long) = spark.createDataFrame(
      r.zipWithIndex.map { case ((k, v), i) =>
        Row(k, Int.box(v), ordBase + i) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))
    t.upsert(rows((1L to 8L).map(k => k -> k.toInt * 10): _*)(0L),
      orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-tier-outb").toString
    assert(t.tierSnapshot(out).startsWith("initial full export"))
    val before = IcebergExport.liveFiles(out)
    assert(before.forall(_.startsWith("__bucket=")), before)
    // touch ONE key -> exactly its bucket refreshes
    t.upsert(rows(3L -> 333)(100L), orderBy = Seq(col("ord")))
    val msg = t.tierSnapshot(out)
    val b = spark.sql("SELECT pmod(hash(CAST(3 AS BIGINT)), 4)")
      .head.getInt(0)
    assert(msg.contains("1 partition(s) refreshed"), msg)
    val after = IcebergExport.liveFiles(out)
    assert(after.filterNot(_.startsWith(s"__bucket=$b/")) ==
      before.filterNot(_.startsWith(s"__bucket=$b/")),
      "untouched buckets must keep their exact files")
    assert(after.filter(_.startsWith(s"__bucket=$b/"))
      .forall(!before.contains(_)))
    // live read equals the table's merged state
    val got = IcebergExport.readLive(spark, out)
      .select("k", "v").orderBy("k").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq
    assert(got == t.scan().select("k", "v").orderBy("k").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toSeq)
    assert(got.contains(3L -> 333) && got.size == 8)
  }

  test("export layout guard: small tables auto-pick the partition " +
      "layout; the property and the size floor flip it") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-layout-wh").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", IntegerType)))
    def rows(ordBase: Long) = spark.createDataFrame(
      (1L to 8L).zipWithIndex.map { case (k, i) =>
        Row(k, Int.box(k.toInt * 10), ordBase + i) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))
    // AUTO on a tiny table: one file per bucket dir would be a
    // small-file regime -> partition-level layout, and tiers keep
    // honoring it (the manifest pins the layout for the export's life)
    val small = cat.createTable("db", "lysmall", TableDescriptor(schema,
      primaryKey = Seq("k"), numBuckets = 4))
    small.upsert(rows(0L), orderBy = Seq(col("ord")))
    val outSmall = Files.createTempDirectory("graft-layout-s").toString
    small.tierSnapshot(outSmall)
    assert(IcebergExport.liveFiles(outSmall)
      .forall(!_.contains("__bucket=")), IcebergExport.liveFiles(outSmall))
    small.upsert(spark.createDataFrame(Seq(Row(3L, Int.box(333), 100L)).asJava,
      StructType(schema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))
    small.tierSnapshot(outSmall) // incremental tier keeps the layout
    assert(IcebergExport.liveFiles(outSmall)
      .forall(!_.contains("__bucket=")))
    val got = IcebergExport.readLive(spark, outSmall)
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(3L) == 333 && got.size == 8)
    // a zero size floor makes the SAME data bucket-align (the 'large
    // table' side of the threshold, without gigabytes of fixture)
    val big = cat.createTable("db", "lybig", TableDescriptor(schema,
      primaryKey = Seq("k"), numBuckets = 4,
      properties = Map("table.datalake.layout.min-bucket-bytes" -> "0")))
    big.upsert(rows(0L), orderBy = Seq(col("ord")))
    val outBig = Files.createTempDirectory("graft-layout-b").toString
    big.tierSnapshot(outBig)
    assert(IcebergExport.liveFiles(outBig).forall(_.startsWith("__bucket=")),
      IcebergExport.liveFiles(outBig))
    // explicit 'partition' pin wins over the floor
    val pinned = cat.createTable("db", "lypin", TableDescriptor(schema,
      primaryKey = Seq("k"), numBuckets = 4,
      properties = Map("table.datalake.layout" -> "partition",
        "table.datalake.layout.min-bucket-bytes" -> "0")))
    pinned.upsert(rows(0L), orderBy = Seq(col("ord")))
    val outPin = Files.createTempDirectory("graft-layout-p").toString
    pinned.exportSnapshot(outPin, lake = Some("iceberg"))
    assert(IcebergExport.liveFiles(outPin).forall(!_.contains("__bucket=")))
  }

  test("incremental tiering on a partitioned PK table: only changed partitions move") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-tier-wh2").toString, spark)
    val schema = StructType(Seq(
      StructField("dt", StringType), StructField("k", LongType),
      StructField("v", IntegerType)))
    val t = cat.createTable("db", "pkpart", TableDescriptor(schema,
      primaryKey = Seq("dt", "k"), partitionKeys = Seq("dt"), numBuckets = 2,
      properties = Map("table.datalake.layout" -> "bucket")))
    def rows(r: (String, Long, Int)*)(ordBase: Long) = spark.createDataFrame(
      r.zipWithIndex.map { case ((dt, k, v), i) =>
        Row(dt, k, Int.box(v), ordBase + i) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))
    t.upsert(rows(("a", 1L, 1), ("a", 2L, 2), ("b", 1L, 10),
      ("c", 1L, 100))(0L), orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-tier-out2").toString
    assert(t.tierSnapshot(out).startsWith("initial full export"))
    val before = IcebergExport.liveFiles(out)
    val untouchedBefore = before.filterNot(_.startsWith("dt=a/"))
    // touch ONLY partition a
    t.upsert(rows(("a", 2L, 22), ("a", 3L, 3))(100L), orderBy = Seq(col("ord")))
    val msg = t.tierSnapshot(out)
    assert(msg.contains("tiered overwrite snapshot"), msg)
    // bucket-aligned granularity: only the (dt=a, bucket) dirs the delta
    // touched are refreshed — k=2 and k=3's buckets, computed the way
    // the writer assigns them
    val touchedBuckets = Seq(2L, 3L).map(k => spark.sql(
      s"SELECT pmod(hash(CAST($k AS BIGINT)), 2)").head.getInt(0)).toSet
    assert(msg.contains(s"${touchedBuckets.size} partition(s) refreshed"),
      msg)
    val changedDirs = touchedBuckets.map(b => s"dt=a/__bucket=$b/")
    val after = IcebergExport.liveFiles(out)
    // every untouched dir — other partitions AND a's untouched buckets —
    // keeps its exact files; the changed dirs were fully replaced
    assert(after.filterNot(f => changedDirs.exists(f.startsWith)) ==
      before.filterNot(f => changedDirs.exists(f.startsWith)))
    assert(after.filterNot(_.startsWith("dt=a/")) == untouchedBefore)
    assert(after.filter(f => changedDirs.exists(f.startsWith))
      .forall(!before.contains(_)))
    // live read equals the table's current state
    val got = IcebergExport.readLive(spark, out)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq(("a", 1L, 1), ("a", 2L, 22), ("a", 3L, 3),
      ("b", 1L, 10), ("c", 1L, 100)))
    assert(got == t.scan().select("dt", "k", "v").orderBy("dt", "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq)
    // the v1 snapshot stays readable: replaced files remain on disk and
    // v1's manifest list still resolves them (lake history is expired by
    // the lake catalog, not the tier)
    val md1 = JsonMethods.parse(
      WarehouseIO.readString(s"$out/metadata/v1.metadata.json"))
      .asInstanceOf[JObject].obj.toMap
    val list1 = stripScheme(md1("snapshots").asInstanceOf[JArray].arr.head
      .asInstanceOf[JObject].obj.toMap.apply("manifest-list")
      .asInstanceOf[JString].s)
    val v1Files = readAvro(list1)._1.flatMap { mf =>
      readAvro(stripScheme(mf.get("manifest_path").toString))._1
    }.map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("file_path").toString)
    v1Files.foreach(p => assert(WarehouseIO.exists(stripScheme(p)), p))
    // v2 manifest: DELETED tombstones for a's old files, EXISTING for rest
    val md2 = JsonMethods.parse(
      WarehouseIO.readString(s"$out/metadata/v2.metadata.json"))
      .asInstanceOf[JObject].obj.toMap
    val curId = md2("current-snapshot-id").asInstanceOf[JInt].num.toLong
    val list2 = stripScheme(md2("snapshots").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JObject].obj.toMap)
      .find(_("snapshot-id") == JInt(curId)).get
      .apply("manifest-list").asInstanceOf[JString].s)
    val (mfs2, _) = readAvro(list2)
    assert(mfs2.size == 1) // merged manifest
    val entries2 = readAvro(stripScheme(mfs2.head
      .get("manifest_path").toString))._1
    val byStatus = entries2.groupBy(_.get("status").asInstanceOf[Int])
    assert(byStatus(2).map(_.get("data_file").asInstanceOf[GenericRecord]
      .get("file_path").toString).forall(_.contains("dt=a/")))
    assert(byStatus(0).nonEmpty && byStatus(1).nonEmpty)
    // EXISTING entries kept their stats without a footer re-crawl
    byStatus(0).foreach { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      assert(df.get("record_count").asInstanceOf[Long] > 0L)
      assert(df.get("value_counts") != null)
    }
  }

  test("lake lock: a held lock makes commit/expire fail loudly instead of racing") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-lock-wh").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", IntegerType)))
    val t = cat.createTable("db", "locklog",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    t.append(spark.createDataFrame(
      Seq(Row(1L, Int.box(1), 0L)).asJava,
      StructType(schema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-lock-out").toString
    t.tierSnapshot(out)
    // simulate a concurrent lake-metadata operation holding the lock
    assert(WarehouseIO.createExclusive(s"$out/metadata/_lake.lock"))
    try {
      intercept[java.util.ConcurrentModificationException](
        IcebergExport.expireHistory(spark, out, 1))
      t.append(spark.createDataFrame(
        Seq(Row(2L, Int.box(2), 1L)).asJava,
        StructType(schema.fields :+ StructField("ord", LongType))),
        orderBy = Seq(col("ord")))
      intercept[java.util.ConcurrentModificationException](t.tierSnapshot(out))
    } finally WarehouseIO.deleteIfExists(s"$out/metadata/_lake.lock")
    // released → both proceed
    assert(t.tierSnapshot(out).contains("tiered append snapshot"))
    assert(IcebergExport.expireHistory(spark, out, 1).nonEmpty)
    assert(IcebergExport.readLive(spark, out).count() == 2)
  }

  test("lake lock: re-entrant per thread; concurrent-tier base mismatch aborts") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-reent-wh").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", IntegerType)))
    val t = cat.createTable("db", "reentlog",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    t.append(spark.createDataFrame(
      Seq(Row(1L, Int.box(1), 0L)).asJava,
      StructType(schema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-reent-out").toString
    // nested acquisition on the same thread runs the body (tierSnapshot
    // wraps publish -> commit in one lock; commit re-acquires inside)
    assert(IcebergExport.withLock(out + "-probe") {
      IcebergExport.withLock(out + "-probe") { 42 }
    } == 42)
    assert(!WarehouseIO.exists(s"$out-probe/metadata/_lake.lock"))
    t.tierSnapshot(out)
    // the committed summary offsets ARE the valid base; any other base
    // means a concurrent tier advanced the lake first -> loud abort
    val committed = IcebergExport.committedTierTags(out)(
      GraftTable.TierOffsetsKey)
    t.requireTierBase(IcebergExport, out,
      org.json4s.jackson.JsonMethods.parse(committed)
        .asInstanceOf[org.json4s.JObject].obj
        .map { case (k, v) =>
          k.toInt -> v.asInstanceOf[org.json4s.JInt].num.toLong }.toMap)
    intercept[java.util.ConcurrentModificationException](
      t.requireTierBase(IcebergExport, out, Map(0 -> 0L, 1 -> 0L)))
    // heartbeat plumbing: touch moves the lock's mtime forward
    val probe = s"$out/touch-probe"
    assert(WarehouseIO.createExclusive(probe))
    val before = WarehouseIO.mtimeMillis(probe)
    Thread.sleep(5)
    WarehouseIO.touch(probe)
    assert(WarehouseIO.mtimeMillis(probe) >= before)
    WarehouseIO.deleteIfExists(probe)
  }

  test("snapshot expiration: unreachable files deleted, current read intact, " +
      "expired reads fail loudly, tiering continues") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-expire-wh").toString, spark)
    val schema = StructType(Seq(
      StructField("dt", StringType), StructField("k", LongType),
      StructField("v", IntegerType)))
    val t = cat.createTable("db", "pkexp", TableDescriptor(schema,
      primaryKey = Seq("dt", "k"), partitionKeys = Seq("dt"), numBuckets = 2))
    def rows(r: (String, Long, Int)*)(ordBase: Long) = spark.createDataFrame(
      r.zipWithIndex.map { case ((dt, k, v), i) =>
        Row(dt, k, Int.box(v), ordBase + i) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))
    t.upsert(rows(("a", 1L, 1), ("b", 1L, 10))(0L), orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-expire-out").toString
    t.tierSnapshot(out)
    t.upsert(rows(("a", 1L, 2))(10L), orderBy = Seq(col("ord")))
    t.tierSnapshot(out)
    t.upsert(rows(("a", 1L, 3))(20L), orderBy = Seq(col("ord")))
    t.tierSnapshot(out)
    val idsBefore = IcebergExport.snapshotIds(out)
    assert(idsBefore.size == 3)
    val live = IcebergExport.liveFiles(out)
    // files only the first two snapshots reference (replaced dt=a files)
    val allOnDisk = WarehouseIO.walkFiles(out)
      .filter(e => !e.isDir && e.name.endsWith(".parquet"))
      .map(e => WarehouseIO.relativize(out, e.path))
    val replaced = allOnDisk.filterNot(live.contains(_))
    assert(replaced.nonEmpty, "expected replaced files before expiry")
    // keepLast must be >= 1 (the current snapshot is never expirable)
    val e0 = intercept[IllegalArgumentException](
      IcebergExport.expireHistory(spark, out, 0))
    assert(e0.getMessage.contains("keepLast"))
    val deleted = IcebergExport.expireHistory(spark, out, keepLast = 1)
    assert(replaced.forall(deleted.contains(_)), s"$replaced vs $deleted")
    replaced.foreach(r => assert(!WarehouseIO.exists(s"$out/$r"), r))
    live.foreach(r => assert(WarehouseIO.exists(s"$out/$r"), r))
    // metadata advanced one version, only the current snapshot remains
    assert(WarehouseIO.readString(s"$out/metadata/version-hint.text") == "4")
    assert(IcebergExport.snapshotIds(out) == Seq(idsBefore.last))
    // current read still equals the table
    val got = IcebergExport.readLive(spark, out)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq(("a", 1L, 3), ("b", 1L, 10)))
    // an expired snapshot id fails with a clear error; the current works
    val e1 = intercept[IllegalArgumentException](
      IcebergExport.liveFilesAt(out, idsBefore.head))
    assert(e1.getMessage.contains("expired"))
    assert(IcebergExport.readSnapshot(spark, out, idsBefore.last)
      .count() == 2)
    // a no-op expire returns nothing and leaves metadata untouched
    assert(IcebergExport.expireHistory(spark, out, 1).isEmpty)
    assert(WarehouseIO.readString(s"$out/metadata/version-hint.text") == "4")
    // tiering keeps working on the expired table
    t.upsert(rows(("b", 2L, 20))(30L), orderBy = Seq(col("ord")))
    assert(t.tierSnapshot(out).contains("tiered overwrite snapshot"))
    assert(IcebergExport.readLive(spark, out).count() == 3)
    assert(IcebergExport.snapshotIds(out).size == 2)
  }

  test("tier crash between Iceberg commit and manifest update rolls forward " +
      "(no duplicate window)") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-rollfwd-wh").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", IntegerType)))
    val t = cat.createTable("db", "rflog",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    def rows(kv: (Long, Int)*) = spark.createDataFrame(
      kv.zipWithIndex.map { case ((k, v), i) =>
        Row(k, Int.box(v), i.toLong) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))
    t.append(rows(1L -> 1, 2L -> 2), orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-rollfwd-out").toString
    t.tierSnapshot(out)
    val manifestAfterFirst = WarehouseIO.readString(s"$out/_export_manifest.json")
    t.append(rows(3L -> 3, 4L -> 4), orderBy = Seq(col("ord")))
    t.tierSnapshot(out)
    // simulate the crash: Iceberg snapshot 2 committed, but the export
    // manifest never advanced past the first tier
    WarehouseIO.atomicWriteString(s"$out/_export_manifest.json",
      manifestAfterFirst)
    // an idle tier detects the stale manifest, rolls it forward from the
    // lake metadata, and does NOT re-append the 3..4 window
    assert(t.tierSnapshot(out).startsWith("already current"))
    assert(IcebergExport.readLive(spark, out)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L))
    // and a subsequent real tier proceeds from the committed offsets
    t.append(rows(5L -> 5), orderBy = Seq(col("ord")))
    assert(t.tierSnapshot(out).contains("tiered append snapshot"))
    assert(IcebergExport.readLive(spark, out)
      .select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("a removal against a dir with no prior snapshot fails loudly") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val fresh = Files.createTempDirectory("graft-iceberg-fresh").toString
    val e = intercept[IllegalArgumentException](
      IcebergExport.commit(spark, fresh, schema, Nil, Nil,
        removedRels = Set("data-0.parquet"), sourcePath = "src",
        summaryExtra = Map.empty, priorLive = Nil))
    assert(e.getMessage.contains("no prior Iceberg snapshot"))
  }

  test("the default export stays a bare parquet directory (no metadata/)") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-iceberg-wh2").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", IntegerType)))
    val t = cat.createTable("db", "bare",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 2))
    t.upsert(spark.createDataFrame(
      Seq(Row(1L, Int.box(1), 0L), Row(2L, Int.box(2), 1L)).asJava,
      StructType(schema.fields :+ StructField("ord", LongType))),
      orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-iceberg-bare").toString
    t.exportSnapshot(out)
    assert(!WarehouseIO.exists(s"$out/metadata"))
    assert(spark.read.parquet(out).count() == 2)
  }

  test("lake union read: lake state ∪ fresh log tail — log wins, a tail " +
      "DELETE removes a lake row; append tables concatenate") {
    val cat = new Catalog(
      Files.createTempDirectory("graft-union-wh").toString, spark)
    val schema = StructType(Seq(
      StructField("dt", StringType), StructField("k", LongType),
      StructField("v", IntegerType)))
    val t = cat.createTable("db", "pkunion", TableDescriptor(schema,
      primaryKey = Seq("dt", "k"), partitionKeys = Seq("dt"), numBuckets = 2))
    def rows(r: (String, Long, Int)*)(ordBase: Long) = spark.createDataFrame(
      r.zipWithIndex.map { case ((dt, k, v), i) =>
        Row(dt, k, Int.box(v), ordBase + i) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))
    t.upsert(rows(("a", 1L, 1), ("a", 2L, 2), ("b", 1L, 10))(0L),
      orderBy = Seq(col("ord")))
    val out = Files.createTempDirectory("graft-union-out").toString
    t.tierSnapshot(out)
    // lake is now current: the union read equals the lake alone
    assert(t.scanLakeUnion(out).count() == 3)
    // un-tiered tail: update a:1, DELETE a:2, insert c:1
    t.upsertMixed(rows(("a", 1L, 11), ("a", 2L, 0), ("c", 1L, 100))(100L)
      .withColumn("__delete", col("k") === 2L && col("dt") === "a"),
      orderBy = Seq(col("ord")))
    val got = t.scanLakeUnion(out)
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq(("a", 1L, 11), ("b", 1L, 10), ("c", 1L, 100)), got)
    // and equals the table's own merged state
    assert(got == t.scan().select("dt", "k", "v").orderBy("dt", "k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq)
    // works through every lake format the tier layer publishes
    val outD = Files.createTempDirectory("graft-union-delta").toString
    t.tierSnapshot(outD, format = "delta")
    assert(t.scanLakeUnion(outD, format = "delta")
      .select("dt", "k", "v").orderBy("dt", "k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq == got)
    // a dir without lake metadata refuses loudly
    val bare = Files.createTempDirectory("graft-union-bare").toString
    val e = intercept[IllegalArgumentException](t.scanLakeUnion(bare))
    assert(e.getMessage.contains("no iceberg metadata"), e.getMessage)

    // append table: lake files + appended tail rows concatenate
    val lt = cat.createTable("db", "logunion",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    lt.append(rows(("a", 1L, 1), ("b", 2L, 2))(0L), orderBy = Seq(col("ord")))
    val outL = Files.createTempDirectory("graft-union-log").toString
    lt.tierSnapshot(outL)
    lt.append(rows(("c", 3L, 3))(100L), orderBy = Seq(col("ord")))
    assert(lt.scanLakeUnion(outL).select("dt", "k", "v")
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq(("a", 1L, 1), ("b", 2L, 2), ("c", 3L, 3)))

    // a lake tiered while the table was EMPTY pins no per-bucket
    // offsets; later appends are exactly the tail — absent buckets must
    // default to "read everything" (scanFromOffsets' MaxValue default
    // means the opposite and would silently drop them)
    val lt2 = cat.createTable("db", "logunion2",
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = 2))
    val outL2 = Files.createTempDirectory("graft-union-log2").toString
    lt2.tierSnapshot(outL2)
    lt2.append(rows(("d", 4L, 4), ("e", 5L, 5))(0L), orderBy = Seq(col("ord")))
    assert(lt2.scanLakeUnion(outL2).select("dt", "k", "v")
      .orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq(("d", 4L, 4), ("e", 5L, 5)))
  }
}
