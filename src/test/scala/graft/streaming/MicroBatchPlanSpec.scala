package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.core._

/** Per-bucket micro-batch planning: same-bucket files group into one
  * partition (the reference plans one split per bucket per batch), with
  * chunking when cores exceed buckets so the big catch-up batch keeps
  * its parallelism.
  */
class MicroBatchPlanSpec extends SparkTestBase {

  private lazy val cat = new Catalog(
    Files.createTempDirectory("graft-mbp").toString, spark)

  private def logTable(buckets: Int): GraftTable = {
    val schema = StructType(Seq(
      StructField("p", StringType), StructField("k", LongType),
      StructField("v", IntegerType)))
    val t = cat.createTable("mbp", s"log_$buckets" + System.nanoTime(),
      TableDescriptor(schema, bucketKeys = Seq("k"), numBuckets = buckets,
        partitionKeys = Seq("p")))
    import spark.implicits._
    // two commits × 3 partition dirs × all buckets -> many small files
    (0 until 2).foreach { c =>
      val df = (0L until 60L).map(i =>
        (s"p${i % 3}", i, (c * 100 + i).toInt)).toDF("p", "k", "v")
      t.append(df, orderBy = Seq(df("k")))
    }
    t
  }

  private def plan(t: GraftTable): Seq[GraftStreamInputPartition] = {
    val stream = new GraftMicroBatchStream(t, t.desc.schema, Map.empty)
    stream.planInputPartitions(
        GraftSourceOffset(Map.empty), GraftSourceOffset(t.latestOffsets))
      .toSeq.map(_.asInstanceOf[GraftStreamInputPartition])
  }

  private def bucketOf(p: GraftStreamInputPartition): Set[Any] =
    // partValues layout: partitionKeys :+ __bucket
    p.files.map(_.partValues.last).toSet

  test("same-bucket files group into single-bucket partitions, " +
      "all files covered exactly once") {
    val t = logTable(buckets = 4)
    val visible = t.tableLog.visible().files.map(_.path).toSet
    assert(visible.size >= 12, s"expected many small files: $visible")
    val parts = plan(t)
    // every partition holds files of ONE bucket
    parts.foreach(p => assert(bucketOf(p).size == 1,
      s"mixed-bucket partition: ${p.files.map(_.path)}"))
    // chunking: 4 buckets on local[8] -> up to 2 chunks per bucket
    assert(parts.size > 4 && parts.size <= 8,
      s"4 buckets × ≤2 chunks expected, got ${parts.size}")
    // coverage: every visible file appears exactly once
    val planned = parts.flatMap(_.files.map(_.path))
    assert(planned.sorted == planned.distinct.sorted, "duplicate files")
    assert(planned.toSet == visible, "planned ≠ visible")
    // task count stays O(max(buckets, cores)), not O(files)
    assert(parts.size < visible.size,
      s"grouping should cut task count below file count " +
        s"(${parts.size} vs ${visible.size})")
  }

  test("buckets >= cores: exactly one partition per bucket") {
    val t = logTable(buckets = 8)
    val parts = plan(t)
    assert(parts.size == 8, s"one split per bucket: got ${parts.size}")
    assert(parts.map(bucketOf(_).head).distinct.size == 8)
    // and the stream still DELIVERS everything: windows are per bucket
    val delivered = parts.map(p => (p.lo, p.hi)).toSet
    assert(delivered.forall { case (lo, hi) => lo == 0L && hi > 0L })
  }

  test("batch rows equal the appended rows through the grouped plan") {
    // readStream.table = the DSv2 micro-batch stream (the plan under
    // test), not the V1 format("graft") source
    val t = logTable(buckets = 4)
    spark.conf.set("spark.sql.catalog.mbp",
      classOf[graft.connector.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mbp.warehouse", cat.warehouse)
    val name = t.path.split('/').last
    val out = Files.createTempDirectory("graft-mbp-out").toString
    val ck = Files.createTempDirectory("graft-mbp-ck").toString
    val q = spark.readStream.table(s"mbp.mbp.$name")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out).select("p", "k", "v")
    assert(got.count() == 120)
    assert(got.groupBy("p").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("p0" -> 40L, "p1" -> 40L, "p2" -> 40L))
  }
}
