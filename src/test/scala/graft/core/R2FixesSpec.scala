package graft.core

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.merge.RowMergers
import graft.pipeline.Multimodal

/** Regression specs for the round-1 ADVICE findings:
  * - lookup key literals hash with the DECLARED column type, so e.g. an
  *   Int key against a BIGINT PK still prunes to the right bucket;
  * - streaming-sink batch ids commit atomically with the log offsets
  *   (no replay double-apply window);
  * - Aggregation-engine retraction-before-insert agrees between the
  *   sequential RowMergers fold and the write path's windowed merge,
  *   read back through a scan (both subtract into an implicit zero);
  * - frameSample emits zero frames for an empty media blob.
  */
class R2FixesSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private def newCatalog() =
    new Catalog(Files.createTempDirectory("graft-r2fix").toString, spark)

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("v", IntegerType)))

  private def df(rows: (Long, Integer)*) =
    spark.createDataFrame(
      rows.zipWithIndex.map { case ((k, v), i) => Row(k, v, i.toLong) }.asJava,
      StructType(schema.fields :+ StructField("ord", LongType)))

  test("lookup coerces key literals to the declared PK type before bucket hashing") {
    val cat = newCatalog()
    val t = cat.createTable("db", "coerce",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 8))
    t.upsert(df((7L, 70), (8L, 80), (9L, 90)), orderBy = Seq(col("ord")))
    // Int 7 for a BIGINT PK: must hash as LongType (write-path type)
    assertSameRows(t.lookup(Map("k" -> 7)).collect(), Seq(Row(7L, 70)))
    assertSameRows(t.lookup(Map("k" -> 7L)).collect(), Seq(Row(7L, 70)))
    assertSameRows(
      t.lookupAll(Seq(Map("k" -> 7), Map("k" -> 9))).orderBy("k").collect(),
      Seq(Row(7L, 70), Row(9L, 90)))
  }

  test("commit tag rides the same manifest write as the log offsets") {
    val cat = newCatalog()
    val t = cat.createTable("db", "tagged",
      TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 4,
        mergeEngine = MergeEngine.Aggregation(Map("v" -> AggFunction.Sum))))
    assert(t.committedBatchId("sinkA").isEmpty)
    t.upsert(df((1L, 5)), orderBy = Seq(col("ord")), commitTag = Some("sinkA" -> 0L))
    assert(t.committedBatchId("sinkA").contains(0L))
    // a later untagged commit must not lose the recorded tag
    t.upsert(df((1L, 5)), orderBy = Seq(col("ord")))
    assert(t.committedBatchId("sinkA").contains(0L))
    t.upsert(df((1L, 5)), orderBy = Seq(col("ord")), commitTag = Some("sinkA" -> 1L))
    assert(t.committedBatchId("sinkA").contains(1L))
    assertSameRows(t.scan().collect(), Seq(Row(1L, 15)))
    // empty tagged batch still records its id (replay dedup for empty batches)
    t.upsert(df(), orderBy = Nil, commitTag = Some("sinkA" -> 2L))
    assert(t.committedBatchId("sinkA").contains(2L))
    assertSameRows(t.scan().collect(), Seq(Row(1L, 15)))
  }

  test("aggregation retraction before any insert: sequential == distributed (implicit zero)") {
    val desc = TableDescriptor(schema, primaryKey = Seq("k"),
      mergeEngine = MergeEngine.Aggregation(Map("v" -> AggFunction.Sum)))
    // changelog where key 1's FIRST row is a -U retraction
    val log = spark.createDataFrame(Seq(
      Row(1L, 5, ChangeType.UpdateBefore, 0L),
      Row(1L, 3, ChangeType.Insert, 1L),
      Row(2L, 4, ChangeType.UpdateBefore, 0L)).asJava,
      StructType(schema.fields ++ Seq(
        StructField(Meta.ChangeTypeCol, StringType),
        StructField("ord", LongType))))
    val t = newCatalog().createTable("db", "retract_first", desc)
    t.applyChangelog(log, orderBy = Seq(col("ord")))
    val distributed = t.scan().collect().toSeq

    def fold(ops: Seq[(Row, Boolean)]): Option[Row] =
      ops.foldLeft(Option.empty[Row]) { case (st, (r, retract)) =>
        RowMergers.merge(desc, st, RowMergers.Incoming(r, isRetract = retract)).state
      }
    val row = (k: Long, v: Int) => Row(k, v): Row
    val seqK1 = fold(Seq((row(1L, 5), true), (row(1L, 3), false)))
    val seqK2 = fold(Seq((row(2L, 4), true)))
    assertSameRows(distributed, Seq(seqK1, seqK2).flatten)
    // and the implicit-zero arithmetic itself
    assert(seqK1.get.getInt(1) == -2)
    assert(seqK2.get.getInt(1) == -4)
  }

  test("frameSample: empty media blob emits zero frames") {
    val docs = spark.createDataFrame(Seq(
      Row("d1", "hello world, enough text to make two frames when framed at 8"),
      Row("d2", "")).asJava,
      StructType(Seq(StructField("doc_id", StringType), StructField("text", StringType))))
    val media = Multimodal.packAsMedia(docs, "doc_id", "text")
    val frames = Multimodal.frameSample(media, frameBytes = 8, stride = 1)
    val byId = frames.groupBy("media_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!byId.contains("d2"), s"empty blob must emit no frames, got $byId")
    assert(byId("d1") == 8) // 61 bytes -> ceil(61/8) = 8 frames at stride 1
  }
}
