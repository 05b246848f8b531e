package graft.merge

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.core._

/** Randomized cross-check (SURVEY §5): the distributed write path — the
  * merge engines at write time ([[WriteMerge]]: its SQL windows or the
  * cogroup fallback) appending post-merge images to the log — must agree
  * with a sequential in-memory fold of RowMergers over the same ops, both
  * in the changelog it writes (per key, in offset order: change type and
  * image, under both changelog images) and in the state a scan reads
  * back through the last-write-wins collapse (optionally through a
  * snapshot). The SQL windows and RowMergers (row-at-a-time Scala) are
  * independent implementations of the merge semantics, so agreement here
  * pins both; the cogroup runs RowMergers itself and pins the plumbing.
  */
class MergeCrossCheckSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("a", IntegerType),
    StructField("b", StringType),
    StructField("ver", LongType),
    StructField("fl", BooleanType)))

  private lazy val cat =
    new Catalog(Files.createTempDirectory("graft-cc").toString, spark)

  /** One op: a row and its change type — [[ChangeType.Insert]] (an
    * upsert), [[ChangeType.Delete]] or [[ChangeType.UpdateBefore]] (a
    * retraction).
    */
  private type Op = (Row, String)
  private type Batch = (Seq[Op], Option[Seq[String]])

  /** The write API a batch goes through. */
  private sealed trait Via
  /** `upsertMixed`: deletes as `__delete`, partial batches allowed. */
  private case object Mixed extends Via
  /** `applyChangelog`: `_change_type`, so retractions too. */
  private case object Changelog extends Via
  /** `upsert`: delete-free, so a partial batch takes the windowed path. */
  private case object Upsert extends Via

  /** Random ops over a small keyspace, with nulls; retractions only when
    * asked (the draw sequence is otherwise unchanged).
    */
  private def randomOps(rnd: Random, n: Int, retractions: Boolean = false): Seq[Op] =
    (0 until n).map { _ =>
      val k = rnd.nextInt(12).toLong
      val a: Any = if (rnd.nextInt(8) == 0) null else Int.box(rnd.nextInt(100))
      val b: Any = if (rnd.nextInt(8) == 0) null else "s" + rnd.nextInt(30)
      val ver: Any = if (rnd.nextInt(8) == 0) null else Long.box(rnd.nextInt(50).toLong)
      val fl: Any = if (rnd.nextInt(8) == 0) null else Boolean.box(rnd.nextBoolean())
      val ct =
        if (rnd.nextInt(6) == 0) ChangeType.Delete
        else if (retractions && rnd.nextInt(5) == 0) ChangeType.UpdateBefore
        else ChangeType.Insert
      (new GenericRowWithSchema(Array[Any](k, a, b, ver, fl), schema): Row, ct)
    }

  /** The sequential RowMergers fold: final state, and each key's emitted
    * changes in order (change type, then the image's values).
    */
  private def fold(desc: TableDescriptor,
      batches: Seq[Batch]): (Seq[Row], Map[Long, Seq[Seq[String]]]) = {
    var st = Map.empty[Long, Row]
    val changes = scala.collection.mutable.Map.empty[Long, Vector[Seq[String]]]
    batches.foreach { case (ops, target) =>
      ops.foreach { case (row, ct) =>
        val k = row.getLong(0)
        val res = RowMergers.merge(desc, st.get(k),
          RowMergers.Incoming(row, isDelete = ct == ChangeType.Delete,
            isRetract = ct == ChangeType.UpdateBefore, targetColumns = target))
        res.state match {
          case Some(r) => st += k -> r
          case None => st -= k
        }
        res.changes.foreach { case (c, img) =>
          changes(k) = changes.getOrElse(k, Vector.empty) :+
            (c +: img.toSeq.map(String.valueOf))
        }
      }
    }
    (st.values.toSeq, changes.toMap)
  }

  /** Write `batches` through `via` into a fresh table of `desc` under each
    * changelog image; its changelog and scan must equal the fold's.
    */
  private def check(name: String, desc: TableDescriptor, batches: Seq[Batch],
      via: Via, compactBetween: Boolean): Unit =
    Seq(ChangelogImage.Full, ChangelogImage.Wal).foreach { image =>
      val d = desc.copy(changelogImage = image)
      val t = cat.createTable("cc",
        s"${name}_${image.toString.toLowerCase}${System.nanoTime()}", d)
      batches.zipWithIndex.foreach { case ((ops, target), i) =>
        val (extra, flags): (Seq[StructField], String => Seq[Any]) = via match {
          case Mixed => (Seq(StructField("__delete", BooleanType)),
            ct => Seq(ct == ChangeType.Delete))
          case Changelog => (Seq(StructField(Meta.ChangeTypeCol, StringType)), ct => Seq(ct))
          case Upsert => (Nil, _ => Nil)
        }
        val df = spark.createDataFrame(
          ops.zipWithIndex.map { case ((r, ct), j) =>
            Row.fromSeq(r.toSeq ++ flags(ct) :+ j.toLong)
          }.asJava,
          StructType(schema.fields ++ extra :+ StructField("ord", LongType)))
        val ord = Seq(df("ord"))
        via match {
          case Mixed => t.upsertMixed(df, orderBy = ord, targetColumns = target)
          case Changelog =>
            require(target.isEmpty, "applyChangelog writes full rows")
            t.applyChangelog(df, orderBy = ord)
          case Upsert =>
            require(ops.forall(_._2 == ChangeType.Insert), "upsert cannot delete")
            t.upsert(df, targetColumns = target, orderBy = ord)
        }
        if (compactBetween && i == 0) t.compact()
      }
      val (expState, expChanges) = fold(d, batches)
      val n = schema.length
      val gotChanges = t.changelog().collect().toSeq
        .groupBy(_.getLong(0))
        .map { case (k, rs) =>
          k -> rs.sortBy(_.getAs[Long](Meta.LogOffset)).map(r =>
            r.getAs[String](Meta.ChangeTypeCol) +: (0 until n).map(i => String.valueOf(r.get(i))))
        }
      assert(gotChanges == expChanges, s"$name/$image changelog:\n" +
        (gotChanges.keySet ++ expChanges.keySet).toSeq.sorted
          .filter(k => gotChanges.get(k) != expChanges.get(k))
          .map(k => s"key $k\n got ${gotChanges.get(k)}\n exp ${expChanges.get(k)}")
          .mkString("\n"))
      assertSameRows(t.scan().collect().toSeq, expState)
    }

  /** Two random batches (120 and 80 ops), the second partial when asked. */
  private def run(name: String, desc: TableDescriptor,
      compactBetween: Boolean, partialBatch: Boolean, via: Via = Mixed): Unit = {
    val rnd = new Random(42 + name.hashCode)
    val retractions = via == Changelog
    val batches: Seq[Batch] = Seq(
      (randomOps(rnd, 120, retractions), None),
      (randomOps(rnd, 80, retractions), if (partialBatch) Some(Seq("a")) else None))
    check(name, desc, batches, via, compactBetween)
  }

  test("default engine: distributed == sequential (deletes, partial batch)") {
    run("dflt", TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 4),
      compactBetween = false, partialBatch = true)
  }

  test("default engine through a snapshot compact") {
    run("dflt_snap", TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 4),
      compactBetween = true, partialBatch = true)
  }

  test("default engine, DeleteBehavior.Ignore") {
    run("dflt_ign", TableDescriptor(schema, primaryKey = Seq("k"),
      numBuckets = 4, deleteBehavior = DeleteBehavior.Ignore),
      compactBetween = false, partialBatch = false)
  }

  test("first_row engine: distributed == sequential") {
    run("first", TableDescriptor(schema, primaryKey = Seq("k"),
      numBuckets = 4, mergeEngine = MergeEngine.FirstRow),
      compactBetween = false, partialBatch = false)
  }

  test("versioned engine: distributed == sequential (null = -inf)") {
    run("ver", TableDescriptor(schema, primaryKey = Seq("k"),
      numBuckets = 4, mergeEngine = MergeEngine.Versioned("ver"),
      deleteBehavior = DeleteBehavior.Ignore),
      compactBetween = false, partialBatch = false)
  }

  test("aggregation engine: distributed == sequential (sum/listagg/max)") {
    val desc = TableDescriptor(schema, primaryKey = Seq("k"),
      numBuckets = 4, mergeEngine = MergeEngine.Aggregation(Map(
        "a" -> AggFunction.Sum,
        "b" -> (AggFunction.ListAgg + ":|"),
        "ver" -> AggFunction.Max)))
    run("agg", desc, compactBetween = false, partialBatch = false)
    run("agg_ret", desc, compactBetween = false, partialBatch = false, via = Changelog)
  }

  test("aggregation engine through a snapshot compact") {
    val desc = TableDescriptor(schema, primaryKey = Seq("k"),
      numBuckets = 4, mergeEngine = MergeEngine.Aggregation(Map(
        "a" -> AggFunction.Sum,
        "b" -> AggFunction.LastValueIgnoreNulls,
        "ver" -> AggFunction.Min)))
    run("agg_snap", desc, compactBetween = true, partialBatch = false)
    run("agg_snap_ret", desc, compactBetween = true, partialBatch = false, via = Changelog)
  }

  test("default partial update, delete-free: windowed path == sequential") {
    // upsert() (no deletes possible) routes Default+targetColumns through
    // the windowed aggregation mapping — pin it to the sequential fold
    val rnd = new Random(99)
    // batch 1 touches only half the keyspace, so batch 2's partial rows
    // hit BOTH merge cases: existing state (untouched cols keep state
    // values) and no state (untouched cols must store null)
    val full = randomOps(rnd, 120).map { case (r, _) => (r, ChangeType.Insert) }
      .filter(_._1.getLong(0) < 6)
    val partial = randomOps(rnd, 80).map { case (r, _) => (r, ChangeType.Insert) }
    check("pwin", TableDescriptor(schema, primaryKey = Seq("k"), numBuckets = 4),
      Seq((full, None), (partial, Some(Seq("a", "ver")))), Upsert,
      compactBetween = false)
  }

  test("aggregation engine first/bool window forms: distributed == sequential") {
    for ((name, aggs, compact) <- Seq(
        ("agg_fv", Map(
          "a" -> AggFunction.FirstValue,
          "b" -> AggFunction.FirstValueIgnoreNulls,
          "ver" -> AggFunction.LastValue,
          "fl" -> AggFunction.BoolAnd), false),
        ("agg_bool", Map(
          "a" -> AggFunction.Min,
          "fl" -> AggFunction.BoolOr), true));
        via <- Seq(Mixed, Changelog)) {
      run(if (via == Mixed) name else s"${name}_ret", TableDescriptor(schema, primaryKey = Seq("k"),
        numBuckets = 4, mergeEngine = MergeEngine.Aggregation(aggs)),
        compactBetween = compact, partialBatch = false, via = via)
    }
  }

  test("aggregation engine rb64: write-path union == expected value sets") {
    import graft.functions.Bitmaps
    val sch = StructType(Seq(
      StructField("k", LongType), StructField("bm", BinaryType)))
    val desc = TableDescriptor(sch, primaryKey = Seq("k"), numBuckets = 4,
      mergeEngine = MergeEngine.Aggregation(Map("bm" -> AggFunction.Rb64)))
    val rnd = new Random(7)
    val ops = (0 until 150).map(_ => (rnd.nextInt(10).toLong, rnd.nextInt(64).toLong))
    val t = cat.createTable("cc", "rb" + System.nanoTime(), desc)
    val inSchema = StructType(sch.fields :+ StructField("ord", LongType))
    val df = spark.createDataFrame(
      ops.zipWithIndex.map { case ((k, v), i) =>
        Row(k, Bitmaps.build(Seq(v)), i.toLong)
      }.asJava, inSchema)
    t.upsert(df, orderBy = Seq(df("ord")))
    val got = t.scan().collect()
      .map(r => r.getLong(0) -> Bitmaps.toValues(r.getAs[Array[Byte]](1)))
      .toMap
    val exp = ops.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).distinct.sorted.toSeq
    }
    assert(got == exp)
  }
}
