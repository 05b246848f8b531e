package graft.merge

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.core._

/** What a PK table materializes: the last-write-wins collapse of a log of
  * post-merge images (Materialize), and — through the write path, where
  * every merge engine runs — each engine's state from a raw changelog,
  * cross-checked against the sequential row-fold path (RowMergers) on a
  * pseudo-random workload, per SURVEY §5.
  */
class MaterializeSpec extends SparkTestBase {
  import scala.jdk.CollectionConverters._

  private val schema = StructType(Seq(
    StructField("k", LongType),
    StructField("v", IntegerType),
    StructField("s", StringType)))

  private val logSchema = StructType(schema.fields ++ Seq(
    StructField(Meta.ChangeTypeCol, StringType),
    StructField(Meta.Offset, LongType)))

  private lazy val cat =
    new Catalog(Files.createTempDirectory("graft-mat").toString, spark)

  private def logDf(rows: (Long, Integer, String, String, Long)*) =
    spark.createDataFrame(
      rows.map { case (k, v, s, ct, off) => Row(k, v, s, ct, off) }.asJava,
      logSchema)

  /** The state a table of `desc` reads back after `log`'s rows arrive
    * through `applyChangelog`, in offset order.
    */
  private def written(desc: TableDescriptor, log: DataFrame): Array[Row] = {
    val t = cat.createTable("mat", "t" + System.nanoTime(), desc)
    t.applyChangelog(log, orderBy = Seq(col(Meta.Offset)))
    t.scan().collect()
  }

  test("default: last write wins, trailing delete removes") {
    val log = logDf(
      (1L, 1, "a", "+I", 0L), (1L, 2, "b", "+U", 1L),
      (2L, 5, "x", "+I", 2L), (2L, null, null, "-D", 3L),
      (3L, 7, "y", "+I", 4L), (3L, null, null, "-D", 5L), (3L, 8, "z", "+I", 6L))
    val got = Materialize.currentState(log, TableDescriptor(schema, primaryKey = Seq("k")))
    assertSameRows(got.collect(), Seq(Row(1L, 2, "b"), Row(3L, 8, "z")))
  }

  test("first_row / versioned on raw streams") {
    val log = logDf(
      (1L, 3, "c", "+A", 0L), (1L, 1, "a", "+A", 1L),
      (2L, 9, "v9", "+A", 2L), (2L, 4, "v4", "+A", 3L), (2L, 9, "v9b", "+A", 4L),
      (3L, null, "nv", "+A", 5L))
    val first = written(
      TableDescriptor(schema, primaryKey = Seq("k"), mergeEngine = MergeEngine.FirstRow), log)
    assertSameRows(first,
      Seq(Row(1L, 3, "c"), Row(2L, 9, "v9"), Row(3L, null, "nv")))
    val versioned = written(
      TableDescriptor(schema, primaryKey = Seq("k"),
        mergeEngine = MergeEngine.Versioned("v"), deleteBehavior = DeleteBehavior.Ignore), log)
    // max v wins; tie -> later offset (v9b); null version = -inf
    assertSameRows(versioned,
      Seq(Row(1L, 3, "c"), Row(2L, 9, "v9b"), Row(3L, null, "nv")))
  }

  test("aggregation: delete resets accumulation; -U retracts sums") {
    val log = logDf(
      (1L, 1, "a", "+I", 0L), (1L, 2, "b", "+U", 1L),
      (1L, null, null, "-D", 2L), (1L, 5, "c", "+I", 3L), (1L, 7, "d", "+U", 4L),
      (2L, 10, "x", "+I", 5L), (2L, 3, null, "-U", 6L))
    def agg(s: String) = TableDescriptor(schema, primaryKey = Seq("k"),
      mergeEngine = MergeEngine.Aggregation(Map("v" -> AggFunction.Sum, "s" -> s)))
    // listagg runs on the cogroup fold, last_value_ignore_nulls on the
    // windowed path: both restart after the delete and skip the -U value
    assertSameRows(written(agg(AggFunction.ListAgg + ":,"), log),
      Seq(Row(1L, 12, "c,d"), Row(2L, 7, "x")))
    assertSameRows(written(agg(AggFunction.LastValueIgnoreNulls), log),
      Seq(Row(1L, 12, "d"), Row(2L, 7, "x")))
  }

  test("cross-check: batch materialization == sequential row fold (random)") {
    val rnd = new scala.util.Random(42)
    val keys = (1L to 20L).toArray
    val rows = (0 until 500).map { i =>
      val k = keys(rnd.nextInt(keys.length))
      val ct = rnd.nextInt(10) match {
        case 0 => "-D"
        case _ => if (rnd.nextBoolean()) "+I" else "+U"
      }
      val v: Integer = if (rnd.nextInt(8) == 0) null else Int.box(rnd.nextInt(100))
      val s = if (rnd.nextInt(8) == 0) null else s"s${rnd.nextInt(5)}"
      (k, v, s, ct, i.toLong)
    }
    for (engine <- Seq[MergeEngine](MergeEngine.Default, MergeEngine.FirstRow,
        MergeEngine.Aggregation(Map("v" -> AggFunction.Sum,
          "s" -> AggFunction.LastValueIgnoreNulls)))) {
      val desc = TableDescriptor(schema, primaryKey = Seq("k"), mergeEngine = engine)
      val batch = written(desc, logDf(rows: _*))
      // sequential oracle via RowMergers
      val folded = rows.groupBy(_._1).flatMap { case (k, rs) =>
        var st: Option[Row] = None
        rs.sortBy(_._5).foreach { case (_, v, s, ct, _) =>
          val r = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
            Array[Any](k, v, s), schema)
          st = RowMergers.merge(desc, st, RowMergers.Incoming(r,
            isDelete = ct == "-D")).state
        }
        st
      }.toSeq
      assertSameRows(batch.toIndexedSeq, folded)
    }
  }
}
