package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkTestBase
import graft.connector.GraftCatalog
import graft.plans.BucketPruneRule

/** Bucket agreement: every path that decides a key's bucket — the
  * writer's column, the driver-side value form, the catalog `bucket`
  * function, the point-query rule's literal path and the `__bucket=` dir
  * the writer actually stored — names the same bucket for every key type.
  */
class BucketsSpec extends SparkTestBase {

  private val n = 16

  private lazy val warehouse = {
    val wh = Files.createTempDirectory("graft-buckets").toString
    // the V1 log read: the LogicalRelation BucketPruneRule rewrites
    DynamicConfigs.set(wh, Map(GroupedReads.Key -> "false"))
    spark.conf.set("spark.sql.catalog.bkt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.bkt.warehouse", wh)
    wh
  }
  private lazy val cat = new Catalog(warehouse, spark)

  /** A bucket key: declared types, the stored row values, and the values
    * a caller hands the driver-side router (another type where it casts).
    */
  private case class Key(name: String, types: Seq[DataType],
      stored: Seq[Any], given: Seq[Any])

  private val keys = Seq(
    Key("int", Seq(IntegerType), Seq(7), Seq(7)),
    Key("bigint_given_int", Seq(LongType), Seq(7L), Seq(7)),
    Key("string_supplementary", Seq(StringType),
      Seq("k😀x"), Seq("k😀x")),
    Key("date", Seq(DateType), Seq(java.sql.Date.valueOf("2024-02-29")),
      Seq(java.sql.Date.valueOf("2024-02-29"))),
    Key("timestamp", Seq(TimestampType),
      Seq(java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789")),
      Seq(java.sql.Timestamp.valueOf("2024-02-29 12:34:56.789"))),
    Key("decimal", Seq(DecimalType(12, 3)),
      Seq(new java.math.BigDecimal("1234.500")),
      Seq(new java.math.BigDecimal("1234.5"))),
    Key("two_column_null", Seq(LongType, StringType), Seq(3L, null),
      Seq(3L, null)))

  keys.foreach { key =>
    test(s"every bucket path agrees: ${key.name}") {
      val cols = key.types.indices.map(i => s"k$i")
      val schema = StructType(cols.zip(key.types).map { case (c, dt) =>
        StructField(c, dt) } :+ StructField("v", IntegerType))
      val t = cat.createTable("bk", key.name,
        TableDescriptor(schema, bucketKeys = cols, numBuckets = n))
      val row = spark.createDataFrame(
        java.util.List.of(Row.fromSeq(key.stored :+ 1)), schema)

      val byColumn = row.select(Buckets.column(cols.map(col), n))
        .collect().head.getInt(0)
      val byValues = Buckets.ofValues(key.given, key.types, n)

      row.createOrReplaceTempView(s"bk_${key.name}")
      val bySql = spark.sql(s"SELECT bkt.bucket($n, ${cols.mkString(", ")}) " +
        s"FROM bk_${key.name}").collect().head.getInt(0)

      t.append(row)
      val stored = Files.walk(java.nio.file.Paths.get(s"${t.path}/log"))
        .iterator().asScala.map(_.toString).filter(_.endsWith(".parquet"))
        .map(p => raw"__bucket=(\d+)".r.findFirstMatchIn(p).get.group(1).toInt)
        .toSeq
      assert(stored.size == 1, stored)

      val rel = t.logDF.queryExecution.optimizedPlan
        .collectFirst { case r: LogicalRelation => r }.get
      val cond = cols.zip(key.stored).zip(key.types).map { case ((c, v), dt) =>
        EqualTo(rel.output.find(_.name == c).get, Literal.create(v, dt))
      }.reduce[Expression](And(_, _))
      val byRule = BucketPruneRule(Filter(cond, rel)).collectFirst {
        case Filter(And(_, EqualTo(a: AttributeReference, l: Literal)), _)
            if a.name == Meta.Bucket => l.value.asInstanceOf[Int]
      }

      assert(Seq(byValues, bySql, stored.head, byRule.getOrElse(-1))
        .forall(_ == byColumn),
        s"column $byColumn, values $byValues, sql $bySql, " +
          s"stored ${stored.head}, rule $byRule")
    }
  }
}
