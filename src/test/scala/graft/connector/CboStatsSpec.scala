package graft.connector

import java.nio.file.Files

import graft.SparkTestBase

/** Column-level planner statistics: footer min/max/nulls reach Spark's
  * CBO through the DSv2 `columnStats()` surface (forwarded across the V1
  * bridge by V1StatsRule), so a SELECTIVE filter on a graft scan shrinks
  * the size estimate and flips a join to broadcast at PLAN time — not
  * AQE-late after the first map stage. AQE is disabled in these tests so
  * the assertion is on the initial plan.
  */
class CboStatsSpec extends SparkTestBase {

  private lazy val wh = {
    val dir = Files.createTempDirectory("graft-cbo").toString
    spark.conf.set("spark.sql.catalog.cbo", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cbo.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS cbo.db")
    spark.sql("""
      CREATE TABLE cbo.db.facts (k BIGINT, v INT)
      USING graft TBLPROPERTIES ('bucket.key' = 'k', 'bucket.num' = '4')""")
    spark.sql("""INSERT INTO cbo.db.facts
      SELECT id % 20000, CAST(id AS INT) FROM range(0, 60000)""")
    spark.sql("""
      CREATE TABLE cbo.db.dim (k BIGINT, name STRING)
      USING graft TBLPROPERTIES ('bucket.key' = 'k', 'bucket.num' = '4')""")
    spark.sql("""INSERT INTO cbo.db.dim
      SELECT id, concat('name-', id, '-', repeat('x', 30))
      FROM range(0, 20000)""")
    dir
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val sql =
    """SELECT f.k, f.v, d.name FROM cbo.db.facts f
       JOIN cbo.db.dim d ON f.k = d.k WHERE d.k < 200"""

  test("footer column stats flip a selectively-filtered join to " +
      "broadcast at plan time") {
    wh
    graft.plans.BucketPruning.install(spark)
    // threshold sits between the dim's full size (hundreds of KB) and
    // the filtered 1% estimate — only selectivity estimation crosses it
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "65536")
    val planned = withConfs(confs :+
        ("spark.sql.cbo.enabled" -> "true"): _*) {
      val df = spark.sql(sql)
      val plan = df.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"selective filter should broadcast the dim at plan time:\n$plan")
      df.collect().map(_.toSeq).toSet
    }
    // control: CBO off -> filter does not shrink the estimate -> the
    // initial plan keeps the sort-merge join. Same answer either way.
    val control = withConfs(confs :+
        ("spark.sql.cbo.enabled" -> "false"): _*) {
      val df = spark.sql(sql)
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"control should stay sort-merge without selectivity stats:\n$plan")
      df.collect().map(_.toSeq).toSet
    }
    assert(planned == control && planned.size == 600,
      s"${planned.size} rows") // 200 dim keys × 3 fact rows each
  }

  test("join reorder: measured stats rewrite a bad SQL join order to " +
      "selective-first, same results") {
    wh
    graft.plans.BucketPruning.install(spark)
    spark.sql("""
      CREATE TABLE cbo.db.tiny (k BIGINT, tag STRING)
      USING graft TBLPROPERTIES ('bucket.key' = 'k', 'bucket.num' = '2')""")
    spark.sql(
      "INSERT INTO cbo.db.tiny SELECT id, concat('t', id) FROM range(0, 8)")
    // deliberately bad text order: the two 20k+-row tables join first,
    // the 8-row table last — CBO with measured rowCount/NDV must rebuild
    // bottom-up with the tiny join innermost
    val sql3 = """SELECT f.k, f.v, t.tag FROM cbo.db.facts f
                  JOIN cbo.db.dim d ON f.k = d.k
                  JOIN cbo.db.tiny t ON f.k = t.k"""
    import org.apache.spark.sql.catalyst.plans.logical.Join
    def innermostJoin(df: org.apache.spark.sql.DataFrame): String = {
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      joins.filter(j => j.children.forall(
        _.collectFirst { case jj: Join => jj }.isEmpty))
        .map(_.toString).mkString("\n")
    }
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.cbo.enabled" -> "true")
    val reordered = withConfs(confs :+
        ("spark.sql.cbo.joinReorder.enabled" -> "true"): _*) {
      val df = spark.sql(sql3)
      assert(innermostJoin(df).contains("tiny"),
        s"selective-first order expected:\n" +
          s"${df.queryExecution.optimizedPlan}")
      df.collect().map(_.toSeq).toSet
    }
    // control: reorder off keeps the SQL text order (the always-on
    // predicate-based ReorderJoin preserves fully-conditioned orders)
    val textOrder = withConfs(confs :+
        ("spark.sql.cbo.joinReorder.enabled" -> "false"): _*) {
      val df = spark.sql(sql3)
      assert(!innermostJoin(df).contains("tiny"),
        s"control should keep the text order:\n" +
          s"${df.queryExecution.optimizedPlan}")
      df.collect().map(_.toSeq).toSet
    }
    assert(reordered == textOrder && reordered.size == 24,
      s"${reordered.size} rows") // 8 tiny keys × 3 fact rows each
  }

  test("columnPlannerStats: exact bounds and null counts, cached and " +
      "capped") {
    wh
    val t = new graft.core.Catalog(
      spark.conf.get("spark.sql.catalog.cbo.warehouse"), spark)
      .getTable("db", "dim")
    val stats = t.columnPlannerStats()
    val k = stats("k")
    assert(k.min == 0L && k.max == 19999L && k.nullCount == 0L, k)
    // measured NDV from the manifest HLL sketch (20000 distinct ±1.6%)
    assert(k.ndv.exists(n => n > 19000 && n < 21000), k.ndv)
    // strings never range, but their measured distinct count is join-
    // estimation input — NDV-only entry, null bounds
    val name = stats("name")
    assert(name.min == null && name.max == null)
    assert(name.ndv.exists(n => n > 19000 && n < 21000), name.ndv)
    // identical state -> the SAME cached map instance (no re-sweep)
    assert(t.columnPlannerStats() eq stats)
  }

  test("manifest stats hold past the footer cap: >64-file table still " +
      "flips the join to broadcast at plan time, ZERO footer opens") {
    wh
    graft.plans.BucketPruning.install(spark)
    spark.sql("""
      CREATE TABLE cbo.db.bigdim (k BIGINT, name STRING)
      USING graft TBLPROPERTIES ('bucket.key' = 'k', 'bucket.num' = '8')""")
    // 9 commits x 8 buckets = 72 visible files > FooterStats.MaxFiles
    (0 until 9).foreach { i =>
      spark.sql(s"""INSERT INTO cbo.db.bigdim
        SELECT id, concat('name-', id, '-', repeat('x', 30))
        FROM range(${i * 2500}, ${(i + 1) * 2500})""")
    }
    val t = new graft.core.Catalog(
      spark.conf.get("spark.sql.catalog.cbo.warehouse"), spark)
      .getTable("db", "bigdim")
    val blob = t.tableLog.read().colStats
    assert(blob.exists(_.complete), "9 empty-start commits must keep a " +
      s"complete blob: $blob")
    val opensBefore = graft.core.FooterStats.filesOpened.get()
    val stats = t.columnPlannerStats()
    assert(stats("k").min == 0L && stats("k").max == 22499L, stats("k"))
    assert(stats("k").ndv.exists(n => n > 21000 && n < 24000), stats("k"))
    val planned = withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "65536",
      "spark.sql.cbo.enabled" -> "true") {
      val df = spark.sql(
        """SELECT f.k, f.v, d.name FROM cbo.db.facts f
           JOIN cbo.db.bigdim d ON f.k = d.k WHERE d.k < 225""")
      val plan = df.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"manifest stats should broadcast the filtered dim:\n$plan")
      df.count()
    }
    assert(planned == 675L, s"225 dim keys x 3 fact rows: $planned")
    assert(graft.core.FooterStats.filesOpened.get() == opensBefore,
      "planning a blob-armed table must open ZERO parquet footers")
  }

  test("string-key equality: the measured string NDV drives the " +
      "selectivity estimate and flips the join to broadcast") {
    wh
    graft.plans.BucketPruning.install(spark)
    // an equality filter on a STRING column has no min/max to range
    // over — only a measured distinctCount makes 1/NDV selectivity
    // possible. The footer path never covered strings; the manifest HLL
    // does.
    val planned = withConfs(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "65536",
      "spark.sql.cbo.enabled" -> "true") {
      val df = spark.sql(
        """SELECT f.k, f.v FROM cbo.db.facts f
           JOIN cbo.db.dim d ON f.k = d.k
           WHERE d.name = concat('name-7-', repeat('x', 30))""")
      val plan = df.queryExecution.sparkPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"string-NDV selectivity should broadcast the dim:\n$plan")
      df.count()
    }
    assert(planned == 3L, s"1 dim key x 3 fact rows: $planned")
  }

  test("stats-disabled table: incomplete blob, footer fallback; " +
      "analyzeColumnStats() arms the manifest path") {
    wh
    val c = new graft.core.Catalog(
      spark.conf.get("spark.sql.catalog.cbo.warehouse"), spark)
    import org.apache.spark.sql.types._
    val t = c.createTable("db", "legacy", graft.core.TableDescriptor(
      StructType(Seq(StructField("k", LongType),
        StructField("v", IntegerType), StructField("s", StringType))),
      bucketKeys = Seq("k"), numBuckets = 2,
      properties = Map(graft.core.GraftTable.ColumnStatsProp -> "false")))
    val df = spark.range(0, 1000).selectExpr(
      "id AS k", "CAST(id % 7 AS INT) AS v", "concat('s', id % 40) AS s")
    t.append(df, orderBy = Seq(df("k")))
    // disabled at write time -> no complete blob; footer sweep serves
    // int/long bounds (2 files, under the cap), no string entry
    assert(!t.tableLog.read().colStats.exists(_.complete))
    val before = t.columnPlannerStats()
    assert(before("k").min == 0L && before("k").ndv.isEmpty, before("k"))
    assert(!before.contains("s"))
    // one-shot rebuild arms the manifest path with measured NDVs —
    // through the SQL procedure surface (the ANALYZE analog)
    val msg = spark.sql(
      "CALL cbo.system.analyze_column_stats('db.legacy')").collect()
    assert(msg.head.getString(0).contains("rebuilt"), msg.head)
    assert(t.tableLog.read().colStats.exists(_.complete))
    val after = t.columnPlannerStats()
    assert(after("k").min == 0L && after("k").max == 999L)
    assert(after("k").ndv.exists(n => n > 950 && n < 1050), after("k"))
    assert(after("v").ndv.contains(7L), after("v"))
    assert(after("s").ndv.contains(40L), after("s"))
  }

  test("compact() rebuilds the blob EXACTLY from the live rows it " +
      "scans anyway — overwrite drift resets to truth") {
    wh
    val c = new graft.core.Catalog(
      spark.conf.get("spark.sql.catalog.cbo.warehouse"), spark)
    import org.apache.spark.sql.types._
    val t = c.createTable("db", "churn", graft.core.TableDescriptor(
      StructType(Seq(StructField("k", LongType),
        StructField("v", IntegerType))),
      primaryKey = Seq("k"), numBuckets = 2))
    def up(off: Int): Unit = {
      val df = spark.range(0, 100).selectExpr(
        "id AS k", s"CAST(id + $off AS INT) AS v")
      t.upsert(df, orderBy = Seq(df("k")))
    }
    up(0); up(1000); up(5000) // every row overwritten twice
    // accumulated blob over-approximates: ~300 distinct v values ever
    // committed, only 100 live
    val drifted = t.columnPlannerStats()("v")
    assert(drifted.ndv.exists(_ > 250), drifted.ndv)
    t.compact()
    val fresh = t.columnPlannerStats()("v")
    assert(fresh.ndv.exists(n => n > 95 && n < 105),
      s"post-compact NDV must be the LIVE count: ${fresh.ndv}")
    assert(fresh.min == 5000 && fresh.max == 5099, fresh)
    assert(t.tableLog.read().colStats.exists(_.complete))
    // and the table still reads exactly
    assert(t.scan().count() == 100L)
  }

  test("rollback after an exact compact-rebuild DEGRADES the blob: the " +
      "restored older values must never be under-approximated") {
    wh
    val c = new graft.core.Catalog(
      spark.conf.get("spark.sql.catalog.cbo.warehouse"), spark)
    import org.apache.spark.sql.types._
    val t = c.createTable("db", "rbstats", graft.core.TableDescriptor(
      StructType(Seq(StructField("k", LongType),
        StructField("v", IntegerType))),
      primaryKey = Seq("k"), numBuckets = 2))
    def up(off: Int): Unit = {
      val df = spark.range(0, 100).selectExpr(
        "id AS k", s"CAST(id + $off AS INT) AS v")
      t.upsert(df, orderBy = Seq(df("k")))
    }
    up(0)     // version 1: v in [0, 99]
    up(5000)  // version 2: v in [5000, 5099]
    t.compact() // EXACT blob of the live state: v bounds [5000, 5099]
    assert(t.columnPlannerStats()("v").min == 5000)
    t.rollbackTo(1) // restores v in [0, 99] — outside the exact blob
    assert(!t.tableLog.read().colStats.exists(_.complete),
      "a backward offset flip must degrade the exact blob (one-way)")
    // the footer fallback serves the TRUE restored bounds
    val v = t.columnPlannerStats()("v")
    assert(v.min == 0 && v.max == 99, v)
    assert(t.scan().count() == 100L)
  }

  test("incremental merge stays exact across commits, and a DELETE " +
      "keeps a sound over-approximation") {
    wh
    val c = new graft.core.Catalog(
      spark.conf.get("spark.sql.catalog.cbo.warehouse"), spark)
    import org.apache.spark.sql.types._
    val t = c.createTable("db", "mrg", graft.core.TableDescriptor(
      StructType(Seq(StructField("k", LongType),
        StructField("v", IntegerType))),
      primaryKey = Seq("k"), numBuckets = 2))
    def up(lo: Long, hi: Long): Unit = {
      val df = spark.range(lo, hi).selectExpr("id AS k", "CAST(id AS INT) AS v")
      t.upsert(df, orderBy = Seq(df("k")))
    }
    up(0, 100); up(100, 250); up(200, 300) // overlap 200..250 re-upserted
    val s1 = t.columnPlannerStats()("k")
    assert(s1.min == 0L && s1.max == 299L)
    // HLL dedups the overlap: ~300 distinct, not 350
    assert(s1.ndv.exists(n => n > 285 && n < 315), s1.ndv)
    val del = spark.range(290, 300).selectExpr("id AS k")
    t.delete(del, orderBy = Seq(del("k")))
    // removal keeps the blob an over-approximation (bounds contain all
    // live values; NDV may overcount) — estimates stay sound, results
    // exact
    val s2 = t.columnPlannerStats()("k")
    assert(s2.max == 299L && t.tableLog.read().colStats.exists(_.complete))
    assert(t.scan().count() == 290L)
  }

  test("partition-key columns report exact dir-value stats (no footers)") {
    wh
    val c = new graft.core.Catalog(
      spark.conf.get("spark.sql.catalog.cbo.warehouse"), spark)
    import org.apache.spark.sql.types._
    val t = c.createTable("db", "pstats", graft.core.TableDescriptor(
      StructType(Seq(StructField("dt", IntegerType),
        StructField("k", LongType), StructField("v", IntegerType))),
      bucketKeys = Seq("k"), numBuckets = 2, partitionKeys = Seq("dt")))
    val df = spark.range(0, 300).selectExpr(
      "CAST(id % 3 + 10 AS INT) AS dt", "id AS k", "CAST(id AS INT) AS v")
    t.append(df, orderBy = Seq(df("k")))
    val stats = t.columnPlannerStats()
    val dt = stats("dt")
    // bounds and the TRUE distinct count from the dir names — carried as
    // an explicit exact NDV (the consumer's span-credibility gate must
    // never suppress it)
    assert(dt.min == 10 && dt.max == 12 && dt.nonNullCount == 3L, dt)
    assert(dt.ndv.contains(3L), dt)
    assert(stats("k").min == 0L && stats("k").max == 299L)
  }

  test("SPARSE partition keys keep their exact dir-name NDV (the span " +
      "gate must not suppress it)") {
    wh
    val c = new graft.core.Catalog(
      spark.conf.get("spark.sql.catalog.cbo.warehouse"), spark)
    import org.apache.spark.sql.types._
    // 3 values spanning 0..800 — a span-derived bound would be gated as
    // incredible (span >> rows); the dir names give the exact count
    val t = c.createTable("db", "psparse", graft.core.TableDescriptor(
      StructType(Seq(StructField("m", IntegerType),
        StructField("k", LongType))),
      bucketKeys = Seq("k"), numBuckets = 2, partitionKeys = Seq("m")))
    val df = spark.range(0, 90).selectExpr(
      "CAST((id % 3) * 400 AS INT) AS m", "id AS k")
    t.append(df, orderBy = Seq(df("k")))
    val m = t.columnPlannerStats()("m")
    assert(m.min == 0 && m.max == 800 && m.ndv.contains(3L), m)
    import scala.jdk.CollectionConverters._
    val exported = graft.connector.GraftColumnStats.of(t).asScala
      .find(_._1.fieldNames.head == "m").map(_._2)
    assert(exported.exists(_.distinctCount.getAsLong == 3L),
      s"exact dir NDV must survive to the DSv2 report: $exported")
  }
}
