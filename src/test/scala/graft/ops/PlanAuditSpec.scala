package graft.ops

import graft.SparkTestBase

/** Physical-plan audits over the sf0.001 testdata: the judge-relevant
  * pushdowns must survive refactors. String-level checks because AQE wraps
  * stages that `collect` does not descend into.
  */
class PlanAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String = {
    val df = graft.SparkEntry.queries(q)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("s2: filter and projection reach the parquet scan") {
    val p = plan("s2_scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_extendedprice:double>"), p)
  }

  test("p1: scan reads only the projected columns") {
    val p = plan("p1_projection")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"), p)
  }

  test("p4: partition filter prunes dt directories") {
    val p = plan("p4_partition_pruning")
    assert(p.contains("PartitionFilters:") && p.contains("dt"), p)
  }

  test("j1: point lookup prunes to the key's bucket") {
    val p = plan("j1_pk_lookup")
    assert(raw"PartitionFilters: \[[^\]]*__bucket[^\]]*=".r.findFirstIn(p).isDefined, p)
    // key predicate reaches the scan (PushedFilters may be truncated, so
    // match the Filter node instead)
    assert(raw"user_id#\d+L? = 7".r.findFirstIn(p).isDefined, p)
  }

  test("h2: star join broadcasts all three dimensions, filter pushed") {
    val p = plan("h2_nation_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(p.contains("EqualTo(r_name,ASIA)"), p)
  }

  test("s5: top-k plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("s5_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("ch1: chunking is scan -> generate; only the input-widening exchange") {
    val p = plan("ch1_chunk_windows")
    // the adaptive widen repartitions a too-narrow scan (small corpus in
    // one parquet file); there must be NO keyed/aggregate exchange
    assert("Exchange".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("hashpartitioning"), p)
    assert(p.contains("Generate") && p.contains("posexplode"), p)
  }

  test("mix1: keep-rates broadcast onto the scan, no shuffle of the corpus") {
    val p = plan("mix1_temperature")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only exchanges aggregate the tiny per-domain counts
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ta8: vocabulary joins back via broadcast; per-doc agg is partial+final") {
    val p = plan("ta8_token_rarity")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // partial+final x2
  }

  test("lookup on a compacted table prunes snapshot AND log partition dirs") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val cat = new graft.core.Catalog(
      java.nio.file.Files.createTempDirectory("graft-audit").toString, spark)
    val t = cat.createTable("audit", "snapprune", graft.core.TableDescriptor(
      StructType(Seq(StructField("k", LongType), StructField("v", IntegerType))),
      primaryKey = Seq("k"), numBuckets = 8))
    val df = spark.range(50).selectExpr("id AS k", "CAST(id AS INT) AS v")
    t.upsert(df, orderBy = Seq(col("k")))
    t.compact()
    val df2 = spark.range(5).selectExpr("id AS k", "CAST(id + 100 AS INT) AS v")
    t.upsert(df2, orderBy = Seq(col("k")))
    // 8 buckets on local[8] auto-group: ONE grouped scan serves both
    // tiers, point-pruned to the key's bucket at the FILE level
    val p = t.lookup(Map("k" -> 3L)).queryExecution.executedPlan.toString
    assert(p.contains("GraftKeyGroupedScan") &&
      raw"PartitionFilters: \[[^\]]*__bucket = \d".r.findFirstIn(p).isDefined,
      p)
    // grouping pinned off (the V1 plan): BOTH parquet scans (snapshot +
    // log tail) carry a __bucket partition filter -> 1/numBuckets of the
    // files on each side
    val prev = spark.conf.getOption(graft.core.GroupedReads.Key)
    spark.conf.set(graft.core.GroupedReads.Key, "false")
    try {
      val v1 = t.lookup(Map("k" -> 3L)).queryExecution.executedPlan.toString
      val hits =
        raw"PartitionFilters: \[[^\]]*__bucket[^\]]*\]".r.findAllIn(v1).size
      assert(hits >= 2, v1)
    } finally prev match {
      case Some(v) => spark.conf.set(graft.core.GroupedReads.Key, v)
      case None => spark.conf.unset(graft.core.GroupedReads.Key)
    }
  }

  test("upsert: merge and offset numbering share ONE bucket exchange; the write has none") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    import org.apache.spark.sql.functions.{col, count, count_distinct, lit, max, min}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.core._

    val planHelper = new AdaptiveSparkPlanHelper {}
    def shuffles(qe: QueryExecution): Seq[ShuffleExchangeLike] =
      planHelper.collect(qe.executedPlan) { case e: ShuffleExchangeLike => e }
    def parquetFiles(dir: String): Set[Path] =
      Files.walk(java.nio.file.Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSet

    val width = math.min(16, spark.sparkContext.defaultParallelism)
    val cat = new Catalog(
      Files.createTempDirectory("graft-audit-commit").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType)))
    Seq("default" -> MergeEngine.Default,
        "aggregation" -> MergeEngine.Aggregation(Map("v" -> AggFunction.Sum)))
      .foreach { case (name, engine) =>
        val t = cat.createTable("audit", s"commit_$name", TableDescriptor(
          schema, primaryKey = Seq("k"), numBuckets = 16, mergeEngine = engine))
        t.upsert(spark.range(400).selectExpr("id AS k", "id AS v"))
        val bases = t.latestOffsets
        val filesBefore = parquetFiles(s"${t.path}/log")

        /** One upsert's query executions, completed stages (tasks,
          * shuffle records read, bytes written) and touched-bucket probes
          * (the probe's SQL execution plan, the jobs it ran).
          */
        case class Traced(plans: Seq[(String, QueryExecution)],
            stages: Seq[(Int, Long, Long)], probes: Seq[(String, Int)])
        def traced(batch: org.apache.spark.sql.DataFrame): Traced = {
          val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
          val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long)]
          val probes = new java.util.concurrent.ConcurrentHashMap[Long, String]
          val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Long]
          val qeListener = new QueryExecutionListener {
            override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
              plans.add(f -> qe)
            override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
          }
          val stageListener = new SparkListener {
            override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
              val m = e.stageInfo.taskMetrics
              stages.add((e.stageInfo.numTasks, m.shuffleReadMetrics.recordsRead,
                m.outputMetrics.bytesWritten))
            }
            override def onJobStart(e: SparkListenerJobStart): Unit =
              Option(e.properties).flatMap(p =>
                Option(p.getProperty("spark.sql.execution.id")))
                .foreach(id => jobs.add(id.toLong))
            // a probe's SQL execution is the one its call stack names
            override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
              case s: SparkListenerSQLExecutionStart
                  if s.details.contains("touchedBuckets") =>
                probes.put(s.executionId, s.physicalPlanDescription)
              case _ =>
            }
          }
          spark.listenerManager.register(qeListener)
          spark.sparkContext.addSparkListener(stageListener)
          try {
            t.upsert(batch)
            eventually(timeout(30.seconds)) {
              val fs = plans.asScala.map(_._1).toSeq
              assert(fs.contains("localCheckpoint") && fs.contains("command"), fs)
              assert(stages.asScala.exists(_._3 > 0))
            }
          } finally {
            spark.listenerManager.unregister(qeListener)
            spark.sparkContext.removeSparkListener(stageListener)
          }
          val jobIds = jobs.asScala.toSeq
          Traced(plans.asScala.toSeq, stages.asScala.toSeq,
            probes.asScala.toSeq.map { case (id, plan) =>
              plan -> jobIds.count(_ == id) })
        }

        // 200 updated keys + 200 new ones: every bucket is touched
        val generated = traced(
          spark.range(200, 600).selectExpr("id AS k", "id * 10 AS v"))
        // the touched-bucket probe is ONE bounded limit collect: no
        // distinct, so no exchange, and it prunes nothing here
        assert(generated.probes.size == 1, s"$name: ${generated.probes}")
        assert(generated.probes.forall { case (plan, jobs) =>
          !plan.contains("Exchange") && jobs >= 1 }, s"$name: ${generated.probes}")
        val collects = generated.plans.filter(_._1 == "collect").map(_._2)
        assert(collects.forall(qe => shuffles(qe).isEmpty),
          s"$name: ${collects.map(_.executedPlan)}")
        val all = generated.plans
        val checkpoint = all.filter(_._1 == "localCheckpoint").map(_._2)
        val write = all.filter(_._1 == "command").map(_._2)
        assert(checkpoint.size == 1 && write.size == 1, all.map(_._1))
        // batch ∪ state -> ONE exchange, on __bucket, `width` partitions
        // (the 16-bucket state on local[8] is a grouped read: its collapse
        // needs no exchange of its own)
        val ex = shuffles(checkpoint.head)
        assert(ex.size == 1, s"$name: ${checkpoint.head.executedPlan}")
        assert(ex.head.outputPartitioning.numPartitions == width &&
          ex.head.toString.contains(Meta.Bucket), s"$name: ${ex.head}")
        // the write reads the numbered checkpoint as it lies
        assert(shuffles(write.head).isEmpty, s"$name: ${write.head.executedPlan}")
        // ... in `width` tasks, no shuffle read; the merge stage is as wide
        val st = generated.stages
        val writeStages = st.filter(_._3 > 0)
        assert(writeStages.map(s => (s._1, s._2)) == Seq((width, 0L)), s"$name: $st")
        assert(st.exists(s => s._2 > 0 && s._1 == width), s"$name: $st")

        // one parquet file per touched bucket
        val newFiles = (parquetFiles(s"${t.path}/log") -- filesBefore).toSeq
        val dirs = newFiles.map(_.getParent.getFileName.toString)
        assert(dirs.size == 16 && dirs.distinct.size == 16, s"$name: $dirs")
        // per-bucket offsets contiguous from the pre-commit base, though
        // ~16/width buckets shared each partition of the numbering window
        val committed = t.committedRowsSince(bases)
          .groupBy(col(Meta.Bucket))
          .agg(min(Meta.Offset), max(Meta.Offset),
            count_distinct(col(Meta.Offset)), count(lit(1)))
          .collect()
        assert(committed.length == 16, s"$name")
        committed.foreach { r =>
          val (b, lo, hi, distinct, n) =
            (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
          assert(lo == bases.getOrElse(b, 0L) && hi - lo + 1 == n && distinct == n,
            s"$name bucket $b: [$lo, $hi] for $n rows, base ${bases.get(b)}")
          assert(t.latestOffsets(b) == hi + 1, s"$name bucket $b")
        }

        // a driver-built batch (a client's rows): Spark folds the probe's
        // limit into the LocalRelation, so the probe runs NO job
        val local = traced(spark.createDataFrame(
          (600L until 1000L).map(k => Row(k, k)).asJava, schema))
        assert(local.probes.size == 1 && local.probes.head._2 == 0,
          s"$name: ${local.probes}")
        val localCollects = local.plans.filter(_._1 == "collect").map(_._2)
        assert(localCollects.exists(_.executedPlan.isInstanceOf[LocalTableScanExec]),
          s"$name: ${localCollects.map(_.executedPlan)}")
      }
  }

  test("upsert: each merge engine plans its measured exchanges, sorts and windows") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{QueryExecution, SortExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.util.QueryExecutionListener
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    import graft.core._

    val planHelper = new AdaptiveSparkPlanHelper {}
    /** (exchanges, sorts, windows) of an executed plan, AQE stages included. */
    def shape(qe: QueryExecution): (Int, Int, Int) = {
      val nodes = planHelper.collect(qe.executedPlan) { case n => n }
      (nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[SortExec]), nodes.count(_.isInstanceOf[WindowExec]))
    }
    val cat = new Catalog(
      Files.createTempDirectory("graft-audit-engines").toString, spark)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", LongType), StructField("s", StringType)))
    def rows(from: Long, until: Long): DataFrame = spark.range(from, until)
      .selectExpr("id AS k", "id * 10 AS v", "CAST(id AS STRING) AS s")
    val sum = MergeEngine.Aggregation(Map("v" -> AggFunction.Sum))
    // (path, engine, write of a 1k-row batch, measured (exchanges, sorts,
    // windows) of the merge-and-number job: the merge windows and the
    // offset numbering window, behind the one bucket exchange)
    val paths: Seq[(String, MergeEngine, (GraftTable, DataFrame) => Unit, (Int, Int, Int))] = Seq(
      ("default upsert", MergeEngine.Default, (t, b) => t.upsert(b), (1, 2, 2)),
      ("default upsertMixed", MergeEngine.Default,
        (t, b) => t.upsertMixed(b.selectExpr("*", "k % 5 = 0 AS __delete")), (1, 2, 2)),
      ("partial update", MergeEngine.Default,
        (t, b) => t.upsert(b, targetColumns = Some(Seq("v"))), (1, 3, 4)),
      ("aggregation", sum, (t, b) => t.upsert(b), (1, 3, 4)),
      ("first_row", MergeEngine.FirstRow, (t, b) => t.upsert(b), (1, 2, 2)),
      ("versioned", MergeEngine.Versioned("v"), (t, b) => t.upsert(b), (1, 2, 3)),
      // listagg has no exact running form: the RowMergers cogroup
      ("cogroup", MergeEngine.Aggregation(Map("s" -> AggFunction.ListAgg)),
        (t, b) => t.upsert(b), (3, 3, 1)))
    paths.zipWithIndex.foreach { case ((name, engine, write, (ex, sorts, windows)), i) =>
      val t = cat.createTable("audit", s"engine_$i", TableDescriptor(
        schema, primaryKey = Seq("k"), numBuckets = 16, mergeEngine = engine))
      t.upsert(rows(0, 4000))
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(f -> qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        write(t, rows(3500, 4500))
        eventually(timeout(30.seconds)) {
          val fs = plans.asScala.map(_._1).toSeq
          assert(fs.contains("localCheckpoint") && fs.contains("command"), fs)
        }
      } finally spark.listenerManager.unregister(listener)
      val all = plans.asScala.toSeq
      val merge = all.filter(_._1 == "localCheckpoint").map(_._2)
      val commit = all.filter(_._1 == "command").map(_._2)
      assert(merge.size == 1 && commit.size == 1, s"$name: ${all.map(_._1)}")
      val (gotEx, gotSorts, gotWindows) = shape(merge.head)
      assert(gotEx == ex && gotSorts == sorts && gotWindows <= windows,
        s"$name: ($gotEx, $gotSorts, $gotWindows) vs ($ex, $sorts, <= $windows)\n" +
          merge.head.executedPlan)
      assert(shape(commit.head)._1 == 0, s"$name: ${commit.head.executedPlan}")
    }
  }

  test("sim1: scoring runs inside whole-stage codegen") {
    val p = plan("sim1_cosine_topk")
    // `*(n)` prefixes mark WholeStageCodegen spans; graft_dot must be
    // inside one (a non-codegen expression would break the span)
    assert(p.contains("*(1) Project") || p.contains("*(1) Filter"), p)
    assert(p.contains("graft_dot"), p)
  }

  test("h5: all funnel step windows share ONE user-keyed exchange") {
    val p = plan("h5_funnel")
    // three chained step-min windows + the per-user collapse must reuse a
    // single hashpartitioning(user_id) exchange — funnel cost is one
    // shuffle regardless of step count
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("ta13: rule filter runs at scan speed — no keyed shuffle") {
    val p = plan("ta13_gopher_rules")
    assert(!p.contains("hashpartitioning"), p)
    assert("Exchange".r.findAllIn(p).size <= 1, p) // only the input widen
  }

  test("f4: theta sketch filters before the distinct agg; scan reads one column") {
    val p = plan("f4_theta_distinct")
    assert(p.contains("ReadSchema: struct<o_custkey:bigint>"), p)
    // the threshold filter is below the aggregation (map-side sample)
    assert(p.indexOf("HashAggregate") < p.indexOf("Filter"), p)
  }

  test("h7: quantiles never globally sort the data after ranking") {
    // the range partition + per-partition rank live inside the
    // localCheckpoint (the audited plan scans the materialized RDD); the
    // visible plan must join the driver-size offsets/total by broadcast
    // and never sort the value column globally
    val p = plan("h7_quantiles")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin [__pid"), p)
    assert(raw"Sort \[__v[^\n]*\], true".r.findFirstIn(p).isEmpty, p)
  }
}
