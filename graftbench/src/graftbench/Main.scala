package graftbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints one `GRAFTBENCH_RAW {...}` line with the
  * raw samples and end measurements; `run.py` turns it into metrics.
  *
  * Usage: `graftbench.Main <workload> <seed> <trace 0|1> <run dir>`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(name, seedArg, traceArg, runDir) = args
    val shape = Shape.all.getOrElse(name,
      sys.error(s"unknown workload $name; known: ${Shape.all.keys.mkString(", ")}"))
    val seed = seedArg.toLong
    val t0 = System.nanoTime()
    val spark = session(runDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, traceArg == "1")
    val wl = new Workload(spark, name, shape, seed, tracer, runDir)

    // the warm-up runs every op kind and leaves the table compacted at
    // the start of a maintenance period, where the measured phase begins;
    // a full GC then gives every run the same clean heap to start from
    val loadS = wl.setUp()
    val t1 = System.nanoTime()
    wl.warmUp()
    System.gc()
    val warmS = (System.nanoTime() - t1) / 1e9
    // set-up time is the process's: JVM start to the first measured op
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

    val gc0 = gcMillis
    val codegen0 = codegenCompiles
    val committed0 = wl.committedRows
    tracer.count("measured_t0", System.currentTimeMillis())
    val measuredS = wl.measure()
    tracer.count("measured_t1", System.currentTimeMillis())
    tracer.count("gc_ms", gcMillis - gc0)
    tracer.count("codegen_compiles", codegenCompiles - codegen0)
    tracer.count("measured_s", measuredS)
    tracer.count("measured_cycles", wl.measuredCycles)
    tracer.count("nproc", Runtime.getRuntime.availableProcessors())
    tracer.count("rows_upserted", wl.rowsUpserted)
    tracer.count("input_bytes", wl.inputBytes)
    tracer.count("committed_rows", wl.committedRows - committed0)
    tracer.count("live_rows", wl.liveRows)
    tracer.count("commit_conflicts", wl.commitConflicts)
    tracer.count("manifest_bytes", wl.manifestBytes)
    tracer.count("table_bytes", Workload.dirBytes(wl.tablePath))
    tracer.dump(s"$runDir/spans.jsonl")

    // cached and checkpointed blocks go first; Spark's cleaner frees the
    // blocks of collected broadcasts and shuffles asynchronously, so each
    // collection is followed by a pause for it before the next reading
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val spaceAmp = wl.spaceAmp()

    val json = Tracer.obj(Seq[(String, Any)](
      "workload" -> name, "seed" -> seed, "session_s" -> sessionS,
      "load_s" -> loadS, "warmup_s" -> warmS, "setup_s" -> setupS,
      "measured_s" -> measuredS, "rows_upserted" -> wl.rowsUpserted,
      "docs_deduped" -> wl.docsDeduped, "dedup_s" -> wl.dedupSeconds,
      "space_amp" -> spaceAmp, "heap_retained_mb" -> heapMb,
      "attempted" -> wl.ledger.attempted, "failed" -> wl.ledger.failed,
      "failures" -> wl.ledger.failures) ++
      wl.samples.map { case (k, v) => s"samples_$k" -> v }: _*)
    // the result goes out before shutdown, so a slow stop cannot lose it
    println("GRAFTBENCH_RAW " + json)
    System.out.flush()
    spark.stop()
    sys.exit(0)
  }

  def session(runDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .config(s"spark.sql.catalog.${Workload.CatalogName}", "graft.connector.GraftCatalog")
      .config(s"spark.sql.catalog.${Workload.CatalogName}.warehouse", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def gcMillis: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  private def codegenCompiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
}
