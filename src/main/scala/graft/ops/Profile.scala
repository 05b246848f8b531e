package graft.ops

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.SessionProfile

/** Optimization-round profiling harness (round 16+): times individual
  * SparkEntry queries in a Bench-identical session, with per-JOB timing so
  * multi-job queries (fixture-building ingest paths, streaming fixtures,
  * two-level scans) show WHERE their wall-clock goes. Not a driver
  * surface — Bench stays the contract; this exists so before/after
  * numbers in OPTIMIZATION_r*.md are reproducible.
  *
  * Usage: runMain graft.ops.Profile [sfDir] [reps] [queryName ...]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(3)
    val names = args.drop(2).toSet
    // A/B session-config experiments: "k=v;k=v" applied on top of the
    // Bench-identical profile (set after it, so each override wins)
    val extra = sys.env.getOrElse("PROFILE_CONFS", "").split(";")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }
    val spark = SessionProfile.start(extra.foldLeft(
      SessionProfile.builder(SessionProfile.envCores))((b, kv) => b.config(kv._1, kv._2)))

    // per-job timing: description (or callsite) + millis
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    @volatile var collecting = false
    val sb = new java.lang.StringBuilder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (collecting) {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        jobStart.put(js.jobId, (System.nanoTime(), desc))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (collecting) {
        Option(jobStart.remove(je.jobId)).foreach { case (t0, desc) =>
          val ms = (System.nanoTime() - t0) / 1e6
          sb.synchronized {
            sb.append(f"    job ${je.jobId}%4d ${ms}%8.0f ms  $desc%n")
          }
          ()
        }
      }
    })

    // Bench-identical warmup so first-rep numbers aren't codegen noise
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag").count().write.format("noop").mode("overwrite").save()
      Fixtures.prebuild(spark, sfDir)
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[profile] warmup failed: ${e.getMessage}")
    }

    val qs = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    qs.foreach { case (name, fn) =>
      val times = (1 to reps).map { i =>
        // cold per rep, like a bench pass boundary
        Fixtures.clearCache()
        spark.catalog.clearCache()
        System.gc()
        val verbose = i == reps // job breakdown on the last rep only
        if (verbose) { sb.setLength(0); collecting = true }
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[profile] $name rep $i failed: ${e.getMessage}")
        }
        val s = (System.nanoTime() - t0) / 1e9
        if (verbose) collecting = false
        s
      }
      println(f"$name%-28s ${times.map(t => f"$t%7.3f").mkString(" ")}  min=${times.min}%7.3f")
      if (sys.env.get("PROFILE_JOBS").contains("1")) print(sb.toString)
    }
    spark.stop()
  }
}
