package graft.tools

import graft.SessionProfile

/** Mirrors the driver's smoke check: SparkEntry.entry must return rows. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = SessionProfile.start(SessionProfile.builder(SessionProfile.envCores))
    val n = graft.SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n")
    spark.stop()
  }
}
