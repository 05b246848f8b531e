package graft.ops

import graft.SessionProfile

/** Plan-review utility: prints `explain("formatted")` for representative
  * queries so scan pushdowns (PushedFilters / partition pruning /
  * ReadSchema pruning), join strategies (broadcast vs shuffle), and
  * whole-stage-codegen spans can be audited per operator.
  *
  * Usage: runMain graft.ops.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = SessionProfile.start(
      SessionProfile.builder(SessionProfile.envCores), logLevel = "ERROR")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (names.isEmpty || names.contains(name)) {
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    }
    spark.stop()
  }
}
