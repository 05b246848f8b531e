package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Cast every top-level DECIMAL output column to DOUBLE before dumping.
    *
    * The engine aggregates in decimal on purpose (exact, order-independent
    * across shuffle partitions), but the comparison surface must be double:
    * the driver's oracle path materializes DuckDB results through pandas,
    * which renders DECIMAL as float64, while a decimal parquet column read
    * back keeps Decimal objects — "38.9" vs "38.900000" then hash-mismatch
    * even though the values are equal (every round-3/4 hash miss was exactly
    * the decimal-bearing outputs). A decimal→double cast of the *same* exact
    * decimal is deterministic and identical in Spark and DuckDB, so each
    * oracle in SparkEntry.oracleSql applies the same final CAST(… AS DOUBLE).
    */
  private[graft] def canon(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case _: DecimalType => col(f.name).cast(DoubleType).as(f.name)
        case _              => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }
  def main(args: Array[String]): Unit = {
    // driver contract: (sfDir, outDir). Extra args (local use) filter the
    // query set — `runMain graft.Verify <sf> <out> q1 q2` dumps just those.
    val (sfDir, outDir) = (args(0), args(1))
    val only = args.drop(2).toSet
    val spark = SessionProfile.start(SessionProfile.builder(SessionProfile.envCores))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try canon(fn(spark, sfDir)).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Round-1 driver compare keyed every result by its output FILENAME
    // (`<name>.parquet`) and found no oracle for any query — so emit each
    // SQL under both the bare name and the filename-keyed alias.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
