package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestBase {
  lazy val spark: SparkSession =
    SessionProfile.start(SessionProfile.builder(8).appName("graft-test"))
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark

  /** Order-insensitive row comparison (multisets). */
  def assertSameRows(got: Seq[org.apache.spark.sql.Row],
      exp: Seq[org.apache.spark.sql.Row]): Unit = {
    val g = got.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    val e = exp.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))
    assert(g == e, s"\ngot: ${g.mkString("\n     ")}\nexp: ${e.mkString("\n     ")}")
  }
}
