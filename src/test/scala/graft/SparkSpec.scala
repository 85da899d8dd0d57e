package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session is JVM-shared, not stopped per suite

  /** `c` evaluated by the interpreted expression path (no codegen): the
    * analyzed expression's own `eval`, for columns over literals only.
    */
  def interpret(c: org.apache.spark.sql.Column): Any =
    spark.range(1).select(c).queryExecution.analyzed.expressions.head.eval(null)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.Sessions.builder("local[4]", 7)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
