package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (small data → tiny shuffle partitions). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def resourcePath(name: String): String =
    getClass.getResource(s"/$name").getPath
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession("graft-test", 2)
}
