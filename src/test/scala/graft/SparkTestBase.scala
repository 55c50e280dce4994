package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** Shared local SparkSession for operator specs. */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Sessions.local(4, 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
