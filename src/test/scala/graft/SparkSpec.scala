package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for specs. One session per suite; local[4]
  * with small shuffle partitioning (we test semantics here, not scale). */
trait SparkSpec extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", 4).appName(suiteName).getOrCreate()

  override def afterAll(): Unit = {
    try spark.stop()
    finally super.afterAll()
  }
}
