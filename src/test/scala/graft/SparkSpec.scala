package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs, from the engine's session
  * factory (functions and optimizer rules installed). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = {
    // session is shared across suites; do not stop it here
    super.afterAll()
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.cli.GraftSession.build("local[4]")
}
