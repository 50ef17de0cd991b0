package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for library specs: the mains' own
  * [[Session]] config at 4 cores, so plan and job contracts run at the
  * scan parallelism the bench times.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(4)
}
