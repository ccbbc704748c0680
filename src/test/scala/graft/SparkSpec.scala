package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; Spark
  * reuses it across suites via getOrCreate).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local(cpus = 4)

  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"

  override protected def afterAll(): Unit = {
    // session is shared across suites — do not stop it here
    super.afterAll()
  }
}
