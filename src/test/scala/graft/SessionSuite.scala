package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A suite with one session from [[GraftSession]], the mains' recipe,
  * stopped after the suite so the next suite in the same test JVM does
  * not inherit it (with its static confs) through `getOrCreate`. */
trait SessionSuite extends AnyFunSuite with BeforeAndAfterAll {

  /** Cores of the suite's `local[cores]` session. */
  protected def cores: Int = 4

  protected var spark: SparkSession = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark = GraftSession.local(cores)
  }

  override def afterAll(): Unit =
    try if (spark != null) spark.stop() finally super.afterAll()
}
