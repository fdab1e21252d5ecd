package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local session per suite, built by
  * GraftSession like every entry point, but 4-way to keep fixture-sized
  * shuffles cheap. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // Managed-table tests (OltpSourcesSpec) must not litter the repo with
  // ./spark-warehouse; the session is shared JVM-wide so this applies once.
  lazy val spark: SparkSession = GraftSession.build(getClass.getSimpleName,
    cores = 4, warehouseDir = Some(
      java.nio.file.Files.createTempDirectory("graft_wh").toString))

  val sf001 = "/root/testdata/sf0.001"

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
  def money(s: String): java.math.BigDecimal =
    new java.math.BigDecimal(s).setScale(2)

  override def afterAll(): Unit = {
    spark.stop()
    super.afterAll()
  }
}
