package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). Pinned
  * at 4 cores whatever the machine, so the partition counts specs assert
  * (JdbcRoundTripSpec) do not vary with the host. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4, overrides = Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))

  def sf(name: String): String = s"/root/testdata/$name"
}
