package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * `sbt test` fast; suites must not mutate session-global state). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  /** Built by the same factory as every entry point, so suites run under
    * the deployed conf (RocksDB state store, codegen cache, graft SQL
    * functions). A fixed 4 cores, not SPARK_GRAFT_CPUS: test results
    * must not depend on the box. */
  lazy val session: SparkSession = Session.local(4)
}
