package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, sbt forks once). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.sharedSession
  val sf: String = "/root/testdata/sf0.001"

  /** The fixtures of another scale factor beside [[sf]] (TESTDATA.md). */
  def sfDir(scale: String): String =
    java.nio.file.Paths.get(sf).resolveSibling(scale).toString
}

object SparkSpec {
  /** The production session (Engine.session) at 4 cores, sized for the
    * sf0.001 fixtures like Bench sizes for its sf dir. */
  lazy val sharedSession: SparkSession = Engine.session("graft-test", 4,
    // bucketed-table specs use saveAsTable; keep the warehouse out of
    // the repo tree
    Map("spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-test-wh").toString),
    dataDir = Some("/root/testdata/sf0.001"))
}
