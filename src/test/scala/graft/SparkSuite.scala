package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session — one per suite (lazy), on the `test` profile. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build("test", Seq(
    // unique per JVM: test groups fork in parallel (build.sbt testGrouping),
    // and two sessions sharing a managed-table root would race
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))

  def sf(name: String): String = s"/root/testdata/$name"
}
