package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + testdata paths for all specs. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    val s = Session.local(cpus = 4, extra = Seq(
      "spark.app.name" -> "graft-test",
      "spark.sql.warehouse.dir" -> wh,   // bucketed-table tests
      "javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$wh/metastore_db;create=true"))
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
