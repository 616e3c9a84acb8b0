package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

class SessionSpec extends SparkSpec {

  test("the config table pins width, UTC, the fallback threshold and UI off") {
    val t = Session.defaults(6).toMap
    assert(t("spark.master") == "local[6]")
    assert(t("spark.sql.shuffle.partitions") == "6")
    assert(t("spark.sql.session.timeZone") == "UTC")
    assert(t("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4194304")
    assert(t("spark.ui.enabled") == "false")
  }

  test("a spark.* system property suppresses the factory default for its key") {
    val table = Session.defaults(4)
    val kept = Session.settings(table, Map("spark.sql.shuffle.partitions" -> "7"))
    assert(!kept.exists(_._1 == "spark.sql.shuffle.partitions"))
    assert(kept == table.filterNot(_._1 == "spark.sql.shuffle.partitions"))
    assert(Session.settings(table, Map.empty[String, String]) == table)
  }

  test("the shared session carries the table and the extensions") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "4194304")
    // a new session holds only built-in and extension functions, none of
    // the temp functions VectorOps.install may have added to `spark`
    val fresh = spark.newSession()
    val v = fresh.sql("SELECT cosine_sim(array(3.0d, 4.0d), array(4.0d, 3.0d)) AS c")
      .collect()(0).getDouble(0)
    assert(math.abs(v - 0.96) < 1e-12)
    // SimplifySelfCosine is in the optimizer
    val self = fresh.sql(
      "SELECT cosine_sim(v, v) AS c FROM (SELECT array(CAST(id AS DOUBLE)) AS v FROM range(2))")
    assert(!self.queryExecution.optimizedPlan.toString.contains("cosine_sim"))
  }

  test("src/main builds a SparkSession only in Session.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val sites = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("SparkSession.builder") => s"$p:${i + 1}"
        }
      }
    assert(sites.size == 1 && sites.head.startsWith("src/main/scala/graft/Session.scala:"),
      sites.mkString(", "))
  }
}
