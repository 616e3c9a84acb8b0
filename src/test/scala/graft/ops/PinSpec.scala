package graft.ops

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The materialization API: one module decides the lineage-cut policy,
  * `cut` compacts by bytes, `share` hands back a built cache. */
class PinSpec extends graft.SparkSpec {

  test("src/main cuts lineage only in Pin.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root))
    val sites = Files.walk(root).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("localCheckpoint(") || line.contains(".checkpoint(") =>
            s"$p:${i + 1}"
        }
      }
    assert(sites.nonEmpty && sites.forall(_.startsWith("src/main/scala/graft/ops/Pin.scala:")),
      sites.mkString(", "))
  }

  test("cut compacts a small frame to one partition unless pinPartitionBytes is 0") {
    val df = spark.range(0, 400, 1, 16).toDF("id")
    assert(Pin.cut(df).rdd.getNumPartitions == 1)
    val key = "spark.graft.pinPartitionBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    try assert(Pin.cut(df).rdd.getNumPartitions == 16)
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("share returns a MEMORY_AND_DISK frame whose every partition is already cached") {
    val shared = Pin.share(spark.range(0, 400, 1, 4).toDF("id")
      .withColumn("twice", col("id") * 2))
    try {
      assert(shared.storageLevel == StorageLevel.MEMORY_AND_DISK)
      val Some((bytes, parts)) = Bridge.cachedSize(shared): @unchecked
      assert(parts == 4 && bytes > 0)
    } finally shared.unpersist()
  }
}
