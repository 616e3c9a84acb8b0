package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

class BridgeSpec extends graft.SparkSpec {
  test("cachedSize reports a pinned frame only while every partition is cached") {
    val pinned = spark.range(0, 400, 1, 4).toDF("id").localCheckpoint()
    val rddId = pinned.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    // read right after the checkpoint, with nothing draining the
    // listener bus: the size comes from the block manager master
    val Some((bytes, parts)) = Bridge.cachedSize(pinned): @unchecked
    val blockBytes = (0 until 4).map { p =>
      val st = SparkEnv.get.blockManager.getStatus(RDDBlockId(rddId, p)).get
      st.memSize + st.diskSize
    }
    assert(parts == 4 && bytes > 0 && bytes == blockBytes.sum)
    SparkEnv.get.blockManager.removeBlock(RDDBlockId(rddId, 0))
    assert(Bridge.cachedSize(pinned).isEmpty)
  }
}
