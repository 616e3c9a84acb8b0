package org.apache.spark.sql.graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

class BridgeSpec extends graft.SparkSpec {
  test("cachedSize reports a pinned frame only while every partition is cached") {
    val pinned = spark.range(0, 400, 1, 4).toDF("id").localCheckpoint()
    val rddId = pinned.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    val Some((bytes, parts)) = Bridge.cachedSize(pinned): @unchecked
    assert(bytes > 0 && parts == 4)
    SparkEnv.get.blockManager.removeBlock(RDDBlockId(rddId, 0))
    // storage info is read from the status store, which the listener
    // bus updates asynchronously
    spark.sparkContext.listenerBus.waitUntilEmpty()
    assert(Bridge.cachedSize(pinned).isEmpty)
  }
}
