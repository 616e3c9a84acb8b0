package graft

/** Streaming micro-batch DIAGNOSTIC (round 13): runs the named gate
  * keys with a StreamingQueryListener attached and prints every
  * micro-batch's durationMs breakdown (addBatch / getBatch /
  * queryPlanning / walCommit / commitOffsets / triggerExecution) plus
  * state-store rows and commit ms. The bench's MicroBatch ledger
  * attributes drift to more-batches vs slower-batches; this tool
  * decomposes a slow batch into plan/exec/state/commit so the fix
  * targets the real term. Usage:
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.StreamDiag e44 e20"
  * Stream partitions and the state-store provider are `-D` flags:
  * `spark.graft.streamShufflePartitions`,
  * `spark.sql.streaming.stateStore.providerClass` (see [[Session]]).
  */
object StreamDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val lst = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val dm = p.durationMs
        val ss = p.stateOperators.map(o =>
          s"rows=${o.numRowsTotal} upd=${o.numRowsUpdated} rem=${o.numRowsRemoved} " +
          s"commitMs=${o.commitTimeMs} mem=${o.memoryUsedBytes}").mkString(" | ")
        println(s"[diag] t=${System.currentTimeMillis() % 1000000} " +
          s"batch=${p.batchId} trigger=${dm.get("triggerExecution")}ms " +
          s"addBatch=${dm.get("addBatch")} getBatch=${dm.get("getBatch")} " +
          s"latestOffset=${dm.get("latestOffset")} plan=${dm.get("queryPlanning")} " +
          s"wal=${dm.get("walCommit")} commit=${dm.get("commitOffsets")} " +
          s"rows_in=${p.numInputRows} state[$ss]")
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(lst)
    // optional poor-man's profiler: every 500 ms print the deepest
    // non-idle stacks, so a slow micro-batch shows WHERE it spins
    if (sys.env.contains("SPARK_GRAFT_DIAG_DUMP")) {
      val t = new Thread(() => {
        while (true) {
          Thread.sleep(500)
          val stacks = Thread.getAllStackTraces
          val it = stacks.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val st = e.getValue
            val name = e.getKey.getName
            val top = st.take(12).map(_.toString)
            val busy = st.nonEmpty &&
              !top.head.contains("Unsafe.park") &&
              !top.head.contains("Object.wait") &&
              !top.head.contains("Thread.sleep") &&
              !top.head.contains("SocketDispatcher") &&
              !top.head.contains("EPoll") &&
              !top.head.contains("PlainSocket") &&
              !top.head.contains("Net.poll") &&
              !top.head.contains("Signal")
            if (busy && (name.startsWith("Executor task") ||
                name.contains("stream execution") ||
                name.contains("state-store") ||
                name.contains("query-execution")))
              println(s"[stack] $name :: ${top.mkString(" <- ")}")
          }
        }
      })
      t.setDaemon(true)
      t.start()
    }
    val keys = if (args.nonEmpty) args.toSeq else Seq("e44")
    for (k <- keys) {
      val full = SparkEntry.resolveKey(k)
      println(s"[diag] === $full === t=${System.currentTimeMillis() % 1000000}")
      val t0 = System.nanoTime()
      SparkEntry.queries(full)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"[diag] $full wall=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
