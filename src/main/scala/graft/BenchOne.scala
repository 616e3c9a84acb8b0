package graft
/** Time a single query with the Bench harness settings (3 runs). A
  * setting is varied with a `-Dspark.*` flag (see [[Session]]). */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // opt-in per-job attribution: wall, stage and task count per job,
    // so a slow key decomposes into few-big-jobs (data) vs
    // many-small-jobs (scheduling/materialization floor)
    if (sys.env.contains("SPARK_GRAFT_JOBS")) {
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          private val starts =
            new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
          override def onJobStart(
              e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            starts.put(e.jobId, (System.nanoTime(), e.stageInfos.size)): Unit
          override def onJobEnd(
              e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val st = starts.remove(e.jobId)
            if (st != null) {
              val ms = (System.nanoTime() - st._1) / 1e6
              if (ms > 20)
                println(f"[job] id=${e.jobId}%4d ms=$ms%8.1f stages=${st._2}%3d")
            }
          }
        })
    }
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(s"$name: ${ts.map(t => f"$t%.2f").mkString(" ")}")
    }
    spark.stop()
  }
}
