package graft

/** Driver-contract smoke: SparkEntry.entry on sf0.001 must return
  * rows — the same check the round driver runs. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    val n = SparkEntry.entry(spark).count()
    println(s"""{"entry_rows":$n,"ok":${n > 0}}""")
    spark.stop()
  }
}
