package graft

/** d11 candidate-count slope diagnostic (round 13 — VERDICT r12 #6:
  * d11_simhash_neardup sat AT the sf1 soak's 10× bar two rounds
  * running; BASELINE §5 calls it linear-with-constant from residual
  * band collisions — this measures that claim instead of asserting
  * it). For each SF dir argument, counts the exact frames the gated
  * key builds: raw band-bucket candidate pairs (the join fan-out that
  * would blow up first), distinct candidate pairs, and verified
  * near-dups (hamming ≤ 3). One JSON line per dir; the slope between
  * dirs goes into BASELINE §5.
  *
  * Usage: runMain graft.D11Slope <sfDir> [<sfDir> ...]
  */
object D11Slope {
  def main(args: Array[String]): Unit = {
    val spark = Session.local()
    args.foreach { d =>
      val cand = ops.Pin.cut(ops.Dedup.d11Cand(spark, d))
      val raw = cand.count()
      val distinctPairs = cand.distinct().count()
      val verified = cand.distinct()
        .filter(org.apache.spark.sql.functions.col("hamming") <= 3).count()
      val docs = spark.read.parquet(s"$d/documents.parquet").count()
      println(s"""{"dir":"$d","docs":$docs,"cand_raw":$raw,""" +
        s""""cand_distinct":$distinctPairs,"verified":$verified}""")
    }
    spark.stop()
  }
}
