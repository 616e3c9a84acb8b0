package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Formatted physical plans, two forms:
  *  - `PlanDump [sfDir]` writes PLANS.md with EVERY registered query's
  *    plan, the artifact for auditing scan pruning / pushdown / join
  *    strategy / shuffle placement at a glance;
  *  - `PlanDump <sfDir> <outDir> <tag> key…` writes
  *    `<outDir>/<fullKey>_<tag>.txt` per key — the per-round
  *    before/after plan evidence. A key may be a prefix matching
  *    exactly one query (see [[SparkEntry.resolveKey]]).
  * Keys whose construction executes eagerly (streaming harnesses,
  * checkpoint-pinned iterative ops) show the plan of their
  * materialized RESULT — the upstream plan for those is audited via
  * their OpsSpec plan pins instead. Run:
  * `sbt "runMain graft.PlanDump /root/testdata/sf0.01"` */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length <= 1 || args.length >= 4,
      "usage: PlanDump [sfDir] | PlanDump <sfDir> <outDir> <tag> key...")
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val keys = args.drop(3).toSeq.map(SparkEntry.resolveKey)
    val spark = Session.local()
    if (keys.isEmpty) writePlansMd(spark, d)
    else {
      val (out, tag) = (args(1), args(2))
      Files.createDirectories(Paths.get(out))
      keys.foreach { k =>
        Files.writeString(Paths.get(out, s"${k}_$tag.txt"), plan(spark, d, k))
        println(s"[plandump] wrote $k -> $tag")
      }
    }
    spark.stop()
  }

  private def plan(spark: SparkSession, d: String, name: String): String =
    try SparkEntry.queries(name)(spark, d).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    catch { case e: Throwable => s"(plan dump failed: ${e.getMessage})\n" }

  private def writePlansMd(spark: SparkSession, d: String): Unit = {
    val plans = SparkEntry.queries.keys.toSeq.sorted.map(n => n -> plan(spark, d, n))
    // audit facts COMPUTED from this dump, never asserted from memory —
    // a hardcoded "exactly 3 cartesians" claim would keep printing
    // after a regression added a fourth
    val sanctionedCartesian = Set(
      "q65_audience_overlap", // 5x5 region-dim pair join
      "r06_als_recommend", "r13_item_users") // MLlib recommendForAll's
      // blocked factor cross (user blocks x item blocks, GEMM inside
      // MapPartitions) — the standard serving kernel
    val cartesian = plans.collect {
      case (n, p) if p.contains("CartesianProduct") => n }
    val rogue = cartesian.filterNot(sanctionedCartesian)
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans (generated by graft.PlanDump)\n\n"
    sb ++= "Audit points: ReadSchema minimal, PushedFilters present, dims\n"
    sb ++= "broadcast, partial aggregation before every shuffle, no\n"
    sb ++= "unsanctioned cartesian products.\n\n"
    sb ++= s"Computed for this dump (${plans.size} plans):\n"
    sb ++= s"- CartesianProduct plans: ${cartesian.mkString(", ")}\n"
    sb ++= (if (rogue.isEmpty)
      "  (all sanctioned: q65's 5x5 region-dim pair join; r06/r13 are\n" +
      "  MLlib ALS recommendForAll's blocked factor cross — user blocks\n" +
      "  x item blocks under MapPartitions GEMM, block-bounded)\n"
    else s"  !! UNSANCTIONED: ${rogue.mkString(", ")} — audit before shipping\n")
    sb ++= "- Keys whose construction executes eagerly (streaming harnesses,\n"
    sb ++= "  checkpoint-pinned iterative ops) show the plan of their\n"
    sb ++= "  materialized RESULT; their upstream plans are pinned in specs.\n"
    plans.foreach { case (name, p) =>
      sb ++= s"\n## $name\n\n```\n"
      sb ++= p
      sb ++= "```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${plans.size} plans)")
  }
}
