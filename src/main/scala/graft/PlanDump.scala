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
  * `Pin.cut` sites) show the plan of their materialized RESULT — the
  * upstream plan for those is audited via their OpsSpec plan pins
  * instead. Both forms print [[canonical]] plans, so two dumps of one
  * tree diff clean. Run:
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
    try canonical(SparkEntry.queries(name)(spark, d).queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    catch { case e: Throwable => s"(plan dump failed: ${e.getMessage})\n" }

  /** Run-scoped names, each renumbered per plan in order of first
    * appearance: expression ids (`#n`), exchange `plan_id`s, RDD ids,
    * whole-stage-codegen and AQE query-stage ids, the random suffix of
    * a temp dir, written files' UUIDs and lambda class/instance ids.
    * All come from session or JVM counters, so without this the same
    * plan prints differently depending on what ran before it. */
  private val runScoped = Seq("(#)(\\d+)", "(plan_id=)(\\d+)", "(RDD\\[)(\\d+)",
    "(codegen id : )(\\d+)", "(QueryStage\\nOutput [^\\n]*\\nArguments: )(\\d+)",
    "(/graft_[A-Za-z0-9]+_)(\\d{6,})",
    "()([0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})",
    "(\\$\\$Lambda\\$?)([0-9]+/0x[0-9a-f]+@[0-9a-f]+)").map(_.r)

  private[graft] def canonical(plan: String): String =
    runScoped.foldLeft(plan) { (p, re) =>
      val ids = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(p, m => scala.util.matching.Regex.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }

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
    sb ++= "  Pin.cut sites) show the plan of their materialized RESULT;\n"
    sb ++= "  their upstream plans are pinned in specs.\n"
    plans.foreach { case (name, p) =>
      sb ++= s"\n## $name\n\n```\n"
      sb ++= p
      sb ++= "```\n"
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${plans.size} plans)")
  }
}
