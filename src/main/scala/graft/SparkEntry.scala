package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {

  /** All op registries, merged. Each ops object owns its queries+oracles. */
  private def registries: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (ops.Relational.queries, ops.Relational.oracles),
      (ops.Recommend.queries, ops.Recommend.oracles),
      (ops.TextOps.queries, ops.TextOps.oracles),
      (ops.Dedup.queries, ops.Dedup.oracles),
      (ops.Similarity.queries, ops.Similarity.oracles),
      (ops.EventOps.queries, ops.EventOps.oracles),
      (ops.Multimodal.queries, ops.Multimodal.oracles),
      (ops.IoOps.queries, ops.IoOps.oracles),
      (ops.Graph.queries, ops.Graph.oracles),
      (ops.Pipeline.queries, ops.Pipeline.oracles),
      (ops.Probes.queries, ops.Probes.oracles))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.q03(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registries.iterator.flatMap(_._1).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → weaker rows-only check. */
  def oracleSql: Map[String, String] =
    registries.iterator.flatMap(_._2).toMap

  /** The full query key for `k`: `k` itself when registered, else the
    * one key it prefixes. An ambiguous prefix ("e2" hits e20/e21/...)
    * is refused rather than resolved to an arbitrary match; an
    * unknown one is returned as given. */
  def resolveKey(k: String): String =
    if (queries.contains(k)) k
    else queries.keys.filter(_.startsWith(k)).toSeq.sorted match {
      case Seq(one) => one
      case Seq() => k
      case many => sys.error(s"ambiguous query prefix '$k': ${many.mkString(", ")}")
    }
}
