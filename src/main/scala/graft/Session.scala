package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every main (and the shared test session)
  * builds its SparkSession here, from one config table and with
  * [[GraftExtensions]] (native functions, both planner strategies and
  * the SimplifySelfCosine rule) present at build time.
  *
  * Width is `SPARK_GRAFT_CPUS` task slots (default 4): `local[cpus]`
  * with as many shuffle partitions. Any other setting goes through
  * Spark's own mechanism: SparkConf loads every `spark.*` JVM system
  * property, and the factory leaves out its default for each key one
  * sets, so the flag wins on every main. For example:
  * {{{
  * sbt 'set javaOptions += "-Dspark.sql.adaptive.enabled=false"' "runMain graft.Verify …"
  * }}}
  */
object Session {
  /** Task slots of a local session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The config table every session starts from. */
  def defaults(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // TypedImperativeAggregate (TopKAgg/MinHashAgg/MisraGriesAgg)
    // runs in ObjectHashAggregate, which falls back to SORT-based
    // aggregation after 128 groups by default — that re-sorts the
    // whole fan-out the heap aggregates exist to avoid. The buffers
    // are tiny (k entries each); let the hash path keep them.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4194304",
    "spark.ui.enabled" -> "false")

  /** `table` minus every key that `props` (the JVM system properties)
    * sets: SparkConf reads those itself, and a builder value would
    * override them. */
  def settings(table: Seq[(String, String)],
      props: collection.Map[String, String] = sys.props): Seq[(String, String)] =
    table.filterNot { case (k, _) => props.contains(k) }

  /** A local session of `cpus` task slots; `extra` adds keys to the
    * table. It logs at ERROR: Bench's JSON line and Verify's echo line
    * are read from the tail of the run's log, and a stray warning after
    * them can push them out of the captured part. */
  def local(cpus: Int = Session.cpus, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder().withExtensions(new GraftExtensions)
    settings(defaults(cpus) ++ extra).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
