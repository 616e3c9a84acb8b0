package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table readers for the driver testdata layout.
  *
  * Every op goes through these so that scans stay schema-pruned: callers
  * `.select(...)` immediately, and Catalyst pushes both the projection and
  * any filters down to the parquet reader (verify via
  * `.explain("formatted")` → ReadSchema / PushedFilters).
  *
  * At cluster scale the same API would point at partitioned/bucketed
  * warehouse paths; locally it reads the single driver-generated file.
  *
  * Schema inference is a one-task parquet-footer job per read, so each
  * table's inferred schema is memoized per (session, path, modification
  * time) and later reads pass it to the reader: a rewritten file gets a
  * new key. [[events]] sets `nanosAsLong` before every read, so its
  * schema is always inferred under that conf.
  */
object Tables {
  private val schemas = graft.ops.Memo.artifact[StructType]("parquet_schema")

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val p = new Path(path)
    val mtime = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(p).getModificationTime
    val st = schemas(spark, path, mtime.toString)(spark.read.parquet(path).schema)
    spark.read.schema(st).parquet(path)
  }

  def region(s: SparkSession, d: String): DataFrame    = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = read(s, d, "lineitem")
  /** events.parquet's `ts` physical type has varied across driver
    * testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized
    * reader only accepts as long via the legacy conf) and native
    * TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ). Adapt on the read
    * schema so every downstream op always sees a session-local
    * TimestampType `ts` — the session timezone is pinned to UTC
    * by graft.Session, so the NTZ→LTZ cast is
    * value-preserving and matches DuckDB's naive-timestamp reading. */
  def events(s: SparkSession, d: String): DataFrame = {
    // The NTZ→LTZ cast below is value-preserving ONLY under a UTC
    // session (matching DuckDB's naive-timestamp reads). Every graft
    // entrypoint pins it; fail loudly for any future caller that
    // doesn't, instead of silently shifting every event timestamp.
    require(s.conf.get("spark.sql.session.timeZone", "") == "UTC",
      "graft.Tables.events requires spark.sql.session.timeZone=UTC " +
        "(graft.Session sets it); read TESTDATA.md")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = read(s, d, "events")
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos-as-long: integer-divide to micros (same truncation
        // DuckDB applies when narrowing ns → us)
        timestamp_micros(expr("ts div 1000"))
      case _ => col("ts").cast("timestamp")
    }
    raw.withColumn("ts", ts)
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
