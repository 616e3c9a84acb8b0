package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Driver-gate DIAGNOSTIC battery (round-10, VERDICT r9 "Next round"
  * #1): r44/r49 have hash-failed the driver's oracle for three rounds
  * while passing bit-for-bit against local DuckDB 1.0.0 at sf0.01 AND
  * sf0.1 — so the divergence lives in the driver's oracle environment
  * (a different DuckDB build), and only the driver's own pass/fail
  * vector can name it. Two probe families turn that vector into the
  * diagnostic channel, with zero dependence on the log tail:
  *
  *  - x0N_probe_*: one-row, constant-only queries that each isolate
  *    ONE suspect DuckDB construct (date arithmetic, hex-string cast,
  *    floor division at each width, DECIMAL rendering). A red x-probe
  *    names the construct; the matching oracle idiom then gets
  *    rewritten out of every query that uses it.
  *  - x44a..d / x49a..d: single-column projections of the r44/r49 pipelines
  *    (same Spark plan, same oracle, one gated column each). A red
  *    sub-gate names the COLUMN that diverges.
  *
  * The battery is deliberately cheap: the x0 probes scan nothing, and
  * the sub-gates select from ONE memoized, checkpointed run of each
  * parent pipeline (see parentCache below) rather than re-executing it
  * per key. Everything here gates like any other key (rows / schema /
  * hash via tools/compare.py locally, the driver's DuckDB in-round).
  */
object Probes {

  /** One-row constant frame — `range(1)` keeps the plan a local scan. */
  private def one(s: SparkSession, cols: Column*): DataFrame =
    s.range(1).select(cols: _*)

  // x01: DATE − DATE day count — the construct r44's oracle uses since
  // round 10. Core SQL surface; expected green on every DuckDB build.
  def x01(s: SparkSession, d: String): DataFrame =
    one(s, datediff(lit(java.sql.Date.valueOf("1998-08-02")),
      lit(java.sql.Date.valueOf("1992-01-07"))).cast("long").as("days"))
  val x01Sql: String =
    "SELECT CAST((DATE '1998-08-02' - DATE '1992-01-07') AS BIGINT) AS days"

  // x02: date_diff('day', start, end) — the construct r44's oracle
  // used through round 9 (its ONLY user in the suite). DuckDB has
  // changed this function's convention across releases; if the driver
  // build diverges, THIS key goes red and names it.
  def x02(s: SparkSession, d: String): DataFrame = x01(s, d)
  val x02Sql: String =
    "SELECT CAST(date_diff('day', DATE '1992-01-07', DATE '1998-08-02') " +
      "AS BIGINT) AS days"

  // x03: hex-string→BIGINT cast (the sqlHash56 idiom behind every
  // ids_checksum). Used by dozens of green keys — a control probe.
  def x03(s: SparkSession, d: String): DataFrame =
    one(s, Hashing.hash56(lit("graft#probe")).as("h"))
  val x03Sql: String =
    s"SELECT ${Hashing.sqlHash56("'graft#probe'")} AS h"

  // x04: BIGINT floor division, positive and the offset trick on a
  // negative numerator (the fd idiom in r49/p13 etc.).
  def x04(s: SparkSession, d: String): DataFrame =
    one(s,
      expr("CAST(17 div 5 AS BIGINT)").as("q_pos"),
      expr("CAST((-17 + 10000000000 * 5) div 5 - 10000000000 AS BIGINT)")
        .as("q_neg"))
  val x04Sql: String =
    "SELECT CAST(17 // 5 AS BIGINT) AS q_pos, " +
      "CAST((-17 + 10000000000 * 5) // 5 - 10000000000 AS BIGINT) AS q_neg"

  // x05: HUGEINT // division — the construct r49's oracle used through
  // round 9 (its ONLY user). Spark side is the Scala-BigInt-computed
  // constant (Spark's integral divide returns LONG and can't carry a
  // 21-digit quotient), so only the ORACLE construct is under test.
  def x05(s: SparkSession, d: String): DataFrame =
    one(s, lit((BigInt("150000000000000000000") / 7).toString).as("q"))
  val x05Sql: String =
    "SELECT (CAST('150000000000000000000' AS HUGEINT) // " +
      "CAST(7 AS HUGEINT))::DECIMAL(38,0)::VARCHAR AS q"

  // x06: DECIMAL(38,0)→VARCHAR rendering, max-width and negative.
  def x06(s: SparkSession, d: String): DataFrame =
    one(s, lit("123456789012345678901234567890123456").as("v_big"),
      lit("-420").as("v_neg"))
  val x06Sql: String =
    "SELECT CAST('123456789012345678901234567890123456' AS DECIMAL(38,0))" +
      "::VARCHAR AS v_big, CAST('-420' AS DECIMAL(38,0))::VARCHAR AS v_neg"

  // x07: the COMPOSED ids_checksum shape — sum(hash56) over a literal
  // 3-row set, summed through DECIMAL(38,0) into VARCHAR.
  def x07(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Seq("p#1", "p#2", "p#3").toDF("v")
      .agg(sum(Hashing.hash56(col("v")).cast("decimal(38,0)"))
        .cast("decimal(38,0)").cast("string").as("chk"))
  }
  val x07Sql: String =
    s"SELECT sum(${Hashing.sqlHash56("v")})::DECIMAL(38,0)::VARCHAR AS chk " +
      "FROM (VALUES ('p#1'), ('p#2'), ('p#3')) t(v)"

  // x08: DECIMAL(12,2) × integer → BIGINT (the rating-micros idiom).
  def x08(s: SparkSession, d: String): DataFrame =
    one(s, expr("CAST(CAST('3.25' AS DECIMAL(12,2)) * 1000000 AS BIGINT)")
      .as("m"))
  val x08Sql: String =
    "SELECT CAST(CAST('3.25' AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS m"

  // x09: double→DECIMAL(12,2) cast — r44-monetary's OLD per-row
  // construct (rewritten out of the gate in round 11; see
  // Recommend.r44). Oracle-only under test (x05's pattern): the Spark
  // side is the expected literal, verified against local DuckDB 1.0.0,
  // so a red row names the DRIVER build's double→DECIMAL rounding.
  // Values are the corpus's class: 2-decimal doubles whose binary
  // form sits ~1e-9 off the decimal (no .005 rounding ties).
  def x09(s: SparkSession, d: String): DataFrame =
    one(s, lit("104719.57").as("c1"), lit("8271.22").as("c2"),
      lit("949.50").as("c3"))
  val x09Sql: String =
    "SELECT CAST(CAST('104719.57' AS DOUBLE) AS DECIMAL(12,2))::VARCHAR " +
      "AS c1, CAST(CAST('8271.22' AS DOUBLE) AS DECIMAL(12,2))::VARCHAR " +
      "AS c2, CAST(CAST('949.5' AS DOUBLE) AS DECIMAL(12,2))::VARCHAR AS c3"

  // x10: DECIMAL(18,2)→VARCHAR render — the OLD monetary_sum output
  // construct. Max-width, sub-dollar zero-pad, negative trailing zero.
  def x10(s: SparkSession, d: String): DataFrame =
    one(s, lit("1234567890123456.78").as("v1"), lit("0.05").as("v2"),
      lit("-7.40").as("v3"))
  val x10Sql: String =
    "SELECT CAST(CAST('1234567890123456.78' AS DECIMAL(18,2)) AS VARCHAR) " +
      "AS v1, CAST(CAST('0.05' AS DECIMAL(18,2)) AS VARCHAR) AS v2, " +
      "CAST(CAST('-7.4' AS DECIMAL(18,2)) AS VARCHAR) AS v3"

  // x11: the COMPOSED old monetary chain on a literal 3-row set —
  // per-row double→DECIMAL(12,2), DECIMAL sum, DECIMAL(18,2) render.
  // Green x09+x10 but red x11 would name the sum/promotion step.
  def x11(s: SparkSession, d: String): DataFrame =
    one(s, lit("113940.29").as("s"))
  val x11Sql: String =
    "SELECT CAST(sum(CAST(v AS DECIMAL(12,2))) AS DECIMAL(18,2))::VARCHAR " +
      "AS s FROM (VALUES (CAST('104719.57' AS DOUBLE)), " +
      "(CAST('8271.22' AS DOUBLE)), (CAST('949.5' AS DOUBLE))) t(v)"

  // x12: PER-ROW-CAST CHECKSUM over a LONG-overflowing sum (t26's
  // class, round 12 — VERDICT r11 #8): 300 hash56 values (~3.6e16
  // mean) sum to ~1.1e19, PAST the 9.2e18 BIGINT ceiling — exactly
  // where t26's old sum-then-cast checksum silently wrapped at sf1
  // (invisible at every gate SF; the soak caught it). The discipline
  // under test: cast EACH ROW to DECIMAL(38,0) BEFORE the sum, render
  // the DECIMAL sum as VARCHAR. A red row names the driver build's
  // per-row-cast/DECIMAL-sum behavior before any gated key hits it.
  def x12(s: SparkSession, d: String): DataFrame =
    s.range(300)
      .agg(sum(Hashing.hash56(concat(lit("x12#"), col("id").cast("string")))
        .cast("decimal(38,0)"))
        .cast("decimal(38,0)").cast("string").as("chk"))
  val x12Sql: String =
    s"SELECT sum((${Hashing.sqlHash56("'x12#' || CAST(i AS VARCHAR)")})" +
      "::DECIMAL(38,0))::DECIMAL(38,0)::VARCHAR AS chk " +
      "FROM (SELECT unnest(range(300)) AS i)"

  // ------------------------------------------------------------------
  // Column sub-gates: one r44/r49 output column per key. The oracle
  // wraps the parent SQL — same computation, so a red row here names
  // the diverging column without any log-channel dependence.
  //
  // The parent result is MEMOIZED per (application, dataset) and
  // materialized once (Pin.cut): without the memo, four
  // sub-gates × two bench runs would re-execute the full r44/r49
  // pipelines eight extra times each (~35 s of pure duplication on
  // the driver bench). Registered in the shared Memo registry, so
  // Bench's family-boundary clearAll() drops the checkpoints like
  // every other training artifact and the build ledger attributes
  // the one real build.
  private val parentCache = Memo.artifact[DataFrame]("probe_parent")
  private def sub(parentKey: String,
      parent: (SparkSession, String) => DataFrame,
      cols: String*)(s: SparkSession, d: String): DataFrame =
    parentCache(s, d, parentKey)(Pin.cut(parent(s, d)))
      .select(cols.map(col): _*)
  private def subSql(parentSql: String, cols: String*): String =
    s"SELECT ${cols.mkString(", ")} FROM ($parentSql)"

  def x44a(s: SparkSession, d: String): DataFrame =
    sub("r44", Recommend.r44, "segment", "n_users")(s, d)
  def x44b(s: SparkSession, d: String): DataFrame =
    sub("r44", Recommend.r44, "segment", "monetary_sum_cents")(s, d)
  def x44c(s: SparkSession, d: String): DataFrame =
    sub("r44", Recommend.r44, "segment", "avg_recency_days")(s, d)
  def x44d(s: SparkSession, d: String): DataFrame =
    sub("r44", Recommend.r44, "segment", "ids_checksum")(s, d)

  def x49a(s: SparkSession, d: String): DataFrame =
    sub("r49", Recommend.r49, "n_train", "n_test")(s, d)
  def x49b(s: SparkSession, d: String): DataFrame =
    sub("r49", Recommend.r49, "sse_itemmean_c2", "sse_item_c2", "sse_full_c2")(s, d)
  def x49c(s: SparkSession, d: String): DataFrame =
    sub("r49", Recommend.r49, "mse_item_centi2")(s, d)
  def x49d(s: SparkSession, d: String): DataFrame =
    sub("r49", Recommend.r49, "shrinkage_wins", "user_term_wins")(s, d)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x01_probe_date_sub" -> (x01 _),
    "x02_probe_date_diff_fn" -> (x02 _),
    "x03_probe_hex_cast" -> (x03 _),
    "x04_probe_bigint_floordiv" -> (x04 _),
    "x05_probe_hugeint_div" -> (x05 _),
    "x06_probe_decimal_render" -> (x06 _),
    "x07_probe_checksum_sum" -> (x07 _),
    "x08_probe_decimal_mul" -> (x08 _),
    "x09_probe_dbl_to_decimal" -> (x09 _),
    "x10_probe_dec18_render" -> (x10 _),
    "x11_probe_monetary_chain" -> (x11 _),
    "x12_probe_perrow_cast_sum" -> (x12 _),
    "x44a_rfm_counts" -> (x44a _),
    "x44b_rfm_monetary" -> (x44b _),
    "x44c_rfm_recency" -> (x44c _),
    "x44d_rfm_checksum" -> (x44d _),
    "x49a_bias_counts" -> (x49a _),
    "x49b_bias_sse" -> (x49b _),
    "x49c_bias_mse" -> (x49c _),
    "x49d_bias_verdicts" -> (x49d _))

  val oracles: Map[String, String] = Map(
    "x01_probe_date_sub" -> x01Sql,
    "x02_probe_date_diff_fn" -> x02Sql,
    "x03_probe_hex_cast" -> x03Sql,
    "x04_probe_bigint_floordiv" -> x04Sql,
    "x05_probe_hugeint_div" -> x05Sql,
    "x06_probe_decimal_render" -> x06Sql,
    "x07_probe_checksum_sum" -> x07Sql,
    "x08_probe_decimal_mul" -> x08Sql,
    "x09_probe_dbl_to_decimal" -> x09Sql,
    "x10_probe_dec18_render" -> x10Sql,
    "x11_probe_monetary_chain" -> x11Sql,
    "x12_probe_perrow_cast_sum" -> x12Sql,
    "x44a_rfm_counts" -> subSql(Recommend.r44Sql, "segment", "n_users"),
    "x44b_rfm_monetary" ->
      subSql(Recommend.r44Sql, "segment", "monetary_sum_cents"),
    "x44c_rfm_recency" ->
      subSql(Recommend.r44Sql, "segment", "avg_recency_days"),
    "x44d_rfm_checksum" -> subSql(Recommend.r44Sql, "segment", "ids_checksum"),
    "x49a_bias_counts" -> subSql(Recommend.r49Sql, "n_train", "n_test"),
    "x49b_bias_sse" ->
      subSql(Recommend.r49Sql, "sse_itemmean_c2", "sse_item_c2",
        "sse_full_c2"),
    "x49c_bias_mse" -> subSql(Recommend.r49Sql, "mse_item_centi2"),
    "x49d_bias_verdicts" ->
      subSql(Recommend.r49Sql, "shrinkage_wins", "user_term_wins"))
}
