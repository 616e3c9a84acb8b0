package graft
import org.apache.spark.sql.functions.col
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the session logs at ERROR: the FINAL stdout line of this main is
    // the per-column value echo for the gate's red keys
    val spark = Session.local()
    new java.io.File(outDir).mkdirs()
    // Local-iteration escape hatch: SPARK_GRAFT_ONLY=d09,t06 runs a
    // subset. The driver never sets it, so its runs stay exhaustive.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    def m5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // binary columns must render as hex — String.valueOf on a byte
    // array is the JVM identity string, different every run, which
    // would read as a phantom divergence in exactly the forensics
    // this echo exists for
    def render(v: Any): String = v match {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => String.valueOf(x)
    }
    // Per-query / per-column value echo (md5 of the sorted value set +
    // a few sorted samples), written to echo.json AND printed: when the
    // driver's oracle hash-fails a query that matches the local DuckDB
    // bit-for-bit, this pinpoints WHICH column diverged in the driver's
    // environment (round-7 forensics: 6 hash-fails, zero local repro).
    val echo = new StringBuilder("{")
    var echoFirst = true
    def echoQuery(name: String, dir: String): Unit = try {
      val df = spark.read.parquet(dir)
      // Determinism under truncation: an unordered limit(20000) samples
      // WHICHEVER rows arrive first, so two environments with identical
      // full value sets could echo different hashes — the exact phantom
      // this echo exists to rule out. Pin the sample with a total order
      // over every sortable column first; schemas with unorderable
      // columns (maps) fall back to the unordered sample, flagged "~".
      val n = df.count()
      val (rows, pinned) =
        if (n <= 20000) (df.collect(), true)
        else try {
          val sortable = df.schema.fields.filter { f =>
            org.apache.spark.sql.catalyst.expressions.RowOrdering
              .isOrderable(f.dataType)
          }.map(f => col(f.name))
          // pinned ONLY when every column is orderable: sorting a
          // subset is not a total order — rows tied on the sortable
          // columns can cross the 20k cut differently per environment
          // and the unordered column's hash would read as a phantom
          // divergence without the '~' marker
          val total = sortable.length == df.schema.fields.length
          if (sortable.isEmpty) (df.limit(20000).collect(), false)
          else (df.orderBy(sortable.toSeq: _*).limit(20000).collect(), total)
        } catch { case _: Throwable => (df.limit(20000).collect(), false) }
      val cols = df.schema.fieldNames
      val parts = cols.zipWithIndex.map { case (c, i) =>
        val vs = rows.map(r => render(r.get(i))).sorted
        val h = (if (pinned) "" else "~") + m5(vs.mkString("\n")).take(12)
        val sample = vs.take(3).map(v =>
          if (v.length > 24) v.take(24) + ".." else v)
        s"${q(c)}: {${q("h")}: ${q(h)}, ${q("v")}: [${sample.map(q).mkString(",")}]}"
      }
      if (!echoFirst) echo.append(",")
      echoFirst = false
      echo.append(s"${q(name)}: {${parts.mkString(",")}}")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] echo $name failed: ${e.getMessage}")
    }
    // Tail echo: the FULL per-column value lists for the keys the driver
    // gate currently hash-fails (r44/r49 as of round 8 — both pass
    // bit-for-bit against local DuckDB, so the divergence lives in the
    // driver's oracle environment and only the driver's own run can show
    // it). echo.json never reaches the builder (the driver ships back a
    // 2000-byte log tail, not the out-dir), so this is printed as the
    // LAST line of the run. Both keys emit ≤6 rows, so full values fit;
    // a column that would blow the byte budget degrades to hash+count.
    val tailKeys = sys.env.getOrElse("SPARK_GRAFT_ECHO_KEYS",
      "r44_rfm_features,r49_bias_baseline")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val tailEcho = scala.collection.mutable.LinkedHashMap[String, String]()
    def tailEchoQuery(name: String, dir: String): Unit = try {
      val df = spark.read.parquet(dir)
      val rows = df.orderBy(df.columns.map(col).toSeq: _*).limit(64).collect()
      val cols = df.schema.fieldNames
      def render1(maxCol: Int): String = {
        val parts = cols.zipWithIndex.map { case (c, i) =>
          val vs = rows.map(r => render(r.get(i)))
          val full = s"[${vs.map(q).mkString(",")}]"
          val body = if (full.length <= maxCol) full
            else s"{${q("h")}:${q(m5(vs.mkString("\n")).take(12))},${q("n")}:${vs.length}}"
          s"${q(c)}:$body"
        }
        s"${q(name)}:{${parts.mkString(",")}}"
      }
      // the WHOLE printed line must fit the driver's ~2000-byte tail —
      // a per-column cap alone lets many medium columns overflow it
      // and truncate the first key's values (the forensics this line
      // exists to ship); shrink per-column budget until the per-key
      // share fits
      val budget = 1700 / math.max(1, tailKeys.length)
      tailEcho(name) = Seq(700, 300, 120, 0).view.map(render1)
        .find(_.length <= budget)
        .getOrElse(render1(0).take(budget))
    } catch { case e: Throwable =>
      System.err.println(s"[verify] tail echo $name failed: ${e.getMessage}")
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.exists(name.startsWith)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        echoQuery(name, s"$outDir/$name")
        if (tailKeys.contains(name)) tailEchoQuery(name, s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        if (sys.env.contains("SPARK_GRAFT_TRACE")) e.printStackTrace()
      }
    }
    Files.writeString(Paths.get(s"$outDir/echo.json"), echo.append("}").toString)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Printed AFTER spark.stop() so nothing Spark logs can land between
    // this line and EOF; log level ERROR keeps shutdown hooks silent.
    if (tailEcho.nonEmpty) {
      val line = s"GRAFT_ECHO {${tailEcho.values.mkString(",")}}"
      // also persisted next to the parquet: the round-9 driver artifact
      // never carried the printed line (log-tail channel failed), so any
      // future artifact channel can pick the file up instead
      Files.writeString(Paths.get(s"$outDir/echo_tail.txt"), line + "\n")
      println(line)
      System.out.flush()
    }
  }
}
