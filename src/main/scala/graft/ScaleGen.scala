package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synthetic 10× scale-up of a testdata SF dir (round-10, VERDICT r9
  * "Next round" #3: convert the 100×-scale design claims from argument
  * to measurement). The driver testdata is read-only and capped at
  * sf0.1, so the soak corpus is generated locally: each fact table is
  * unioned 10 times with copy-offset keys, preserving referential
  * integrity (copy k's orders reference copy k's customers) and
  * per-copy distributions — a bigger lake with the same shape, the
  * honest way a corpus grows. Dimension tables (region, nation) stay
  * fixed, like real dims do.
  *
  * Per-copy key offsets are the sf0.1 table sizes (keys are dense
  * 0..N-1): customer +15000·k, supplier +1000·k, part +20000·k,
  * orders +150000·k, events user_id +1500·k (an independent id space —
  * ratings derive user ids from o_custkey, not from events). Supplier
  * graph-node offsets (SUPPLIER_OFFSET = 10⁶) stay clear of the
  * scaled customer range (max 150k). Document text gets a per-copy
  * tag token for k>0 so the scaled corpus keeps the ORIGINAL
  * duplicate-pair density instead of turning every doc into a 10-way
  * exact-dup cluster (which would measure candidate-pair blowup, not
  * corpus growth); n_chars is recomputed. Embeddings keep their
  * vectors (duplicate embeddings are normal in real corpora) under
  * offset ids.
  *
  * Usage: runMain graft.ScaleGen <srcSfDir> <outDir> [copies]
  * (defaults: /root/testdata/sf0.1 /tmp/sf1 10). One scan per table —
  * the copy fan-out is a broadcast cross join, not repeated reads.
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/tmp/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local()

    def read(t: String): DataFrame =
      spark.read.parquet(s"$src/$t.parquet")
    val kDim = broadcast(spark.range(copies).select(col("id").as("__k")))
    // fan a table out `copies`× in one scan; `remap` rewrites the key
    // columns given the copy index
    def fan(t: String)(remap: (String, Column) => Column): Unit = {
      val df = read(t)
      val cols = df.columns.map(c => remap(c, col("__k")).as(c))
      df.crossJoin(kDim).select(cols.toSeq: _*)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t x$copies -> $out/$t.parquet")
    }
    def off(c: String, k: Column, step: Long): Column = col(c) + k * step

    // fixed dims: copy through once
    Seq("region", "nation").foreach { t =>
      read(t).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scalegen] $t (dim, unscaled)")
    }
    fan("customer") { case ("c_custkey", k) => off("c_custkey", k, 15000L)
                      case (c, _) => col(c) }
    fan("supplier") { case ("s_suppkey", k) => off("s_suppkey", k, 1000L)
                      case (c, _) => col(c) }
    // p_name salted per copy: a real 10× catalog does not contain 10
    // identically-named copies of every part. Unsalted names made
    // every multiset-signature block in d23 grow with the copy count
    // (pairs ∝ copies² — 3.2× per corpus doubling in the 20× soak,
    // a corpus shape, not an engine one). Copy 0 stays byte-identical.
    fan("part")     { case ("p_partkey", k) => off("p_partkey", k, 20000L)
                      case ("p_name", k) => when(k === 0, col("p_name"))
                        .otherwise(concat(lit("c"), k.cast("string"),
                          lit(" "), col("p_name")))
                      case (c, _) => col(c) }
    fan("orders")   { case ("o_orderkey", k) => off("o_orderkey", k, 150000L)
                      case ("o_custkey", k) => off("o_custkey", k, 15000L)
                      case (c, _) => col(c) }
    fan("lineitem") { case ("l_orderkey", k) => off("l_orderkey", k, 150000L)
                      case ("l_partkey", k) => off("l_partkey", k, 20000L)
                      case ("l_suppkey", k) => off("l_suppkey", k, 1000L)
                      case (c, _) => col(c) }
    fan("events")   { case ("event_id", k) => off("event_id", k, 100000L)
                      case ("user_id", k) => off("user_id", k, 1500L)
                      case (c, _) => col(c) }
    // Documents: copy 0 stays byte-identical; later copies salt every
    // CONTENT token with a per-copy prefix while preserving function
    // words (the t02 stopwords + t03 language markers). The first soak
    // corpus appended one tag token per copy — at word-trigram shingle
    // level that left cross-copy Jaccard ≈ 0.95, so every doc became a
    // 10-way near-dup cluster and the LSH candidate set exploded 6000×
    // (275,791 pairs at sf1 vs 44 at sf0.1): the "soak" was measuring
    // a corpus artifact, not engine scaling. Content-salting keeps
    // within-copy structure EXACTLY (token→token bijection: planted
    // exact/near-dup pair density, token counts, stopword ratios and
    // langid marker frequencies are all preserved per copy) while
    // making cross-copy shingles, bags-of-words, simhashes and rolling
    // hashes genuinely different — the way ten times more REAL
    // documents would be. n_chars is recomputed from the salted text.
    locally {
      val preserved = Seq("the", "a", "of", "and", // t02 stopwords
        "table", "row", "key", "query", "window",  // t03 markers
        "scan", "group", "hash", "sort", "spark", "stream")
      // "x" separator after the copy index: without one, ≥11 copies make
      // 'c1'+'9foo' collide with 'c19'+'foo' on digit-leading tokens —
      // spurious cross-copy shingle matches. The separator must stay
      // INSIDE the [\p{L}\p{N}] token class: the round-11 first attempt
      // used "_", which TextNorm's tokenizer does NOT match, so every
      // salted token split back into 'cK' + the ORIGINAL token and the
      // whole corpus became 10-way near-dup clusters again (d11 went
      // 333× at the soak — the soak gate caught its own corpus bug).
      // A letter separator is unambiguous because the copy index is
      // all digits: parse c, digits, x, rest. (p_name salting separates
      // with a space — fine there, names aren't re-tokenized.)
      val salted = array_join(
        transform(split(col("text"), " "), t =>
          when(t.isin(preserved: _*) || t === "", t)
            .otherwise(concat(lit("c"), col("__k").cast("string"),
              lit("x"), t))),
        " ")
      val df = read("documents")
      val textCol = when(col("__k") === 0, col("text")).otherwise(salted)
      val cols = df.columns.map {
        case "doc_id" => off("doc_id", col("__k"), 5000L).as("doc_id")
        case "text" => textCol.as("text")
        case "n_chars" => length(textCol).cast("long").as("n_chars")
        case c => col(c)
      }
      df.crossJoin(kDim).select(cols.toSeq: _*)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"[scalegen] documents x$copies (content-salted) -> " +
        s"$out/documents.parquet")
    }
    fan("embeddings") { case ("vec_id", k) => off("vec_id", k, 2000L)
                        case (c, _) => col(c) }
    spark.stop()
  }
}
