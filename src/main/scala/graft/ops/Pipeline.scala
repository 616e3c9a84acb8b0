package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Hashing

/** The whole LLM training-data curation pipeline as ONE declarative
  * Spark plan (p01): raw corpus → quality filter → language-
  * consistency filter → exact dedup → near-dup drop → stratified cap,
  * emitting the per-language funnel (how many documents survive each
  * stage). Every stage reuses a gated operator's machinery — t02's
  * quality features, t03's language argmax, t04's fingerprint, d04's
  * verified LSH pairs, t12's stratified cap — so the composition is
  * checkable end-to-end by the same DuckDB oracle.
  *
  * Scale shape: p01 and its ablation matrix p14 read one flag table
  * (`curationFlags`): one scan of the augmented corpus computes every
  * per-row flag, and a left join adds d04's near-dup drop set, whose
  * LSH machinery reads the corpus a second time (candidates only,
  * never all-pairs). Every stage after that is boolean algebra over
  * the flags; the one stage that depends on which rows survive
  * upstream, exact dedup, is a conditional MIN window over one fp
  * exchange, and the funnel is one per-language aggregation. No
  * cache, no per-stage count branches, no joins between them.
  */
object Pipeline {

  /** The curation funnel's per-document flag table, from ONE scan of
    * the augmented corpus (the d-series augmentation, lang carried so
    * the funnel reports per language; copies keep their source's
    * lang): doc_id, lang, fp (t04's normalized-text fingerprint),
    * q_ok (t02's bar: ≥10 tokens, stopword ratio ≤ 1/2), l_ok (the
    * PURE language flag: t03's argmax equals the declared label) and
    * nd_drop (the doc is the higher side of a d04-verified pair). */
  private def curationFlags(s: SparkSession, d: String): DataFrame = {
    val aug = Dedup.augmented(Tables.documents(s, d).select("doc_id", "lang", "text"))
      .select(col("doc_id"), col("lang"), Dedup.augmentedText)
    val stopArr = array(TextOps.stopwords.map(lit): _*)
    val flags = TextOps.withLangCounts(aug
        .withColumn("toks", graft.functions.TextNorm.tokens(col("text")))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("n_stop",
          size(filter(col("toks"), t => array_contains(stopArr, t)))))
      .select(col("doc_id"), col("lang"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")).as("fp"),
        (col("n_tokens") >= 10 && col("n_stop") * 2 <= col("n_tokens")).as("q_ok"),
        (TextOps.predictedCol === col("lang")).as("l_ok"))
    val dropB = Dedup.d04(s, d).select(col("b").as("doc_id")).distinct()
      .withColumn("nd", lit(true))
    flags.join(dropB, Seq("doc_id"), "left")
      .withColumn("nd_drop", coalesce(col("nd"), lit(false)))
      .drop("nd")
  }

  /** p01: the funnel as one aggregation over [[curationFlags]]. The
    * language stage nests under quality; exact dedup keeps the lowest
    * doc_id per fp among those survivors (a conditional MIN window);
    * near-dup drops the flagged side. The stratified cap keeps the
    * first 15 docs per language in t12's hash order, and a
    * row_number ≤ 15 cap keeps exactly min(n, 15) rows, so its count
    * is `least(n_neardup, 15)` — the pick itself is t12's gate. */
  def p01(s: SparkSession, d: String): DataFrame = {
    val langOk = col("q_ok") && col("l_ok")
    val kept = langOk && col("doc_id") ===
      min(when(langOk, col("doc_id"))).over(Window.partitionBy("fp"))
    def n(c: Column): Column = count(when(c, 1))
    curationFlags(s, d)
      .select(col("lang"), col("q_ok"), langOk.as("l_ok"), kept.as("exact"),
        col("nd_drop"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_raw"),
        n(col("q_ok")).as("n_quality"),
        n(col("l_ok")).as("n_lang_match"),
        n(col("exact")).as("n_exact"),
        n(col("exact") && !col("nd_drop")).as("n_neardup"))
      .withColumn("n_final", least(col("n_neardup"), lit(15L)))
      .orderBy("lang")
  }

  val p01Sql: String =
    s"""WITH aug AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL SELECT doc_id + 2000000, lang, text FROM documents
       |    WHERE doc_id % 100 = 0
       |  UNION ALL SELECT doc_id + 1000000, lang,
       |      text || ' graft dedup probe tail' FROM documents
       |    WHERE doc_id % 50 = 0),
       |staged AS (
       |  SELECT doc_id, lang, text,
       |    len(regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+')) AS n_tokens,
       |    len(list_filter(regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+'),
       |        t -> list_contains(${TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")}, t))) AS n_stop
       |  FROM aug),
       |qual AS (
       |  SELECT * FROM staged WHERE n_tokens >= 10 AND n_stop * 2 <= n_tokens),
       |lang_scored AS (
       |  SELECT *, ${TextOps.sqlLangCountExprs.replace("\n    ", "\n      ")}
       |  FROM qual),
       |lang_ok AS (
       |  SELECT doc_id, lang, text FROM lang_scored
       |  WHERE ${TextOps.sqlPredictedCase} = lang),
       |with_fp AS (
       |  SELECT *, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
       |  FROM lang_ok),
       |exact_kept AS (
       |  SELECT w.* FROM with_fp w
       |  JOIN (SELECT fp, min(doc_id) AS doc_id FROM with_fp GROUP BY 1) k
       |    ON w.fp = k.fp AND w.doc_id = k.doc_id),
       |dropb AS (SELECT DISTINCT b AS doc_id FROM (${Dedup.d04Sql})),
       |near_kept AS (
       |  SELECT * FROM exact_kept
       |  WHERE doc_id NOT IN (SELECT doc_id FROM dropb)),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY lang
       |      ORDER BY ${Hashing.sqlHash56("lang || '#' || doc_id")}, doc_id) AS rn
       |    FROM near_kept)
       |  WHERE rn <= 15)
       |SELECT a.lang,
       |  a.n_raw,
       |  coalesce(q.n, 0) AS n_quality,
       |  coalesce(l.n, 0) AS n_lang_match,
       |  coalesce(e.n, 0) AS n_exact,
       |  coalesce(nd.n, 0) AS n_neardup,
       |  coalesce(c.n, 0) AS n_final
       |FROM (SELECT lang, count(*) AS n_raw FROM aug GROUP BY 1) a
       |LEFT JOIN (SELECT lang, count(*) AS n FROM qual GROUP BY 1) q USING (lang)
       |LEFT JOIN (SELECT lang, count(*) AS n FROM lang_ok GROUP BY 1) l USING (lang)
       |LEFT JOIN (SELECT lang, count(*) AS n FROM exact_kept GROUP BY 1) e USING (lang)
       |LEFT JOIN (SELECT lang, count(*) AS n FROM near_kept GROUP BY 1) nd USING (lang)
       |LEFT JOIN (SELECT lang, count(*) AS n FROM capped GROUP BY 1) c USING (lang)
       |ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // p02: INCREMENTAL curation ingest — the standing job of a training-
  // data lake. New arrivals land in waves; each wave dedups against
  // the PERSISTED fingerprint index of everything already accepted
  // (anti-join on fp — one keyed shuffle against the index, never a
  // rescan of historical text), dedups within itself (keep-lowest),
  // and appends its survivors to the index. First-arrival-wins is the
  // honest incremental semantics: a later wave can never evict an
  // already-accepted document, even if it has a smaller id — the
  // oracle expresses exactly that (argmin by (wave, doc_id) per fp),
  // so a batch-minded implementation that re-deduped globally would
  // hash-fail. The augmentation plants both hazard classes: +2000001
  // copies flip parity (cross-wave dups that ONLY the disk index can
  // catch) and +3000000 copies keep parity (within-wave dups). The
  // final rollup reads the index BACK FROM DISK, so the gate checks
  // what was actually persisted, not a plan-internal DataFrame.
  // Scale: each wave is O(wave + index-keys) — two keyed shuffles and
  // an append; the historical corpus is touched only through its
  // (fp, id, lang) index, the exact shape i05 persists for ANN.
  def p02(s: SparkSession, d: String): DataFrame = p02WithStats(s, d)._1

  /** (gated rollup, wave-1 docs dropped purely by the historical
    * index) — the second value pins non-vacuity in OpsSpec. */
  def p02WithStats(s: SparkSession, d: String): (DataFrame, Long) = {
    val dirP = java.nio.file.Files.createTempDirectory("graft_p02_")
    val index = dirP.resolve("index").toString
    try {
      val docs = Tables.documents(s, d).select("doc_id", "lang", "text")
      val aug = docs
        .union(docs.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 2000001).as("doc_id"), col("lang"), col("text")))
        .union(docs.filter(col("doc_id") % 70 === 0)
          .select((col("doc_id") + 3000000).as("doc_id"), col("lang"), col("text")))
      val withFp = aug.withColumn("fp",
        md5(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")))
      val wave0 = withFp.filter(col("doc_id") % 2 === 0)
      val wave1 = withFp.filter(col("doc_id") % 2 === 1)
      // wave 0 bootstraps the lake: within-wave keep-lowest, index out
      val k0 = wave0.groupBy("fp").agg(min("doc_id").as("doc_id"))
      wave0.join(k0, Seq("fp", "doc_id"), "left_semi")
        .select("fp", "doc_id", "lang").write.parquet(index)
      // wave 1: the index comes back from DISK; already-indexed fps
      // are dropped sight-unseen (first-arrival-wins), the remainder
      // dedups within-wave and appends
      val index0 = s.read.parquet(index)
      val crossWaveDrops =
        wave1.join(index0.select("fp"), Seq("fp"), "left_semi").count()
      val novel = wave1.join(index0.select("fp"), Seq("fp"), "left_anti")
      val k1 = novel.groupBy("fp").agg(min("doc_id").as("doc_id"))
      novel.join(k1, Seq("fp", "doc_id"), "left_semi")
        .select("fp", "doc_id", "lang").write.mode("append").parquet(index)
      // the gate reads the persisted lake state, not a live plan
      val out = s.read.parquet(index)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("sum_ids"))
        .orderBy("lang")
        .transform(Pin.cut)
      (out, crossWaveDrops)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dirP.toString), true)
    }
  }

  /** Total augmented arrivals — OpsSpec compares against kept. */
  def p02ArrivalCount(s: SparkSession, d: String): Long = {
    val n = Tables.documents(s, d).count()
    val n100 = Tables.documents(s, d).filter(col("doc_id") % 100 === 0).count()
    val n70 = Tables.documents(s, d).filter(col("doc_id") % 70 === 0).count()
    n + n100 + n70
  }

  val p02Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, lang, text FROM documents
      |  UNION ALL SELECT doc_id + 2000001, lang, text FROM documents
      |    WHERE doc_id % 100 = 0
      |  UNION ALL SELECT doc_id + 3000000, lang, text FROM documents
      |    WHERE doc_id % 70 = 0),
      |fps AS (
      |  SELECT doc_id, lang,
      |    md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
      |  FROM aug),
      |keep AS (
      |  SELECT doc_id, lang FROM (
      |    SELECT doc_id, lang,
      |      row_number() OVER (PARTITION BY fp
      |        ORDER BY doc_id % 2, doc_id) AS rn
      |    FROM fps) WHERE rn = 1)
      |SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_ids
      |FROM keep GROUP BY 1 ORDER BY 1""".stripMargin

  /** The mixers' 4-domain rollup: the source's numeric suffix mod 4. */
  private def domain4: Column = concat(lit("dom"),
    (substring(col("source"), 4, 10).cast("int") % 4).cast("string"))
    .as("domain")

  /** The p03/p04/p16 target mix; every other domain takes 5%. */
  private val mixPcts = Map("dom0" -> 50, "dom1" -> 25, "dom2" -> 20)

  /** Order-independent DECIMAL sum of the taken rows' `pick_key`s. */
  private def takenChecksum: Column =
    sum(when(col("taken"), col("pick_key")).otherwise(lit(0L))
      .cast("decimal(38,0)")).cast("string").as("ids_checksum")

  // ------------------------------------------------------------------
  // p03: DOMAIN-MIXTURE sampling — the step that turns a curated lake
  // into a training mix: every corpus ships with target domain
  // proportions (web/code/books/wiki weights), and the sampler must
  // hit them deterministically. Sources roll up to 4 domains (src
  // suffix mod 4); targets are INTEGER math off the corpus total
  // (tot·pct div 100 — no float rounding to drift cross-engine), and
  // each domain takes its first n_target docs in md5-hash order
  // (t12's auditable, repartition-stable pick). dom0 is deliberately
  // over-asked (50% target vs 25% share) so the shortage branch
  // (take-all, n_taken < n_target) is exercised — the mixer a real
  // pipeline needs when a domain runs dry. The checksum is an
  // order-independent DECIMAL sum over the chosen ids' hash keys, so
  // the gate pins the exact chosen SET, not just its size. The pick
  // is api.Mix.byDocCount; this key adds the per-domain rollup.
  // Scale: one window shuffle keyed by domain (WindowGroupLimit
  // pushes the rank filter below the sort at 100 TB), one 1-row
  // broadcast total; no per-doc driver state.
  def p03(s: SparkSession, d: String): DataFrame =
    graft.api.Mix.byDocCount(
        Tables.documents(s, d).select(col("doc_id"), domain4),
        "doc_id", "domain", mixPcts, defaultPct = 5)
      .groupBy("domain", "pct", "n_target")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("taken"), lit(1))).as("n_taken"), takenChecksum)
      .orderBy("domain")

  val p03Sql: String =
    s"""WITH doms AS (
       |  SELECT doc_id, 'dom' || (substr(source, 4)::INT % 4) AS domain
       |  FROM documents),
       |tot AS (SELECT count(*) AS tot FROM doms),
       |ranked AS (
       |  SELECT domain, pct, (tot.tot * pct) // 100 AS n_target, hkey,
       |    row_number() OVER (PARTITION BY domain ORDER BY hkey, doc_id) AS rn
       |  FROM (
       |    SELECT doc_id, domain,
       |      CASE domain WHEN 'dom0' THEN 50 WHEN 'dom1' THEN 25
       |        WHEN 'dom2' THEN 20 ELSE 5 END AS pct,
       |      ${Hashing.sqlHash56("'mix#' || doc_id")} AS hkey
       |    FROM doms) t, tot)
       |SELECT domain, pct, n_target, count(*) AS n_docs,
       |  count(CASE WHEN rn <= n_target THEN 1 END) AS n_taken,
       |  sum(CASE WHEN rn <= n_target THEN hkey ELSE 0 END)::DECIMAL(38,0)::VARCHAR
       |    AS ids_checksum
       |FROM ranked GROUP BY 1, 2, 3 ORDER BY domain""".stripMargin

  // ------------------------------------------------------------------
  // p04: TOKEN-BUDGET domain mixture — p03 counts documents, but a
  // training mix is specified in TOKENS (a 100-doc domain of novels
  // outweighs a 10k-doc domain of tweets). Same 4-domain rollup and
  // md5-hash pick order; each domain's budget is INTEGER math off the
  // corpus token total (tot_tokens·pct div 100), and a doc is taken
  // iff its whole-prefix cumulative token count fits the budget (the
  // deterministic prefix rule — no fractional documents). dom0 is
  // over-asked (50% budget vs ~25% token share) so the take-all
  // branch is real; the checksum pins the exact taken SET. The pick
  // is api.Mix.byTokenBudget; this key adds the per-domain rollup.
  // Scale: tokenization is map-side; ONE window shuffle keyed by
  // domain does the running sum (each domain's docs stream through
  // one partition's sort — at 100 TB the mixer would sub-bucket by
  // hash prefix and prefix-sum the bucket totals, same math); the
  // corpus token total is a 1-row broadcast.
  def p04(s: SparkSession, d: String): DataFrame =
    graft.api.Mix.byTokenBudget(
        Tables.documents(s, d).select(col("doc_id"), domain4,
          size(graft.functions.TextNorm.tokens(col("text"))).cast("long").as("n_tok")),
        "doc_id", "domain", "n_tok", mixPcts, defaultPct = 5)
      .groupBy("domain", "pct", "budget")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_total"),
        count(when(col("taken"), lit(1))).as("n_taken"),
        sum(when(col("taken"), col("n_tok")).otherwise(lit(0L))).as("tok_taken"),
        takenChecksum)
      .orderBy("domain")

  val p04Sql: String =
    s"""WITH doms AS (
       |  SELECT doc_id, 'dom' || (substr(source, 4)::INT % 4) AS domain,
       |    len(regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+'))::BIGINT AS n_tok
       |  FROM documents),
       |tot AS (SELECT sum(n_tok)::BIGINT AS tot_tok FROM doms),
       |ranked AS (
       |  SELECT domain, pct, (tot.tot_tok * pct) // 100 AS budget, n_tok, hkey,
       |    sum(n_tok) OVER (PARTITION BY domain ORDER BY hkey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
       |  FROM (
       |    SELECT doc_id, domain, n_tok,
       |      CASE domain WHEN 'dom0' THEN 50 WHEN 'dom1' THEN 25
       |        WHEN 'dom2' THEN 20 ELSE 5 END AS pct,
       |      ${Hashing.sqlHash56("'tokmix#' || doc_id")} AS hkey
       |    FROM doms) t, tot)
       |SELECT domain, pct, budget, count(*) AS n_docs,
       |  sum(n_tok)::BIGINT AS tok_total,
       |  count(CASE WHEN cum_tok <= budget THEN 1 END) AS n_taken,
       |  sum(CASE WHEN cum_tok <= budget THEN n_tok ELSE 0 END)::BIGINT AS tok_taken,
       |  sum(CASE WHEN cum_tok <= budget THEN hkey ELSE 0 END)::DECIMAL(38,0)::VARCHAR
       |    AS ids_checksum
       |FROM ranked GROUP BY 1, 2, 3 ORDER BY domain""".stripMargin

  // ------------------------------------------------------------------
  // p16: token-budget mixture in LEARNED UNITS (round 13 — VERDICT
  // r12 #2, closing the brief's longest-standing gap: p04 prices its
  // budgets in ⌈L/4⌉-free whitespace-token stand-ins, but a user
  // specifying a 15T-token mix means the units the TOKENIZER emits).
  // Same 4-domain rollup, same md5-hash pick order, same whole-prefix
  // budget rule as p04 (which stays frozen as the stand-in twin; both
  // run api.Mix.byTokenBudget, this one under seed "bpemix") —
  // but every document's cost is its t40-trained BPE piece count:
  // tokens join the learned segmentation (vocab-dim broadcast, the
  // t41 discipline; un-merged past-cap terms fall back to character
  // segmentation, inert at the gate SFs where the cap covers the
  // vocab), summed per document. The oracle replays the full 30-round
  // merge training AND the per-document pricing — the budget
  // arithmetic is integer-exact end to end. Scale: one corpus
  // tokenize (map-side) + one vocab-dim broadcast join + the same
  // single domain-keyed window shuffle as p04.
  def p16(s: SparkSession, d: String): DataFrame = {
    val pm = TextOps.bpePieceCounts(s, d)
    val perDoc = Tables.documents(s, d)
      .select(col("doc_id"), domain4,
        explode_outer(graft.functions.TextNorm.tokens(col("text"))).as("term"))
      .join(broadcast(pm), Seq("term"), "left")
      .groupBy("doc_id", "domain")
      .agg(sum(when(col("term").isNull, lit(0L))
        .otherwise(coalesce(col("n_pieces"), length(col("term")).cast("long"))))
        .as("n_tok"))
    graft.api.Mix.byTokenBudget(perDoc, "doc_id", "domain", "n_tok",
        mixPcts, defaultPct = 5, seed = "bpemix")
      .groupBy("domain", "pct", "budget")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("tok_total"),
        count(when(col("taken"), lit(1))).as("n_taken"),
        sum(when(col("taken"), col("n_tok")).otherwise(lit(0L))
          .cast("decimal(38,0)")).cast("long").as("tok_taken"),
        takenChecksum)
      .orderBy("domain")
  }

  val p16Sql: String =
    s"""WITH ${TextOps.bpePiecesSqlCtes},
       |doms AS (
       |  SELECT doc_id, 'dom' || (substr(source, 4)::INT % 4) AS domain,
       |    regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+') AS toks
       |  FROM documents),
       |tokl AS (SELECT doc_id, unnest(toks) AS term FROM doms),
       |tokp AS (
       |  SELECT t.doc_id,
       |    CAST(sum(coalesce(p.np, length(t.term))) AS BIGINT) AS n_tok
       |  FROM tokl t LEFT JOIN pieces p ON t.term = p.term
       |  GROUP BY 1),
       |perdoc AS (
       |  SELECT d.doc_id, d.domain, coalesce(tp.n_tok, 0) AS n_tok
       |  FROM doms d LEFT JOIN tokp tp ON d.doc_id = tp.doc_id),
       |tot AS (SELECT sum(n_tok)::BIGINT AS tot_tok FROM perdoc),
       |ranked AS (
       |  SELECT domain, pct, (tot.tot_tok * pct) // 100 AS budget, n_tok, hkey,
       |    sum(n_tok) OVER (PARTITION BY domain ORDER BY hkey, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
       |  FROM (
       |    SELECT doc_id, domain, n_tok,
       |      CASE domain WHEN 'dom0' THEN 50 WHEN 'dom1' THEN 25
       |        WHEN 'dom2' THEN 20 ELSE 5 END AS pct,
       |      ${Hashing.sqlHash56("'bpemix#' || doc_id")} AS hkey
       |    FROM perdoc) t, tot)
       |SELECT domain, pct, budget, count(*) AS n_docs,
       |  sum(n_tok)::BIGINT AS tok_total,
       |  count(CASE WHEN cum_tok <= budget THEN 1 END) AS n_taken,
       |  CAST(sum(CASE WHEN cum_tok <= budget THEN n_tok ELSE 0 END)
       |    ::DECIMAL(38,0) AS BIGINT) AS tok_taken,
       |  sum(CASE WHEN cum_tok <= budget THEN hkey ELSE 0 END)
       |    ::DECIMAL(38,0)::VARCHAR AS ids_checksum
       |FROM ranked GROUP BY 1, 2, 3 ORDER BY domain""".stripMargin

  // ------------------------------------------------------------------
  // p05: SHARDED TRAINING-DATA EXPORT — the terminal step of every
  // curation pipeline: the curated mix is written as N deterministic
  // shards (the unit a training job's data loader consumes), and the
  // export is audited through a per-shard MANIFEST (doc count, byte
  // volume, id-set checksum). Shard assignment is content-hash mod N
  // — reproducible across re-runs and cluster sizes (no
  // partition-index dependence), and simultaneously the corpus
  // "global shuffle" training wants: the hash IS the permutation, so
  // no O(corpus) sort is ever planned. The op really WRITES the
  // shards (partitionBy parquet layout, one directory per shard) and
  // builds the manifest from the READ-BACK files, so the gate pins
  // the round-trip, not just the plan: a lost or misrouted row
  // hash-fails the manifest.
  // Scale: one hash-keyed exchange into the writer (nShards output
  // groups; at 100 TB nShards = corpus/target-shard-size and the
  // same plan holds), manifest agg is map-side over the re-read —
  // no driver state, no global sort.
  def p05(s: SparkSession, d: String): DataFrame = {
    val nShards = 8
    val dir = java.nio.file.Files.createTempDirectory("graft_p05_").toString
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .withColumn("hkey",
        Hashing.hash56(concat_ws("#", lit("shard"), col("doc_id"))))
      .withColumn("shard", (col("hkey") % nShards).cast("int"))
      .repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        // cast BEFORE the sum: ~256 hash56 values overflow a LONG
        // accumulator (2^56 each), and ANSI mode turns that into a
        // runtime error the moment a shard grows past toy size —
        // caught by the sf0.1 sweep, invisible at the sf0.01 gate
        sum(col("hkey").cast("decimal(38,0)")).cast("decimal(38,0)")
          .cast("string").as("ids_checksum"))
      .orderBy("shard")
  }

  val p05Sql: String =
    s"""WITH t AS (
       |  SELECT doc_id, n_chars,
       |    ${Hashing.sqlHash56("'shard#' || doc_id")} AS hkey
       |  FROM documents)
       |SELECT CAST(hkey % 8 AS INT) AS shard, count(*) AS n_docs,
       |  sum(n_chars)::BIGINT AS sum_chars,
       |  sum(hkey)::DECIMAL(38,0)::VARCHAR AS ids_checksum
       |FROM t GROUP BY 1 ORDER BY shard""".stripMargin

  // ------------------------------------------------------------------
  // p06: DATA CARD — the per-source dataset report every published
  // corpus ships (Datasheets for Datasets / data cards): volume,
  // language mix (count + argmax language with a pinned tie rule),
  // token mass, mean quality, duplicate exposure, and median length,
  // one row per source. Every number reuses a gated operator's
  // formula (t01 tokens, t02 quality, t03's lang domain, t04's
  // fingerprint, q52's median selection) so the report is checkable
  // end-to-end — the card IS the pipeline's health dashboard, not a
  // new metric. Determinism discipline: mean quality sums the
  // 6dp-rounded per-doc qualities as DECIMAL(18,6) (exact,
  // order-independent — t14's rule) with ONE closing division;
  // median_chars is an exact value selection (2·cum ≥ n), never
  // interpolated; top_lang ties break to the smallest lang string.
  // Scale: doc-level features are map-side on one corpus scan; the
  // shuffles are all keyed — fp (dup exposure), (source, lang),
  // source (median + final rollup). Nothing pairwise, nothing global.
  def p06(s: SparkSession, d: String): DataFrame = {
    val toks = graft.functions.TextNorm.tokens(col("text"))
    val stopArr = array(TextOps.stopwords.map(lit): _*)
    val wFp = Window.partitionBy("fp")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"),
        size(toks).as("n_tokens"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"),
        md5(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")).as("fp"))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.5 +
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * 0.5, 6))
      .withColumn("fp_grp", count(lit(1)).over(wFp))
    // exact lower median of n_chars per source (q52 selection)
    val wCum = Window.partitionBy("source").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("source")
    val med = docs.groupBy("source", "n_chars").agg(count(lit(1)).as("w"))
      .withColumn("cw", sum(col("w")).over(wCum))
      .withColumn("tw", sum(col("w")).over(wTot))
      .filter(col("cw") * 2 >= col("tw"))
      .groupBy("source").agg(min(col("n_chars")).as("median_chars"))
    // argmax language with tie → smallest lang
    val wLang = Window.partitionBy("source")
      .orderBy(col("cnt").desc, col("lang"))
    val topLang = docs.groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(wLang))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"))
    docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_tokens")).cast("long").as("total_tokens"),
        sum(col("quality").cast("decimal(18,6)")).as("qsum"),
        count(when(col("fp_grp") > 1, lit(1))).as("dup_docs"))
      .join(topLang, Seq("source"))
      .join(med, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_langs"), col("top_lang"),
        col("total_tokens"),
        round(col("qsum").cast("double") / col("n_docs"), 6).as("mean_quality"),
        col("dup_docs"), col("median_chars"))
      .orderBy("source")
  }

  val p06Sql: String = {
    val toks = "regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+')"
    val stopList = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH feat AS (
       |  SELECT doc_id, source, lang, n_chars,
       |    len($toks) AS n_tokens,
       |    len(list_filter($toks, t -> list_contains($stopList, t))) AS n_stop,
       |    md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
       |  FROM documents),
       |docs AS (
       |  SELECT *,
       |    round(least(1.0, CAST(n_tokens AS DOUBLE) / 100.0) * 0.5 +
       |      (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) * 0.5, 6) AS quality,
       |    count(*) OVER (PARTITION BY fp) AS fp_grp
       |  FROM feat),
       |med AS (
       |  SELECT source, min(n_chars) AS median_chars FROM (
       |    SELECT source, n_chars,
       |      sum(w) OVER (PARTITION BY source ORDER BY n_chars
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
       |      sum(w) OVER (PARTITION BY source) AS tw
       |    FROM (SELECT source, n_chars, count(*) AS w FROM docs GROUP BY 1, 2))
       |  WHERE cw * 2 >= tw GROUP BY 1),
       |toplang AS (
       |  SELECT source, lang AS top_lang FROM (
       |    SELECT source, lang,
       |      row_number() OVER (PARTITION BY source
       |        ORDER BY count(*) DESC, lang) AS rn
       |    FROM docs GROUP BY 1, 2)
       |  WHERE rn = 1),
       |card AS (
       |  SELECT source, count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
       |    CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |    sum(quality::DECIMAL(18,6)) AS qsum,
       |    count(CASE WHEN fp_grp > 1 THEN 1 END) AS dup_docs
       |  FROM docs GROUP BY 1)
       |SELECT c.source, n_docs, n_langs, top_lang, total_tokens,
       |  round(qsum::DOUBLE / n_docs, 6) AS mean_quality,
       |  dup_docs, median_chars
       |FROM card c JOIN toplang USING (source) JOIN med USING (source)
       |ORDER BY source""".stripMargin
  }

  // ------------------------------------------------------------------
  // p07: LEAKAGE-SAFE SPLIT EXPORT — the train/val/test cut every
  // training pipeline ships, with the rule naive hash-splitting
  // violates: DUPLICATE documents must land in the SAME split (a doc
  // hash-split independently of its copy leaks eval answers into
  // train — the contamination d09/t23 hunt after the fact; the fix
  // is to split by DUPLICATE CLUSTER, not by doc). Clusters = t04's
  // normalized fingerprint, cluster key = min doc_id per fp; split =
  // hash56 of the CLUSTER key mod 10 (0-7 train / 8 val / 9 test).
  // The corpus gets the d01 planted copies (every 100th doc, the
  // Dedup augmentation) so multi-doc clusters are real. The export
  // physically writes the three split dirs and the gate reads them
  // BACK: per split, docs, clusters, and a string-rendered checksum
  // over doc ids pinning the exact membership SET — plus a
  // data-derived no_straddle boolean the oracle must also derive
  // TRUE (computed over fp groups spanning splits — a doc-keyed
  // split would flip it red along with every checksum).
  // Scale: one fp-keyed window (cluster key), map-side split tag,
  // one partitioned write, read-back rollup — d01's shuffle shape
  // plus the disk round-trip.
  def p07(s: SparkSession, d: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("graft_p07_").toString
    try {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val corpus = base.union(
        base.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 2000000).as("doc_id"), col("text")))
      val wFp = Window.partitionBy("fp")
      val tagged = corpus
        .withColumn("fp", md5(regexp_replace(lower(col("text")), "[^a-z0-9 ]", "")))
        .withColumn("cluster_key", min(col("doc_id")).over(wFp))
        .withColumn("bucket",
          Hashing.hash56(concat(lit("p07#"), col("cluster_key").cast("string"))) % 10)
        .withColumn("split",
          when(col("bucket") <= 7, "train").when(col("bucket") === 8, "val")
            .otherwise("test"))
      tagged.select("doc_id", "fp", "cluster_key", "split")
        .write.partitionBy("split").parquet(s"$dir/splits")
      val back = s.read.parquet(s"$dir/splits")
      val straddle = back.groupBy("fp")
        .agg(countDistinct(col("split")).as("ns"))
        .agg(count(when(col("ns") > 1, lit(1))).as("n_straddling"))
      back.groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_key")).as("n_clusters"),
          sum(Hashing.hash56(concat(lit("p07c#"), col("doc_id").cast("string")))
            .cast("decimal(38,0)")).cast("string").as("ids_checksum"))
        .crossJoin(broadcast(straddle))
        .select(col("split"), col("n_docs"), col("n_clusters"),
          col("ids_checksum"), (col("n_straddling") === 0).as("no_straddle"))
        .orderBy("split")
        .transform(Pin.cut)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val p07Sql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 100 = 0),
       |fps AS (
       |  SELECT doc_id,
       |    md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
       |  FROM corpus),
       |clustered AS (
       |  SELECT doc_id, fp, min(doc_id) OVER (PARTITION BY fp) AS cluster_key
       |  FROM fps),
       |tagged AS (
       |  SELECT doc_id, fp, cluster_key,
       |    CASE WHEN ${Hashing.sqlHash56("'p07#' || cluster_key::VARCHAR")} % 10 <= 7
       |      THEN 'train'
       |      WHEN ${Hashing.sqlHash56("'p07#' || cluster_key::VARCHAR")} % 10 = 8
       |      THEN 'val' ELSE 'test' END AS split
       |  FROM clustered),
       |straddle AS (
       |  SELECT count(CASE WHEN ns > 1 THEN 1 END) AS n_straddling FROM (
       |    SELECT fp, count(DISTINCT split) AS ns FROM tagged GROUP BY 1))
       |SELECT split, count(*) AS n_docs,
       |  count(DISTINCT cluster_key) AS n_clusters,
       |  sum(${Hashing.sqlHash56("'p07c#' || doc_id::VARCHAR")})::DECIMAL(38,0)::VARCHAR
       |    AS ids_checksum,
       |  (SELECT n_straddling FROM straddle) = 0 AS no_straddle
       |FROM tagged GROUP BY 1 ORDER BY split""".stripMargin

  // ------------------------------------------------------------------
  // p08: QUALITY-CURRICULUM schedule — curriculum training feeds the
  // model progressively broader quality slices (highest-quality docs
  // first, the full mix last). Docs get an INTEGER quality score
  // (the t02 signals in fixed-point: 5000·min(n_tok,100) length
  // saturation + stopword penalty, 0..10⁶ — no float in the gate),
  // are deciled WITHIN their source (ntile(10) partitioned by source
  // — curricula are defined per-domain, and the window never needs a
  // global sort), and three phases widen over the deciles
  // (1→top-3, 2→top-6, 3→all). Per phase the schedule reports
  // cumulative docs/tokens, the token share of the corpus (integer
  // ppm off a 1-row broadcast total), and the checksum of the docs
  // NEWLY INTRODUCED in that phase — so the gate pins the exact
  // phase membership, not just sizes.
  // Scale: tokenization map-side, ONE window shuffle keyed by
  // source, a 3-row broadcast phase dim, one keyed agg.
  def p08(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = graft.functions.TextNorm.tokens(col("text"))
    val stopArr = array(TextOps.stopwords.map(lit): _*)
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(toks).cast("long").as("n_tok"),
        size(filter(toks, t => array_contains(stopArr, t))).cast("long").as("n_stop"))
      .withColumn("score_fp",
        lit(5000L) * least(col("n_tok"), lit(100L)) + lit(500000L) -
          expr("(500000 * n_stop) div n_tok"))
      .withColumn("decile", ntile(10).over(
        Window.partitionBy("source").orderBy(col("score_fp").desc, col("doc_id"))))
      .withColumn("hkey",
        Hashing.hash56(concat_ws("#", lit("cur"), col("doc_id"))))
    val tot = docs.agg(sum(col("n_tok")).as("tot_tok"))
    val phases = Seq((1, 0, 3), (2, 3, 6), (3, 6, 10))
      .toDF("phase", "prev_dec", "max_dec")
    docs.join(broadcast(phases), col("decile") <= col("max_dec"))
      .groupBy("phase", "max_dec")
      .agg(count(lit(1)).as("n_docs_cum"),
        sum(col("n_tok")).as("tok_cum"),
        count(when(col("decile") > col("prev_dec"), lit(1))).as("n_new_docs"),
        sum(when(col("decile") > col("prev_dec"), col("hkey")).otherwise(lit(0L))
          .cast("decimal(38,0)")).cast("string").as("new_ids_checksum"))
      .crossJoin(broadcast(tot))
      .select(col("phase"), col("max_dec").as("n_deciles"), col("n_docs_cum"),
        col("tok_cum"), expr("(1000000 * tok_cum) div tot_tok").as("tok_share_ppm"),
        col("n_new_docs"), col("new_ids_checksum"))
      .orderBy("phase")
  }

  val p08Sql: String = {
    val stopList = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH docs AS (
       |  SELECT doc_id, source,
       |    len(regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+'))::BIGINT AS n_tok,
       |    len(list_filter(regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+'),
       |        t -> list_contains($stopList, t)))::BIGINT AS n_stop
       |  FROM documents),
       |dec AS (
       |  SELECT doc_id, source, n_tok,
       |    ntile(10) OVER (PARTITION BY source ORDER BY score_fp DESC, doc_id)
       |      AS decile,
       |    ${Hashing.sqlHash56("'cur#' || doc_id")} AS hkey
       |  FROM (
       |    SELECT *,
       |      5000 * least(n_tok, 100) + 500000 - (500000 * n_stop) // n_tok
       |        AS score_fp
       |    FROM docs) t),
       |tot AS (SELECT sum(n_tok)::BIGINT AS tot_tok FROM docs),
       |phases(phase, prev_dec, max_dec) AS (VALUES (1, 0, 3), (2, 3, 6), (3, 6, 10))
       |SELECT phase, max_dec AS n_deciles, count(*) AS n_docs_cum,
       |  sum(n_tok)::BIGINT AS tok_cum,
       |  (1000000 * sum(n_tok)::BIGINT) // tot.tot_tok AS tok_share_ppm,
       |  count(CASE WHEN decile > prev_dec THEN 1 END) AS n_new_docs,
       |  sum(CASE WHEN decile > prev_dec THEN hkey ELSE 0 END)
       |    ::DECIMAL(38,0)::VARCHAR AS new_ids_checksum
       |FROM dec JOIN phases ON decile <= max_dec, tot
       |GROUP BY phase, max_dec, tot.tot_tok ORDER BY phase""".stripMargin
  }

  // ------------------------------------------------------------------
  // p09: TEMPERATURE-SCALED domain mixture (the mT5/XLM-R α-sampling
  // rule, α=0.3 — p03/p04 hit EXPLICIT targets; this DERIVES the
  // targets from the data, upweighting small domains so they aren't
  // drowned without letting them dominate): sampling weight
  // w_i ∝ share_i^α over the 4-domain token rollup. The single
  // irrational op (pow) is 6dp-rounded per domain (4 values — the
  // t14 libm-absorbing discipline); normalization sums those exact
  // decimals and everything downstream is integer off w_ppm
  // (target_tok = tot·w_ppm div 10⁶). α<1 flattening (small domains
  // boosted above share, big ones below) is pinned in OpsSpec. The
  // weights are api.Mix.temperature; this key renames its columns.
  // Scale: tokenization map-side, one 4-group agg; every later join
  // is a 1-row/4-row broadcast — no second corpus pass.
  def p09(s: SparkSession, d: String): DataFrame =
    graft.api.Mix.temperature(
        Tables.documents(s, d).select(domain4,
          size(graft.functions.TextNorm.tokens(col("text"))).cast("long").as("n_tok")),
        "domain", "n_tok", tau = 0.3)
      .select(col("domain"), col("n_rows").as("n_docs"),
        col("n_tokens").as("n_tok"), col("share_ppm"), col("w6"), col("w_ppm"),
        col("target_tokens").as("target_tok"))

  val p09Sql: String =
    """WITH docs AS (
      |  SELECT 'dom' || (substr(source, 4)::INT % 4) AS domain,
      |    len(regexp_extract_all(nfc_normalize(text), '[\p{L}\p{N}]+'))::BIGINT
      |      AS n_tok
      |  FROM documents),
      |dom AS (SELECT domain, count(*) AS n_docs, sum(n_tok)::BIGINT AS n_tok
      |        FROM docs GROUP BY 1),
      |tot AS (SELECT sum(n_tok)::BIGINT AS tot_tok FROM dom),
      |w AS (
      |  SELECT domain, n_docs, n_tok, tot.tot_tok,
      |    (1000000 * n_tok) // tot.tot_tok AS share_ppm,
      |    round(pow(n_tok::DOUBLE / tot.tot_tok, 0.3), 6) AS w6
      |  FROM dom, tot),
      |ws AS (SELECT sum(w6::DECIMAL(20,6)) AS wsum FROM w)
      |SELECT domain, n_docs, n_tok, share_ppm, w6,
      |  round(1000000.0 * w6 / ws.wsum::DOUBLE, 0)::BIGINT AS w_ppm,
      |  (tot_tok * round(1000000.0 * w6 / ws.wsum::DOUBLE, 0)::BIGINT) // 1000000
      |    AS target_tok
      |FROM w, ws ORDER BY domain""".stripMargin

  // ------------------------------------------------------------------
  // p10: WATER-FILLING token allocation (the capacity-capped mixer —
  // p03/p04 pick WITHIN a domain, p09 derives weights; this solves
  // the allocation problem they hand off: targets can EXCEED a
  // domain's supply, and the excess must flow to domains that still
  // have capacity, proportionally, without anyone over-filling):
  // budget = 60% of corpus tokens, targets = the p03 pct mix
  // (50/25/20/5 — dom0's target deliberately exceeds its ~25% supply
  // so the cap genuinely binds), round 1 allocates min(target,
  // supply), round 2 redistributes the leftover ∝ pct over the
  // unsaturated domains, again capped. All integer div arithmetic —
  // the floor slack is bounded by the divisor count and pinned.
  // Scale: ONE corpus pass builds the 4-row supply rollup
  // (Pin.cut, the p09 rule); both rounds are 4-row ×
  // 1-row-broadcast math — the allocation algebra never touches the
  // corpus again.
  def p10(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(domain4,
      size(graft.functions.TextNorm.tokens(col("text"))).cast("long").as("n_tok"))
    val dom = docs.groupBy("domain").agg(sum(col("n_tok")).as("supply"))
      .transform(Pin.cut)
    val tot = dom.agg(sum(col("supply")).as("tot"))
    val pct = when(col("domain") === "dom0", 50L)
      .when(col("domain") === "dom1", 25L)
      .when(col("domain") === "dom2", 20L).otherwise(5L)
    val base = dom.crossJoin(broadcast(tot))
      .withColumn("pct", pct)
      .withColumn("budget", expr("(tot * 60) div 100"))
      .withColumn("alloc1", least(col("supply"), expr("(budget * pct) div 100")))
    val l1 = base.agg(sum(col("alloc1")).as("given1"),
      sum(when(col("alloc1") < col("supply"), col("pct")).otherwise(lit(0L)))
        .as("pct_unsat"))
    base.crossJoin(broadcast(l1))
      .withColumn("leftover", col("budget") - col("given1"))
      .withColumn("final_alloc", least(col("supply"),
        col("alloc1") + when(col("alloc1") < col("supply") && col("pct_unsat") > 0,
          expr("(leftover * pct) div pct_unsat")).otherwise(lit(0L))))
      .select(col("domain"), col("supply"), col("pct"), col("budget"),
        col("alloc1"), col("final_alloc"),
        (col("final_alloc") === col("supply")).as("saturated"))
      .orderBy("domain")
  }

  val p10Sql: String =
    """WITH docs AS (
      |  SELECT 'dom' || (substr(source, 4)::INT % 4) AS domain,
      |    len(regexp_extract_all(nfc_normalize(text), '[\p{L}\p{N}]+'))::BIGINT
      |      AS n_tok
      |  FROM documents),
      |dom AS (SELECT domain, sum(n_tok)::BIGINT AS supply FROM docs GROUP BY 1),
      |tot AS (SELECT sum(supply)::BIGINT AS tot FROM dom),
      |base AS (
      |  SELECT domain, supply,
      |    CASE domain WHEN 'dom0' THEN 50 WHEN 'dom1' THEN 25
      |      WHEN 'dom2' THEN 20 ELSE 5 END::BIGINT AS pct,
      |    (tot.tot * 60) // 100 AS budget,
      |    least(supply, ((tot.tot * 60) // 100 *
      |      CASE domain WHEN 'dom0' THEN 50 WHEN 'dom1' THEN 25
      |        WHEN 'dom2' THEN 20 ELSE 5 END) // 100) AS alloc1
      |  FROM dom, tot),
      |l1 AS (
      |  SELECT sum(alloc1)::BIGINT AS given1,
      |    sum(CASE WHEN alloc1 < supply THEN pct ELSE 0 END)::BIGINT AS pct_unsat
      |  FROM base)
      |SELECT domain, supply, pct, budget, alloc1,
      |  least(supply, alloc1 + CASE
      |    WHEN alloc1 < supply AND l1.pct_unsat > 0
      |      THEN ((budget - l1.given1) * pct) // l1.pct_unsat
      |    ELSE 0 END) AS final_alloc,
      |  least(supply, alloc1 + CASE
      |    WHEN alloc1 < supply AND l1.pct_unsat > 0
      |      THEN ((budget - l1.given1) * pct) // l1.pct_unsat
      |    ELSE 0 END) = supply AS saturated
      |FROM base, l1 ORDER BY domain""".stripMargin

  // ------------------------------------------------------------------
  // p11: CROSS-SOURCE QUALITY CALIBRATION table (equipercentile
  // equating — the fix for the classifier-drift problem where one
  // source's "0.8 quality" means another's "0.6", so a single global
  // threshold over- or under-prunes per source): each source's decile
  // boundaries of the t02 quality score are mapped onto the REFERENCE
  // source's boundaries (reference = lexicographically-first source —
  // data-derived, no hard-coded name). The emitted table is the
  // per-(source, decile) raw→calibrated boundary mapping a curation
  // run applies before thresholding. Whole contract is integer
  // (quality in exact micro-units; decile assignment by integer rank
  // arithmetic).
  // Scale: quality is a per-row map; ranks are windows PARTITIONED BY
  // source (never a global sort); the decile table is sources×10 rows
  // and the reference dim broadcasts.
  def p11(s: SparkSession, d: String): DataFrame = {
    val stopArr = array(TextOps.stopwords.map(lit): _*)
    val toks = graft.functions.TextNorm.tokens(col("text"))
    val q = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), size(toks).as("n_tokens"),
        size(filter(toks, t => array_contains(stopArr, t))).as("n_stop"))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tokens").cast("double") / 100.0) * 0.5 +
          (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) * 0.5, 6))
      .withColumn("u", round(col("quality") * 1e6, 0).cast("long"))
    val ranked = q
      .withColumn("r", row_number().over(
        Window.partitionBy("source").orderBy(col("u"), col("doc_id"))))
      .withColumn("n_s", count(lit(1)).over(Window.partitionBy("source")))
      .withColumn("decile", expr("((r - 1) * 10) div n_s"))
    val deciles = ranked.groupBy("source", "decile")
      .agg(count(lit(1)).as("n_docs"), max(col("u")).as("raw_max_u"),
        min(col("u")).as("raw_min_u"))
    val refSrc = q.agg(min(col("source")).as("ref_source"))
    val ref = deciles.join(broadcast(refSrc),
        deciles("source") === refSrc("ref_source"))
      .select(col("decile"), col("raw_max_u").as("ref_max_u"))
    deciles.join(broadcast(ref), Seq("decile"))
      .select(col("source"), col("decile"), col("n_docs"),
        col("raw_min_u"), col("raw_max_u"), col("ref_max_u"),
        (col("ref_max_u") - col("raw_max_u")).as("shift_u"))
      .orderBy("source", "decile")
  }

  val p11Sql: String = {
    val tok = "regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+')"
    val stopList = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH q AS (
       |  SELECT doc_id, source,
       |    round((least(1.0, n_tokens / 100.0) * 0.5 +
       |           (1.0 - n_stop::DOUBLE / n_tokens) * 0.5), 6) AS quality
       |  FROM (SELECT doc_id, source, len($tok)::BIGINT AS n_tokens,
       |          len(list_filter($tok, t -> list_contains($stopList, t)))::BIGINT
       |            AS n_stop
       |        FROM documents)),
       |u AS (SELECT doc_id, source, round(quality * 1e6, 0)::BIGINT AS u FROM q),
       |ranked AS (
       |  SELECT source, u,
       |    row_number() OVER (PARTITION BY source ORDER BY u, doc_id) AS r,
       |    count(*) OVER (PARTITION BY source) AS n_s
       |  FROM u),
       |deciles AS (
       |  SELECT source, ((r - 1) * 10) // n_s AS decile, count(*) AS n_docs,
       |    max(u) AS raw_max_u, min(u) AS raw_min_u
       |  FROM ranked GROUP BY 1, 2),
       |ref AS (
       |  SELECT decile, raw_max_u AS ref_max_u FROM deciles
       |  WHERE source = (SELECT min(source) FROM documents))
       |SELECT source, decile, n_docs, raw_min_u, raw_max_u, ref_max_u,
       |  ref_max_u - raw_max_u AS shift_u
       |FROM deciles JOIN ref USING (decile)
       |ORDER BY source, decile""".stripMargin
  }

  // ------------------------------------------------------------------
  // p12: EPOCH (REPETITION) ALLOCATION under a data-constrained budget
  // (Muennighoff et al. 2023 — when the token budget EXCEEDS the
  // unique supply, training repeats data; repeated epochs have
  // decaying value and beyond ~4 epochs add ~nothing. p10 allocates
  // when supply covers the budget; this is the regime where it
  // doesn't): budget = 250% of unique corpus tokens, targets = the
  // p03 pct mix, per-domain allocation capped at 4·supply (the
  // repetition ceiling), leftover redistributed ∝ pct over uncapped
  // domains (p10's one-round rule), re-capped. Beside the raw
  // allocation the table reports epochs_pct (100·alloc div supply)
  // and EFFECTIVE tokens under an epoch-halving value model (epoch e
  // contributes supply div 2^(e−1); the partial epoch pro-rata at
  // its depth) — all integer div arithmetic, no float in the gate.
  // dom0's target (125% of corpus) provably exceeds its 4-epoch
  // ceiling, so the cap and the redistribution both bind.
  // Scale: ONE corpus pass builds the 4-row supply rollup
  // (Pin.cut); the allocation algebra is 4-row ×
  // 1-row-broadcast math.
  def p12(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(domain4,
      size(graft.functions.TextNorm.tokens(col("text"))).cast("long").as("n_tok"))
    val dom = docs.groupBy("domain").agg(sum(col("n_tok")).as("supply"))
      .transform(Pin.cut)
    val tot = dom.agg(sum(col("supply")).as("tot"))
    val pct = when(col("domain") === "dom0", 50L)
      .when(col("domain") === "dom1", 25L)
      .when(col("domain") === "dom2", 20L).otherwise(5L)
    val base = dom.crossJoin(broadcast(tot))
      .withColumn("pct", pct)
      .withColumn("budget", expr("(tot * 250) div 100"))
      .withColumn("target", expr("(budget * pct) div 100"))
      .withColumn("alloc1", least(col("target"), expr("4 * supply")))
    val l1 = base.agg(sum(col("alloc1")).as("given1"),
      sum(when(col("alloc1") < expr("4 * supply"), col("pct"))
        .otherwise(lit(0L))).as("pct_unc"))
    base.crossJoin(broadcast(l1))
      .withColumn("alloc", least(expr("4 * supply"),
        col("alloc1") + when(
          col("alloc1") < expr("4 * supply") && col("pct_unc") > 0,
          expr("((budget - given1) * pct) div pct_unc")).otherwise(lit(0L))))
      .withColumn("epochs_pct", expr("(100 * alloc) div supply"))
      .withColumn("full_e", expr("alloc div supply"))
      .withColumn("rem", expr("alloc % supply"))
      .withColumn("effective", expr(
        """(CASE WHEN full_e >= 1 THEN supply ELSE 0 END) +
          |(CASE WHEN full_e >= 2 THEN supply div 2 ELSE 0 END) +
          |(CASE WHEN full_e >= 3 THEN supply div 4 ELSE 0 END) +
          |(CASE WHEN full_e >= 4 THEN supply div 8 ELSE 0 END) +
          |rem div (CASE full_e WHEN 0 THEN 1 WHEN 1 THEN 2
          |  WHEN 2 THEN 4 WHEN 3 THEN 8 ELSE 16 END)""".stripMargin))
      .select("domain", "pct", "supply", "target", "alloc",
        "epochs_pct", "effective")
      .orderBy("domain")
  }

  val p12Sql: String =
    """WITH docs AS (
      |  SELECT 'dom' || (substr(source, 4)::INT % 4) AS domain,
      |    len(regexp_extract_all(nfc_normalize(text), '[\p{L}\p{N}]+'))::BIGINT
      |      AS n_tok
      |  FROM documents),
      |dom AS (SELECT domain, sum(n_tok)::BIGINT AS supply FROM docs GROUP BY 1),
      |tot AS (SELECT sum(supply)::BIGINT AS tot FROM dom),
      |base AS (
      |  SELECT domain, supply,
      |    CASE domain WHEN 'dom0' THEN 50 WHEN 'dom1' THEN 25
      |      WHEN 'dom2' THEN 20 ELSE 5 END::BIGINT AS pct,
      |    (tot.tot * 250) // 100 AS budget
      |  FROM dom, tot),
      |b2 AS (
      |  SELECT *, (budget * pct) // 100 AS target,
      |    least((budget * pct) // 100, 4 * supply) AS alloc1
      |  FROM base),
      |l1 AS (
      |  SELECT sum(alloc1)::BIGINT AS given1,
      |    sum(CASE WHEN alloc1 < 4 * supply THEN pct ELSE 0 END)::BIGINT
      |      AS pct_unc
      |  FROM b2),
      |fin AS (
      |  SELECT domain, pct, supply, target,
      |    least(4 * supply, alloc1 + CASE
      |      WHEN alloc1 < 4 * supply AND l1.pct_unc > 0
      |        THEN ((budget - l1.given1) * pct) // l1.pct_unc
      |      ELSE 0 END) AS alloc
      |  FROM b2, l1)
      |SELECT domain, pct, supply, target, alloc,
      |  (100 * alloc) // supply AS epochs_pct,
      |  (CASE WHEN alloc // supply >= 1 THEN supply ELSE 0 END) +
      |  (CASE WHEN alloc // supply >= 2 THEN supply // 2 ELSE 0 END) +
      |  (CASE WHEN alloc // supply >= 3 THEN supply // 4 ELSE 0 END) +
      |  (CASE WHEN alloc // supply >= 4 THEN supply // 8 ELSE 0 END) +
      |  (alloc % supply) // (CASE alloc // supply WHEN 0 THEN 1 WHEN 1 THEN 2
      |    WHEN 2 THEN 4 WHEN 3 THEN 8 ELSE 16 END) AS effective
      |FROM fin ORDER BY domain""".stripMargin

  // ------------------------------------------------------------------
  // p13: LOSS-DRIVEN DOMAIN REWEIGHTING (the DoReMi shape, Xie et al.
  // 2023 — p09 derives weights from SIZE alone; DoReMi's insight is to
  // derive them from LEARNABILITY: domains where the reference model's
  // loss is high carry more signal per token and get multiplicatively
  // upweighted): the reference-loss proxy here is each domain's
  // cross-entropy under the CORPUS unigram LM (the t14 discipline —
  // a domain whose words are atypical of the corpus scores high),
  // excess = xent − min-domain xent, multiplier = exp(excess) (η=1),
  // new weight ∝ token-share · multiplier, normalized to ppm.
  // Engine parity: per-(domain,word) ln terms round at CENTI units
  // into exact BIGINT sums; everything downstream is positive-floor
  // integer algebra (xent/excess/mult/weights in micro/ppm fixed
  // point) except the one exp per domain, rounded at micro on a
  // 4-row table — see the in-body note for the round-7 tie math.
  // Scale: ONE corpus
  // scan → the (domain,word) cell table (Pin.cut;
  // corpus totals and domain totals re-derive from IT, the r5-verdict
  // shared-artifact rule) → 4-row broadcast algebra.
  def p13(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(domain4,
      explode(graft.functions.TextNorm.tokens(col("text"))).as("w"))
    val cells = docs.groupBy("domain", "w").agg(count(lit(1)).as("c_dw"))
      .transform(Pin.cut)
    val corpus = cells.groupBy("w").agg(sum("c_dw").as("c_w"))
    val tots = cells.groupBy("domain").agg(sum("c_dw").as("t_d"))
      .transform(Pin.cut)
    val tot = tots.agg(sum("t_d").as("t"))
    // Engine parity (round-7 driver-gate lesson): the old contract
    // rounded THOUSANDS of per-cell ln terms at 6dp and summed — with
    // term magnitudes up to 10⁶, a driver-side libm differing by even
    // 1 ulp has ~1e-4 tie odds PER CELL, i.e. near-certain hash
    // divergence over the whole cell table. Now cells round at CENTI
    // granularity (tie window shrunk 10⁴×) into exact BIGINT sums,
    // every division is positive floor (Spark div == DuckDB //), and
    // the one exp per domain rounds at micro on a 4-row table.
    val xs = cells.join(corpus, "w").crossJoin(broadcast(tot))
      .withColumn("term_centi", round(col("c_dw").cast("double") *
        log(col("t").cast("double") / col("c_w").cast("double")) * 100, 0)
        .cast("long"))
      .groupBy("domain").agg(sum("term_centi").as("xsum_centi"))
    val xent = xs.join(tots, "domain")
      .withColumn("xent_micro", expr("(xsum_centi * 10000) div t_d"))
    val minx = xent.agg(min("xent_micro").as("minx"))
    val w = xent.crossJoin(broadcast(minx)).crossJoin(broadcast(tot))
      .withColumn("excess_micro", col("xent_micro") - col("minx"))
      .withColumn("mult_micro",
        round(exp(col("excess_micro").cast("double") / 1e6) * 1e6, 0)
          .cast("long"))
      .withColumn("share_ppm", expr("(1000000 * t_d) div t"))
      .withColumn("wnum", col("t_d") * col("mult_micro"))
    val ws = w.agg(sum("wnum").as("wsum"))
    w.crossJoin(broadcast(ws))
      .withColumn("w_ppm",
        expr("(cast(1000000 as decimal(38,0)) * wnum) div wsum"))
      .withColumn("target_tok", expr("(t * w_ppm) div 1000000"))
      .select(col("domain"), col("t_d").as("n_tok"), col("share_ppm"),
        col("xent_micro"), col("excess_micro"), col("mult_micro"),
        col("w_ppm"), col("target_tok"))
      .orderBy("domain")
  }

  val p13Sql: String =
    """WITH docs AS (
      |  SELECT 'dom' || (substr(source, 4)::INT % 4) AS domain,
      |    unnest(regexp_extract_all(nfc_normalize(text), '[\p{L}\p{N}]+'))
      |      AS w
      |  FROM documents),
      |cells AS (SELECT domain, w, count(*) AS c_dw FROM docs GROUP BY 1, 2),
      |corpus AS (SELECT w, CAST(sum(c_dw) AS BIGINT) AS c_w
      |           FROM cells GROUP BY 1),
      |tots AS (SELECT domain, CAST(sum(c_dw) AS BIGINT) AS t_d
      |         FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(t_d) AS BIGINT) AS t FROM tots),
      |xs AS (
      |  SELECT c.domain,
      |    CAST(sum(CAST(round(c.c_dw::DOUBLE *
      |      ln(tot.t::DOUBLE / co.c_w::DOUBLE) * 100, 0) AS BIGINT))
      |      AS BIGINT) AS xsum_centi
      |  FROM cells c JOIN corpus co USING (w) CROSS JOIN tot GROUP BY 1),
      |xent AS (
      |  SELECT x.domain, tt.t_d,
      |    (x.xsum_centi * 10000) // tt.t_d AS xent_micro
      |  FROM xs x JOIN tots tt USING (domain)),
      |mn AS (SELECT min(xent_micro) AS minx FROM xent),
      |w AS (
      |  SELECT xent.domain, xent.t_d, xent.xent_micro,
      |    xent.xent_micro - mn.minx AS excess_micro,
      |    CAST(round(exp((xent.xent_micro - mn.minx) / 1000000.0)
      |      * 1000000.0, 0) AS BIGINT) AS mult_micro,
      |    (1000000 * xent.t_d) // tot.t AS share_ppm,
      |    tot.t
      |  FROM xent CROSS JOIN mn CROSS JOIN tot),
      |w2 AS (SELECT *, t_d * mult_micro AS wnum FROM w),
      |ws AS (SELECT CAST(sum(wnum) AS HUGEINT) AS wsum FROM w2)
      |SELECT domain, t_d AS n_tok, share_ppm, xent_micro, excess_micro,
      |  mult_micro,
      |  CAST((1000000::HUGEINT * wnum) // ws.wsum AS BIGINT) AS w_ppm,
      |  (t * CAST((1000000::HUGEINT * wnum) // ws.wsum AS BIGINT))
      |    // 1000000 AS target_tok
      |FROM w2, ws ORDER BY domain""".stripMargin

  // ------------------------------------------------------------------
  // p14: FILTER ABLATION matrix — "which curation stage is actually
  // load-bearing?" (the leave-one-out analysis every pipeline owner
  // runs before relaxing a filter): p01's funnel with each stage
  // ablated in turn — quality, language-consistency, exact dedup,
  // near-dup — reporting the final survivor count and its delta vs
  // the full pipeline. The trap is cost: rerunning the funnel once
  // per ablation is 5 corpus scans. Here every ablation is BOOLEAN
  // ALGEBRA over p01's flag table (curationFlags): per-row q/l flags
  // and the near-dup drop flag are ablation-independent; the only
  // stage whose outcome DEPENDS on which rows survive upstream is
  // exact dedup (keep-lowest runs among that ablation's filter
  // survivors), so the three distinct keep-lowest keys are three
  // conditional MIN windows SHARING the single fp exchange. One flag
  // scan, one fp shuffle, five ablations. l_ok is the table's PURE
  // language flag (p01 nests it under quality; ablating quality
  // requires the unnested form). Stage deltas pinned non-vacuous in
  // OpsSpec.
  def p14(s: SparkSession, d: String): DataFrame = {
    val wFp = Window.partitionBy("fp")
    val marked = curationFlags(s, d)
      .withColumn("min_ql",
        min(when(col("q_ok") && col("l_ok"), col("doc_id"))).over(wFp))
      .withColumn("min_l", min(when(col("l_ok"), col("doc_id"))).over(wFp))
      .withColumn("min_q", min(when(col("q_ok"), col("doc_id"))).over(wFp))
    val one = lit(1L)
    val counts = marked.agg(
      sum(when(col("q_ok") && col("l_ok") && col("doc_id") === col("min_ql")
        && !col("nd_drop"), one)).as("full_n"),
      sum(when(col("l_ok") && col("doc_id") === col("min_l")
        && !col("nd_drop"), one)).as("no_quality"),
      sum(when(col("q_ok") && col("doc_id") === col("min_q")
        && !col("nd_drop"), one)).as("no_lang"),
      sum(when(col("q_ok") && col("l_ok") && !col("nd_drop"), one))
        .as("no_exact"),
      sum(when(col("q_ok") && col("l_ok") && col("doc_id") === col("min_ql"),
        one)).as("no_near"))
    counts.select(col("full_n"),
        expr("stack(5, 'a_full', full_n, 'b_no_quality', no_quality, " +
          "'c_no_lang', no_lang, 'd_no_exact', no_exact, " +
          "'e_no_near', no_near) AS (ablation, n_final)"))
      .select(col("ablation"), col("n_final"),
        (col("n_final") - col("full_n")).as("delta_vs_full"))
      .orderBy("ablation")
  }

  val p14Sql: String =
    s"""WITH aug AS (
       |  SELECT doc_id, lang, text FROM documents
       |  UNION ALL SELECT doc_id + 2000000, lang, text FROM documents
       |    WHERE doc_id % 100 = 0
       |  UNION ALL SELECT doc_id + 1000000, lang,
       |      text || ' graft dedup probe tail' FROM documents
       |    WHERE doc_id % 50 = 0),
       |staged AS (
       |  SELECT doc_id, lang, text,
       |    len(regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+')) AS n_tokens,
       |    len(list_filter(regexp_extract_all(nfc_normalize(text), '[\\p{L}\\p{N}]+'),
       |        t -> list_contains(${TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")}, t))) AS n_stop,
       |    md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp
       |  FROM aug),
       |lang_scored AS (
       |  SELECT *, ${TextOps.sqlLangCountExprs.replace("\n    ", "\n      ")}
       |  FROM staged),
       |flags AS (
       |  SELECT doc_id, fp,
       |    (n_tokens >= 10 AND n_stop * 2 <= n_tokens) AS q_ok,
       |    (${TextOps.sqlPredictedCase} = lang) AS l_ok
       |  FROM lang_scored),
       |dropb AS (SELECT DISTINCT b AS doc_id FROM (${Dedup.d04Sql})),
       |marked AS (
       |  SELECT f.*, (f.doc_id IN (SELECT doc_id FROM dropb)) AS nd_drop,
       |    min(CASE WHEN q_ok AND l_ok THEN doc_id END)
       |      OVER (PARTITION BY fp) AS min_ql,
       |    min(CASE WHEN l_ok THEN doc_id END)
       |      OVER (PARTITION BY fp) AS min_l,
       |    min(CASE WHEN q_ok THEN doc_id END)
       |      OVER (PARTITION BY fp) AS min_q
       |  FROM flags f),
       |counts AS (SELECT
       |  count(CASE WHEN q_ok AND l_ok AND doc_id = min_ql
       |             AND NOT nd_drop THEN 1 END) AS full_n,
       |  count(CASE WHEN l_ok AND doc_id = min_l
       |             AND NOT nd_drop THEN 1 END) AS no_quality,
       |  count(CASE WHEN q_ok AND doc_id = min_q
       |             AND NOT nd_drop THEN 1 END) AS no_lang,
       |  count(CASE WHEN q_ok AND l_ok AND NOT nd_drop THEN 1 END)
       |    AS no_exact,
       |  count(CASE WHEN q_ok AND l_ok AND doc_id = min_ql THEN 1 END)
       |    AS no_near
       |  FROM marked)
       |SELECT 'a_full' AS ablation, full_n AS n_final,
       |  full_n - full_n AS delta_vs_full FROM counts
       |UNION ALL SELECT 'b_no_quality', no_quality, no_quality - full_n
       |  FROM counts
       |UNION ALL SELECT 'c_no_lang', no_lang, no_lang - full_n FROM counts
       |UNION ALL SELECT 'd_no_exact', no_exact, no_exact - full_n FROM counts
       |UNION ALL SELECT 'e_no_near', no_near, no_near - full_n FROM counts
       |ORDER BY ablation""".stripMargin

  // ------------------------------------------------------------------
  // p15: QUALITY–QUANTITY TRADEOFF CURVE (the chart a data team reads
  // before picking t19's sampling threshold or p01's quality bar:
  // "if the bar is the d-th quality decile, how many docs and tokens
  // survive, carrying how much quality mass?"). Thresholds are EXACT
  // VALUE SELECTIONS (q52's discipline — τ_d = the quality of the
  // ⌈N·d/10⌉-th doc ascending, an integer-compared rank pick, never
  // interpolated) and every surviving mass is a suffix aggregate:
  // total − prefix at the boundary row. Engine parity: the per-doc
  // quality score is an exact INTEGER in ppm — 500000·min(1, n/100) +
  // floor(500000·(n−n_stop)/n), all positive integer arithmetic —
  // because the round-7 driver gate proved the previous
  // round(double, 6) per-doc score is a grain-assignment hazard (the
  // driver's DuckDB rounds x·10⁶ through a double multiply; Spark
  // rounds the exact binary expansion — one doc landing near a .5
  // ulp boundary flips a whole grain row and every suffix after it).
  // Zero floats anywhere now; quality mass is a BIGINT ppm sum.
  // Scale: the doc-grain features ride one corpus scan; everything
  // after lives on the QUALITY-VALUE grain, whose domain is bounded
  // by the ppm value space (≤10⁶+1 rows in [0,1] at ANY corpus
  // size), so the one unpartitioned cumulative window is
  // domain-bounded, not corpus-bounded.
  def p15(s: SparkSession, d: String): DataFrame = {
    // api.Text.withQualityPpm is the generic form of the score — this
    // key is its gate (zero-token docs score 0 there; the filter
    // keeps both engines on the same rows, since the DuckDB oracle's
    // division would error where Spark's div nulls)
    val docs = graft.api.Text
      .withQualityPpm(Tables.documents(s, d), "text", TextOps.stopwords)
      .filter(col("n_tokens") > 0)
      .select(col("n_tokens"), col("quality_ppm").as("quality"))
    val grain = docs.groupBy("quality")
      .agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("nt"),
        sum(col("quality")).as("qs"))
    val before = Window.orderBy("quality")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = grain
      .withColumn("cd_b", coalesce(sum(col("nd")).over(before), lit(0L)))
      .withColumn("ct_b", coalesce(sum(col("nt")).over(before), lit(0L)))
      .withColumn("cq_b", coalesce(sum(col("qs")).over(before), lit(0L)))
      .transform(Pin.cut) // value-grain; joined against all 10 deciles
    val totals = broadcast(grain.agg(sum("nd").as("n_total"),
      sum("nt").as("t_total"), sum("qs").as("q_total")))
    val deciles = broadcast(s.range(0, 10).select(col("id").as("decile")))
    // τ_d = smallest quality whose ≤-cumulative reaches N·d/10
    cum.crossJoin(totals).crossJoin(deciles)
      .filter((col("cd_b") + col("nd")) * 10 >= col("n_total") * col("decile"))
      .groupBy("decile")
      .agg(min(struct(col("quality"), col("cd_b"), col("ct_b"), col("cq_b"),
        col("n_total"), col("t_total"), col("q_total"))).as("m"))
      .select(col("decile"),
        col("m.quality").as("tau"),
        (col("m.n_total") - col("m.cd_b")).as("n_kept"),
        (col("m.t_total") - col("m.ct_b")).as("tokens_kept"),
        (col("m.q_total") - col("m.cq_b")).as("quality_mass_kept"))
      .orderBy("decile")
  }

  val p15Sql: String = {
    val stopList = TextOps.stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH feats AS (
       |  SELECT len(regexp_extract_all(nfc_normalize(text),
       |      '[\\p{L}\\p{N}]+')) AS n_tokens,
       |    len(list_filter(regexp_extract_all(nfc_normalize(text),
       |      '[\\p{L}\\p{N}]+'), t -> list_contains($stopList, t))) AS n_stop
       |  FROM documents),
       |docs AS (
       |  SELECT n_tokens,
       |    least(500000::BIGINT, 5000::BIGINT * n_tokens) +
       |      (500000::BIGINT * (n_tokens - n_stop)) // n_tokens AS quality
       |  FROM feats WHERE n_tokens > 0),
       |grain AS (
       |  SELECT quality, count(*) AS nd,
       |    CAST(sum(n_tokens) AS BIGINT) AS nt,
       |    CAST(sum(quality) AS BIGINT) AS qs
       |  FROM docs GROUP BY 1),
       |cum AS (
       |  SELECT *,
       |    CAST(coalesce(sum(nd) OVER w, 0) AS BIGINT) AS cd_b,
       |    CAST(coalesce(sum(nt) OVER w, 0) AS BIGINT) AS ct_b,
       |    CAST(coalesce(sum(qs) OVER w, 0) AS BIGINT) AS cq_b
       |  FROM grain
       |  WINDOW w AS (ORDER BY quality
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       |tot AS (SELECT CAST(sum(nd) AS BIGINT) AS n_total,
       |  CAST(sum(nt) AS BIGINT) AS t_total,
       |  CAST(sum(qs) AS BIGINT) AS q_total FROM grain),
       |picked AS (
       |  SELECT d.decile, c.quality, c.cd_b, c.ct_b, c.cq_b,
       |    t.n_total, t.t_total, t.q_total,
       |    row_number() OVER (PARTITION BY d.decile ORDER BY c.quality)
       |      AS rn
       |  FROM cum c CROSS JOIN tot t
       |  CROSS JOIN (SELECT unnest(range(10)) AS decile) d
       |  WHERE (c.cd_b + c.nd) * 10 >= t.n_total * d.decile)
       |SELECT CAST(decile AS BIGINT) AS decile,
       |  CAST(quality AS BIGINT) AS tau,
       |  n_total - cd_b AS n_kept, t_total - ct_b AS tokens_kept,
       |  q_total - cq_b AS quality_mass_kept
       |FROM picked WHERE rn = 1 ORDER BY decile""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p16_bpe_token_mix" -> (p16 _),
    "p15_quality_tradeoff" -> (p15 _),
    "p14_filter_ablation" -> (p14 _),
    "p13_doremi_reweight" -> (p13 _),
    "p12_epoch_allocation" -> (p12 _),
    "p11_quality_calibration" -> (p11 _),
    "p10_water_filling" -> (p10 _),
    "p09_temperature_mix" -> (p09 _),
    "p08_curriculum" -> (p08 _),
    "p07_split_export" -> (p07 _),
    "p06_datacard" -> (p06 _),
    "p01_curation_funnel" -> (p01 _),
    "p02_incremental_ingest" -> (p02 _),
    "p03_domain_mix" -> (p03 _),
    "p04_token_mix" -> (p04 _),
    "p05_shard_export" -> (p05 _))

  val oracles: Map[String, String] = Map(
    "p16_bpe_token_mix" -> p16Sql,
    "p15_quality_tradeoff" -> p15Sql,
    "p14_filter_ablation" -> p14Sql,
    "p13_doremi_reweight" -> p13Sql,
    "p12_epoch_allocation" -> p12Sql,
    "p11_quality_calibration" -> p11Sql,
    "p10_water_filling" -> p10Sql,
    "p09_temperature_mix" -> p09Sql,
    "p08_curriculum" -> p08Sql,
    "p07_split_export" -> p07Sql,
    "p06_datacard" -> p06Sql,
    "p01_curation_funnel" -> p01Sql,
    "p02_incremental_ingest" -> p02Sql,
    "p03_domain_mix" -> p03Sql,
    "p04_token_mix" -> p04Sql,
    "p05_shard_export" -> p05Sql)
}
