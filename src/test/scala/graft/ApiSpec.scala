package graft

import org.apache.spark.sql.functions._

/** The generic-API contract: every kernel in graft.api runs on a
  * USER-SCHEMA DataFrame built inline here — different column names,
  * no testdata directory anywhere — and its semantics replay
  * driver-side. (Oracle parity for the same kernels is covered by the
  * gated dNN/sNN keys and the recommender's ALS and r12/r17/r20 keys,
  * which delegate to graft.api.) */
class ApiSpec extends SparkSpec {

  // a tiny user corpus with its OWN schema: planted exact duplicate
  // (101/104) and near-duplicate (102/105: one token appended)
  private lazy val userDocs = {
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again while the cat watches from the warm windowsill nearby"
    val other = "completely different content about distributed query " +
      "engines shuffling partitioned columnar data across executors"
    spark.createDataFrame(Seq(
      (101L, base),
      (102L, base + " tonight"),
      (103L, other),
      (104L, base),
      (105L, base + " tonight extra"),
      (106L, other + " with a long appended tail of unrelated words " +
        "that drops jaccard below any sensible duplicate threshold " +
        "because the overlap fraction shrinks fast")
    )).toDF("item_key", "body")
  }

  test("api.Dedup.exactGroups keeps the lowest id of the planted pair") {
    val groups = api.Dedup.exactGroups(userDocs, "item_key", "body")
      .filter(col("n_docs") > 1).collect()
    assert(groups.length == 1)
    assert(groups.head.getAs[Long]("keep") == 101L)
    assert(groups.head.getAs[Long]("drop_max") == 104L)
  }

  test("api.Dedup.lshCandidates surfaces the exact pair and stays reflexive-free") {
    val cands = api.Dedup.lshCandidates(userDocs, "item_key", "body")
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    assert(cands.contains((101L, 104L)), "exact copy not a candidate")
    cands.foreach { case (a, b) => assert(a < b, s"unordered pair ($a,$b)") }
  }

  test("api.Dedup.nearDuplicates verifies with exact jaccard and respects the threshold") {
    val nd = api.Dedup.nearDuplicates(userDocs, "item_key", "body",
      threshold = 0.6).collect()
    val pairs = nd.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(pairs.contains((101L, 104L)))
    nd.foreach { r =>
      val j = r.getAs[Double]("jaccard")
      assert(j >= 0.6 && j <= 1.0)
      if (r.getAs[Long]("a") == 101L && r.getAs[Long]("b") == 104L)
        assert(j == 1.0, "identical docs must score jaccard 1")
    }
    // the long-tail doc must NOT pair with its base at 0.6
    assert(!pairs.contains((103L, 106L)),
      "tail-extended doc wrongly verified as near-dup")
  }

  test("api.Text.withQualityPpm is exact integer ppm and handles empty text") {
    val df = spark.createDataFrame(Seq(
      (1L, Seq.fill(200)("word").mkString(" ")),     // saturated length
      (2L, "the a of and"),                          // all stopwords
      (3L, ""),                                      // zero tokens
      (4L, Seq.fill(50)("term").mkString(" "))       // half length, no stops
    )).toDF("k", "txt")
    val got = api.Text.withQualityPpm(df, "txt",
        stopwords = Seq("the", "a", "of", "and"))
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[Int]("n_tokens"), r.getAs[Long]("quality_ppm"))).toMap
    assert(got(1L) == ((200, 1000000L)), "full-length no-stop must max out")
    assert(got(2L) == ((4, 20000L)), "all-stopword doc: length term only")
    assert(got(3L) == ((0, 0L)), "empty text must score 0, not error")
    assert(got(4L) == ((50, 750000L)), "half length + clean = 250k + 500k")
  }

  test("api.Text.languageId predicts by marker counts with order ties") {
    val markers = Seq(
      "en" -> Seq("the", "and"), "de" -> Seq("der", "und"))
    val df = spark.createDataFrame(Seq(
      (1L, "the cat and the hat"),
      (2L, "der hund und der ball"),
      (3L, "no marker words here at all")  // 0-0 tie → first language
    )).toDF("k", "txt")
    val got = api.Text.languageId(df, "k", "txt", markers)
      .collect().map(r => r.getAs[Long]("k") ->
        r.getAs[String]("predicted")).toMap
    assert(got == Map(1L -> "en", 2L -> "de", 3L -> "en"))
  }

  test("api.Chunks.contentDefined is shift-immune where fixed-width is not") {
    val body = (1 to 120).map(i => s"tok$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      (1L, body),
      (2L, "inserted head words " + body)  // prefix shift
    )).toDF("k", "txt")
    val chunks = api.Chunks.contentDefined(df, "k", "txt", avgTokens = 8)
      .collect()
    val h1 = chunks.filter(_.getAs[Long]("k") == 1L)
      .map(_.getAs[Long]("chunk_hash")).toSet
    val h2 = chunks.filter(_.getAs[Long]("k") == 2L)
      .map(_.getAs[Long]("chunk_hash")).toSet
    // content-defined boundaries realign after the insertion: all but
    // the head chunk(s) of the original reappear verbatim in the copy
    val shared = (h1 & h2).size
    assert(shared >= h1.size - 2,
      s"only $shared of ${h1.size} chunks survived a prefix insertion")
    // chunk_no is a contiguous 0-based sequence per doc
    val nos = chunks.filter(_.getAs[Long]("k") == 1L)
      .map(_.getAs[Long]("chunk_no")).sorted
    assert(nos.head == 0L && nos.toSeq == (0L until nos.length).toSeq)
  }

  test("api.Events.sessionize assigns gap sessions deterministically") {
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000)
    val df = spark.createDataFrame(Seq(
      ("u1", 1L, at(0)), ("u1", 2L, at(10)),   // session 1
      ("u1", 3L, at(70)),                      // gap 60m > 30m → session 2
      ("u1", 4L, at(75)),
      ("u2", 5L, at(0)), ("u2", 6L, at(31))    // 31m gap → two sessions
    )).toDF("acct", "seq", "when_ts")
    val got = api.Events.sessionize(df, "acct", "when_ts", "seq",
        gapSeconds = 1800)
      .collect().map(r => (r.getAs[String]("acct"), r.getAs[Long]("seq")) ->
        r.getAs[Long]("session_id")).toMap
    assert(got == Map(("u1", 1L) -> 1L, ("u1", 2L) -> 1L,
      ("u1", 3L) -> 2L, ("u1", 4L) -> 2L,
      ("u2", 5L) -> 1L, ("u2", 6L) -> 2L))
  }

  test("api.TopK.perGroup matches a driver-side sort") {
    val df = spark.createDataFrame(Seq(
      ("g1", 1L, 10.0), ("g1", 2L, 30.0), ("g1", 3L, 20.0),
      ("g2", 4L, 5.0), ("g2", 5L, 5.0), ("g2", 6L, 1.0)
    )).toDF("grp", "row_id", "score")
    val got = api.TopK.perGroup(df, Seq("grp"),
        Seq(col("score").desc, col("row_id").asc), k = 2)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Int]("rank"),
        r.getAs[Long]("row_id"))).toSet
    assert(got == Set(("g1", 1, 2L), ("g1", 2, 3L),
      ("g2", 1, 4L), ("g2", 2, 5L)))
  }

  test("api.Recommend.alsTopK serves ranked unseen items on a user frame") {
    // 6 users × 8 items, block preference structure: evens like
    // low items, odds like high items
    val rows = for (u <- 0 until 6; i <- 0 until 8
                    if (u % 2 == 0) == (i < 4)) yield (u.toLong, i.toLong, 1.0)
    val df = spark.createDataFrame(rows).toDF("member", "product", "w")
    val recs = api.Recommend.alsTopK(df, "member", "product", "w", k = 3)
      .collect()
    val byUser = recs.groupBy(_.getAs[Int]("member"))
    assert(byUser.size == 6, "a user got no recommendations")
    byUser.values.foreach { rs =>
      assert(rs.length <= 3)
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rs.length).toSeq)
      // scores non-increasing in rank
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(
          a.getAs[Float]("score") >= b.getAs[Float]("score"))
        case _ => ()
      }
    }
    // no served item was in the user's history
    val seen = rows.map(r => (r._1.toInt, r._2.toInt)).toSet
    recs.foreach { r =>
      assert(!seen.contains((r.getAs[Int]("member"), r.getAs[Int]("product"))),
        "served an already-seen item")
    }
  }

  test("api.Ann.bruteForceTopK returns exact ranked neighbors on a user frame") {
    // 4 points on the plane, padded to length-4 vectors
    def v(x: Double, y: Double) = Seq(x, y, 0.0, 0.0)
    val df = spark.createDataFrame(Seq(
      (1L, v(1, 0)), (2L, v(0.9, 0.1)), (3L, v(0, 1)), (4L, v(-1, 0.05))
    )).toDF("pid", "emb")
    val res = api.Ann.bruteForceTopK(df, df.filter(col("pid") === 1L),
        "pid", "emb", "pid", "emb", k = 3)
      .orderBy("rank").collect()
    assert(res.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L, 4L),
      "cosine ranking disagrees with geometry")
    assert(res.head.getAs[Double]("cosine") > 0.99)
  }

  test("api.Ann.knnGraph builds a degree-bounded graph from dense ids") {
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id").as("point"),
        col("embedding").cast("array<double>").as("feat"))
    val g = api.Ann.knnGraph(emb, "point", "feat", degree = 4, rounds = 2)
    val rows = g.collect()
    val deg = rows.groupBy(_.getLong(0)).map(_._2.length)
    assert(deg.max <= 4)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    assert(deg.size.toLong == emb.count(), "a node lost its adjacency")
  }

  test("api.Curation funnel shrinks monotonically and survivors exclude planted dups") {
    val counts = api.Curation.funnelCounts(userDocs, "item_key", "body",
        minTokens = 5)
      .collect().map(r => r.getAs[String]("stage") -> r.getAs[Long]("n_docs"))
      .toMap
    assert(counts("a_raw") == 6L)
    assert(counts("b_quality") <= counts("a_raw"))
    assert(counts("c_exact_dedup") < counts("b_quality"),
      "exact stage failed to drop the planted copy")
    assert(counts("d_near_dedup") < counts("c_exact_dedup"),
      "near-dup stage failed to drop the planted near-copy")
    val surv = api.Curation.funnelSurvivors(userDocs, "item_key", "body",
      minTokens = 5).collect().map(_.getAs[Long]("item_key")).toSet
    assert(surv.size.toLong == counts("d_near_dedup"))
    assert(!surv.contains(104L) && surv.contains(101L))
  }
  test("api.Mix.byDocCount takes exactly the hash-prefix per domain") {
    // 12 rows over 3 domains with a user schema
    val rows = (1L to 12L).map(i =>
      (i, if (i <= 6) "web" else if (i <= 10) "code" else "law"))
    val df = spark.createDataFrame(rows).toDF("rec_id", "corpus")
    val out = api.Mix.byDocCount(df, "rec_id", "corpus",
      Map("web" -> 50, "code" -> 25), defaultPct = 100).collect()
    assert(out.length == 12)
    val byDom = out.groupBy(_.getAs[String]("corpus"))
    // n_target = floor(12 * pct / 100): web 6, code 3, law(default) 12
    assert(byDom("web").count(_.getAs[Boolean]("taken")) == 6)
    assert(byDom("code").count(_.getAs[Boolean]("taken")) == 3)
    // over-asked domain saturates at its own size
    assert(byDom("law").count(_.getAs[Boolean]("taken")) == 2)
    // replay the pick order driver-side: taken = lowest hash-of-id ranks
    // (hash56 = first 14 md5 hex chars as a long — Hashing.scala contract)
    def h56(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(14),
      16)
    val codeTaken = byDom("code").filter(_.getAs[Boolean]("taken"))
      .map(_.getAs[Long]("rec_id")).toSet
    val expect = byDom("code").map(_.getAs[Long]("rec_id"))
      .sortBy(i => (h56(s"mix#$i"), i)).take(3).toSet
    assert(codeTaken == expect, s"pick order diverged: $codeTaken vs $expect")
  }

  test("api.Mix.byDocCount and byTokenBudget reject pcts outside [0, 100]") {
    val df = spark.createDataFrame(Seq((1L, "web", 10L))).toDF("rec_id", "corpus", "tok")
    // a negative pct would silently take nothing; checked before any job
    intercept[IllegalArgumentException](
      api.Mix.byDocCount(df, "rec_id", "corpus", Map("web" -> -5)))
    intercept[IllegalArgumentException](
      api.Mix.byDocCount(df, "rec_id", "corpus", Map.empty, defaultPct = 101))
    intercept[IllegalArgumentException](
      api.Mix.byTokenBudget(df, "rec_id", "corpus", "tok", Map("web" -> 120)))
  }

  test("api.Mix.byTokenBudget applies the whole-prefix rule exactly") {
    val rows = Seq((1L, "a", 100L), (2L, "a", 100L), (3L, "a", 100L),
      (4L, "b", 50L), (5L, "b", 50L))
    val df = spark.createDataFrame(rows).toDF("rec_id", "corpus", "tok")
    val out = api.Mix.byTokenBudget(df, "rec_id", "corpus", "tok",
      Map("a" -> 50, "b" -> 100)).collect()
    // total 400 tokens: a's budget 200 → exactly 2 of 3 docs fit;
    // b's budget 400 → both fit
    assert(out.filter(_.getAs[String]("corpus") == "a")
      .count(_.getAs[Boolean]("taken")) == 2)
    assert(out.filter(_.getAs[String]("corpus") == "b")
      .count(_.getAs[Boolean]("taken")) == 2)
    // cum_tokens of every taken row is <= budget; first dropped row is
    // the first prefix overflow, never a later smaller doc (prefix rule)
    out.filter(_.getAs[Boolean]("taken")).foreach(r =>
      assert(r.getAs[Long]("cum_tokens") <= r.getAs[Long]("budget")))
  }

  test("api.Mix.temperature flattens head domains and conserves ppm") {
    val rows = (1L to 90L).map(i => (i, "head", 100L)) ++
      (1L to 10L).map(i => (i + 1000L, "tail", 100L))
    val df = spark.createDataFrame(rows).toDF("rec_id", "corpus", "tok")
    val out = api.Mix.temperature(df, "corpus", "tok", tau = 0.3)
      .collect().map(r => r.getAs[String]("corpus") -> r).toMap
    assert(out("head").getAs[Long]("share_ppm") == 900000L)
    assert(out("tail").getAs[Long]("share_ppm") == 100000L)
    val (wh, wt) = (out("head").getAs[Long]("w_ppm"),
      out("tail").getAs[Long]("w_ppm"))
    // tau < 1 flattens: head keeps the majority but far below its share
    assert(wh > wt && wh < 700000L && wt > 300000L,
      s"tau=0.3 weights off: head=$wh tail=$wt")
    assert(math.abs(wh + wt - 1000000L) <= 1, "weights must sum to ~1e6")
  }

  test("api.Eval metrics replay driver-side on a planted slate") {
    // two users, k=5 slates with known hits at known ranks
    val recs = spark.createDataFrame(Seq(
      (7L, 301L, 1), (7L, 302L, 2), (7L, 303L, 3), (7L, 304L, 4), (7L, 305L, 5),
      (8L, 311L, 1), (8L, 312L, 2), (8L, 313L, 3), (8L, 314L, 4), (8L, 315L, 5)
    )).toDF("member", "product", "pos")
    // user 7: hits at ranks 1 and 3 (2 relevant total); user 8: no hits,
    // 4 relevant
    val truth = spark.createDataFrame(Seq(
      (7L, 301L), (7L, 303L),
      (8L, 401L), (8L, 402L), (8L, 403L), (8L, 404L)
    )).toDF("member", "product")
    val p = api.Eval.precisionAtK(recs, truth, "member", "product").head()
    assert(p.getAs[Long]("n_users") == 2 && p.getAs[Long]("n_recs") == 10)
    assert(p.getAs[Long]("n_hits") == 2)
    assert(p.getAs[Double]("precision_at_k") == 0.2)
    val nd = api.Eval.ndcgAtK(recs, truth, "member", "product", "pos")
      .collect().map(r => r.getAs[Long]("member") -> r).toMap
    // user 7: dcg = g1 + g3, idcg = g1 + g2 (n_rel = 2)
    val g = (1 to 5).map(i =>
      math.round(1e10 / (math.log(i + 1.0) / math.log(2.0))))
    assert(nd(7L).getAs[Long]("dcg_fp") == g(0) + g(2))
    val expect7 = BigDecimal((g(0) + g(2)).toDouble / (g(0) + g(1)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(nd(7L).getAs[Double]("ndcg_at_k") == expect7)
    assert(nd(8L).getAs[Double]("ndcg_at_k") == 0.0)
    val mr = api.Eval.mapRecallAtK(recs, truth, "member", "product", "pos")
      .collect().map(r => r.getAs[Long]("member") -> r).toMap
    // user 7: AP hits: rank1 cum1 -> 60*1/1=60; rank3 cum2 -> 60*2/3=40
    assert(mr(7L).getAs[Long]("ap_fp") == 100L)
    // ap_at_k = 100 / (60 * min(2,5)) = 0.833333
    assert(mr(7L).getAs[Double]("ap_at_k") == 0.833333)
    assert(mr(7L).getAs[Double]("recall_at_k") == 1.0)
    assert(mr(8L).getAs[Long]("n_hits") == 0L)
    assert(mr(8L).getAs[Double]("recall_at_k") == 0.0)
  }
  test("api.Mix.waterFill converges in ONE pass when no second domain " +
    "saturates (the old single-pass values are the fixpoint here)") {
    // supplies: a=1000, b=1000, c=100; budget 60% of 2100 = 1260
    // pcts a=50 b=30 c=20: alloc1 a=630 b=378 c=min(100, 252)=100 sat
    // leftover = 1260-1108 = 152 redistributed over pct_unsat=80:
    // a += 152*50//80 = 95 -> 725; b += 152*30//80 = 57 -> 435
    val rows = (1 to 10).map(i => ("a", 100L)) ++
      (1 to 10).map(i => ("b", 100L)) ++ Seq(("c", 100L))
    val df = spark.createDataFrame(rows).toDF("corpus", "tok")
    val out = api.Mix.waterFill(df, "corpus", "tok",
      Map("a" -> 50, "b" -> 30, "c" -> 20)).collect()
      .map(r => r.getAs[String]("corpus") -> r).toMap
    assert(out("c").getAs[Boolean]("saturated"))
    assert(out("c").getAs[Long]("final_alloc") == 100L)
    assert(out("a").getAs[Long]("alloc1") == 630L)
    assert(out("a").getAs[Long]("final_alloc") == 725L)
    assert(out("b").getAs[Long]("final_alloc") == 435L)
    assert(!out("a").getAs[Boolean]("saturated"))
  }

  test("api.Mix.waterFill iterates past a SECOND saturation to the " +
    "fixpoint (the case the one-pass rule under-filled)") {
    // supplies a=10 b=150 c=1000, tot=1160, budget=696; pcts 60/20/20.
    // pass1: a=min(10,417)=10 SAT, b=min(150,139)=139, c=139;
    //   leftover=408 over pct_unsat=40
    // pass2: b=min(150,139+204)=150 SAT (strands 193), c=343;
    //   leftover=193 over pct_unsat=20
    // pass3: c=343+193=536; Σ=696=budget exactly. The one-pass rule
    // stopped at c=343, under-filling by 193.
    val rows = Seq(("a", 10L)) ++ (1 to 3).map(_ => ("b", 50L)) ++
      (1 to 10).map(_ => ("c", 100L))
    val df = spark.createDataFrame(rows).toDF("corpus", "tok")
    val out = api.Mix.waterFill(df, "corpus", "tok",
      Map("a" -> 60, "b" -> 20, "c" -> 20)).collect()
      .map(r => r.getAs[String]("corpus") -> r).toMap
    assert(out("a").getAs[Long]("final_alloc") == 10L &&
      out("a").getAs[Boolean]("saturated"))
    assert(out("b").getAs[Long]("alloc1") == 139L)
    assert(out("b").getAs[Long]("final_alloc") == 150L &&
      out("b").getAs[Boolean]("saturated"))
    assert(out("c").getAs[Long]("final_alloc") == 536L &&
      !out("c").getAs[Boolean]("saturated"))
    // conservation pin: the fixpoint hands out the WHOLE budget when
    // capacity remains, and never more
    assert(out.values.map(_.getAs[Long]("final_alloc")).sum == 696L)
  }

  test("api.Mix.waterFill rejects over-asked explicit pcts and never " +
    "subtracts when defaultPct over-covers") {
    val rows = (1 to 10).map(_ => ("a", 100L)) ++
      (1 to 10).map(_ => ("b", 100L)) ++ Seq(("c", 100L))
    val df = spark.createDataFrame(rows).toDF("corpus", "tok")
    // out-of-range entries: fail loudly (statically checkable misuse)
    intercept[IllegalArgumentException] {
      api.Mix.waterFill(df, "corpus", "tok", Map("a" -> 120))
    }
    intercept[IllegalArgumentException] {
      api.Mix.waterFill(df, "corpus", "tok", Map("a" -> -5))
    }
    // an over-asked EXPLICIT map (70+50+20 = 140) is only over-asked
    // per-run (a reusable config map may cover absent domains), so it
    // must not throw — the clamp keeps the result safe instead
    val over = api.Mix.waterFill(df, "corpus", "tok",
      Map("a" -> 70, "b" -> 50, "c" -> 20)).collect()
    over.foreach { r =>
      assert(r.getAs[Long]("final_alloc") >= r.getAs[Long]("alloc1"))
      assert(r.getAs[Long]("final_alloc") >= 0L)
    }
    // and a map carrying entries for ABSENT domains stays valid when
    // the present-domain ask is inside the budget
    val presentOnly = api.Mix.waterFill(
      df.filter(col("corpus") === "a"), "corpus", "tok",
      Map("a" -> 60, "zz_absent" -> 60)).collect()
    assert(presentOnly.length == 1 &&
      presentOnly(0).getAs[Long]("final_alloc") >= 0L)
    // defaultPct-driven over-ask is data-dependent (can't require it
    // away): the leftover clamps at 0, so no domain ever drops below
    // its first-pass allocation — the old behavior here SUBTRACTED
    val out = api.Mix.waterFill(df, "corpus", "tok",
      Map("a" -> 60), defaultPct = 40).collect()
      .map(r => r.getAs[String]("corpus") -> r).toMap
    // effective pcts 60+40+40 = 140 > 100: first pass over-gives
    out.values.foreach { r =>
      assert(r.getAs[Long]("final_alloc") >= r.getAs[Long]("alloc1"),
        s"clamped redistribution must never subtract: $r")
      assert(r.getAs[Long]("final_alloc") >= 0L)
    }
  }

  test("api.Eval.mapRecallAtK ignores out-of-contract rows with rank > k") {
    val truth = spark.createDataFrame(Seq((7L, 101L), (7L, 103L)))
      .toDF("member", "product")
    val recs = spark.createDataFrame(Seq(
      (7L, 101L, 1), (7L, 102L, 2), (7L, 103L, 3),
      (7L, 104L, 4), (7L, 105L, 5)
    )).toDF("member", "product", "pos")
    // identical frame plus junk rows outside [1, k] — rank past k,
    // rank 0 (its lcm div 0 term is NULL and would silently drop from
    // the AP sum while inflating the cumulative hit count), and a
    // negative rank — the metric must not move
    val junk = recs.union(spark.createDataFrame(Seq(
      (7L, 103L, 9), (7L, 999L, 12), (7L, 101L, 0), (7L, 103L, -2)))
      .toDF("member", "product", "pos"))
    val clean = api.Eval.mapRecallAtK(recs, truth, "member", "product",
      "pos", k = 5).head()
    val dirty = api.Eval.mapRecallAtK(junk, truth, "member", "product",
      "pos", k = 5).head()
    assert(clean.getAs[Long]("ap_fp") == dirty.getAs[Long]("ap_fp"))
    assert(clean.getAs[Double]("ap_at_k") == dirty.getAs[Double]("ap_at_k"))
    assert(clean.getAs[Long]("n_hits") == dirty.getAs[Long]("n_hits"))
  }

  test("api.Graph.pageRank unions edge endpoints into a caller node " +
    "frame so rank mass is conserved") {
    val edges = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 1L)
    )).toDF("s", "t")
    // nodes frame MISSING endpoint 3 (plus an isolated extra 9): the
    // old code dropped node 3's row — its inbound mass vanished and
    // totals stopped summing to SCALE
    val nodes = spark.createDataFrame(Seq(Tuple1(1L), Tuple1(2L),
      Tuple1(9L))).toDF("vertex")
    val got = api.Graph.pageRank(edges, "s", "t", nodes = Some(nodes),
        nodeCol = "vertex", iterations = 3)
      .collect().map(r => r.getAs[Long]("node") ->
        r.getAs[Long]("rank_fp")).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 9L))
    // mass conservation within integer-floor slack: 4 nodes × 3 iters
    // of div-by-n floors lose < a few hundred fp units out of 10^12
    val total = got.values.sum
    assert(math.abs(total - 1000000000000L) < 1000L,
      s"rank mass not conserved: $total")
  }

  test("api.Patterns.gapFill synthesizes missing spine rows and " +
    "forward-fills") {
    val df = spark.createDataFrame(Seq(
      ("sensorA", java.sql.Date.valueOf("2026-03-01"), 10.0),
      ("sensorA", java.sql.Date.valueOf("2026-03-04"), 40.0),
      ("sensorB", java.sql.Date.valueOf("2026-03-02"), 7.0)
    )).toDF("device", "reading_day", "celsius")
    val out = api.Patterns.gapFill(df, Seq("device"), "reading_day",
        "celsius").collect()
      .map(r => (r.getAs[String]("device"),
        r.getAs[java.sql.Date]("reading_day").toString) ->
        (r.getAs[Double]("celsius_filled"), r.getAs[Boolean]("is_filled")))
      .toMap
    // sensorA: 4-day dense spine, the 2 gap days forward-filled with 10
    assert(out.count(_._1._1 == "sensorA") == 4)
    assert(out(("sensorA", "2026-03-02")) == ((10.0, true)))
    assert(out(("sensorA", "2026-03-03")) == ((10.0, true)))
    assert(out(("sensorA", "2026-03-04")) == ((40.0, false)))
    // sensorB: single-point spine, nothing synthesized
    assert(out.count(_._1._1 == "sensorB") == 1)
    assert(out(("sensorB", "2026-03-02")) == ((7.0, false)))
  }

  test("api.Patterns.gapFill keeps observations that sit off the step grid") {
    // a 14:00 reading under a daily step starting 09:00: the grid
    // union must keep it as a real row, not replace it with a
    // forward-fill of the nearest grid point
    val df = spark.createDataFrame(Seq(
      ("s", java.sql.Timestamp.valueOf("2026-03-01 09:00:00"), 1.0),
      ("s", java.sql.Timestamp.valueOf("2026-03-03 14:00:00"), 9.0)
    )).toDF("dev", "at", "v")
    val out = api.Patterns.gapFill(df, Seq("dev"), "at", "v",
        step = "interval 1 day").collect()
      .map(r => r.getAs[java.sql.Timestamp]("at").toString ->
        (r.getAs[Double]("v_filled"), r.getAs[Boolean]("is_filled"))).toMap
    // grid rows 09:00 on the 1st/2nd/3rd (the 14:00 max extends the
    // spine through 03-03 09:00) plus the off-grid observation
    assert(out("2026-03-01 09:00:00.0") == ((1.0, false)))
    assert(out("2026-03-02 09:00:00.0") == ((1.0, true)))
    assert(out("2026-03-03 09:00:00.0") == ((1.0, true)))
    assert(out("2026-03-03 14:00:00.0") == ((9.0, false)),
      "off-grid observation was dropped or overwritten")
    assert(out.size == 4)
  }

  test("api.Patterns.intervalMerge coalesces overlapping spans into " +
    "maximal islands") {
    val df = spark.createDataFrame(Seq(
      ("m1", 0L, 10L), ("m1", 5L, 12L), ("m1", 12L, 15L), ("m1", 40L, 45L),
      ("m2", 3L, 4L)
    )).toDF("machine", "up_from", "up_to")
    val out = api.Patterns.intervalMerge(df, Seq("machine"),
        "up_from", "up_to").collect()
      .map(r => (r.getAs[String]("machine"), r.getAs[Long]("island")) ->
        (r.getAs[Long]("up_from"), r.getAs[Long]("up_to"))).toMap
    // [0,10]∪[5,12]∪[12,15] touch into one island; [40,45] stands alone
    assert(out == Map(("m1", 1L) -> ((0L, 15L)), ("m1", 2L) -> ((40L, 45L)),
      ("m2", 1L) -> ((3L, 4L))))
  }

  test("api.Patterns.scd2Join picks the point-in-time-correct dim version") {
    val fact = spark.createDataFrame(Seq(
      (1L, 100L, 5L), (2L, 100L, 25L), (3L, 200L, 8L)
    )).toDF("txn", "acct", "at")
    val dim = spark.createDataFrame(Seq(
      (100L, 0L, "bronze"), (100L, 20L, "gold"), (200L, 0L, "silver")
    )).toDF("acct_id", "since", "tier")
    val got = api.Patterns.scd2Join(fact, dim, "acct", "acct_id",
        "at", "since").collect()
      .map(r => r.getAs[Long]("txn") -> r.getAs[String]("tier")).toMap
    assert(got == Map(1L -> "bronze", 2L -> "gold", 3L -> "silver"))
  }

  test("api.Patterns sign runs and trough recoveries match a hand replay") {
    // series: 10 →12 →11 →9 →14 →14 →13: runs +1(len1), -1(len2),
    // +1(len1), 0(len1), -1(len1); one DOWN→UP trough at t3
    val df = spark.createDataFrame(Seq(
      ("s", 1L, 10L), ("s", 2L, 12L), ("s", 3L, 11L), ("s", 4L, 9L),
      ("s", 5L, 14L), ("s", 6L, 14L), ("s", 7L, 13L)
    )).toDF("series", "t", "v")
    val runs = api.Patterns.signRuns(df, Seq("series"), "t", "v")
      .orderBy("run_id").collect()
      .map(r => (r.getAs[Int]("sig"), r.getAs[Long]("start_t"),
        r.getAs[Long]("end_t"), r.getAs[Long]("move"), r.getAs[Long]("len")))
    assert(runs.toSeq == Seq((1, 1L, 2L, 2L, 1L), (-1, 2L, 4L, -3L, 2L),
      (1, 4L, 5L, 5L, 1L), (0, 5L, 6L, 0L, 1L), (-1, 6L, 7L, -1L, 1L)))
    val tr = api.Patterns.troughRecoveries(df, Seq("series"), "t", "v")
      .collect()
    assert(tr.length == 1)
    val m = tr(0)
    assert(m.getAs[Long]("peak") == 2L && m.getAs[Long]("bottom") == 4L)
    assert(m.getAs[Long]("recovered") == 5L)
    assert(m.getAs[Long]("depth") == 3L && m.getAs[Long]("recovery") == 5L)
    assert(m.getAs[Long]("down_len") == 2L && m.getAs[Long]("up_len") == 1L)
  }

  test("api.Patterns.matchRecognize compiles an arbitrary pattern onto " +
    "the run algebra") {
    // sensor schema (non-testdata): defines hot/cold, rows in 10..29
    // match NO define → null symbol → run breaker, never in a match
    val df = spark.createDataFrame(Seq(
      ("a", 1L, 35L), ("a", 2L, 33L), ("a", 3L, 5L), ("a", 4L, 7L),
      ("a", 5L, 31L), ("a", 6L, 20L), ("a", 7L, 36L), ("a", 8L, 6L),
      ("b", 1L, 35L), ("b", 2L, 5L)
    )).toDF("device", "ts", "temp")
    val defines = Seq("hot" -> (col("temp") >= 30),
      "cold" -> (col("temp") < 10))
    // 3-step pattern with a REPEATED symbol: positional suffixes
    val m3 = api.Patterns.matchRecognize(df, Seq("device"), "ts",
      defines, Seq("hot", "cold", "hot")).collect()
    assert(m3.length == 1)
    val r = m3(0)
    assert(r.getAs[String]("device") == "a")
    assert(r.getAs[Long]("hot1_start") == 1L &&
      r.getAs[Long]("hot1_end") == 2L && r.getAs[Long]("hot1_len") == 2L)
    assert(r.getAs[Long]("cold_start") == 3L &&
      r.getAs[Long]("cold_end") == 4L && r.getAs[Long]("cold_len") == 2L)
    assert(r.getAs[Long]("hot2_start") == 5L &&
      r.getAs[Long]("hot2_end") == 5L && r.getAs[Long]("hot2_len") == 1L)
    // 2-step pattern: the unmatched t6 row must break hot[t5]→cold[t8]
    // adjacency on device a; device b contributes its own match
    val m2 = api.Patterns.matchRecognize(df, Seq("device"), "ts",
      defines, Seq("hot", "cold"))
      .orderBy("device", "hot_start").collect()
      .map(x => (x.getAs[String]("device"), x.getAs[Long]("hot_start"),
        x.getAs[Long]("cold_end")))
    assert(m2.toSeq == Seq(("a", 1L, 4L), ("a", 7L, 8L), ("b", 1L, 2L)))
    // a positional suffix that collides with a literal define name
    // must fail loudly at call time, not emit duplicate columns
    intercept[IllegalArgumentException] {
      api.Patterns.matchRecognize(df, Seq("device"), "ts",
        Seq("hot" -> (col("temp") >= 30), "hot1" -> (col("temp") < 10)),
        Seq("hot", "hot", "hot1"))
    }
    // custom runAggs flow through per step
    val ra = api.Patterns.matchRecognize(df, Seq("device"), "ts",
      defines, Seq("hot", "cold"),
      runAggs = Seq("peak" -> max(col("temp")), "n" -> count(lit(1))))
      .orderBy("device", "match_id").collect()
      .map(x => (x.getAs[String]("device"), x.getAs[Long]("hot_peak"),
        x.getAs[Long]("cold_peak"), x.getAs[Long]("hot_n")))
    assert(ra.toSeq == Seq(("a", 35L, 7L, 2L), ("a", 36L, 6L, 1L),
      ("b", 35L, 5L, 1L)))
  }

  test("api.Patterns.matchRecognize extended grammar: alternation, " +
    "optional and bounded steps (round 12)") {
    // hot ≥30, warm 20..29 (first-match-wins puts ≥30 in hot), cold <10;
    // 10..19 matches nothing → run breaker
    val df = spark.createDataFrame(Seq(
      ("a", 1L, 35L), ("a", 2L, 34L), ("a", 3L, 33L), ("a", 4L, 5L),
      ("a", 5L, 25L), // hot×3, cold, warm
      ("b", 1L, 35L), ("b", 2L, 34L), ("b", 3L, 5L), ("b", 4L, 31L),
      ("c", 1L, 35L), ("c", 2L, 25L) // hot, warm — no cold between
    )).toDF("device", "ts", "temp")
    val defines = Seq("hot" -> (col("temp") >= 30),
      "warm" -> (col("temp") >= 20), "cold" -> (col("temp") < 10))
    // BOUNDED: hot{1,2} excludes a's 3-row hot run, keeps b's 2 and
    // the quantifier reads the MAXIMAL run length
    val bounded = api.Patterns.matchRecognize(df, Seq("device"), "ts",
      defines, Seq("hot{1,2}", "cold")).collect()
      .map(r => (r.getAs[String]("device"), r.getAs[Long]("hot_len")))
    assert(bounded.toSeq.sorted == Seq(("b", 2L)),
      s"bounded: ${bounded.toSeq}")
    // OPTIONAL: cold? present on a (len 1), absent on c (typed null);
    // b's window (hot cold hot) has no warm → neither variant
    val opt = api.Patterns.matchRecognize(df, Seq("device"), "ts",
      defines, Seq("hot", "cold?", "warm"))
      .orderBy("device").collect()
    assert(opt.length == 2)
    val oa = opt(0)
    assert(oa.getAs[String]("device") == "a" &&
      oa.getAs[Long]("cold_len") == 1L && oa.getAs[Long]("warm_start") == 5L)
    val oc = opt(1)
    assert(oc.getAs[String]("device") == "c" && oc.isNullAt(
      oc.fieldIndex("cold_len")) && oc.getAs[Long]("warm_start") == 2L)
    // ALTERNATION: hot|warm matches either branch; <label>_alt names it
    val alt = api.Patterns.matchRecognize(df, Seq("device"), "ts",
      defines, Seq("cold", "hot|warm"))
      .orderBy("device").collect()
      .map(r => (r.getAs[String]("device"),
        r.getAs[String]("hot_or_warm_alt"), r.getAs[Long]("hot_or_warm_len")))
    assert(alt.toSeq == Seq(("a", "warm", 1L), ("b", "hot", 1L)))
    // all-matches union semantics: with the first step optional, a Y
    // run preceded by X emits BOTH readings (X? present, and the bare
    // Y window) — distinct match windows, both real
    val both = api.Patterns.matchRecognize(df, Seq("device"), "ts",
      defines, Seq("hot{1,2}?", "cold")).collect()
    assert(both.count(_.getAs[String]("device") == "b") == 2 &&
      both.count(_.getAs[String]("device") == "a") == 1, // hot run too long
      s"union semantics: ${both.map(_.toSeq).toSeq}")
    // breakers: bounds out of order, all-optional pattern, undefined
    // alternation branch, runAgg named 'alt' vs an alternation step
    intercept[IllegalArgumentException] {
      api.Patterns.matchRecognize(df, Seq("device"), "ts", defines,
        Seq("hot{2,1}", "cold"))
    }
    intercept[IllegalArgumentException] {
      api.Patterns.matchRecognize(df, Seq("device"), "ts", defines,
        Seq("hot?", "cold?"))
    }
    intercept[IllegalArgumentException] {
      api.Patterns.matchRecognize(df, Seq("device"), "ts", defines,
        Seq("hot|tepid", "cold"))
    }
    intercept[IllegalArgumentException] {
      api.Patterns.matchRecognize(df, Seq("device"), "ts", defines,
        Seq("hot|warm", "cold"),
        runAggs = Seq("alt" -> count(lit(1))))
    }
  }

  test("api.Patterns.matchRecognize parity matrix: where the maximal-run " +
    "reading diverges from a naive row-regex (round 13)") {
    // The kernel's quantifiers/steps read MAXIMAL RUNS, not rows —
    // SQL:2016 engines that backtrack over rows can donate sub-runs.
    // Each row of this matrix is a breaker where the two readings
    // disagree, asserting graft's documented answer (the contract
    // stated in the [[PatStep]] scaladoc, here made executable).
    val defines = Seq("hot" -> (col("temp") >= 30L),
      "warm" -> (col("temp") >= 20L), "cold" -> (col("temp") < 10L))
    // BOUNDED: hot{1,2} against a 3-row maximal hot run. A row-regex
    // would donate the last 2 hot rows and match; the maximal-run
    // reading rejects — the leftover hot row would have to match the
    // NEXT step, which isn't hot.
    val dfB = spark.createDataFrame(Seq(
      ("a", 1L, 35L), ("a", 2L, 34L), ("a", 3L, 33L), ("a", 4L, 5L)
    )).toDF("device", "ts", "temp")
    assert(api.Patterns.matchRecognize(dfB, Seq("device"), "ts",
      defines, Seq("hot{1,2}", "cold")).count() == 0L,
      "bounded step donated a sub-run")
    // REPEATED SYMBOL: hot cold hot over a 2-row leading hot run — a
    // row-regex could emit the 1-row-suffix reading too; graft binds
    // the WHOLE maximal run to the step (hot1_len = 2) and emits one
    // match, not one per suffix.
    val dfR = spark.createDataFrame(Seq(
      ("a", 1L, 35L), ("a", 2L, 34L), ("a", 3L, 5L), ("a", 4L, 36L)
    )).toDF("device", "ts", "temp")
    val rep = api.Patterns.matchRecognize(dfR, Seq("device"), "ts",
      defines, Seq("hot", "cold", "hot")).collect()
    assert(rep.length == 1 && rep(0).getAs[Long]("hot1_len") == 2L,
      s"repeated symbol did not bind the maximal run: ${rep.toSeq}")
    // ALTERNATION: one (hot|warm) step spans ONE run — an adjacent
    // hot run + warm run is two separate matches, never one merged
    // (hot|warm)+ stretch the row-regex reading would allow.
    val dfA = spark.createDataFrame(Seq(
      ("a", 1L, 35L), ("a", 2L, 34L), ("a", 3L, 25L)
    )).toDF("device", "ts", "temp")
    val alt = api.Patterns.matchRecognize(dfA, Seq("device"), "ts",
      defines, Seq("hot|warm")).collect()
    assert(alt.length == 2, s"alternation merged adjacent runs: ${alt.toSeq}")
    // OPTIONAL: cold? is 0-or-1 RUN of any length — a 2-row cold run
    // between hot and warm still matches (a row-regex cold? = 0-or-1
    // ROW would reject).
    val dfO = spark.createDataFrame(Seq(
      ("a", 1L, 35L), ("a", 2L, 5L), ("a", 3L, 6L), ("a", 4L, 25L)
    )).toDF("device", "ts", "temp")
    val opt = api.Patterns.matchRecognize(dfO, Seq("device"), "ts",
      defines, Seq("hot", "cold?", "warm")).collect()
    assert(opt.length == 1 && opt(0).getAs[Long]("cold_len") == 2L,
      s"optional step rejected a multi-row run: ${opt.toSeq}")
  }

  test("api.Patterns.matchRecognize afterMatch=skip_past_last_row keeps " +
    "the greedy non-overlapping subset (round 13)") {
    val defines = Seq("hot" -> (col("temp") >= 30L),
      "warm" -> (col("temp") >= 20L), "cold" -> (col("temp") < 10L))
    // 7 alternating 1-row runs h c h c h c h: all-matches emits the
    // hot-cold-hot windows at runs 1/3/5; the greedy skip keeps run 1
    // (ends at run 3), drops the overlapping run-3 start, resumes at
    // run 5 (ends run 7) — kept starts {1, 5}.
    val chain = spark.createDataFrame(Seq(
      ("a", 1L, 35L), ("a", 2L, 5L), ("a", 3L, 34L), ("a", 4L, 6L),
      ("a", 5L, 33L), ("a", 6L, 7L), ("a", 7L, 32L)
    )).toDF("device", "ts", "temp")
    val all = api.Patterns.matchRecognize(chain, Seq("device"), "ts",
      defines, Seq("hot", "cold", "hot"))
      .collect().map(_.getAs[Long]("hot1_start")).sorted
    assert(all.toSeq == Seq(1L, 3L, 5L), s"all-matches: ${all.toSeq}")
    val kept = api.Patterns.matchRecognize(chain, Seq("device"), "ts",
      defines, Seq("hot", "cold", "hot"),
      afterMatch = "skip_past_last_row")
      .collect().map(_.getAs[Long]("hot1_start")).sorted
    assert(kept.toSeq == Seq(1L, 5L), s"greedy kept set: ${kept.toSeq}")
    // ambiguous same-start readings (optional symbol inside the next
    // step's alternation): the double emission spans 3 runs with
    // warm? present vs 2 without — skip keeps the LONGEST extent
    val amb = spark.createDataFrame(Seq(
      ("a", 1L, 35L), ("a", 2L, 25L), ("a", 3L, 5L)
    )).toDF("device", "ts", "temp")
    val dd = api.Patterns.matchRecognize(amb, Seq("device"), "ts",
      defines, Seq("hot", "warm?", "warm|cold"))
    assert(dd.count() == 2L, "double emission expected under all-matches")
    val ddSkip = api.Patterns.matchRecognize(amb, Seq("device"), "ts",
      defines, Seq("hot", "warm?", "warm|cold"),
      afterMatch = "skip_past_last_row").collect()
    assert(ddSkip.length == 1 &&
      ddSkip(0).getAs[String]("warm_or_cold_alt") == "cold" &&
      ddSkip(0).getAs[Long]("warm_len") == 1L,
      s"skip must keep the longest same-start reading: " +
        s"${ddSkip.map(_.toSeq).toSeq}")
    // unknown afterMatch fails loudly
    intercept[IllegalArgumentException] {
      api.Patterns.matchRecognize(amb, Seq("device"), "ts", defines,
        Seq("hot"), afterMatch = "skip_to_next_row")
    }
  }

  test("api.Ann.layeredTopK excludeSelf=false keeps coincidental " +
    "id-equal pairs") {
    val corpus = spark.range(0, 300)
      .select(col("id").as("cid"),
        expr("transform(sequence(0, 15), j -> sin(id * 0.7 + j * 1.3))")
          .as("cv"))
      .localCheckpoint()
    val queries = corpus.filter(col("cid") < 10)
      .select(col("cid").as("qid"), col("cv").as("qv"))
    val kept = api.Ann.layeredTopK(corpus, queries, "cid", "cv",
      "qid", "qv", k = 3, l1Mod = 10, l2Mod = 100,
      excludeSelf = false).collect()
    // queries ARE corpus members: with the filter off, a query whose
    // descent pool contains itself ranks itself first (cos = 1); the
    // descent is approximate so a miss is possible, but MOST queries
    // must self-match — and with the default excludeSelf=true, NONE may
    val top1 = kept.filter(_.getAs[Int]("rank") == 1)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(top1.length == 10 && top1.count { case (q, n) => q == n } >= 8,
      s"self pairs suppressed with excludeSelf=false: ${top1.toSeq}")
    val excluded = api.Ann.layeredTopK(corpus, queries, "cid", "cv",
      "qid", "qv", k = 3, l1Mod = 10, l2Mod = 100).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
    assert(excluded.forall { case (q, n) => q != n })
  }

  test("api.Search.bm25 ranks by exact 6dp fixed-point contributions") {
    val df = spark.createDataFrame(Seq(
      (1L, "spark shuffles data across the cluster"),
      (2L, "spark spark spark and more spark tuning notes"),
      (3L, "a very long document about gardening with many words " +
        "and not a single relevant term anywhere in this text at all"),
      (4L, "cluster tuning")
    )).toDF("doc", "body")
    val out = api.Search.bm25(df, "doc", "body", Seq("spark", "cluster"))
      .collect()
    // doc 3 matches nothing and must be absent
    assert(!out.map(_.getAs[Long]("doc")).contains(3L))
    // replay doc 4 driver-side: df(cluster)=2, N=4, dl=2, avgdl=... and
    // the score is the sum of 6dp-rounded per-term contributions
    val n = 4.0
    val sumDl = Seq(6, 8, 21, 2).sum.toDouble
    val avgdl = sumDl / n
    def idf6(dfreq: Double) =
      BigDecimal(math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def contrib6(tf: Double, dl: Double, dfreq: Double) =
      BigDecimal(idf6(dfreq) * (tf * 2.2) /
        (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val d4 = out.find(_.getAs[Long]("doc") == 4L).get
    assert(d4.getAs[Long]("n_hit") == 1)
    assert(d4.getAs[java.math.BigDecimal]("score6") ==
      contrib6(1.0, 2.0, 2.0).underlying.setScale(6))
    // doc 1 hits both terms (each with df=2: spark in 1,2; cluster in
    // 1,4); its score is the two-term sum
    val d1 = out.find(_.getAs[Long]("doc") == 1L).get
    assert(d1.getAs[Long]("n_hit") == 2)
    assert(d1.getAs[java.math.BigDecimal]("score6") ==
      (contrib6(1.0, 6.0, 2.0) + contrib6(1.0, 6.0, 2.0))
        .underlying.setScale(6))
    // ordering: best score first, ties by id
    val scores = out.map(_.getAs[java.math.BigDecimal]("score6").doubleValue)
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
  }

  test("api.Ann.layeredTopK matches brute force on a navigable corpus " +
    "at corpus-size-independent descent cost") {
    val corpus = spark.range(0, 1500)
      .select(col("id").as("cid"),
        expr("transform(sequence(0, 15), j -> sin(id * 0.7 + j * 1.3))")
          .as("cv"))
      .localCheckpoint()
    val queries = corpus.filter(col("cid") < 30)
      .select(col("cid").as("qid"), col("cv").as("qv"))
    val approx = api.Ann.layeredTopK(corpus, queries, "cid", "cv",
      "qid", "qv", k = 5, l1Mod = 10, l2Mod = 100).collect()
    val exact = api.Ann.bruteForceTopK(corpus, queries, "cid", "cv",
      "qid", "qv", k = 5).collect()
    // shape: exactly 5 contiguous ranks per query, cosine non-increasing
    approx.groupBy(_.getAs[Long]("query_id")).values.foreach { g =>
      assert(g.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5))
      val byRank = g.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Double]("cosine"))
      byRank.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
    }
    // quality: ≥90% of the exact top-5 pairs recovered, ≥90% exact
    // top-1 agreement (measured 100%/100% on this geometry — the pin
    // leaves headroom for float-kernel churn, not for regressions)
    val ap = approx.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ex = exact.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert((ap & ex).size >= (ex.size * 9) / 10,
      s"recall@5 ${(ap & ex).size}/${ex.size} below 90%")
    def top1(rows: Array[org.apache.spark.sql.Row]) = rows
      .filter(_.getAs[Int]("rank") == 1)
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")))
      .toSet
    assert((top1(approx) & top1(exact)).size >= 27,
      "exact-top-1 agreement below 90%")
    // self-pairs excluded (queries are corpus members here)
    assert(ap.forall { case (q, n) => q != n })
  }
  test("api.Graph.connectedComponents labels a user edge frame by min id") {
    // components: chain 1-2-3-4, triangle 10-11-12 (+ duplicate and
    // self edges that must be ignored), pair 20-21
    val edges = spark.createDataFrame(Seq(
      (2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (12L, 10L), (10L, 11L), (10L, 10L),
      (21L, 20L)
    )).toDF("from_id", "to_id")
    val got = api.Graph.connectedComponents(edges, "from_id", "to_id")
      .collect().map(r => r.getAs[Long]("node") ->
        r.getAs[Long]("component")).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("api.Graph.pageRank replays driver-side in exact fixed point") {
    // tiny directed graph with one dangling node (4): 1->2, 1->3,
    // 2->3, 3->1, plus isolated node 5 via the nodes frame
    val edges = spark.createDataFrame(Seq(
      (1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L)
    )).toDF("s", "t")
    val nodes = spark.createDataFrame(Seq(Tuple1(1L), Tuple1(2L),
      Tuple1(3L), Tuple1(4L), Tuple1(5L))).toDF("vertex")
    val got = api.Graph.pageRank(edges, "s", "t",
        nodes = Some(nodes), nodeCol = "vertex", iterations = 3,
        dampingPct = 85)
      .collect().map(r => r.getAs[Long]("node") ->
        r.getAs[Long]("rank_fp")).toMap
    // replay: the identical integer arithmetic in plain Scala
    val scale = 1000000000000L
    val out = Map(1L -> Seq(2L, 3L), 2L -> Seq(3L), 3L -> Seq(1L, 4L))
    var r = Seq(1L, 2L, 3L, 4L, 5L).map(_ -> scale / 5).toMap
    val n = 5L
    for (_ <- 1 to 3) {
      val inc = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, vs) <- out; v <- vs) inc(v) += r(u) / vs.length
      val dang = r.filter(p => !out.contains(p._1)).values.sum
      r = r.keys.map(k => k ->
        ((15L * (scale / n)) / 100 + (85L * (inc(k) + dang / n)) / 100)).toMap
    }
    assert(got == r, s"engine $got != replay $r")
  }
  test("api.Events.funnel keeps only strictly-ordered completions") {
    val t0 = java.sql.Timestamp.valueOf("2026-02-01 00:00:00")
    def at(m: Long) = new java.sql.Timestamp(t0.getTime + m * 60000)
    val df = spark.createDataFrame(Seq(
      ("a", at(0), "land"), ("a", at(5), "signup"), ("a", at(9), "pay"),
      ("b", at(0), "signup"), ("b", at(5), "land"), ("b", at(9), "pay"),
      ("c", at(0), "land"), ("c", at(3), "signup"),
      ("d", at(0), "land"), ("d", at(0), "signup"), ("d", at(2), "pay")
    )).toDF("acct", "when_ts", "what")
    val steps = Seq("land", "signup", "pay")
    val done = api.Events.funnel(df, "acct", "when_ts", "what", steps)
      .collect()
    // a completes; b is out of order; c never pays; d ties land/signup
    // (strict order rejects ties)
    assert(done.map(_.getAs[String]("acct")).toSeq == Seq("a"))
    assert(done.head.getAs[java.sql.Timestamp]("land_ts") == at(0))
    assert(done.head.getAs[java.sql.Timestamp]("pay_ts") == at(9))
    val counts = api.Events.funnelCounts(df, "acct", "when_ts", "what", steps)
      .collect().map(r => r.getAs[Int]("step_no") -> r.getAs[Long]("n_keys"))
      .toMap
    // step1: a,b,c,d all landed; step2 strictly ordered: a,c (b
    // reversed, d tied); step3: a
    assert(counts == Map(1 -> 4L, 2 -> 2L, 3 -> 1L))
  }

  test("api.Events.retention counts day-offset comebacks") {
    val df = spark.createDataFrame(Seq(
      ("u1", "2026-03-01 10:00:00"), ("u1", "2026-03-02 09:00:00"),
      ("u2", "2026-03-01 11:00:00"),
      ("u3", "2026-03-01 12:00:00"), ("u3", "2026-03-03 12:00:00"),
      ("u2", "2026-03-02 08:00:00"), ("u2", "2026-03-04 08:00:00")
    )).toDF("acct", "seen")
    val d1 = api.Events.retention(df, "acct", "seen", dayOffset = 1)
      .collect().map(r => r.getAs[String]("day") ->
        (r.getAs[Long]("active"), r.getAs[Long]("retained"))).toMap
    // Mar 1: u1,u2,u3 active; u1,u2 back Mar 2 -> (3,2)
    // Mar 2: u1,u2 active; nobody Mar 3 -> (2,0)
    assert(d1("2026-03-01") == ((3L, 2L)))
    assert(d1("2026-03-02") == ((2L, 0L)))
    val d2 = api.Events.retention(df, "acct", "seen", dayOffset = 2)
      .collect().map(r => r.getAs[String]("day") ->
        (r.getAs[Long]("active"), r.getAs[Long]("retained"))).toMap
    // Mar 1 + 2 days: u3 back Mar 3, u2 not (Mar 4) -> (3,1)
    assert(d2("2026-03-01") == ((3L, 1L)))
  }
  test("api.Dedup.duplicateClusters merges exact and near edges into one rollup") {
    // userDocs plants exact pair (101,104) and near pair (102,105);
    // 102 is also a near-dup of 101's text (+1 token) so the LSH
    // verify may or may not link them at 0.6 — assert structurally:
    // every cluster is a known duplicate class, keep = min member
    val rollup = api.Dedup.duplicateClusters(userDocs, "item_key", "body")
      .collect()
    assert(rollup.nonEmpty, "planted duplicates produced no cluster")
    rollup.foreach { r =>
      assert(r.getAs[Long]("n_docs") >= 2)
      assert(r.getAs[Long]("cluster") == r.getAs[Long]("keep"),
        "cluster label must be the min member (keep)")
      assert(r.getAs[Long]("keep") < r.getAs[Long]("drop_max"))
    }
    // the exact pair is definitely clustered, with 101 surviving
    val holding101 = rollup.find(_.getAs[Long]("keep") == 101L)
    assert(holding101.isDefined, "exact pair 101/104 not clustered")
    assert(holding101.get.getAs[Long]("drop_max") >= 104L)
    // docs 103/106 (below threshold) must not appear in any cluster
    assert(!rollup.exists(r => r.getAs[Long]("keep") == 103L ||
      r.getAs[Long]("drop_max") == 106L && r.getAs[Long]("keep") == 103L))
  }
}
