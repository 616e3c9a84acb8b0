package graft.ops

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Tables, api}
import graft.etl.{Ratings, Split}
import graft.functions.Hashing

/** The reference's recommendation surface, Spark-native.
  *
  * SQL-expressible pieces (popularity, co-occurrence, item-item cosine,
  * item-based CF scoring, split+RMSE evaluation) carry DuckDB oracles;
  * the ALS factorization itself (MLlib) is rows-only checked.
  *
  * Scale notes: co-occurrence is a self-join of distinct (order,item)
  * pairs on the order key — shuffle bounded by Σ lines², per order,
  * skew-safe for sane basket sizes; CF scoring joins user history
  * against the (small, top-capped) similarity table, which broadcast-
  * fits; ALS shuffles by user/item blocks (MLlib's own partitioner).
  */
object Recommend {

  // r01: the rating-matrix construction itself.
  def r01(s: SparkSession, d: String): DataFrame =
    Ratings.implicitRatings(s, d).orderBy("user_id", "item_id")

  val r01Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT * FROM ratings ORDER BY user_id, item_id""".stripMargin

  // r02: item popularity — the reference's non-personalized baseline.
  def r02(s: SparkSession, d: String): DataFrame =
    Ratings.implicitRatings(s, d)
      .groupBy("item_id")
      .agg(count(lit(1)).as("n_users"),
        round(sum(col("rating").cast("decimal(12,2)")), 2).cast("double").as("total_qty"))
      .orderBy(col("n_users").desc, col("item_id"))
      .limit(20)

  val r02Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT item_id, count(*) AS n_users,
       |  CAST(round(sum(CAST(rating AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_qty
       |FROM ratings GROUP BY 1
       |ORDER BY n_users DESC, item_id LIMIT 20""".stripMargin

  /** Ordered item pairs (i < j) per order basket — ONE shuffle
    * (groupBy orderkey with map-side collect_set) instead of a
    * distinct + self-join (3 shuffles). Baskets are small (≲10 items),
    * so the in-row pair explosion is O(basket²) locally and the plan
    * stays skew-safe at warehouse scale. */
  private def basketPairs(s: SparkSession, d: String): DataFrame =
    pairsOf(Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey")

  /** One-shuffle baskets: per basket key, the sorted distinct item
    * array — the shared first stage of both pair generators. */
  private def basketsOf(df: DataFrame, key: String, item: String): DataFrame =
    df.select(col(key), col(item))
      .groupBy(key)
      .agg(sort_array(collect_set(col(item))).as("items"))

  private def explodePairs(baskets: DataFrame, pairs: Column): DataFrame =
    baskets.select(explode(pairs).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))

  /** Ordered pairs (i < j) per basket — r03/r04; r12 reuses the same
    * plan on the train split. */
  private def pairsOf(df: DataFrame, key: String, item: String): DataFrame =
    explodePairs(basketsOf(df, key, item),
      flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + 2, size(col("items"))),
          y => struct(x.as("i"), y.as("j"))))))

  /** SYMMETRIC basket pairs (all ordered i ≠ j) in the SAME single
    * pass — r05/r12 used to union the i<j pairs with their swap,
    * which re-ran the whole basket aggregation a second time (the
    * r2→r3 bench doubling on r03/r04's shared scan). Emitting both
    * orientations from the in-row explode costs nothing extra. */
  private def pairsOfSym(df: DataFrame, key: String, item: String): DataFrame =
    explodePairs(basketsOf(df, key, item),
      flatten(transform(col("items"), x =>
        filter(transform(col("items"), y => struct(x.as("i"), y.as("j"))),
          p => p.getField("i") =!= p.getField("j")))))

  // r03: item-item co-occurrence counts (same order ⇒ co-occurrence).
  def r03(s: SparkSession, d: String): DataFrame =
    basketPairs(s, d)
      .groupBy("i", "j").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .orderBy(col("cnt").desc, col("i"), col("j"))
      .limit(200)

  val r03Sql: String =
    s"""WITH oi AS (${Ratings.sqlOrderItems})
       |SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |FROM oi a JOIN oi b
       |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY cnt DESC, i, j LIMIT 200""".stripMargin

  // r04: item-item cosine similarity over order-space incidence vectors:
  // sim(i,j) = co(i,j) / sqrt(n_orders(i) * n_orders(j)). Counts are
  // integers, sqrt/÷ are single IEEE ops → bit-identical to the oracle.
  def r04(s: SparkSession, d: String): DataFrame = {
    val oi = Ratings.orderItems(s, d)
    val freq = oi.groupBy(col("l_partkey").as("item")).agg(count(lit(1)).as("n_ord"))
    val co = basketPairs(s, d)
      .groupBy("i", "j").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    co.join(broadcast(freq).as("fi"), col("i") === col("fi.item"))
      .join(broadcast(freq).as("fj"), col("j") === col("fj.item"))
      .select(col("i"), col("j"), col("cnt"),
        round(col("cnt") / sqrt(col("fi.n_ord") * col("fj.n_ord")), 6).as("sim"))
      .orderBy(col("sim").desc, col("i"), col("j"))
      .limit(200)
  }

  val r04Sql: String =
    s"""WITH oi AS (${Ratings.sqlOrderItems}),
       |freq AS (SELECT l_partkey AS item, count(*) AS n_ord FROM oi GROUP BY 1),
       |co AS (
       |  SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |  FROM oi a JOIN oi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT i, j, cnt,
       |  round(cnt / sqrt(fi.n_ord * fj.n_ord), 6) AS sim
       |FROM co JOIN freq fi ON co.i = fi.item JOIN freq fj ON co.j = fj.item
       |ORDER BY sim DESC, i, j LIMIT 200""".stripMargin

  // r05: item-based CF top-5 per user (users < 50), integer scores
  // (sum of co-occurrence counts over the user's history), seen items
  // excluded — the reference's "personal recommendations" flow.
  //
  // The recs table is a SERVING ARTIFACT consumed by three gated
  // queries (r05 itself, r18's payload join, r19's health
  // diagnostics): memoized per (session, dataset) like [[alsModel]]
  // so consumers read ~100 cached rows instead of re-running the
  // co-occurrence build + scoring pipeline — at warehouse scale that
  // re-run is a full lineitem scan per consumer.
  private val r05Cache = Memo.artifact[DataFrame]("r05_recs")

  /** Unordered top-5 recs (user_id, rec_item, score, rank), cached and
    * materialized once per (session, dataset). Consumers apply their
    * own ordering — InMemoryRelation does not promise scan order. */
  private def r05Recs(s: SparkSession, d: String): DataFrame =
    r05Cache(s, d) {
      val hist = Ratings.implicitRatings(s, d)
        .filter(col("user_id") < 50).select("user_id", "item_id").distinct()
      // symmetric co-occurrence (i ≠ j, both directions) emitted in one
      // basket pass — no union re-running the aggregation
      val coSym = pairsOfSym(
        Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey")
        .groupBy("i", "j").agg(count(lit(1)).as("cnt"))
      val scored = hist.join(coSym, hist("item_id") === coSym("i"))
        .groupBy(col("user_id"), col("j").as("rec_item"))
        .agg(sum(col("cnt")).as("score"))
      val seen = hist.withColumnRenamed("item_id", "rec_item")
      val unseen = scored.join(seen, Seq("user_id", "rec_item"), "left_anti")
      val w = Window.partitionBy("user_id").orderBy(col("score").desc, col("rec_item"))
      // top-10 shared: ranks 1-5 serve r05/r18/r19/r22, the 6-10 tail
      // is r23's MMR candidate pool — one build, five consumers
      Pin.share(unseen.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10))
    }

  def r05(s: SparkSession, d: String): DataFrame =
    r05Recs(s, d).filter(col("rank") <= 5).orderBy("user_id", "rank")

  val r05Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |hist AS (SELECT DISTINCT user_id, item_id FROM ratings WHERE user_id < 50),
       |oi AS (${Ratings.sqlOrderItems}),
       |co AS (
       |  SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |  FROM oi a JOIN oi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item))
       |SELECT user_id, rec_item, score, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |                               ORDER BY score DESC, rec_item) AS rank
       |  FROM unseen)
       |WHERE rank <= 5 ORDER BY user_id, rank""".stripMargin

  // ---- ALS (MLlib) — rows-only checked, semantics tested in ScalaTest.

  /** One model per (sfDir) per JVM: Verify/Bench call several ALS-backed
    * queries; retraining for each would triple the cost. */
  private val modelCache = Memo.artifact[ALSModel]("als_model")

  /** Factor panels pre-cast to array<double> and pinned (round 14,
    * guide §1.2/§5): the fold-in keys each traversed the model's
    * ~14-stage cached-RDD lineage per consumer (YᵀY/XᵀX agg, panel
    * join, serve crossJoin — 3× per key), and the serve's per-pair
    * `transform(features, CAST double)` re-allocated the cast array
    * once per CANDIDATE instead of once per factor row. One shared
    * frame per side, memoized like the model; not cut, which would
    * compact it to one partition and run each fold-in in one task. */
  private val factorsCache = Memo.artifact[DataFrame]("als_factor_panel")

  private def factorPanel(s: SparkSession, d: String, side: String): DataFrame =
    factorsCache(s, d, side) {
      val base = if (side == "item") alsModel(s, d).itemFactors
                 else alsModel(s, d).userFactors
      base.select(col("id"),
          expr("transform(features, v -> CAST(v AS DOUBLE))").as("f"))
        .transform(Pin.share)
    }

  def alsModel(s: SparkSession, d: String): ALSModel =
    alsModelIters(s, d, 5)

  /** Same fit at a chosen iteration count (memoized per count). The
    * seed-pinned trajectory is deterministic, so the maxIter=6 model
    * reproduces iterations 1..5 of the default model EXACTLY and its
    * itemFactors are the one-more-half-step target r51's item fold-in
    * must land on. */
  private[ops] def alsModelIters(s: SparkSession, d: String,
      iters: Int): ALSModel =
    modelCache(s, d, s"it$iters") {
      val ratings = Ratings.implicitRatings(s, d)
        .select(col("user_id").cast("int"), col("item_id").cast("int"),
          col("rating").cast("float"))
      // seed, storage levels and the block count (from the rating
      // count, not the core count) come from the one ALS factory
      api.Recommend.als(ratings.count())
        .setUserCol("user_id").setItemCol("item_id").setRatingCol("rating")
        .setImplicitPrefs(true).setRank(8).setMaxIter(iters).setRegParam(0.1)
        .fit(ratings)
    }

  // r06: ALS top-5 per user with seen items excluded (recommend 20,
  // anti-join history, re-rank) — the reference's personal-recs flow.
  // The gated query emits the serving list's CONTRACT as in-query
  // booleans (the model's item ids aren't SQL-expressible, but the
  // invariants every serving list must satisfy are): full user
  // coverage at exactly 5 recs, scores non-increasing in rank, no
  // already-seen item served. The oracle reproduces n_users from the
  // ratings and expects every boolean true, so a coverage hole, a
  // mis-sorted list, or a seen-item leak hash-fails the round.

  /** The exact top-5-unseen-per-user list itself (RecommendSpec gates
    * it row-wise; r16 measures ANN overlap against it). Memoized like
    * [[evalRecs]] (round 14): recommendForAllUsers is MLlib's blocked
    * factor cross — ~3 s per evaluation at sf0.1 — and every r06 run
    * plus r16's overlap join re-ran it; one materialization per
    * (session, dataset), cleared at family boundaries with the rest. */
  private val alsTop5Cache = Memo.artifact[DataFrame]("als_top5")

  def alsTop5(s: SparkSession, d: String): DataFrame =
    alsTop5Cache(s, d) {
      val seen = Ratings.implicitRatings(s, d)
        .select(col("user_id").cast("int"), col("item_id").cast("int"))
      Pin.share(api.Recommend.serveTopK(alsModel(s, d), seen, k = 5, headroom = 15))
    }

  def r06(s: SparkSession, d: String): DataFrame = {
    val top5 = alsTop5(s, d)
    val seen = Ratings.implicitRatings(s, d).select("user_id", "item_id")
    val wu = Window.partitionBy("user_id").orderBy("rank")
    val viol = top5.withColumn("prev", lag(col("score"), 1).over(wu))
      .filter(col("prev").isNotNull && col("prev") < col("score"))
      .agg(count(lit(1)).as("n_viol"))
    val leak = top5.join(seen, Seq("user_id", "item_id"), "left_semi")
      .agg(count(lit(1)).as("n_leak"))
    val cover = top5.agg(countDistinct("user_id").as("n_rec_users"),
      count(lit(1)).as("n_recs"))
    Ratings.implicitRatings(s, d).agg(countDistinct("user_id").as("n_users"))
      .join(cover).join(viol).join(leak)
      .select(col("n_users"),
        (col("n_rec_users") === col("n_users") &&
          col("n_recs") === col("n_users") * 5).as("coverage_ok"),
        (col("n_viol") === 0).as("sorted_ok"),
        (col("n_leak") === 0).as("unseen_ok"))
  }

  val r06Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT count(DISTINCT user_id) AS n_users, true AS coverage_ok,
       |  true AS sorted_ok, true AS unseen_ok
       |FROM ratings""".stripMargin

  // r07: the factor matrices — the factorization itself as data. Fully
  // hash-gated: ALS emits exactly one rank-8 factor row per distinct
  // item in the ratings, and that contract IS the query output.
  def r07(s: SparkSession, d: String): DataFrame = {
    val model = alsModel(s, d)
    model.itemFactors
      .select(col("id").cast("long").as("item_id"), size(col("features")).as("rank"))
      .orderBy("item_id")
  }

  val r07Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT DISTINCT item_id, 8 AS rank FROM ratings ORDER BY item_id""".stripMargin

  // r11: "similar items" from the factor space — cosine between ALS
  // item factors (probe items × all items, probes broadcast, scored by
  // the native CosineSimilarity expression). The latent-factor
  // neighbor list is the reference's similar-movies feature. Gated via
  // the list's contract: 5 neighbors per probe, cosine within [-1, 1],
  // non-increasing in rank, probes = ratings items below 20.

  /** The neighbor list itself (RecommendSpec checks it row-wise). */
  def itemNeighbors(s: SparkSession, d: String): DataFrame = {
    val model = alsModel(s, d)
    val factors = model.itemFactors
      .select(col("id").cast("long").as("item_id"),
        col("features").cast("array<double>").as("f"))
    val probe = factors.filter(col("item_id") < 20)
      .select(col("item_id").as("probe_item"), col("f").as("fa"))
    val w = Window.partitionBy("probe_item").orderBy(col("cos").desc, col("item_id"))
    broadcast(probe).join(factors)
      .filter(col("probe_item") =!= col("item_id"))
      .withColumn("cos",
        round(graft.functions.VectorOps.cosineSim(col("fa"), col("f")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("probe_item", "rank", "item_id", "cos")
  }

  def r11(s: SparkSession, d: String): DataFrame = {
    val nb = itemNeighbors(s, d)
    val wp = Window.partitionBy("probe_item").orderBy("rank")
    val viol = nb.withColumn("prev", lag(col("cos"), 1).over(wp))
      .filter(col("prev").isNotNull && col("prev") < col("cos"))
      .agg(count(lit(1)).as("n_viol"))
    val range = nb.agg(max(abs(col("cos"))).as("max_abs"),
      countDistinct("probe_item").as("n_probes"), count(lit(1)).as("n_rows"))
    Ratings.implicitRatings(s, d).filter(col("item_id") < 20)
      .agg(countDistinct("item_id").as("n_probe_items"))
      .join(range).join(viol)
      .select(col("n_probe_items"),
        (col("n_probes") === col("n_probe_items") &&
          col("n_rows") === col("n_probe_items") * 5).as("coverage_ok"),
        (col("max_abs") <= 1.000001).as("cos_range_ok"),
        (col("n_viol") === 0).as("sorted_ok"))
  }

  val r11Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT count(DISTINCT item_id) AS n_probe_items, true AS coverage_ok,
       |  true AS cos_range_ok, true AS sorted_ok
       |FROM ratings WHERE item_id < 20""".stripMargin

  // r08: deterministic hash split + RMSE of the item-mean baseline —
  // the reference's evaluation loop, oracle-checkable because the
  // predictor is closed-form. (ALS RMSE itself is covered in ScalaTest.)
  def r08(s: SparkSession, d: String): DataFrame = {
    // cache the tagged matrix: train-count, item means, global mean and
    // the scoring pass all re-read it (uncached this re-runs the
    // orders⋈lineitem join four times)
    val ratings = Split.tagTest(Ratings.implicitRatings(s, d),
      Seq("user_id", "item_id")).cache()
    val train = ratings.filter(!col("is_test"))
    val test = ratings.filter(col("is_test"))
    val itemMean = train.groupBy("item_id")
      .agg((sum(col("rating").cast("decimal(12,2)")).cast("double") /
        count(lit(1))).as("item_mean"))
    val globalMean = train.agg(
      (sum(col("rating").cast("decimal(12,2)")).cast("double") /
        count(lit(1))).as("global_mean"))
    val pred = test.join(broadcast(itemMean), Seq("item_id"), "left")
      .join(broadcast(globalMean))
      .withColumn("p", coalesce(col("item_mean"), col("global_mean")))
    val nTrain = train.count() // also materializes the cache
    pred.agg(
      lit(nTrain).as("n_train"),
      count(lit(1)).as("n_test"),
      round(sqrt(avg(pow(col("rating") - col("p"), 2))), 6).as("rmse"))
    // cache stays for the session: a few MB, and the returned plan
    // still references it lazily
  }

  val r08Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |tagged AS (
       |  SELECT *, ${Split.sqlIsTest(Seq("user_id", "item_id"))} AS is_test
       |  FROM ratings),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |test AS (SELECT * FROM tagged WHERE is_test),
       |item_mean AS (
       |  SELECT item_id,
       |    CAST(sum(CAST(rating AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS item_mean
       |  FROM train GROUP BY 1),
       |global_mean AS (
       |  SELECT CAST(sum(CAST(rating AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS global_mean
       |  FROM train)
       |SELECT (SELECT count(*) FROM train) AS n_train,
       |  count(*) AS n_test,
       |  round(sqrt(avg(pow(t.rating - coalesce(im.item_mean, gm.global_mean), 2))), 6) AS rmse
       |FROM test t LEFT JOIN item_mean im ON t.item_id = im.item_id
       |CROSS JOIN global_mean gm""".stripMargin

  // r09: rating-value histogram — the first-look analysis every
  // recommender project runs on its ratings file.
  def r09(s: SparkSession, d: String): DataFrame =
    Ratings.implicitRatings(s, d)
      .groupBy(floor(col("rating") / 10).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("item_id")).as("n_items"))
      .orderBy("bucket")

  val r09Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT CAST(floor(rating / 10) AS BIGINT) AS bucket,
       |  count(*) AS n_pairs,
       |  count(DISTINCT user_id) AS n_users,
       |  count(DISTINCT item_id) AS n_items
       |FROM ratings GROUP BY 1 ORDER BY bucket""".stripMargin

  // r10: user activity segmentation (light/regular/power by distinct
  // items) — the reference's user-profile cut, integer-exact.
  def r10(s: SparkSession, d: String): DataFrame =
    Ratings.implicitRatings(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("n_items"))
      .withColumn("segment",
        when(col("n_items") < 20, "light")
          .when(col("n_items") < 45, "regular")
          .otherwise("power"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"), sum(col("n_items")).as("n_pairs"))
      .orderBy("segment")

  val r10Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |per_user AS (SELECT user_id, count(*) AS n_items FROM ratings GROUP BY 1)
       |SELECT CASE WHEN n_items < 20 THEN 'light'
       |            WHEN n_items < 45 THEN 'regular'
       |            ELSE 'power' END AS segment,
       |  count(*) AS n_users, CAST(sum(n_items) AS BIGINT) AS n_pairs
       |FROM per_user GROUP BY 1 ORDER BY segment""".stripMargin

  // r12: rank-based evaluation — precision@5 of item-based CF against
  // a held-out interaction set. Protocol: hash-split (user,item) pairs
  // (same split as r08), build co-occurrence from TRAIN interactions
  // only, recommend top-5 unseen-in-train items per user (<100),
  // count hits in the TEST set. Integer scores + single final
  // division → fully oracle-checkable, unlike typical ML eval loops.
  /** Split-tagged distinct (order, user, item) interactions, cached
    * per dataset and session-pinned: r12 and r17 run the identical
    * eval protocol over it (4+ branches each), and the driver runs
    * both in one session — one materialized cache instead of two. */
  private val oiCache = Memo.artifact[DataFrame]("tagged_interactions")

  private def taggedInteractions(s: SparkSession, d: String): DataFrame =
    oiCache(s, d) {
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      val oiRaw = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .select(col("l_orderkey").as("ok"), col("o_custkey").as("user_id"),
          col("l_partkey").as("item_id"))
        .distinct()
      Pin.share(Split.tagTest(oiRaw, Seq("user_id", "item_id")))
    }

  /** The r12-protocol top-5 recs (user_id, rec_item, rank) from the
    * TRAIN split for users < 100 — the artifact all three ranking
    * evals (r12 precision, r17 NDCG, r20 MAP/recall) score against
    * their own metric. Built with the 1-shuffle basket-pair plan
    * (pairsOfSym — not the 3-shuffle pairwise self-join whose
    * exchange fans out Σℓ² rows at scale) and memoized per (session,
    * dataset) like [[r05Recs]]: before the factor-out, each eval
    * query re-ran this identical subtree. */
  private val evalRecsCache = Memo.artifact[DataFrame]("eval_recs")

  /** The pre-rank candidate artifact behind [[evalRecs]]: every
    * scored, unseen-in-train (user, item, score) for the eval cohort.
    * Factored out (and memoized) because the @K evals consume its
    * top-5 while r37's AUC ranks the FULL candidate list — without
    * the shared cache AUC would re-run the whole co-occurrence
    * build. */
  private val evalScoresCache = Memo.artifact[DataFrame]("eval_scores")

  private def evalScores(s: SparkSession, d: String): DataFrame =
    evalScoresCache(s, d) {
      val train = taggedInteractions(s, d).filter(!col("is_test"))
      val co = pairsOfSym(train, "ok", "item_id")
        .groupBy("i", "j").agg(count(lit(1)).as("cnt"))
      val histTrain = train.filter(col("user_id") < 100)
        .select("user_id", "item_id").distinct()
      val scored = histTrain.join(co, histTrain("item_id") === co("i"))
        .groupBy(col("user_id"), col("j").as("rec_item"))
        .agg(sum(col("cnt")).as("score"))
      Pin.share(scored.join(
        histTrain.withColumnRenamed("item_id", "rec_item"),
        Seq("user_id", "rec_item"), "left_anti"))
    }

  private def evalRecs(s: SparkSession, d: String): DataFrame =
    evalRecsCache(s, d) {
      val w = Window.partitionBy("user_id").orderBy(col("score").desc, col("rec_item"))
      Pin.share(evalScores(s, d).withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("user_id", "rec_item", "rank"))
    }

  /** The @5 evals' inputs: the memoized recs as (user_id, item_id,
    * rank), and the same cohort's held-out TEST interactions. */
  private def evalRecsItems(s: SparkSession, d: String): DataFrame =
    evalRecs(s, d).withColumnRenamed("rec_item", "item_id")

  private def heldOut(s: SparkSession, d: String): DataFrame =
    taggedInteractions(s, d).filter(col("is_test") && col("user_id") < 100)
      .select("user_id", "item_id")

  def r12(s: SparkSession, d: String): DataFrame =
    api.Eval.precisionAtK(evalRecsItems(s, d), heldOut(s, d), "user_id", "item_id")
      .withColumnRenamed("precision_at_k", "precision_at_5")

  val r12Sql: String = {
    val split = Split.sqlIsTest(Seq("user_id", "item_id"))
    s"""WITH oi AS (
       |  SELECT DISTINCT l_orderkey AS ok, o_custkey AS user_id,
       |    l_partkey AS item_id
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |tagged AS (SELECT *, $split AS is_test FROM oi),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |co AS (
       |  SELECT a.item_id AS i, b.item_id AS j, count(*) AS cnt
       |  FROM train a JOIN train b
       |    ON a.ok = b.ok AND a.item_id <> b.item_id
       |  GROUP BY 1, 2),
       |hist_train AS (
       |  SELECT DISTINCT user_id, item_id FROM train WHERE user_id < 100),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist_train h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist_train h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |recs AS (
       |  SELECT user_id, rec_item FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 5),
       |hist_test AS (
       |  SELECT DISTINCT user_id, item_id FROM tagged
       |  WHERE is_test AND user_id < 100),
       |hits AS (
       |  SELECT r.* FROM recs r
       |  WHERE EXISTS (SELECT 1 FROM hist_test t
       |                WHERE t.user_id = r.user_id AND t.item_id = r.rec_item))
       |SELECT (SELECT count(DISTINCT user_id) FROM recs) AS n_users,
       |  (SELECT count(*) FROM recs) AS n_recs,
       |  (SELECT count(*) FROM hits) AS n_hits,
       |  CAST((SELECT count(*) FROM hits) AS DOUBLE) /
       |    (SELECT count(*) FROM recs) AS precision_at_5""".stripMargin
  }

  // r13: top-K USERS per item (recommendForAllItems) — the other half
  // of the reference's serving surface (r06 is items-per-user). Gated
  // the same way as r06: the list's contract as in-query booleans
  // against SQL-derivable counts (every trained item serves exactly 5
  // users, scores non-increasing, every served user exists in the
  // ratings).

  /** The per-item top-5-users list (RecommendSpec gates it row-wise). */
  def itemTopUsers(s: SparkSession, d: String): DataFrame =
    alsModel(s, d).recommendForAllItems(5)
      .select(col("item_id"), posexplode(col("recommendations")).as(Seq("pos", "rec")))
      .select(col("item_id"), (col("pos") + 1).cast("int").as("rank"),
        col("rec.user_id").as("user_id"), col("rec.rating").as("score"))

  def r13(s: SparkSession, d: String): DataFrame = {
    val recs = itemTopUsers(s, d)
    val wi = Window.partitionBy("item_id").orderBy("rank")
    val viol = recs.withColumn("prev", lag(col("score"), 1).over(wi))
      .filter(col("prev").isNotNull && col("prev") < col("score"))
      .agg(count(lit(1)).as("n_viol"))
    val users = Ratings.implicitRatings(s, d)
      .select(col("user_id").cast("int").as("user_id")).distinct()
    val badUser = recs.join(users, Seq("user_id"), "left_anti")
      .agg(count(lit(1)).as("n_bad_user"))
    val cover = recs.agg(countDistinct("item_id").as("n_rec_items"),
      count(lit(1)).as("n_rows"))
    Ratings.implicitRatings(s, d).agg(countDistinct("item_id").as("n_items"))
      .join(cover).join(viol).join(badUser)
      .select(col("n_items"),
        (col("n_rec_items") === col("n_items") &&
          col("n_rows") === col("n_items") * 5).as("coverage_ok"),
        (col("n_viol") === 0).as("sorted_ok"),
        (col("n_bad_user") === 0).as("users_valid_ok"))
  }

  val r13Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT count(DISTINCT item_id) AS n_items, true AS coverage_ok,
       |  true AS sorted_ok, true AS users_valid_ok
       |FROM ratings""".stripMargin

  // r14: the reference's core evaluation loop — EXPLICIT-feedback ALS
  // trained on a held-out split, scored by prediction RMSE. The
  // explicit ratings are synthesized with learnable user+item additive
  // structure (1..5 "stars"), so the factorization must actually fit
  // something: RecommendSpec asserts ALS RMSE beats the item-mean
  // baseline on the same split, and rmse_ok gates the range in-query.
  // Gated: n_train/n_test derive from the hash split in SQL (the
  // oracle reproduces coldStartStrategy=drop by counting only test
  // rows whose user AND item appear in train), rmse itself reduces to
  // an in-range boolean. The rmse VALUE feeds RecommendSpec's
  // beats-the-baseline assertion via r14Eval.
  /** r14's explicit-ALS fit is the single most expensive training
    * artifact in the engine (maxIter=10); Verify, Bench and
    * RecommendSpec each consume its 1-row eval frame, so the fit is
    * memoized per (session, dataset) like [[alsModel]] — retraining
    * per caller is pure waste (round-5 VERDICT "What's wrong" #4). */
  private val r14Cache = Memo.artifact[DataFrame]("r14_eval")

  /** The explicit 1..5-star ratings with learnable user+item additive
    * structure, hash-split into train/test (`is_test`): the one split
    * behind r14's fit, r21's four grid fits and r21's counts. Persisted
    * and counted once per (session, dataset), so every fit and count
    * reads the same materialized rows. */
  private val starSplitCache = Memo.artifact[DataFrame]("star_split")

  private def starSplit(s: SparkSession, d: String): DataFrame =
    starSplitCache(s, d) {
      val stars = Ratings.implicitRatings(s, d)
        .select(col("user_id").cast("int").as("user_id"),
          col("item_id").cast("int").as("item_id"))
        .withColumn("rating",
          (lit(1.0f) + (col("user_id") % 7 + col("item_id") % 7)
            .cast("float") * lit(4.0f / 12.0f)))
      Pin.share(Split.tagTest(stars, Seq("user_id", "item_id")))
    }

  /** An explicit-feedback ALS for the star split's `rows` train rows;
    * the caller sets rank, maxIter and regParam. Test pairs whose user
    * or item never trained are dropped from the prediction. */
  private def starAls(rows: Long): ALS =
    api.Recommend.als(rows)
      .setUserCol("user_id").setItemCol("item_id").setRatingCol("rating")
      .setImplicitPrefs(false).setColdStartStrategy("drop")

  def r14Eval(s: SparkSession, d: String): DataFrame =
    r14Cache(s, d) {
      val tagged = starSplit(s, d)
      val train = tagged.filter(!col("is_test"))
      val nTrain = train.count()
      val model = starAls(nTrain).setRank(8).setMaxIter(10).setRegParam(0.05)
        .fit(train)
      Pin.share(model.transform(tagged.filter(col("is_test"))).agg(
        lit(nTrain).as("n_train"),
        count(lit(1)).as("n_test"),
        round(sqrt(avg(pow(col("rating") - col("prediction"), 2))), 4).as("rmse"))
        .withColumn("rmse_ok", col("rmse") > 0.0 && col("rmse") < 0.6))
    }

  def r14(s: SparkSession, d: String): DataFrame =
    r14Eval(s, d).select("n_train", "n_test", "rmse_ok")

  val r14Sql: String = {
    val split = Split.sqlIsTest(Seq("user_id", "item_id"))
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |tagged AS (SELECT user_id, item_id, $split AS is_test FROM ratings),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |test AS (SELECT * FROM tagged WHERE is_test)
       |SELECT (SELECT count(*) FROM train) AS n_train,
       |  (SELECT count(*) FROM test t
       |   WHERE EXISTS (SELECT 1 FROM train u WHERE u.user_id = t.user_id)
       |     AND EXISTS (SELECT 1 FROM train i WHERE i.item_id = t.item_id))
       |    AS n_test,
       |  true AS rmse_ok""".stripMargin
  }

  // r22: COLD-START serving fallback — the r05 CF model is trained on
  // the user<50 history; the serving population here is user<60, so
  // users 50–59 are exactly what a new user looks like to a deployed
  // model (their history postdates training). Every served user gets
  // EXACTLY 5 recs: CF rows first, then popularity backfill — the
  // top-of-catalog items by audience size, minus the user's own seen
  // items and anything CF already served — ranked after the CF rows.
  // The popularity head is a bounded artifact built with the TopKAgg
  // heap (no unpartitioned global window) and broadcast: at 100 TB
  // the backfill join is 10s-of-users × a small head, not a users ×
  // catalog blowup. The head size is DATA-DERIVED so exactly-5 is a
  // guarantee, not a hope: a user can exclude at most |seen| + 5(CF)
  // candidates from the head, so a head of maxSeen + 10 always leaves
  // ≥ 5 survivors however the seen sets fall. Full 300-row output
  // hash-gated; the exactly-5 / fallback-is-top-popularity contracts
  // are additionally pinned in RecommendSpec.
  def r22(s: SparkSession, d: String): DataFrame = {
    // the ratings matrix has one row per DISTINCT (user, item), so
    // both the seen-set and the audience counts are derivable from
    // the memoized interaction artifact — r22 previously rebuilt the
    // orders⋈lineitem ratings join three times per invocation (seen,
    // popularity, and the headN scalar read)
    val ui = taggedInteractions(s, d).select("user_id", "item_id").distinct()
    val users = Tables.customer(s, d).filter(col("c_custkey") < 60)
      .select(col("c_custkey").as("user_id"))
    val cf = r05Recs(s, d).filter(col("rank") <= 5)
      .select(col("user_id"), col("rank"), col("rec_item"))
    val seen = ui.filter(col("user_id") < 60)
    val headN = seen.groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("m"))
      .collect()(0).getLong(0).toInt + 10
    // one row per (user, item) → count = audience size
    val pop = ui.groupBy("item_id").agg(count(lit(1)).as("cnt"))
      .agg(graft.functions.TopKAgg.topK(
        col("cnt").cast("double"), col("item_id"), headN).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("int").as("prank"), col("e.id").as("item_id"))
    val nCf = cf.groupBy("user_id").agg(count(lit(1)).as("n_cf"))
    val cand = users.crossJoin(broadcast(pop))
      .join(seen, Seq("user_id", "item_id"), "left_anti")
      .join(cf.select(col("user_id"), col("rec_item").as("item_id")),
        Seq("user_id", "item_id"), "left_anti")
    val wB = Window.partitionBy("user_id").orderBy("prank")
    val back = cand.withColumn("brank", row_number().over(wB))
      .join(nCf, Seq("user_id"), "left")
      .withColumn("rank", (coalesce(col("n_cf"), lit(0L)) + col("brank")).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("user_id"), col("rank"), col("item_id").as("rec_item"),
        lit("pop").as("src"))
    cf.select(col("user_id"), col("rank").cast("int").as("rank"), col("rec_item"),
        lit("cf").as("src"))
      .union(back)
      .orderBy("user_id", "rank")
  }

  val r22Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |cf AS (SELECT user_id, rec_item, rank FROM ($r05Sql)),
       |users AS (SELECT c_custkey AS user_id FROM customer WHERE c_custkey < 60),
       |seen AS (SELECT DISTINCT user_id, item_id FROM ratings WHERE user_id < 60),
       |head_n AS (
       |  SELECT coalesce(max(c), 0) + 10 AS n FROM (
       |    SELECT count(*) AS c FROM seen GROUP BY user_id)),
       |pop AS (SELECT item_id, prank FROM (
       |  SELECT item_id, row_number() OVER (ORDER BY count(*) DESC, item_id)
       |    AS prank
       |  FROM ratings GROUP BY item_id) WHERE prank <= (SELECT n FROM head_n)),
       |ncf AS (SELECT user_id, count(*) AS n_cf FROM cf GROUP BY 1),
       |cand AS (
       |  SELECT u.user_id, p.item_id, p.prank
       |  FROM users u CROSS JOIN pop p
       |  WHERE NOT EXISTS (SELECT 1 FROM seen sn
       |                    WHERE sn.user_id = u.user_id
       |                      AND sn.item_id = p.item_id)
       |    AND NOT EXISTS (SELECT 1 FROM cf
       |                    WHERE cf.user_id = u.user_id
       |                      AND cf.rec_item = p.item_id)),
       |back AS (
       |  SELECT c.user_id, c.item_id,
       |    row_number() OVER (PARTITION BY c.user_id ORDER BY c.prank) AS brank
       |  FROM cand c)
       |SELECT user_id, rank, rec_item, src FROM (
       |  SELECT user_id, CAST(rank AS INT) AS rank, rec_item, 'cf' AS src
       |  FROM cf
       |  UNION ALL
       |  SELECT b.user_id, CAST(coalesce(n.n_cf, 0) + b.brank AS INT) AS rank,
       |    b.item_id AS rec_item, 'pop' AS src
       |  FROM back b LEFT JOIN ncf n ON b.user_id = n.user_id
       |  WHERE coalesce(n.n_cf, 0) + b.brank <= 5)
       |ORDER BY user_id, rank""".stripMargin

  // r21: hyperparameter selection — the (rank × regParam) grid every
  // real ALS user runs before trusting r14's fixed config
  // (TrainValidationSplit's shape: ONE train/validation split, not
  // k-fold CV — at 100 TB nobody fits 5×grid models). The four fits
  // are independent Spark jobs launched concurrently from driver
  // threads (seeded, so concurrency cannot change results); the grid
  // RMSEs are memoized per (session, dataset) like the other training
  // artifacts. Gated via boolean contract: counts are data-derived
  // (the oracle reproduces the split), and the falsifiable booleans
  // are best_rmse_ok (the winner clears r14's quality bar) and
  // overreg_worse (the 10×-over-regularized configs must lose
  // STRICTLY — a broken grid search that returns garbage RMSEs or
  // picks configs arbitrarily trips it). The winner-beats-worst
  // margin is pinned in RecommendSpec.
  private val gridCache = Memo.artifact[Seq[(Int, Double, Double)]]("als_grid_eval")

  /** Validation RMSE per (rank, regParam) config on the r14 split. */
  private[graft] def alsGridEval(s: SparkSession, d: String): Seq[(Int, Double, Double)] =
    gridCache(s, d) {
      val tagged = starSplit(s, d)
      val train = tagged.filter(!col("is_test"))
      val test = tagged.filter(col("is_test"))
      val nTrain = train.count()
      val grid = Seq((4, 0.05), (8, 0.05), (4, 0.5), (8, 0.5))
      import scala.collection.parallel.CollectionConverters._
      grid.par.map { case (rank, reg) =>
        val model = starAls(nTrain).setRank(rank).setMaxIter(5).setRegParam(reg)
          .fit(train)
        val rmse = model.transform(test)
          .agg(sqrt(avg(pow(col("rating") - col("prediction"), 2))))
          .collect()(0).getDouble(0)
        (rank, reg, rmse)
      }.seq.toList
    }

  def r21(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fits = alsGridEval(s, d)
    val best = fits.map(_._3).min
    val overregBest = fits.filter(_._2 > 0.1).map(_._3).min
    val tagged = starSplit(s, d)
    val train = tagged.filter(!col("is_test"))
    val test = tagged.filter(col("is_test"))
    // n_test counted exactly as the oracle does (test rows whose user
    // AND item appear in train — what coldStartStrategy=drop keeps)
    val counts = train.agg(count(lit(1)).as("n_train")).join(
      test.join(train.select("user_id").distinct(), Seq("user_id"), "left_semi")
        .join(train.select("item_id").distinct(), Seq("item_id"), "left_semi")
        .agg(count(lit(1)).as("n_test")))
    counts.join(Seq((fits.size, best > 0.0 && best < 0.6, best < overregBest))
      .toDF("n_configs", "best_rmse_ok", "overreg_worse"))
  }

  val r21Sql: String = {
    val split = Split.sqlIsTest(Seq("user_id", "item_id"))
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |tagged AS (SELECT user_id, item_id, $split AS is_test FROM ratings),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |test AS (SELECT * FROM tagged WHERE is_test)
       |SELECT (SELECT count(*) FROM train) AS n_train,
       |  (SELECT count(*) FROM test t
       |   WHERE EXISTS (SELECT 1 FROM train u WHERE u.user_id = t.user_id)
       |     AND EXISTS (SELECT 1 FROM train i WHERE i.item_id = t.item_id))
       |    AS n_test,
       |  4 AS n_configs, true AS best_rmse_ok, true AS overreg_worse""".stripMargin
  }

  // r15: model persistence — any real serving flow round-trips the
  // factors through storage. Save → load → factor-exact equality,
  // gated: the oracle reproduces n_users/n_items from the ratings
  // (ALS emits one factor row per distinct id) and expects
  // roundtrip_ok = true, so a lossy save/load hash-fails the round.
  def r15(s: SparkSession, d: String): DataFrame = {
    val model = alsModel(s, d)
    val path = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_als_model").getAbsolutePath
    model.write.overwrite().save(path)
    val loaded = ALSModel.load(path)
    val factorMismatch = model.userFactors
      .join(loaded.userFactors.withColumnRenamed("features", "f2"), "id")
      .filter(col("features") =!= col("f2"))
      .union(model.itemFactors
        .join(loaded.itemFactors.withColumnRenamed("features", "f2"), "id")
        .filter(col("features") =!= col("f2")))
    loaded.userFactors.agg(count(lit(1)).as("n_users"))
      .join(loaded.itemFactors.agg(count(lit(1)).as("n_items")))
      .join(factorMismatch.agg(
        (count(lit(1)) === 0 && lit(loaded.rank == model.rank)).as("roundtrip_ok")))
      .select(col("n_users"), col("n_items"),
        lit(loaded.rank).as("rank"), col("roundtrip_ok"))
  }

  val r15Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT count(DISTINCT user_id) AS n_users,
       |  count(DISTINCT item_id) AS n_items,
       |  8 AS rank, true AS roundtrip_ok
       |FROM ratings""".stripMargin

  // r16: ANN-SERVED recommendations — the 100 TB serving path.
  // recommendForAllUsers is a blocked cross of the full factor
  // matrices: exact, but O(users × items) scores. At catalog scale
  // you serve from an ANN index over item factors instead. Top-dot
  // (MIPS) isn't metric, so first reduce MIPS→cosine by augmenting
  // each item vector with sqrt(max‖i‖² − ‖i‖²) (Bachrach et al. 2014,
  // the Xbox transform): all items land on a sphere where cosine
  // order ≡ dot order, and queries get a 0 in the new dimension.
  // Then the s05 IVF shape over the augmented vectors: trained coarse
  // centroids, items shuffle once on their home cell, each user
  // probes its 2 nearest cells — scoring ~2/8 of the catalog instead
  // of all of it. GATED in-query: the same index served at FULL probe
  // coverage (all 8 cells = every item scored exactly once) is the
  // exact result, and the 2-cell list must recover ≥ half of it —
  // recall becomes a driver-checked boolean, not just a ScalaTest
  // assertion. The exact side runs on a 1000-user PANEL: full-probe
  // scoring is the O(users × catalog) pass the index exists to avoid,
  // and recall on a fixed 1000-user panel estimates population recall
  // to ±~2% at 1/15 of the exact cost. Overlap vs MLlib's own
  // recommendForAllUsers stays pinned in RecommendSpec via annTop5.

  private val R16_PANEL = 1000L

  /** Trained coarse centroids per dataset (8 rows of 9 doubles) —
    * same per-JVM memoization discipline as [[modelCache]]. */
  private val centsCache = Memo.artifact[Array[(Long, Array[Double])]]("r16_cell_centroids")

  /** Super-cell centroids for the two-level probe routing (round 13 —
    * VERDICT r12 #5): ~√k rows, memoized like the cells themselves. */
  private val superCentsCache = Memo.artifact[Array[(Long, Array[Double])]]("r16_super_centroids")

  /** Build the ANN index once, serve top-5 at two probe depths:
    * 2-cell approximate for ALL users, all-cell exact for the panel. */
  private def annPair(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val dot = graft.functions.VectorOps.dotProduct _
    val sq = (c: Column) => dot(c, c)
    // factor frames via the shared pinned double panels (round 14):
    // the index build and the user side each re-traversed the model's
    // ~15-stage cached-RDD lineage per run otherwise
    val items = factorPanel(s, d, "item")
      .select(col("id").as("item_id"), col("f"))
      .withColumn("n2", sq(col("f")))
    val itemsAug = items
      .crossJoin(broadcast(items.agg(max(col("n2")).as("m2"))))
      .withColumn("fa", concat(col("f"),
        array(sqrt(greatest(col("m2") - col("n2"), lit(0.0))))))
      .select(col("item_id"), col("f"), col("fa"))
    // Coarse quantizer: spherical k-means over the AUGMENTED item
    // vectors (the at-scale answer — arbitrary item vectors as cells
    // give unbalanced lists on clustered factor spaces; measured here:
    // trained cells 2289–2768 items vs seeds' 843–4518). Centers are
    // memoized per dataset like the ALS model — the quantizer is a
    // training artifact, not per-query work.
    //
    // CELL COUNT SCALES WITH THE CATALOG (round-10, from the sf1
    // soak): a constant k=8 means a 2-cell probe scans catalog/4 per
    // user, so the all-users serve is users × catalog = O(SF²) — the
    // soak measured 3.8 s → 161 s warm (42×) on 10× data, entirely
    // this fan-out. k = max(8, items/2500) pins the CELL SIZE
    // (~2.5k items) instead, the FAISS nlist∝N practice: a 2-cell
    // probe is then a CONSTANT ~5k scored items per user and the
    // all-users serve grows linearly (re-measured 19.7 s warm at sf1,
    // 5.2× for 10× data). Both gate SFs (sf0.01: 2k items, sf0.1: 20k
    // items) land exactly at k=8, so every gated result is
    // bit-identical to the constant-k build; the recall/cost point at
    // larger SF is the s16 sweep's knob, and the exact panel below
    // probes ALL k cells, so the recall reference stays exact at any k.
    import s.implicits._
    val centRows = centsCache(s, d) {
      val nItems = itemsAug.count()
      // TRAINING SAMPLE BOUND (round-10, from the 20× soak): Lloyd
      // over the full catalog costs iters·N·k, and with k ∝ N that is
      // an N² term — r16 re-bent 4.0× per corpus DOUBLING at 20× SF
      // even after the cell-size fix. The FAISS practice is to train
      // the quantizer on a bounded sample (~hundreds of points per
      // centroid); a seeded hash-order sample of 64k items caps
      // training at iters·64k·k (linear in k) while the one-pass
      // assignment below stays the only N·k term. Every gate-SF
      // catalog (2k / 20k items) is under the cap, so the branch is
      // not taken there and gated centroids stay bit-identical —
      // sampling must stay CONDITIONAL because even a no-op
      // orderBy+limit reorders the FP partial sums inside Lloyd.
      val trainCap = 65536L
      val trainSet =
        if (nItems > trainCap)
          itemsAug.orderBy(xxhash64(col("item_id"), lit(13L)), col("item_id"))
            .limit(trainCap.toInt)
        else itemsAug
      // k clamps to the sample size: past nItems ≈ 164M, nItems/2500
      // would exceed trainCap and seeded k-means would reuse seed
      // points modulo the sample (duplicate centroids, empty cells).
      Similarity.ivfKMeansCentroids(
        trainSet.select(col("item_id").as("vec_id"), col("fa").as("v")),
        k = math.min(trainCap, math.max(8L, nItems / 2500L)).toInt, seed = 13)
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    }
    val nCells = centRows.length
    val cents = centRows.toSeq.toDF("cent_id", "cv")
      .select(col("cent_id"), col("cv"), sq(col("cv")).as("c2"))
    // argmin ‖x−c‖² ≡ argmin (‖c‖² − 2·x·c): one codegen'd dot per
    // (vector, centroid), no zip_with temp arrays. Items take their
    // cell via hash-agg argmin (min over a lexicographic struct —
    // map-side partial, no exchange+sort of the items × k fan-out).
    val d2 = col("c2") - lit(2.0) * dot(col("fa"), col("cv"))
    val indexed = itemsAug.join(broadcast(cents))
      .withColumn("d2", d2)
      .groupBy("item_id")
      .agg(min(struct(col("d2"), col("cent_id"), col("f"))).as("mn"))
      .select(col("item_id"), col("mn.cent_id").as("cell"), col("mn.f").as("fi"))
    val users = factorPanel(s, d, "user")
      .select(col("id").as("user_id"), col("f").as("fu"))
      .withColumn("fa", concat(col("fu"), array(lit(0.0))))
    val seen = Ratings.implicitRatings(s, d).select("user_id", "item_id")
    // The fan-out (users × probed-cell items) must never hit a sort
    // or an exchange: the item index broadcasts (a catalog of 8-dim
    // factors is a few MB per million items), and top-20-per-user
    // runs as a heap inside hash aggregation (TopKAgg) — O(log 20)
    // per candidate map-side, only 20/user crossing the shuffle.
    // The sort-based window formulation here measured 33–95s at
    // sf0.1; this shape ~5s. Then the r06 discipline: anti-join seen
    // on the survivors, re-rank to 5.
    def topOf(nProbe: Int, panelOnly: Boolean): DataFrame = {
      val pool0 =
        if (panelOnly) users.filter(col("user_id") < R16_PANEL)
        else users
      // users × cell distances for the flat paths, NOT yet ranked:
      // probe selection runs as a heap below (round-11, VERDICT r10
      // #3 / BASELINE §3d — the row_number window formulation sorted
      // the users×k fan-out, and with k ∝ catalog that is the serve
      // path's last O(SF²) term).
      def cellDists = pool0.join(broadcast(cents)).withColumn("d2", d2)
      // Probe selection WITHOUT the users×k window sort: the nearest
      // nProbe cells per user via the same TopKAgg heap the candidate
      // scoring uses — score −d2 under (score DESC, id ASC) is exactly
      // the window's (d2 ASC, cent_id ASC) total order, so the probed
      // set is bit-identical to the row_number formulation. O(log p)
      // per cell map-side, only users×p rows cross the exchange; fu
      // rides along as first() (constant within a user's group). The
      // all-cells reference panel skips selection entirely — probing
      // every cell needs no rank.
      //
      // TWO-LEVEL ROUTING past 64 cells (round 13 — VERDICT r12 #5 /
      // BASELINE §5: with k ∝ catalog, even the heap selection scores
      // users × k cell distances — the serving family's last
      // super-linear residual, 2.06×/doubling at 40×). The cells are
      // clustered once into ~√k SUPER-cells (memoized, seeded k-means
      // over the k cell centroids — metadata-scale training); a user
      // scores √k supers, keeps the 2 nearest, then scores only the
      // cells homed in those supers (~2√k on balanced cells) — users ×
      // 3√k distances total, linear per doubling. The branch is
      // CONDITIONAL exactly like the trainCap sample: both gate SFs
      // land at k = 8 ≤ 64, so every gated result is bit-identical to
      // the flat selection, and the exact panel (nProbe = k) never
      // routes at all — the recall reference stays exact at any k.
      val probeSel =
        if (nProbe >= nCells)
          cellDists.select(col("user_id"), col("cent_id").as("cell"), col("fu"))
        else if (nCells <= 64)
          cellDists.groupBy("user_id")
            .agg(graft.functions.TopKAgg.topK(-col("d2"), col("cent_id"),
              nProbe).as("tk"), first(col("fu")).as("fu"))
            .select(col("user_id"), explode(col("tk")).as("t"), col("fu"))
            .select(col("user_id"), col("t.id").as("cell"), col("fu"))
        else {
          val nSuper = math.max(2, math.ceil(math.sqrt(nCells.toDouble)).toInt)
          val superRows = superCentsCache(s, d) {
            Similarity.ivfKMeansCentroids(
              cents.select(col("cent_id").as("vec_id"), col("cv").as("v")),
              k = nSuper, seed = 17)
              .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
          }
          val supers = superRows.toSeq.toDF("sup_id", "sv")
            .select(col("sup_id"), col("sv"), sq(col("sv")).as("s2"))
          // each cell homes to its nearest super (k rows, broadcast)
          val cellSup = cents
            .join(broadcast(supers))
            .withColumn("ds", col("s2") - lit(2.0) * dot(col("cv"), col("sv")))
            .groupBy("cent_id")
            .agg(min(struct(col("ds"), col("sup_id"))).as("mn"))
            .select(col("cent_id"), col("mn.sup_id").as("sup_id"))
          val cellsWithSup = cents.join(broadcast(cellSup), Seq("cent_id"))
          // only supers that own ≥1 cell are routable — an empty
          // k-means cluster must not strand a user with no candidates
          val liveSupers = supers
            .join(broadcast(cellSup.select("sup_id").distinct()), Seq("sup_id"))
          val topSup = pool0.join(broadcast(liveSupers))
            .withColumn("ds", col("s2") - lit(2.0) * dot(col("fa"), col("sv")))
            .groupBy("user_id")
            .agg(graft.functions.TopKAgg.topK(-col("ds"), col("sup_id"), 2)
              .as("ts"), first(col("fa")).as("fa"), first(col("fu")).as("fu"))
            .select(col("user_id"), explode(col("ts")).as("t"),
              col("fa"), col("fu"))
            .select(col("user_id"), col("t.id").as("sup_id"),
              col("fa"), col("fu"))
          topSup.join(broadcast(cellsWithSup), Seq("sup_id"))
            .withColumn("d2c",
              col("c2") - lit(2.0) * dot(col("fa"), col("cv")))
            .groupBy("user_id")
            .agg(graft.functions.TopKAgg.topK(-col("d2c"), col("cent_id"),
              nProbe).as("tk"), first(col("fu")).as("fu"))
            .select(col("user_id"), explode(col("tk")).as("t"), col("fu"))
            .select(col("user_id"), col("t.id").as("cell"), col("fu"))
        }
      // ROUND-ROBIN repartition with an explicit count: the probe
      // shuffle is ~1 MB, which AQE's map-size-based coalescing
      // collapses to 1-2 partitions — serializing the 75M-row scoring
      // join that amplifies it (coalescing can't see a join's fan-out
      // multiplier; measured 12s -> 3s at sf0.1). REPARTITION_BY_NUM
      // is never coalesced, and round-robin never matches the
      // downstream hash requirement, so the optimizer can't elide it
      // the way it elides a same-key repartition over the window's
      // exchange. Cost: one extra shuffle of the small probe side.
      val probes = probeSel.repartition(s.sparkContext.defaultParallelism)
      val top20 = probes.join(broadcast(indexed), Seq("cell"))
        .withColumn("score", dot(col("fu"), col("fi")))
        .groupBy("user_id")
        .agg(graft.functions.TopKAgg.topK(col("score"), col("item_id"), 20).as("tk"))
        .select(col("user_id"), explode(col("tk")).as("t"))
        .select(col("user_id"), col("t.id").as("item_id"), col("t.score").as("score"))
      val wRank = Window.partitionBy("user_id").orderBy(col("score").desc, col("item_id"))
      top20.join(seen, Seq("user_id", "item_id"), "left_anti")
        .withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 5)
        .select("user_id", "rank", "item_id")
    }
    // serve probes 2 cells (constant per-user cost under the pinned
    // cell size); the panel reference probes ALL cells — exact at any k
    (topOf(2, panelOnly = false), topOf(nCells, panelOnly = true))
  }

  /** The 2-cell ANN-served top-5 list (RecommendSpec measures its
    * overlap against MLlib's exact alsTop5). */
  def annTop5(s: SparkSession, d: String): DataFrame = annPair(s, d)._1

  def r16(s: SparkSession, d: String): DataFrame = {
    val (ann, exactPanel) = annPair(s, d)
    val hits = ann.filter(col("user_id") < R16_PANEL)
      .join(exactPanel.select("user_id", "item_id"),
        Seq("user_id", "item_id"), "left_semi").agg(count(lit(1)).as("n_hits"))
    val cover = ann.agg(countDistinct("user_id").as("n_ann_users"),
      count(lit(1)).as("n_ann_rows"))
    val ratings = Ratings.implicitRatings(s, d)
    ratings.agg(countDistinct("user_id").as("n_users"))
      .join(ratings.filter(col("user_id") < R16_PANEL)
        .agg(countDistinct("user_id").as("n_panel")))
      .join(cover).join(hits)
      .select(col("n_users"), col("n_panel"),
        (col("n_ann_users") === col("n_users") &&
          col("n_ann_rows") === col("n_users") * 5).as("coverage_ok"),
        (col("n_hits") * 2 >= col("n_panel") * 5).as("overlap_ok"))
  }

  val r16Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT count(DISTINCT user_id) AS n_users,
       |  count(DISTINCT CASE WHEN user_id < $R16_PANEL THEN user_id END)
       |    AS n_panel,
       |  true AS coverage_ok, true AS overlap_ok
       |FROM ratings""".stripMargin

  // r17: NDCG@5 — graded ranking evaluation next to r12's binary
  // precision (the reference's eval surface is MLlib RankingMetrics;
  // NDCG is its headline metric). Protocol identical to r12: hash
  // split, co-occurrence from TRAIN only, top-5 per user (<100),
  // relevance = held-out TEST interactions.
  //
  // Gains are FIXED-POINT integers (1/log2(rank+1) × 10^10): per-user
  // DCG is then an exact integer sum — immune both to float reduction
  // order AND to libm differences (java.lang.StrictMath.log vs
  // DuckDB's std::log disagree in the last ulp for log2(3)). IDCG at
  // n_rel is the matching cumulative gain; ndcg = one exact-integer
  // division, rounded. The Spark side is api.Eval.ndcgAtK, whose
  // driver-computed gain table equals these literals; the oracle keeps
  // its own literal copy so it stays independent of the code it checks.
  private val NDCG_GAIN = Seq(10000000000L, 6309297536L, 5000000000L,
    4306765581L, 3868528072L)
  private val NDCG_CUM = NDCG_GAIN.scanLeft(0L)(_ + _).tail

  def r17(s: SparkSession, d: String): DataFrame =
    api.Eval.ndcgAtK(evalRecsItems(s, d), heldOut(s, d), "user_id", "item_id")
      .withColumnRenamed("ndcg_at_k", "ndcg_at_5")

  val r17Sql: String = {
    val gainCase = "CASE rank " + NDCG_GAIN.zipWithIndex
      .map { case (g, i) => s"WHEN ${i + 1} THEN $g" }.mkString(" ") + " ELSE 0 END"
    val idcgCase = "CASE least(n_rel, 5) " + NDCG_CUM.zipWithIndex
      .map { case (c, i) => s"WHEN ${i + 1} THEN $c" }.mkString(" ") + " END"
    val split = Split.sqlIsTest(Seq("user_id", "item_id"))
    s"""WITH oi AS (
       |  SELECT DISTINCT l_orderkey AS ok, o_custkey AS user_id,
       |    l_partkey AS item_id
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |tagged AS (SELECT *, $split AS is_test FROM oi),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |co AS (
       |  SELECT a.item_id AS i, b.item_id AS j, count(*) AS cnt
       |  FROM train a JOIN train b
       |    ON a.ok = b.ok AND a.item_id <> b.item_id
       |  GROUP BY 1, 2),
       |hist_train AS (
       |  SELECT DISTINCT user_id, item_id FROM train WHERE user_id < 100),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist_train h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist_train h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |recs AS (
       |  SELECT user_id, rec_item, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 5),
       |rel AS (
       |  SELECT DISTINCT user_id, item_id FROM tagged
       |  WHERE is_test AND user_id < 100),
       |dcg AS (
       |  SELECT r.user_id, CAST(sum($gainCase) AS BIGINT) AS dcg_fp
       |  FROM recs r
       |  WHERE EXISTS (SELECT 1 FROM rel
       |                WHERE rel.user_id = r.user_id AND rel.item_id = r.rec_item)
       |  GROUP BY 1)
       |SELECT n.user_id, n.n_rel,
       |  coalesce(d.dcg_fp, 0) AS dcg_fp,
       |  round(CAST(coalesce(d.dcg_fp, 0) AS DOUBLE) / ($idcgCase), 6) AS ndcg_at_5
       |FROM (SELECT user_id, count(*) AS n_rel FROM rel GROUP BY 1) n
       |LEFT JOIN dcg d ON n.user_id = d.user_id
       |ORDER BY n.user_id""".stripMargin
  }

  // r20: MAP@5 + recall@5 — the remaining two RankingMetrics headline
  // numbers next to r12's precision and r17's NDCG, same protocol
  // (train-split recs scored against the held-out test set), through
  // api.Eval.mapRecallAtK. r17's fixed-point discipline: the AP
  // numerator is scaled by 60 (lcm 1..5), so every precision@k term
  // 60·cum_hits/k is an EXACT integer — per-user AP is an integer sum
  // immune to float reduction order, with one exact division per
  // metric at the end. Per-user rows (like r17), so the gate checks
  // every user's metric, not one blended mean.
  def r20(s: SparkSession, d: String): DataFrame =
    api.Eval.mapRecallAtK(evalRecsItems(s, d), heldOut(s, d), "user_id", "item_id")
      .withColumnsRenamed(Map("ap_at_k" -> "ap_at_5", "recall_at_k" -> "recall_at_5"))

  val r20Sql: String = {
    val split = Split.sqlIsTest(Seq("user_id", "item_id"))
    s"""WITH oi AS (
       |  SELECT DISTINCT l_orderkey AS ok, o_custkey AS user_id,
       |    l_partkey AS item_id
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |tagged AS (SELECT *, $split AS is_test FROM oi),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |co AS (
       |  SELECT a.item_id AS i, b.item_id AS j, count(*) AS cnt
       |  FROM train a JOIN train b
       |    ON a.ok = b.ok AND a.item_id <> b.item_id
       |  GROUP BY 1, 2),
       |hist_train AS (
       |  SELECT DISTINCT user_id, item_id FROM train WHERE user_id < 100),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist_train h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist_train h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |recs AS (
       |  SELECT user_id, rec_item, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 5),
       |rel AS (
       |  SELECT DISTINCT user_id, item_id FROM tagged
       |  WHERE is_test AND user_id < 100),
       |flagged AS (
       |  SELECT r.user_id, r.rank,
       |    CASE WHEN EXISTS (SELECT 1 FROM rel
       |                      WHERE rel.user_id = r.user_id
       |                        AND rel.item_id = r.rec_item)
       |      THEN 1 ELSE 0 END AS hit
       |  FROM recs r),
       |cum AS (
       |  SELECT user_id, rank, hit,
       |    sum(hit) OVER (PARTITION BY user_id ORDER BY rank) AS cum_hits
       |  FROM flagged),
       |ap AS (
       |  SELECT user_id,
       |    CAST(sum(CAST(60 * cum_hits / rank AS BIGINT)) AS BIGINT) AS ap_fp,
       |    CAST(count(*) AS BIGINT) AS n_hits
       |  FROM cum WHERE hit = 1 GROUP BY 1)
       |SELECT n.user_id, n.n_rel,
       |  coalesce(a.n_hits, 0) AS n_hits,
       |  coalesce(a.ap_fp, 0) AS ap_fp,
       |  round(CAST(coalesce(a.ap_fp, 0) AS DOUBLE) /
       |    (60 * least(n.n_rel, 5)), 6) AS ap_at_5,
       |  round(CAST(coalesce(a.n_hits, 0) AS DOUBLE) / n.n_rel, 6)
       |    AS recall_at_5
       |FROM (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rel
       |      FROM rel GROUP BY 1) n
       |LEFT JOIN ap a ON n.user_id = a.user_id
       |ORDER BY n.user_id""".stripMargin
  }

  // r37: AUC — the THRESHOLD-FREE ranking metric next to the @K
  // family (r12 precision, r17 NDCG, r20 MAP/recall): the probability
  // that a random held-out positive outranks a random unlabeled
  // candidate. Candidate-limited AUC over the shared evalScores
  // artifact (the full scored-unseen list, not just the top-5), via
  // the Mann-Whitney rank-sum identity: U = Σ_pos avgrank − P(P+1)/2,
  // AUC = U/(P·N). Ties are handled EXACTLY with average ranks kept
  // in integers by doubling: r2 = 2·rank() + ties − 1 is twice the
  // average rank, so u2 = Σ_pos r2 − P(P+1) = 2U is an exact integer
  // under any reduction order, and auc_ppm = 10⁶·u2 div (2·P·N) is a
  // pure-integer quotient — the r33 "integer parts-per-million"
  // discipline, no float in the gate. Per-user rows: the gate pins
  // every user's rank-sum, not one blended mean.
  // Scale: ONE window shuffle keyed by user over the (already
  // memoized) candidate artifact + one keyed agg — AUC costs no more
  // than the @5 evals; n_pos/n_neg are data-derived, never constants.
  def r37(s: SparkSession, d: String): DataFrame = {
    val rel = heldOut(s, d).distinct()
      .select(col("user_id"), col("item_id").as("rec_item"))
      .withColumn("pos", lit(1L))
    val labeled = evalScores(s, d).join(rel, Seq("user_id", "rec_item"), "left")
      .withColumn("pos", coalesce(col("pos"), lit(0L)))
    val wR = Window.partitionBy("user_id").orderBy(col("score"))
    val wT = Window.partitionBy("user_id", "score")
    val per = labeled
      .withColumn("rk", rank().over(wR).cast("long"))
      .withColumn("ties", count(lit(1)).over(wT))
      .groupBy("user_id")
      .agg(sum(col("pos")).as("n_pos"),
        (count(lit(1)) - sum(col("pos"))).as("n_neg"),
        sum(when(col("pos") === 1, lit(2L) * col("rk") + col("ties") - 1L)
          .otherwise(lit(0L))).as("possum2"))
    per.filter(col("n_pos") > 0 && col("n_neg") > 0)
      .select(col("user_id"), col("n_pos"), col("n_neg"),
        (col("possum2") - col("n_pos") * (col("n_pos") + 1)).as("u2"),
        expr("(1000000 * (possum2 - n_pos * (n_pos + 1))) div (2 * n_pos * n_neg)")
          .as("auc_ppm"))
      .orderBy("user_id")
  }

  val r37Sql: String = {
    val split = Split.sqlIsTest(Seq("user_id", "item_id"))
    s"""WITH oi AS (
       |  SELECT DISTINCT l_orderkey AS ok, o_custkey AS user_id,
       |    l_partkey AS item_id
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |tagged AS (SELECT *, $split AS is_test FROM oi),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |co AS (
       |  SELECT a.item_id AS i, b.item_id AS j, count(*) AS cnt
       |  FROM train a JOIN train b
       |    ON a.ok = b.ok AND a.item_id <> b.item_id
       |  GROUP BY 1, 2),
       |hist_train AS (
       |  SELECT DISTINCT user_id, item_id FROM train WHERE user_id < 100),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist_train h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist_train h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |rel AS (
       |  SELECT DISTINCT user_id, item_id FROM tagged
       |  WHERE is_test AND user_id < 100),
       |labeled AS (
       |  SELECT u.user_id, u.score,
       |    CASE WHEN EXISTS (SELECT 1 FROM rel
       |                      WHERE rel.user_id = u.user_id
       |                        AND rel.item_id = u.rec_item)
       |      THEN 1 ELSE 0 END AS pos
       |  FROM unseen u),
       |ranked AS (
       |  SELECT user_id, pos,
       |    rank() OVER (PARTITION BY user_id ORDER BY score) AS rk,
       |    count(*) OVER (PARTITION BY user_id, score) AS ties
       |  FROM labeled),
       |per AS (
       |  SELECT user_id, CAST(sum(pos) AS BIGINT) AS n_pos,
       |    CAST(count(*) - sum(pos) AS BIGINT) AS n_neg,
       |    CAST(sum(CASE WHEN pos = 1 THEN 2 * rk + ties - 1 ELSE 0 END)
       |      AS BIGINT) AS possum2
       |  FROM ranked GROUP BY 1)
       |SELECT user_id, n_pos, n_neg,
       |  possum2 - n_pos * (n_pos + 1) AS u2,
       |  (1000000 * (possum2 - n_pos * (n_pos + 1))) // (2 * n_pos * n_neg)
       |    AS auc_ppm
       |FROM per WHERE n_pos > 0 AND n_neg > 0 ORDER BY user_id""".stripMargin
  }

  // r18: the SERVING PAYLOAD — recommendations joined with the item
  // metadata table (SURVEY §1 item 1: the reference ingests a movie
  // metadata table next to ratings; `part` plays that role here). A
  // real recommendation response carries names/brands/prices, not
  // item ids; the join is the classic broadcast-dim enrichment (the
  // catalog dim broadcasts at any scale where it fits an executor).
  def r18(s: SparkSession, d: String): DataFrame = {
    val meta = Tables.part(s, d)
      .select(col("p_partkey").as("rec_item"), col("p_name"),
        col("p_brand"), col("p_retailprice"))
    r05Recs(s, d).filter(col("rank") <= 5)
      .join(broadcast(meta), Seq("rec_item"))
      .select(col("user_id"), col("rank"), col("rec_item"), col("p_name"),
        col("p_brand"),
        round(col("p_retailprice").cast("double"), 2).as("price"))
      .orderBy("user_id", "rank")
  }

  val r18Sql: String =
    s"""WITH recs AS ($r05Sql)
       |SELECT user_id, rank, rec_item, p_name, p_brand,
       |  round(CAST(p_retailprice AS DOUBLE), 2) AS price
       |FROM recs JOIN part ON recs.rec_item = part.p_partkey
       |ORDER BY user_id, rank""".stripMargin

  // r19: serving-health diagnostics — catalog COVERAGE (how much of
  // the catalog ever gets recommended) and CONCENTRATION (the share
  // of all recommendations captured by the 10 most-recommended
  // items). Accuracy metrics (r12 precision, r17 NDCG) say nothing
  // about a recommender that serves the same 10 bestsellers to
  // everyone; these are the standard beyond-accuracy checks. All
  // counts integer; two single divisions at the end.
  def r19(s: SparkSession, d: String): DataFrame = {
    val recs = r05Recs(s, d).filter(col("rank") <= 5)
      .select("user_id", "rec_item")
    val perItem = recs.groupBy("rec_item").agg(count(lit(1)).as("n_recs"))
    // top-10 via the TopKAgg heap (same (score DESC, id ASC) order as
    // the oracle's window) — no global unpartitioned sort, the rule
    // every other window in the engine follows
    val top10 = perItem
      .agg(graft.functions.TopKAgg.topK(col("n_recs"), col("rec_item"), 10).as("tk"))
      .select(aggregate(col("tk"), lit(0L),
        (acc, x) => acc + x.getField("score").cast("long")).as("top10_recs"))
    recs.agg(count(lit(1)).as("n_recs_total"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("rec_item")).as("n_items_recommended"))
      .join(Ratings.implicitRatings(s, d)
        .agg(countDistinct(col("item_id")).as("n_items_catalog")))
      .join(top10)
      .select(col("n_users"), col("n_recs_total"),
        col("n_items_recommended"), col("n_items_catalog"),
        round(col("n_items_recommended").cast("double") / col("n_items_catalog"), 6)
          .as("catalog_coverage"),
        round(col("top10_recs").cast("double") / col("n_recs_total"), 6)
          .as("top10_share"))
  }

  val r19Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |recs AS (SELECT user_id, rec_item FROM ($r05Sql)),
       |per_item AS (SELECT rec_item, count(*) AS n_recs FROM recs GROUP BY 1),
       |top10 AS (
       |  SELECT CAST(sum(n_recs) AS BIGINT) AS top10_recs FROM (
       |    SELECT n_recs, row_number() OVER (ORDER BY n_recs DESC, rec_item) AS rk
       |    FROM per_item)
       |  WHERE rk <= 10),
       |tot AS (
       |  SELECT count(*) AS n_recs_total, count(DISTINCT user_id) AS n_users,
       |    count(DISTINCT rec_item) AS n_items_recommended
       |  FROM recs),
       |cat AS (SELECT count(DISTINCT item_id) AS n_items_catalog FROM ratings)
       |SELECT n_users, n_recs_total, n_items_recommended, n_items_catalog,
       |  round(CAST(n_items_recommended AS DOUBLE) / n_items_catalog, 6)
       |    AS catalog_coverage,
       |  round(CAST(top10_recs AS DOUBLE) / n_recs_total, 6) AS top10_share
       |FROM tot CROSS JOIN cat CROSS JOIN top10""".stripMargin

  // r23: MMR-DIVERSIFIED serving (Carbonell & Goldstein 1998) — the
  // re-rank between scoring and response: pure relevance ranking
  // serves five near-identical items; maximal marginal relevance
  // greedily picks argmax of λ·rel − (1−λ)·max-sim-to-selected
  // (λ = 0.5), trading a little relevance for coverage. Candidates =
  // the r05Recs shared artifact's top-10 tail (one build, five
  // consumer queries); similarity = r04's co-occurrence cosine
  // (unlimited pair table — the top-200 display cut would starve the
  // lookup); relevance normalized per user (score/max, in [0,1] with
  // sim). The greedy loop is FIVE unrolled bounded steps — per step
  // one anti-join (candidates minus selected), one ≤10×4-per-user
  // sim lookup join, one per-user argmax — never corpus-scale work;
  // the oracle unrolls the identical five steps as CTEs, so every
  // pick and every mmr score is hash-pinned. Diversity-vs-relevance
  // divergence (MMR ≠ top-5 for some user) pinned in RecommendSpec.
  def r23(s: SparkSession, d: String): DataFrame = {
    // FIXED-POINT micro-units throughout (the g01/r17 discipline):
    // rel_i = score·10⁶ div max_score is exact integer division;
    // sim_i = floor(cnt·10⁶ / sqrt(nᵢ·nⱼ)) is one IEEE sqrt + one
    // division + floor — bit-identical cross-engine. A first cut
    // rounded doubles (round(rel·0.5 − sim·0.5, 6)) and hash-failed
    // at sf0.001: the halving lands values exactly on the 6dp
    // rounding boundary, where Spark (decimal-string HALF_UP) and
    // DuckDB (numeric) disagree. λ = 0.5 drops out of the argmax, so
    // mmr = rel_i − maxsim_i needs no scaling at all.
    val cand = r05Recs(s, d)
      .withColumn("rel", expr("(score * 1000000) div max(score) over " +
        "(partition by user_id)"))
      .select("user_id", "rec_item", "rel")
      .cache()
    // the sim table RESTRICTED to the candidate slice before anything
    // joins it: both ends of every lookup are candidate items, so two
    // broadcast semi-joins cut the corpus-scale pair aggregation to a
    // ≤|cand-items|² relation ONCE — the first cut joined the full
    // pair table inside each greedy step (4 corpus-scale passes,
    // 34 s at sf0.1; this shape is 3 s)
    val candItems = cand.select(col("rec_item")).distinct()
    val oi = Ratings.orderItems(s, d)
    val freq = oi.groupBy(col("l_partkey").as("item")).agg(count(lit(1)).as("n_ord"))
    val simt = pairsOfSym(
      Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey")
      .join(broadcast(candItems.select(col("rec_item").as("i"))), Seq("i"), "left_semi")
      .join(broadcast(candItems.select(col("rec_item").as("j"))), Seq("j"), "left_semi")
      .groupBy("i", "j").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .join(broadcast(freq).as("fi"), col("i") === col("fi.item"))
      .join(broadcast(freq).as("fj"), col("j") === col("fj.item"))
      .select(col("i"), col("j"),
        floor(col("cnt") * 1000000L / sqrt(col("fi.n_ord") * col("fj.n_ord")))
          .cast("long").as("sim"))
      .cache()
    val wPick = Window.partitionBy("user_id")
      .orderBy(col("mmr").desc, col("rec_item"))
    var selected = cand
      .withColumn("mmr", col("rel"))
      .withColumn("rn", row_number().over(wPick))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("rec_item"), lit(1).as("pos"), col("mmr"))
    for (t <- 2 to 5) {
      val remaining = cand.join(selected.select("user_id", "rec_item"),
        Seq("user_id", "rec_item"), "left_anti")
      val pick = remaining
        .join(selected.select(col("user_id"), col("rec_item").as("sel")),
          Seq("user_id"))
        .join(simt, col("rec_item") === col("i") && col("sel") === col("j"),
          "left")
        .groupBy("user_id", "rec_item", "rel")
        .agg(max(coalesce(col("sim"), lit(0L))).as("maxsim"))
        .withColumn("mmr", col("rel") - col("maxsim"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("user_id"), col("rec_item"), lit(t).as("pos"), col("mmr"))
      // pin per step: `selected` feeds two joins this round and the
      // next round's anti-join — unpinned, the 5-step plan re-executes
      // every earlier step's joins multiplicatively
      selected = Pin.cut(selected.union(pick))
    }
    val out = Pin.cut(selected.orderBy("user_id", "pos"))
    cand.unpersist()
    simt.unpersist()
    out
  }

  val r23Sql: String = {
    val steps = (2 to 5).map { t =>
      val prev = s"selall${t - 1}"
      s"""sel$t AS (
         |  SELECT user_id, rec_item, $t AS pos, mmr FROM (
         |    SELECT mx.user_id, mx.rec_item,
         |      mx.rel - mx.maxsim AS mmr,
         |      row_number() OVER (PARTITION BY mx.user_id
         |        ORDER BY mx.rel - mx.maxsim DESC, mx.rec_item) AS rn
         |    FROM (
         |      SELECT c.user_id, c.rec_item, c.rel,
         |        max(coalesce(st.sim, 0)) AS maxsim
         |      FROM cand c
         |      JOIN $prev sl ON c.user_id = sl.user_id
         |      LEFT JOIN simt st ON c.rec_item = st.i AND sl.rec_item = st.j
         |      WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |        WHERE x.user_id = c.user_id AND x.rec_item = c.rec_item)
         |      GROUP BY 1, 2, 3) mx)
         |  WHERE rn = 1),
         |selall$t AS (SELECT * FROM $prev UNION ALL SELECT * FROM sel$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |hist AS (SELECT DISTINCT user_id, item_id FROM ratings WHERE user_id < 50),
       |oi AS (${Ratings.sqlOrderItems}),
       |co AS (
       |  SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |  FROM oi a JOIN oi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |top10 AS (
       |  SELECT user_id, rec_item, score FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 10),
       |cand AS (
       |  SELECT user_id, rec_item,
       |    (score * 1000000) // max(score) OVER (PARTITION BY user_id) AS rel
       |  FROM top10),
       |freq AS (SELECT l_partkey AS item, count(*) AS n_ord FROM oi GROUP BY 1),
       |co2 AS (SELECT i, j, cnt FROM co WHERE cnt >= 2),
       |simt AS (
       |  SELECT i, j,
       |    CAST(floor(cnt * 1000000 / sqrt(fi.n_ord * fj.n_ord)) AS BIGINT) AS sim
       |  FROM co2 JOIN freq fi ON co2.i = fi.item JOIN freq fj ON co2.j = fj.item),
       |sel1 AS (
       |  SELECT user_id, rec_item, 1 AS pos, rel AS mmr FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY rel DESC, rec_item) AS rn
       |    FROM cand)
       |  WHERE rn = 1),
       |selall1 AS (SELECT * FROM sel1),
       |$steps
       |SELECT user_id, rec_item, pos, mmr FROM selall5
       |ORDER BY user_id, pos""".stripMargin
  }

  // r24: ITEM cold start via CONTENT fallback — r22 backfills new
  // USERS with popularity; a new ITEM has no interactions at all, so
  // popularity can never surface it (the item-side cold-start hole
  // every CF system ships with). Items with p_partkey % 17 = 0 play
  // the new catalog arrivals: their interactions are HIDDEN from the
  // history view (simulating day-zero items), and each user gets the
  // top-3 new items by CONTENT match against their purchase profile
  // — score = 2·(history items sharing the brand) + 1·(sharing the
  // type), integer arithmetic end to end. Plumbing is all dims and
  // keyed joins: part metadata broadcast, per-user brand/type
  // profiles (two keyed aggs over history), new-item slice broadcast,
  // score join keyed on brand/type, top-3 per user via the
  // WindowGroupLimit-pushable rank. Non-vacuity (every user served 3
  // genuinely hidden items, scores > 0) pinned in RecommendSpec.
  def r24(s: SparkSession, d: String): DataFrame = {
    val meta = Tables.part(s, d)
      .select(col("p_partkey").as("item_id"), col("p_brand"), col("p_type"))
    val newItems = meta.filter(col("item_id") % 17 === 0)
    val hist = Ratings.implicitRatings(s, d)
      .filter(col("user_id") < 50)
      .filter(col("item_id") % 17 =!= 0) // day-zero items have no history
      .select("user_id", "item_id").distinct()
      .join(broadcast(meta), Seq("item_id"))
    val brandProf = hist.groupBy("user_id", "p_brand")
      .agg(count(lit(1)).as("n_b"))
    val typeProf = hist.groupBy("user_id", "p_type")
      .agg(count(lit(1)).as("n_t"))
    val scored = newItems.select(col("item_id").as("new_item"),
        col("p_brand"), col("p_type"))
      .join(brandProf, Seq("p_brand"))
      .join(broadcast(typeProf), Seq("user_id", "p_type"), "left")
      .select(col("user_id"), col("new_item"),
        (col("n_b") * 2 + coalesce(col("n_t"), lit(0L))).as("score"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("score").desc, col("new_item"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("user_id", "rank", "new_item", "score")
      .orderBy("user_id", "rank")
  }

  val r24Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |meta AS (SELECT p_partkey AS item_id, p_brand, p_type FROM part),
       |hist AS (
       |  SELECT DISTINCT r.user_id, r.item_id, m.p_brand, m.p_type
       |  FROM ratings r JOIN meta m ON r.item_id = m.item_id
       |  WHERE r.user_id < 50 AND r.item_id % 17 <> 0),
       |brand_prof AS (
       |  SELECT user_id, p_brand, count(*) AS n_b FROM hist GROUP BY 1, 2),
       |type_prof AS (
       |  SELECT user_id, p_type, count(*) AS n_t FROM hist GROUP BY 1, 2),
       |new_items AS (
       |  SELECT item_id AS new_item, p_brand, p_type FROM meta
       |  WHERE item_id % 17 = 0),
       |scored AS (
       |  SELECT b.user_id, n.new_item,
       |    b.n_b * 2 + coalesce(t.n_t, 0) AS score
       |  FROM new_items n
       |  JOIN brand_prof b ON n.p_brand = b.p_brand
       |  LEFT JOIN type_prof t
       |    ON t.user_id = b.user_id AND t.p_type = n.p_type)
       |SELECT user_id, rank, new_item, score FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY score DESC, new_item) AS rank
       |  FROM scored)
       |WHERE rank <= 3 ORDER BY user_id, rank""".stripMargin

  // r25: recommendation EXPLANATIONS — "because you bought X": for
  // each served rec, the history item that contributed the most
  // co-occurrence evidence (argmax cnt, tie → lowest item id). The
  // explainability surface every serving API grows; computed over
  // the same shared r05Recs artifact and the co-occurrence table
  // RESTRICTED to served items before the join (the r23 slicing
  // rule: both lookup ends are bounded sets, so the corpus-scale
  // pair aggregation shrinks to |recs|×|history| work). One window
  // argmax per (user, rec) over history-sized groups.
  def r25(s: SparkSession, d: String): DataFrame = {
    val recs = r05Recs(s, d).filter(col("rank") <= 5)
      .select("user_id", "rank", "rec_item")
    val recItems = recs.select(col("rec_item")).distinct()
    val hist = Ratings.implicitRatings(s, d)
      .filter(col("user_id") < 50).select("user_id", "item_id").distinct()
    val co = pairsOfSym(
      Tables.lineitem(s, d).select("l_orderkey", "l_partkey"),
      "l_orderkey", "l_partkey")
      .join(broadcast(recItems.select(col("rec_item").as("j"))), Seq("j"),
        "left_semi")
      .groupBy("i", "j").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("user_id", "rec_item")
      .orderBy(col("contrib").desc, col("because_item"))
    recs.join(hist, Seq("user_id"))
      .join(co, col("item_id") === col("i") && col("rec_item") === col("j"))
      .select(col("user_id"), col("rank"), col("rec_item"),
        col("item_id").as("because_item"), col("cnt").as("contrib"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "rank", "rec_item", "because_item", "contrib")
      .orderBy("user_id", "rank")
  }

  val r25Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |hist AS (SELECT DISTINCT user_id, item_id FROM ratings WHERE user_id < 50),
       |oi AS (${Ratings.sqlOrderItems}),
       |co AS (
       |  SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |  FROM oi a JOIN oi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |top5 AS (
       |  SELECT user_id, rec_item, rank FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 5),
       |trip AS (
       |  SELECT t.user_id, t.rank, t.rec_item,
       |    h.item_id AS because_item, co.cnt AS contrib
       |  FROM top5 t
       |  JOIN hist h ON h.user_id = t.user_id
       |  JOIN co ON co.i = h.item_id AND co.j = t.rec_item)
       |SELECT user_id, rank, rec_item, because_item, contrib FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, rec_item
       |    ORDER BY contrib DESC, because_item) AS rn
       |  FROM trip)
       |WHERE rn = 1 ORDER BY user_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // r26: USER-based CF (k-nearest-neighbor users) — the classic
  // neighborhood method the reference's item-based flow (r04/r05)
  // complements: find the 5 most-similar users by cosine over item
  // incidence (co-rated count / sqrt(|u|·|v|) — integer counts, two
  // IEEE ops, bit-exact cross-engine per the r04 precedent), then
  // recommend the items those neighbors rated that the target hasn't,
  // scored by how many neighbors endorse each (integer votes; ties
  // broken on item_id so the rank is a total order).
  // Scale: neighbors are only ever needed for the QUERY PANEL, so the
  // co-rating pair join keeps the panel on one side and rides the
  // shared-item key — per-item fan-out is |panel ∩ audience| ×
  // |audience|, linear in audience size. (A first cut exploded full
  // per-item baskets into ALL user pairs and filtered the panel
  // after — audience² work discarded post-shuffle; the g06 hub
  // lesson applies verbatim.) Degrees are a broadcast dim; everything
  // else is keyed aggs.
  def r26(s: SparkSession, d: String): DataFrame = {
    // distinct (user, item) incidence off the CACHED interaction
    // artifact (taggedInteractions) — r26 reads ui five times (degree
    // agg, both co-rating sides, candidate expansion, seen-filter).
    // PINNED (round 14): deriving from the cache still re-ran the
    // DISTINCT shuffle per consumer (per-job profile: five concurrent
    // 1–1.8 s two-stage jobs, one per subtree); one materialization
    // serves all five reads.
    val ui = Pin.cut(
      taggedInteractions(s, d).select("user_id", "item_id").distinct())
    val nItems = ui.groupBy(col("user_id").as("uid")).agg(count(lit(1)).as("n_items"))
    val co = ui.filter(col("user_id") < 30)
      .select(col("user_id").as("u"), col("item_id"))
      .join(ui.select(col("user_id").as("v"), col("item_id")), Seq("item_id"))
      .filter(col("u") =!= col("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("co"))
    val sims = co
      .join(broadcast(nItems).as("nu"), col("u") === col("nu.uid"))
      .join(broadcast(nItems).as("nv"), col("v") === col("nv.uid"))
      .select(col("u"), col("v"), col("co"),
        round(col("co") / sqrt(col("nu.n_items") * col("nv.n_items")), 6).as("sim"))
    val wNb = Window.partitionBy("u")
      .orderBy(col("sim").desc, col("co").desc, col("v"))
    val nb = sims
      .withColumn("nrank", row_number().over(wNb))
      .filter(col("nrank") <= 5)
      .select(col("u"), col("v"))
    val cand = nb.join(ui, nb("v") === ui("user_id"))
      .groupBy(col("u").as("user_id"), col("item_id").as("rec_item"))
      .agg(count(lit(1)).as("n_nb"))
    val seen = ui.withColumnRenamed("item_id", "rec_item")
    val wRec = Window.partitionBy("user_id")
      .orderBy(col("n_nb").desc, col("rec_item"))
    cand.join(seen, Seq("user_id", "rec_item"), "left_anti")
      .withColumn("rank", row_number().over(wRec))
      .filter(col("rank") <= 5)
      .select(col("user_id"), col("rank"), col("rec_item"), col("n_nb"))
      .orderBy("user_id", "rank")
  }

  val r26Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |ui AS (SELECT DISTINCT user_id, item_id FROM ratings),
       |n AS (SELECT user_id, count(*) AS n_items FROM ui GROUP BY 1),
       |co AS (
       |  SELECT a.user_id AS u, b.user_id AS v, count(*) AS co
       |  FROM ui a JOIN ui b
       |    ON a.item_id = b.item_id AND a.user_id <> b.user_id
       |  WHERE a.user_id < 30
       |  GROUP BY 1, 2),
       |sims AS (
       |  SELECT co.u, co.v, co.co,
       |    round(co.co / sqrt(nu.n_items * nv.n_items), 6) AS sim
       |  FROM co JOIN n nu ON co.u = nu.user_id JOIN n nv ON co.v = nv.user_id),
       |nb AS (
       |  SELECT u, v FROM (
       |    SELECT u, v,
       |      row_number() OVER (PARTITION BY u ORDER BY sim DESC, co DESC, v) AS nrank
       |    FROM sims) WHERE nrank <= 5),
       |cand AS (
       |  SELECT nb.u AS user_id, ui.item_id AS rec_item, count(*) AS n_nb
       |  FROM nb JOIN ui ON nb.v = ui.user_id
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT c.user_id, c.rec_item, c.n_nb FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM ui s
       |    WHERE s.user_id = c.user_id AND s.item_id = c.rec_item))
       |SELECT user_id, rank, rec_item, n_nb FROM (
       |  SELECT user_id, rec_item, n_nb,
       |    row_number() OVER (PARTITION BY user_id
       |      ORDER BY n_nb DESC, rec_item) AS rank
       |  FROM unseen) WHERE rank <= 5
       |ORDER BY user_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // r27: SEQUENTIAL (next-basket Markov) recommendation — item i in
  // one order → item j in the SAME CUSTOMER'S NEXT order; the
  // first-order transition counts behind "customers who bought this
  // next bought..." serving. Order succession is a customer-keyed
  // lead() window (date, then orderkey for same-day determinism);
  // transitions are two orderkey-equality joins fanned through the
  // basket pair explode. Top-200 transitions by (count, i, j) — a
  // total order over integer counts.
  // Scale: the window shuffles once on custkey; both item joins are
  // keyed on orderkey (bucketable with the fact layout — i12's
  // zero-exchange shape); the transition agg is map-side partial. No
  // per-customer driver state, no sequence materialization beyond
  // the 1-row lead.
  def r27(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
    val wSeq = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val seq = o.withColumn("nxt", lead(col("o_orderkey"), 1).over(wSeq))
      .filter(col("nxt").isNotNull)
      .select("o_orderkey", "nxt")
    val li = Ratings.orderItems(s, d)
    seq
      .join(li.as("a"), col("o_orderkey") === col("a.l_orderkey"))
      .join(li.as("b"), col("nxt") === col("b.l_orderkey"))
      .groupBy(col("a.l_partkey").as("i"), col("b.l_partkey").as("j"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .orderBy(col("cnt").desc, col("i"), col("j"))
      .limit(200)
  }

  val r27Sql: String =
    s"""WITH seq AS (
       |  SELECT o_orderkey,
       |    lead(o_orderkey) OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate, o_orderkey) AS nxt
       |  FROM orders),
       |oi AS (${Ratings.sqlOrderItems})
       |SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |FROM seq
       |JOIN oi a ON seq.o_orderkey = a.l_orderkey
       |JOIN oi b ON seq.nxt = b.l_orderkey
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY cnt DESC, i, j LIMIT 200""".stripMargin

  // ------------------------------------------------------------------
  // r28: TIME-DECAYED popularity — r02's non-personalized baseline
  // with recency: each order's quantity contributes q · 2^(−age),
  // age in years behind the corpus's newest order. The weights are
  // EXACT dyadic rationals (1.0 / (1 << age), never libm pow), and
  // quantities are integer-valued, so every partial sum is exactly
  // representable and the total is bit-identical regardless of
  // reduction order — the float-accumulation analogue of the g01
  // fixed-point rule, without scaling. Top-20 by (score, item).
  // Scale: one orderkey join (bucketable), one keyed agg with
  // map-side partials; the max-date is a 1-row broadcast.
  def r28(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
    val l = Tables.lineitem(s, d).select("l_orderkey", "l_partkey", "l_quantity")
    val maxY = o.agg(max(year(col("o_orderdate"))).as("max_y"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .crossJoin(broadcast(maxY))
      .withColumn("age", col("max_y") - year(col("o_orderdate")))
      .withColumn("w", lit(1.0) / expr("shiftleft(1L, int(age))"))
      .groupBy(col("l_partkey").as("item_id"))
      .agg(sum(col("l_quantity") * col("w")).as("decayed_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("decayed_qty").desc, col("item_id"))
      .limit(20)
  }

  val r28Sql: String =
    """WITH maxy AS (SELECT max(year(o_orderdate)) AS max_y FROM orders)
      |SELECT l_partkey AS item_id,
      |  sum(l_quantity * (1.0 / (1 << (max_y - year(o_orderdate)))))
      |    AS decayed_qty,
      |  count(*) AS n_lines
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey, maxy
      |GROUP BY 1 ORDER BY decayed_qty DESC, item_id LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // r29: CALIBRATED-RECOMMENDATION audit (Steck 2018) — accuracy
  // metrics (r12/r17/r20) don't catch a recommender that collapses a
  // user's varied tastes onto their majority genre; calibration
  // compares each user's HISTORY genre distribution p with their
  // RECS' distribution q. Metric: total-variation distance, computed
  // EXACTLY — common denominator 5·H makes every per-genre term the
  // integer |5·h_g − H·r_g|, summed as integers; the single closing
  // division tv = tv_scaled/(10·H) is one IEEE op on identical
  // integers, bit-exact cross-engine. Genres = part brands; recs =
  // the memoized r05 serving artifact (sixth consumer — no pipeline
  // re-run); users whose recs list is empty score tv = 0.5·2 → their
  // full history mass is uncovered, exactly what the audit should say.
  // Scale: brand dim broadcasts onto history and recs scans; one
  // (user, brand)-keyed full-outer merge + one user-keyed agg.
  def r29(s: SparkSession, d: String): DataFrame = {
    val brands = Tables.part(s, d).select(col("p_partkey"), col("p_brand"))
    val hist = Ratings.implicitRatings(s, d)
      .filter(col("user_id") < 50).select("user_id", "item_id").distinct()
    val h = hist.join(broadcast(brands), col("item_id") === col("p_partkey"))
      .groupBy(col("user_id"), col("p_brand")).agg(count(lit(1)).as("h_g"))
    val hTot = h.groupBy("user_id").agg(sum(col("h_g")).as("h_tot"))
    val r = r05Recs(s, d).filter(col("rank") <= 5)
      .join(broadcast(brands), col("rec_item") === col("p_partkey"))
      .groupBy(col("user_id"), col("p_brand")).agg(count(lit(1)).as("r_g"))
    h.join(r, Seq("user_id", "p_brand"), "full_outer")
      .na.fill(0L, Seq("h_g", "r_g"))
      .join(hTot, Seq("user_id"))
      .groupBy(col("user_id"), col("h_tot"))
      .agg(sum(abs(col("h_g") * 5 - col("h_tot") * col("r_g")))
        .cast("long").as("tv_scaled"))
      .select(col("user_id"), col("h_tot"), col("tv_scaled"),
        (col("tv_scaled").cast("double") / (col("h_tot") * 10)).as("tv"))
      .orderBy("user_id")
  }

  val r29Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |hist AS (SELECT DISTINCT user_id, item_id FROM ratings WHERE user_id < 50),
       |oi AS (${Ratings.sqlOrderItems}),
       |co AS (
       |  SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |  FROM oi a JOIN oi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |recs AS (
       |  SELECT user_id, rec_item FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 5),
       |h AS (SELECT user_id, p_brand, count(*) AS h_g
       |      FROM hist JOIN part ON item_id = p_partkey GROUP BY 1, 2),
       |htot AS (SELECT user_id, sum(h_g)::BIGINT AS h_tot FROM h GROUP BY 1),
       |r AS (SELECT user_id, p_brand, count(*) AS r_g
       |      FROM recs JOIN part ON rec_item = p_partkey GROUP BY 1, 2),
       |j AS (
       |  SELECT coalesce(h.user_id, r.user_id) AS user_id,
       |    coalesce(h.p_brand, r.p_brand) AS p_brand,
       |    coalesce(h_g, 0) AS h_g, coalesce(r_g, 0) AS r_g
       |  FROM h FULL OUTER JOIN r
       |    ON h.user_id = r.user_id AND h.p_brand = r.p_brand)
       |SELECT j.user_id, h_tot,
       |  sum(abs(5 * h_g - h_tot * r_g))::BIGINT AS tv_scaled,
       |  CAST(sum(abs(5 * h_g - h_tot * r_g)) AS DOUBLE) / (10 * h_tot) AS tv
       |FROM j JOIN htot ON j.user_id = htot.user_id
       |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // r30: RECIPROCAL-RANK-FUSION serving (Cormack et al. — the
  // standard way production retrieval blends heterogeneous rankers
  // without score calibration): fuse the personalized co-occurrence
  // ranking (the memoized r05 artifact, ranks 1-10) with the
  // popularity ranking (global head re-ranked per user after
  // seen-item exclusion), score = Σ 1/(60+rank). The RRF terms are
  // EXACT INTEGER units — 10⁹ div (60+rank) — so fusion is integer
  // addition, immune to float-sum ordering, and the top-5 pick is a
  // total order (score desc, item).
  // Scale: ranker A is cached; ranker B broadcasts a 30-item
  // popularity head against the cohort (never ranks the catalog);
  // the fuse is one (user,item)-keyed outer merge + one user-keyed
  // WindowGroupLimit top-5.
  def r30(s: SparkSession, d: String): DataFrame = {
    val recsA = r05Recs(s, d).filter(col("rank") <= 10)
      .select(col("user_id"), col("rec_item").as("item"),
        col("rank").as("rank_a"))
    val pop = Ratings.implicitRatings(s, d)
      .select("user_id", "item_id").distinct()
      .groupBy(col("item_id").as("item")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("item")).limit(30)
    val hist = Ratings.implicitRatings(s, d)
      .filter(col("user_id") < 50).select("user_id", "item_id").distinct()
    val wB = Window.partitionBy("user_id")
      .orderBy(col("n_users").desc, col("item"))
    val recsB = hist.select("user_id").distinct()
      .crossJoin(broadcast(pop))
      .join(hist.withColumnRenamed("item_id", "item"),
        Seq("user_id", "item"), "left_anti")
      .withColumn("rank_b", row_number().over(wB))
      .filter(col("rank_b") <= 10)
      .select("user_id", "item", "rank_b")
    val wF = Window.partitionBy("user_id")
      .orderBy(col("score_units").desc, col("item"))
    recsA.join(recsB, Seq("user_id", "item"), "full_outer")
      .withColumn("score_units",
        coalesce(expr("1000000000 div (60 + rank_a)"), lit(0L)) +
          coalesce(expr("1000000000 div (60 + rank_b)"), lit(0L)))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= 5)
      .select("user_id", "item", "score_units", "rank")
      .orderBy("user_id", "rank")
  }

  val r30Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |hist AS (SELECT DISTINCT user_id, item_id FROM ratings WHERE user_id < 50),
       |oi AS (${Ratings.sqlOrderItems}),
       |co AS (
       |  SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |  FROM oi a JOIN oi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |recs_a AS (
       |  SELECT user_id, rec_item AS item, rank AS rank_a FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 10),
       |pop AS (
       |  SELECT item_id AS item, count(*) AS n_users
       |  FROM (SELECT DISTINCT user_id, item_id FROM ratings)
       |  GROUP BY 1 ORDER BY n_users DESC, item LIMIT 30),
       |recs_b AS (
       |  SELECT user_id, item, rank_b FROM (
       |    SELECT u.user_id, p.item,
       |      row_number() OVER (PARTITION BY u.user_id
       |                         ORDER BY p.n_users DESC, p.item) AS rank_b
       |    FROM (SELECT DISTINCT user_id FROM hist) u CROSS JOIN pop p
       |    WHERE NOT EXISTS (SELECT 1 FROM hist h
       |                      WHERE h.user_id = u.user_id AND h.item_id = p.item))
       |  WHERE rank_b <= 10),
       |fused AS (
       |  SELECT coalesce(a.user_id, b.user_id) AS user_id,
       |    coalesce(a.item, b.item) AS item,
       |    coalesce(1000000000 // (60 + rank_a), 0) +
       |      coalesce(1000000000 // (60 + rank_b), 0) AS score_units
       |  FROM recs_a a FULL OUTER JOIN recs_b b
       |    ON a.user_id = b.user_id AND a.item = b.item)
       |SELECT user_id, item, score_units::BIGINT AS score_units, rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |                               ORDER BY score_units DESC, item) AS rank
       |  FROM fused)
       |WHERE rank <= 5 ORDER BY user_id, rank""".stripMargin

  // ------------------------------------------------------------------
  // r31: EXPOSURE-INEQUALITY audit (long-tail / popularity-bias
  // health): the Gini coefficient of recommendation exposure across
  // the WHOLE catalog (never-served items count as zero — the tail a
  // bestseller-loop recommender starves), plus the top-1% exposure
  // share and the zero-exposure item count. r19 reports coverage and
  // top-10 concentration; Gini is the standard single-number
  // inequality summary next to them (fairness/diversity literature's
  // headline metric). Computed EXACTLY: items ranked ascending by
  // (exposure, item_id), G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) — every
  // sum a bigint over integers (tie order cannot change Σ i·xᵢ:
  // equal x makes the assignment of ranks within the tie group
  // irrelevant), ONE closing IEEE division per metric, 6dp at the
  // boundary. Ninth consumer of the memoized r05Recs artifact.
  // Scale: the ranking window is GLOBAL but over the ITEM CATALOG —
  // a dim-bounded diagnostic (items, not interactions; the e22
  // day-domain class), after a keyed exposure agg + a broadcast-safe
  // left join; the fact-sized work is one pass over the recs table.
  def r31(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("x", "item_id")
    val exposure = Ratings.implicitRatings(s, d)
      .select(col("item_id")).distinct()
      .join(r05Recs(s, d).filter(col("rank") <= 5)
          .groupBy(col("rec_item").as("item_id"))
          .agg(count(lit(1)).as("n_recs")),
        Seq("item_id"), "left")
      .select(col("item_id"), coalesce(col("n_recs"), lit(0L)).as("x"))
    exposure
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy()).cast("long"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("x")).cast("long").as("total_exposure"),
        count(when(col("x") === 0, lit(1))).as("n_zero_exposure"),
        sum(col("i") * col("x")).cast("long").as("rank_mass"),
        sum(when(col("i") > col("n") - greatest(expr("n div 100"), lit(1L)),
          col("x")).otherwise(lit(0L))).cast("long").as("top1pct_mass"))
      .select(col("n_items"), col("total_exposure"), col("n_zero_exposure"),
        round((lit(2.0) * col("rank_mass") -
          (col("n_items") + 1).cast("double") * col("total_exposure")) /
          (col("n_items").cast("double") * col("total_exposure")), 6).as("gini"),
        round(col("top1pct_mass").cast("double") / col("total_exposure"), 6)
          .as("top1pct_share"))
  }

  val r31Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |per_item AS (
       |  SELECT rec_item AS item_id, count(*) AS n_recs
       |  FROM ($r05Sql) GROUP BY 1),
       |exposure AS (
       |  SELECT c.item_id, coalesce(p.n_recs, 0)::BIGINT AS x
       |  FROM (SELECT DISTINCT item_id FROM ratings) c
       |  LEFT JOIN per_item p USING (item_id)),
       |ranked AS (
       |  SELECT x, row_number() OVER (ORDER BY x, item_id)::BIGINT AS i,
       |    count(*) OVER ()::BIGINT AS n
       |  FROM exposure)
       |SELECT count(*) AS n_items,
       |  sum(x)::BIGINT AS total_exposure,
       |  count(CASE WHEN x = 0 THEN 1 END) AS n_zero_exposure,
       |  round((2.0 * sum(i * x) - (count(*) + 1)::DOUBLE * sum(x)) /
       |    (count(*)::DOUBLE * sum(x)), 6) AS gini,
       |  round(sum(CASE WHEN i > n - greatest(n // 100, 1) THEN x ELSE 0 END)::DOUBLE
       |    / sum(x), 6) AS top1pct_share
       |FROM ranked""".stripMargin

  // ------------------------------------------------------------------
  // r32: INTERLEAVED ranker comparison (balanced interleaving,
  // Joachims/Radlinski — how production search/recsys A/B-tests two
  // rankers within one result list instead of across user buckets):
  // ranker A = the r12-protocol CF recs (the memoized evalRecs
  // artifact), ranker B = train-popularity with seen-items excluded
  // (r22's data-derived head rule). Per user a COIN (user_id % 2)
  // decides priority; A's rank-r item lands at position 2r−1+coin,
  // B's at 2r−coin (disjoint parities — a shared item can never tie
  // for a slot), duplicates collapse to their earliest position and
  // the OWNING team keeps the slot; the top-6 slots are "displayed".
  // Clicks are the held-out TEST interactions (the same protocol as
  // r12/r17/r20); each clicked slot credits its owning team, per-user
  // winner = more credited clicks, output = the global scoreboard.
  // Everything is integer arithmetic on deterministic ranks — exact
  // cross-engine. Scale: two bounded per-user lists (≤5 each) →
  // interleave/dedup/credit are (user)-keyed windows over ≤10 rows
  // per user; the only corpus-sized work is the artifacts both
  // rankers already share.
  def r32(s: SparkSession, d: String): DataFrame = {
    val oi = taggedInteractions(s, d)
    val uiTrain = oi.filter(!col("is_test"))
      .select("user_id", "item_id").distinct()
    val histTrain = uiTrain.filter(col("user_id") < 100)
    val recsA = evalRecs(s, d)
      .select(col("user_id"), col("rec_item").as("item_id"),
        col("rank").cast("long").as("rnk"), lit(0L).as("team"))
    // data-derived head size (r22's rule): enough that every panel
    // user still has >= 5 unseen head items
    val headN = histTrain.groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L)).as("m"))
      .collect()(0).getLong(0).toInt + 10
    val head = uiTrain.groupBy("item_id").agg(count(lit(1)).as("cnt"))
      .agg(graft.functions.TopKAgg.topK(
        col("cnt").cast("double"), col("item_id"), headN).as("tk"))
      .select(posexplode(col("tk")).as(Seq("pos", "e")))
      .select((col("pos") + 1).cast("long").as("prank"), col("e.id").as("item_id"))
    val panel = recsA.select("user_id").distinct()
    val wB = Window.partitionBy("user_id").orderBy("prank")
    val recsB = panel.crossJoin(broadcast(head))
      .join(histTrain, Seq("user_id", "item_id"), "left_anti")
      .withColumn("rnk", row_number().over(wB).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("user_id"), col("item_id"), col("rnk"), lit(1L).as("team"))
    val coin = (col("user_id") % 2).cast("long")
    val slots = recsA
      .select(col("user_id"), col("item_id"), col("team"),
        (lit(2L) * col("rnk") - 1 + coin).as("pos"))
      .union(recsB.select(col("user_id"), col("item_id"), col("team"),
        (lit(2L) * col("rnk") - coin).as("pos")))
    val wDed = Window.partitionBy("user_id", "item_id").orderBy("pos")
    val wDisp = Window.partitionBy("user_id").orderBy("pos")
    val display = slots
      .withColumn("dr", row_number().over(wDed)).filter(col("dr") === 1)
      .withColumn("slot", row_number().over(wDisp)).filter(col("slot") <= 6)
    val histTest = heldOut(s, d).distinct().withColumn("clicked", lit(1L))
    display.join(histTest, Seq("user_id", "item_id"), "left")
      .groupBy("user_id")
      .agg(sum(when(col("clicked") === 1 && col("team") === 0, 1L)
          .otherwise(0L)).as("ca"),
        sum(when(col("clicked") === 1 && col("team") === 1, 1L)
          .otherwise(0L)).as("cb"))
      .agg(count(lit(1)).as("n_users"),
        count(when(col("ca") > col("cb"), lit(1))).as("wins_cf"),
        count(when(col("cb") > col("ca"), lit(1))).as("wins_pop"),
        count(when(col("ca") === col("cb"), lit(1))).as("ties"),
        sum(col("ca")).cast("long").as("clicks_cf"),
        sum(col("cb")).cast("long").as("clicks_pop"))
  }

  val r32Sql: String = {
    val split = Split.sqlIsTest(Seq("user_id", "item_id"))
    s"""WITH oi AS (
       |  SELECT DISTINCT l_orderkey AS ok, o_custkey AS user_id,
       |    l_partkey AS item_id
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |tagged AS (SELECT *, $split AS is_test FROM oi),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |ui_train AS (SELECT DISTINCT user_id, item_id FROM train),
       |hist_train AS (SELECT * FROM ui_train WHERE user_id < 100),
       |co AS (
       |  SELECT a.item_id AS i, b.item_id AS j, count(*) AS cnt
       |  FROM train a JOIN train b
       |    ON a.ok = b.ok AND a.item_id <> b.item_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist_train h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist_train h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |recsa AS (
       |  SELECT user_id, rec_item AS item_id, rank AS rnk, 0 AS team FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 5),
       |head_n AS (
       |  SELECT coalesce(max(c), 0) + 10 AS n FROM (
       |    SELECT count(*) AS c FROM hist_train GROUP BY user_id)),
       |head AS (
       |  SELECT item_id, prank FROM (
       |    SELECT item_id, row_number() OVER (ORDER BY cnt DESC, item_id) AS prank
       |    FROM (SELECT item_id, count(*) AS cnt FROM ui_train GROUP BY 1))
       |  WHERE prank <= (SELECT n FROM head_n)),
       |panel AS (SELECT DISTINCT user_id FROM recsa),
       |recsb AS (
       |  SELECT user_id, item_id, rnk, 1 AS team FROM (
       |    SELECT p.user_id, h.item_id,
       |      row_number() OVER (PARTITION BY p.user_id ORDER BY h.prank) AS rnk
       |    FROM panel p CROSS JOIN head h
       |    WHERE NOT EXISTS (SELECT 1 FROM hist_train t
       |      WHERE t.user_id = p.user_id AND t.item_id = h.item_id))
       |  WHERE rnk <= 5),
       |slots AS (
       |  SELECT user_id, item_id, team,
       |    2 * rnk - 1 + user_id % 2 AS pos FROM recsa
       |  UNION ALL
       |  SELECT user_id, item_id, team,
       |    2 * rnk - user_id % 2 AS pos FROM recsb),
       |display AS (
       |  SELECT user_id, item_id, team, pos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |      ORDER BY pos) AS slot
       |    FROM (
       |      SELECT *, row_number() OVER (PARTITION BY user_id, item_id
       |        ORDER BY pos) AS dr FROM slots)
       |    WHERE dr = 1)
       |  WHERE slot <= 6),
       |hist_test AS (
       |  SELECT DISTINCT user_id, item_id FROM tagged
       |  WHERE is_test AND user_id < 100),
       |per_user AS (
       |  SELECT d.user_id,
       |    count(CASE WHEN t.item_id IS NOT NULL AND d.team = 0 THEN 1 END) AS ca,
       |    count(CASE WHEN t.item_id IS NOT NULL AND d.team = 1 THEN 1 END) AS cb
       |  FROM display d
       |  LEFT JOIN hist_test t
       |    ON d.user_id = t.user_id AND d.item_id = t.item_id
       |  GROUP BY 1)
       |SELECT count(*) AS n_users,
       |  count(CASE WHEN ca > cb THEN 1 END) AS wins_cf,
       |  count(CASE WHEN cb > ca THEN 1 END) AS wins_pop,
       |  count(CASE WHEN ca = cb THEN 1 END) AS ties,
       |  sum(ca)::BIGINT AS clicks_cf,
       |  sum(cb)::BIGINT AS clicks_pop
       |FROM per_user""".stripMargin
  }

  // ------------------------------------------------------------------
  // r33: IPS (inverse-propensity-scored) offline evaluation — the
  // counterfactual-eval correction every offline recsys study needs:
  // raw click-through over-credits popular items because the data was
  // LOGGED under a popularity-shaped exposure policy; weighting each
  // click by 1/propensity (propensity ∝ the item's train audience)
  // recovers an estimate of how the ranker would do under uniform
  // exposure (Horvitz–Thompson / the Joachims unbiased-LTR line).
  // Weights are EXACT integers — w(i) = 10⁶ div audience(i) — so the
  // IPS mass is a bigint sum immune to accumulation order; raw CTR
  // and the debiased ips_ctr close with one rounded division each.
  // Scores the memoized evalRecs artifact against the r12-protocol
  // test clicks. Scale: recs ⋈ audience dim (broadcast-sized) ⋈
  // test-clicks left join — all keyed, one pass over the bounded
  // recs table.
  def r33(s: SparkSession, d: String): DataFrame = {
    val ipsScale = 1000000L
    val oi = taggedInteractions(s, d)
    val uiTrain = oi.filter(!col("is_test"))
      .select("user_id", "item_id").distinct()
    val pop = uiTrain.groupBy("item_id").agg(count(lit(1)).as("cnt"))
    val histTest = heldOut(s, d).distinct().withColumn("clicked", lit(1L))
    evalRecs(s, d)
      .select(col("user_id"), col("rec_item").as("item_id"))
      .join(broadcast(pop), Seq("item_id"))
      .join(histTest, Seq("user_id", "item_id"), "left")
      .agg(count(lit(1)).as("n_recs"),
        count(col("clicked")).as("n_clicks"),
        sum(when(col("clicked") === 1, expr(s"${ipsScale}L div cnt"))
          .otherwise(lit(0L))).cast("long").as("ips_mass"))
      .select(col("n_recs"), col("n_clicks"),
        round(col("n_clicks").cast("double") / col("n_recs"), 6).as("raw_ctr"),
        col("ips_mass"),
        round(col("ips_mass").cast("double") /
          (col("n_recs").cast("double") * ipsScale), 6).as("ips_ctr"))
  }

  val r33Sql: String = {
    val split = Split.sqlIsTest(Seq("user_id", "item_id"))
    s"""WITH oi AS (
       |  SELECT DISTINCT l_orderkey AS ok, o_custkey AS user_id,
       |    l_partkey AS item_id
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |tagged AS (SELECT *, $split AS is_test FROM oi),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |ui_train AS (SELECT DISTINCT user_id, item_id FROM train),
       |hist_train AS (SELECT * FROM ui_train WHERE user_id < 100),
       |co AS (
       |  SELECT a.item_id AS i, b.item_id AS j, count(*) AS cnt
       |  FROM train a JOIN train b
       |    ON a.ok = b.ok AND a.item_id <> b.item_id
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist_train h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist_train h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |recsa AS (
       |  SELECT user_id, rec_item AS item_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 5),
       |pop AS (SELECT item_id, count(*) AS cnt FROM ui_train GROUP BY 1),
       |hist_test AS (
       |  SELECT DISTINCT user_id, item_id FROM tagged
       |  WHERE is_test AND user_id < 100),
       |j AS (
       |  SELECT r.user_id, r.item_id, p.cnt,
       |    CASE WHEN t.item_id IS NOT NULL THEN 1 ELSE 0 END AS clicked
       |  FROM recsa r
       |  JOIN pop p ON r.item_id = p.item_id
       |  LEFT JOIN hist_test t
       |    ON r.user_id = t.user_id AND r.item_id = t.item_id)
       |SELECT count(*) AS n_recs,
       |  count(CASE WHEN clicked = 1 THEN 1 END) AS n_clicks,
       |  round(count(CASE WHEN clicked = 1 THEN 1 END) / count(*), 6) AS raw_ctr,
       |  CAST(sum(CASE WHEN clicked = 1 THEN 1000000 // cnt ELSE 0 END) AS BIGINT)
       |    AS ips_mass,
       |  round(CAST(sum(CASE WHEN clicked = 1 THEN 1000000 // cnt ELSE 0 END)
       |      AS DOUBLE) / (count(*)::DOUBLE * 1000000), 6) AS ips_ctr
       |FROM j""".stripMargin
  }

  // ------------------------------------------------------------------
  // r34: TWO-STAGE serving (retrieval + ranking — the production
  // recommender architecture): stage 1 RETRIEVES cheap candidates
  // (the memoized r05Recs co-occurrence top-10 — tenth consumer of
  // the shared artifact), stage 2 RE-RANKS them with the expensive
  // model (ALS factor dot product, the codegen DotProduct kernel) and
  // serves the top-5. This split is why billion-item systems work:
  // the model never scores the catalog, only O(users × 10)
  // candidates. Gated r06-style via the serving-list contract as
  // data-derived counts/booleans (float ALS scores can't hash
  // cross-engine): candidate volume and Σ min(5, per-user candidates)
  // come from the oracle's own CTEs, full factor coverage and
  // exactly-min(5,·) per user are computed from the actual join
  // results — a lost candidate or a missing factor flips them. That
  // the ALS stage genuinely REORDERS retrieval (two-stage non-vacuity)
  // is pinned row-wise in RecommendSpec via r34Served.
  /** The served list (user_id, rec_item, rr, n_cand) — RecommendSpec
    * gates re-ranking non-vacuity and subset discipline row-wise. */
  def r34Served(s: SparkSession, d: String): DataFrame = {
    val dot = graft.functions.VectorOps.dotProduct _
    val model = alsModel(s, d)
    val cands = r05Recs(s, d)
    val uf = model.userFactors
      .select(col("id").as("user_id"), col("features").cast("array<double>").as("fu"))
    val itf = model.itemFactors
      .select(col("id").as("rec_item"), col("features").cast("array<double>").as("fi"))
    val w = Window.partitionBy("user_id").orderBy(col("als_score").desc, col("rec_item"))
    val wAll = Window.partitionBy("user_id")
    cands.join(uf, Seq("user_id")).join(broadcast(itf), Seq("rec_item"))
      .withColumn("als_score", dot(col("fu"), col("fi")))
      .withColumn("rr", row_number().over(w))
      .withColumn("n_cand", count(lit(1)).over(wAll))
      .filter(col("rr") <= 5)
      .select("user_id", "rec_item", "rr", "n_cand")
  }

  /** The stage-1 retrieval pool (the r05Recs top-10 artifact) — for
    * RecommendSpec's subset pin. */
  def r05Candidates(s: SparkSession, d: String): DataFrame = r05Recs(s, d)

  def r34(s: SparkSession, d: String): DataFrame = {
    val cands = r05Recs(s, d)
    val served = r34Served(s, d)
    val perUser = served.groupBy("user_id")
      .agg(count(lit(1)).as("n_srv"), max(col("n_cand")).as("nc"))
    cands.agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_candidates"))
      .join(served.agg(count(lit(1)).as("n_served")))
      .join(perUser.agg(
        count(when(col("n_srv") =!= least(lit(5L), col("nc")), lit(1)))
          .as("n_bad_len")))
      .select(col("n_users"), col("n_candidates"), col("n_served"),
        (col("n_bad_len") === 0).as("exact_min5"))
  }

  val r34Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |hist AS (SELECT DISTINCT user_id, item_id FROM ratings WHERE user_id < 50),
       |oi AS (${Ratings.sqlOrderItems}),
       |co AS (
       |  SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |  FROM oi a JOIN oi b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT h.user_id, co.j AS rec_item, CAST(sum(co.cnt) AS BIGINT) AS score
       |  FROM hist h JOIN co ON h.item_id = co.i
       |  GROUP BY 1, 2),
       |unseen AS (
       |  SELECT s.* FROM scored s
       |  WHERE NOT EXISTS (SELECT 1 FROM hist h
       |                    WHERE h.user_id = s.user_id AND h.item_id = s.rec_item)),
       |recs AS (
       |  SELECT user_id, rec_item FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY score DESC, rec_item) AS rank
       |    FROM unseen)
       |  WHERE rank <= 10),
       |per_user AS (SELECT user_id, count(*) AS nc FROM recs GROUP BY 1)
       |SELECT (SELECT count(DISTINCT user_id) FROM recs) AS n_users,
       |  (SELECT count(*) FROM recs) AS n_candidates,
       |  (SELECT CAST(sum(least(5, nc)) AS BIGINT) FROM per_user) AS n_served,
       |  true AS exact_min5""".stripMargin

  // ------------------------------------------------------------------
  // r35: SEGMENT EXPOSURE PARITY — the group-fairness audit (does one
  // customer segment get systematically less personalized, more
  // bestseller-only service?): per market segment, serving volume,
  // distinct items served, catalog coverage, and the mean POPULARITY
  // PERCENTILE of served items — a segment whose mean percentile sits
  // far above the others is being fed the bestseller loop r19 warns
  // about, invisible in global metrics. Percentiles are EXACT integer
  // per-mille ranks over the audience-count order ((rank−1)·1000 div
  // (n−1)), the mean is one bigint sum + one 4dp closing division;
  // eleventh consumer of the shared r05Recs artifact. Scale: item
  // percentile table is a catalog-dim ranking (broadcast back),
  // serving scan is one pass keyed by user → segment join.
  def r35(s: SparkSession, d: String): DataFrame = {
    val ui = taggedInteractions(s, d).select("user_id", "item_id").distinct()
    val w = Window.orderBy(col("cnt"), col("item_id"))
    val nItems = ui.select("item_id").distinct().count()
    val pct = ui.groupBy("item_id").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("item_id"),
        expr(s"((rnk - 1) * 1000) div (${nItems}L - 1)").as("pop_pm"))
    val seg = Tables.customer(s, d)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
    val recs = r05Recs(s, d).filter(col("rank") <= 5)
    recs
      .join(broadcast(seg), Seq("user_id"))
      .join(broadcast(pct), recs("rec_item") === pct("item_id"))
      .groupBy("segment")
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_recs"),
        countDistinct(col("rec_item")).as("n_distinct_items"),
        round(sum(col("pop_pm")).cast("double") / count(lit(1)), 4)
          .as("mean_pop_pm"))
      .orderBy("segment")
  }

  val r35Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |ui AS (SELECT DISTINCT user_id, item_id FROM ratings),
       |pct AS (
       |  SELECT item_id,
       |    ((row_number() OVER (ORDER BY cnt, item_id) - 1) * 1000) //
       |      ((SELECT count(DISTINCT item_id) FROM ui) - 1) AS pop_pm
       |  FROM (SELECT item_id, count(*) AS cnt FROM ui GROUP BY 1)),
       |recs AS (SELECT user_id, rec_item FROM ($r05Sql)),
       |seg AS (SELECT c_custkey AS user_id, c_mktsegment AS segment FROM customer)
       |SELECT segment, count(DISTINCT r.user_id) AS n_users,
       |  count(*) AS n_recs,
       |  count(DISTINCT r.rec_item) AS n_distinct_items,
       |  round(CAST(sum(pop_pm) AS DOUBLE) / count(*), 4) AS mean_pop_pm
       |FROM recs r JOIN seg USING (user_id)
       |JOIN pct ON r.rec_item = pct.item_id
       |GROUP BY 1 ORDER BY segment""".stripMargin

  // ------------------------------------------------------------------
  // r36: ASSOCIATION RULES (A ⇒ B with support / confidence / lift —
  // the Apriori-for-pairs retail classic): r03 counts co-occurrence
  // and r04 scores symmetric similarity; RULES are DIRECTIONAL —
  // confidence P(B|A) = c(AB)/c(A) is not P(A|B) — and thresholded on
  // support, which is what makes them actionable ("stock B next to
  // A"). Exact integer counts over distinct (order, item) baskets;
  // support and confidence as EXACT integer per-mille (÷ via div),
  // lift as ONE division of bigint cross-products (c(AB)·N /
  // (c(A)·c(B)) — the t29 rule, no nested rate divisions), rounded
  // 6dp before the (lift, conf, A, B) ranking. Top-20 rules. Scale:
  // the basket-pair explode is r03's one-shuffle pairsOfSym shape;
  // item supports broadcast; min-support prunes before ranking.
  private val RULE_MIN_AB = 3L
  def r36(s: SparkSession, d: String): DataFrame = {
    val oi = Ratings.orderItems(s, d)
    val nBaskets = oi.select("l_orderkey").distinct().count()
    val itemCnt = oi.groupBy(col("l_partkey").as("item"))
      .agg(count(lit(1)).as("c1"))
    val ab = pairsOfSym(oi.select(col("l_orderkey").as("ok"),
        col("l_partkey").as("item_id")), "ok", "item_id")
      .groupBy(col("i").as("a"), col("j").as("b"))
      .agg(count(lit(1)).as("cab"))
      .filter(col("cab") >= RULE_MIN_AB)
    ab.join(broadcast(itemCnt.select(col("item").as("a"), col("c1").as("ca"))), Seq("a"))
      .join(broadcast(itemCnt.select(col("item").as("b"), col("c1").as("cb"))), Seq("b"))
      .select(col("a"), col("b"), col("cab"),
        expr(s"(cab * 1000000) div ${nBaskets}L").as("support_ppm"),
        expr("(cab * 1000000) div ca").as("conf_ppm"),
        round((col("cab") * nBaskets).cast("double") / (col("ca") * col("cb")), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("conf_ppm").desc, col("a"), col("b"))
      .limit(20)
  }

  val r36Sql: String =
    s"""WITH oi AS (${Ratings.sqlOrderItems}),
       |nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM oi),
       |ic AS (SELECT l_partkey AS item, count(*) AS c1 FROM oi GROUP BY 1),
       |ab AS (
       |  SELECT x.l_partkey AS a, y.l_partkey AS b, count(*) AS cab
       |  FROM oi x JOIN oi y
       |    ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= $RULE_MIN_AB)
       |SELECT a, b, cab,
       |  (cab * 1000000) // (SELECT n FROM nb) AS support_ppm,
       |  (cab * 1000000) // ca.c1 AS conf_ppm,
       |  round(CAST(cab * (SELECT n FROM nb) AS DOUBLE) / (ca.c1 * cb.c1), 6)
       |    AS lift
       |FROM ab JOIN ic ca ON ab.a = ca.item JOIN ic cb ON ab.b = cb.item
       |ORDER BY lift DESC, conf_ppm DESC, a, b LIMIT 20""".stripMargin

  // r38: CATALOG COVERAGE + NOVELTY @k (aggregate-diversity health
  // beside r31's Gini — Gini says exposure is unequal; this says how
  // much of the catalog serving TOUCHES and how far into the tail it
  // reaches): for k ∈ {1,3,5}, distinct served items vs catalog
  // (integer ppm) and mean self-information −log₂(pop/N) of served
  // slots — per-item novelty is the ONE irrational op, 6dp-rounded
  // (t14 discipline) then summed as DECIMAL (exact, order-free) with
  // a single closing IEEE division. Tenth consumer of the memoized
  // r05Recs artifact. A bestseller-loop recommender shows flat
  // novelty across k; a healthy ranker's novelty RISES with k (the
  // tail lives below rank 1).
  // Scale: popularity is a keyed item agg (dim-bounded), the recs
  // join is catalog-dim, the k fan-out a 3-row broadcast — no
  // interaction-scale shuffle beyond the popularity build.
  def r38(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ratings = Ratings.implicitRatings(s, d)
    val pop = ratings.groupBy(col("item_id").as("rec_item"))
      .agg(count(lit(1)).as("cnt"))
    val totals = ratings.agg(count(lit(1)).as("n_inter"),
      countDistinct(col("item_id")).as("catalog_n"))
    val nov = r05Recs(s, d).filter(col("rank") <= 5)
      .join(pop, Seq("rec_item"))
      .crossJoin(broadcast(totals))
      .withColumn("nov6",
        round(log2(col("n_inter").cast("double") / col("cnt")), 6))
    val ks = Seq(1, 3, 5).toDF("k")
    nov.join(broadcast(ks), col("rank") <= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_slots"),
        countDistinct(col("rec_item")).as("n_distinct_items"),
        max(col("catalog_n")).as("catalog_n"),
        sum(col("nov6").cast("decimal(20,6)")).as("novsum"))
      .select(col("k"), col("n_slots"), col("n_distinct_items"),
        col("catalog_n"),
        expr("(1000000 * n_distinct_items) div catalog_n").as("coverage_ppm"),
        round(col("novsum").cast("double") / col("n_slots"), 6)
          .as("novelty_mean"))
      .orderBy("k")
  }

  val r38Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |pop AS (SELECT item_id AS rec_item, count(*) AS cnt
       |        FROM ratings GROUP BY 1),
       |tot AS (SELECT count(*)::BIGINT AS n_inter,
       |          count(DISTINCT item_id)::BIGINT AS catalog_n FROM ratings),
       |nov AS (
       |  SELECT r.rank, r.rec_item,
       |    round(log2(tot.n_inter::DOUBLE / p.cnt), 6) AS nov6
       |  FROM ($r05Sql) r JOIN pop p USING (rec_item), tot),
       |ks(k) AS (VALUES (1), (3), (5))
       |SELECT k, count(*) AS n_slots,
       |  count(DISTINCT rec_item) AS n_distinct_items,
       |  tot.catalog_n,
       |  (1000000 * count(DISTINCT rec_item)) // tot.catalog_n AS coverage_ppm,
       |  round(sum(nov6::DECIMAL(20,6))::DOUBLE / count(*), 6) AS novelty_mean
       |FROM nov JOIN ks ON rank <= k, tot
       |GROUP BY k, tot.catalog_n ORDER BY k""".stripMargin

  // r39: ε-GREEDY EXPLORATION serving (the explore/exploit slate mix
  // every production recommender runs to keep gathering signal on
  // unserved items — pure exploitation is the feedback loop r31's
  // Gini diagnoses): a 20% hash-selected user cohort gets its rank-5
  // slot replaced by an EXPLORATION item drawn from a fixed
  // hash-sampled catalog pool (~5% of items — the per-epoch pool a
  // real system refreshes; the per-user pick ranks user×pool, never
  // user×catalog), excluding the user's history and their exploit
  // slate. Everything is hash-deterministic (ε draw, pool
  // membership, per-user pick order), so the EXACT slate gates
  // cross-engine — "random" exploration with a reproducible audit
  // trail. Eleventh consumer of the memoized r05Recs artifact.
  // Scale: pool is dim-bounded and broadcast; exclusions are two
  // keyed anti-joins on the (cohort × pool) frame; the slate join is
  // a per-user broadcast-sized left join.
  def r39(s: SparkSession, d: String): DataFrame = {
    val recs = r05Recs(s, d).filter(col("rank") <= 5)
    val exploring = recs.select("user_id").distinct()
      .filter(Hashing.hash56(concat_ws("#", lit("eps"), col("user_id"))) % 100 < 20)
    val hist = Ratings.implicitRatings(s, d).filter(col("user_id") < 50)
      .select("user_id", "item_id").distinct()
    val pool = Ratings.implicitRatings(s, d).select("item_id").distinct()
      .filter(Hashing.hash56(concat_ws("#", lit("pool"), col("item_id"))) % 20 === 0)
    val w = Window.partitionBy("user_id").orderBy(col("hk"), col("item_id"))
    val pick = exploring.crossJoin(broadcast(pool))
      .join(hist, Seq("user_id", "item_id"), "left_anti")
      .join(recs.select(col("user_id"), col("rec_item").as("item_id")),
        Seq("user_id", "item_id"), "left_anti")
      .withColumn("hk",
        Hashing.hash56(concat_ws("#", lit("xp"), col("user_id"), col("item_id"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("item_id").as("xp_item"))
    recs.join(pick, Seq("user_id"), "left")
      .select(col("user_id"), col("rank").cast("long").as("rank"),
        when(col("rank") === 5 && col("xp_item").isNotNull, col("xp_item"))
          .otherwise(col("rec_item")).as("item_id"),
        when(col("rank") === 5 && col("xp_item").isNotNull, lit("explore"))
          .otherwise(lit("exploit")).as("source"))
      .orderBy("user_id", "rank")
  }

  val r39Sql: String = {
    val epsHash = graft.functions.Hashing.sqlHash56("'eps#' || user_id")
    val poolHash = graft.functions.Hashing.sqlHash56("'pool#' || item_id")
    val pickHash =
      graft.functions.Hashing.sqlHash56("'xp#' || user_id || '#' || item_id")
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |recs AS (SELECT user_id, rec_item, rank FROM ($r05Sql)),
       |exploring AS (
       |  SELECT DISTINCT user_id FROM recs WHERE $epsHash % 100 < 20),
       |hist AS (
       |  SELECT DISTINCT user_id, item_id FROM ratings WHERE user_id < 50),
       |pool AS (
       |  SELECT DISTINCT item_id FROM ratings WHERE $poolHash % 20 = 0),
       |cand AS (
       |  SELECT x.user_id, p.item_id, $pickHash AS hk
       |  FROM exploring x, pool p
       |  WHERE NOT EXISTS (SELECT 1 FROM hist h
       |                    WHERE h.user_id = x.user_id AND h.item_id = p.item_id)
       |    AND NOT EXISTS (SELECT 1 FROM recs r
       |                    WHERE r.user_id = x.user_id AND r.rec_item = p.item_id)),
       |pick AS (
       |  SELECT user_id, item_id AS xp_item FROM (
       |    SELECT *, row_number() OVER (PARTITION BY user_id
       |                                 ORDER BY hk, item_id) AS rn
       |    FROM cand) WHERE rn = 1)
       |SELECT r.user_id, r.rank::BIGINT AS rank,
       |  CASE WHEN r.rank = 5 AND p.xp_item IS NOT NULL THEN p.xp_item
       |       ELSE r.rec_item END AS item_id,
       |  CASE WHEN r.rank = 5 AND p.xp_item IS NOT NULL THEN 'explore'
       |       ELSE 'exploit' END AS source
       |FROM recs r LEFT JOIN pick p USING (user_id)
       |ORDER BY user_id, rank""".stripMargin
  }

  // r40: UCB1 BANDIT RANKING (Auer et al. 2002 — the optimism-under-
  // uncertainty score that decides which arm to pull next; r39's
  // ε-greedy explores blindly, UCB explores where the CONFIDENCE
  // interval is widest): arms = the 20 most-played items, reward =
  // repeat-line purchase share, score = mean + √(2·ln N / n). The
  // exact part of the contract is integer (plays, successes, the ppm
  // mean); the one irrational composite is rounded 6dp ONCE at the
  // end (t14 discipline — √ is correctly-rounded IEEE, ln agrees to
  // ulps, the composite is stable under 6dp), and the ranking runs
  // on the ROUNDED score with the item tie ladder, so rank order
  // gates cross-engine.
  // Scale: one keyed agg + a 20-row TakeOrdered — the bandit algebra
  // is arm-dim; N broadcasts off the 20-row arm table.
  def r40(s: SparkSession, d: String): DataFrame = {
    val arms = Ratings.implicitRatings(s, d).groupBy("item_id")
      .agg(count(lit(1)).as("plays"),
        count(when(col("n_lines") >= 2, lit(1))).as("successes"))
      .orderBy(col("plays").desc, col("item_id")).limit(20)
    val tot = arms.agg(sum(col("plays")).as("n_total"))
    arms.crossJoin(broadcast(tot))
      .withColumn("succ_ppm", expr("(1000000 * successes) div plays"))
      .withColumn("ucb6",
        round(col("successes").cast("double") / col("plays") +
          sqrt(lit(2.0) * log(col("n_total").cast("double")) / col("plays")),
          6))
      .withColumn("ucb_rank", row_number().over(
        Window.orderBy(col("ucb6").desc, col("item_id"))).cast("long"))
      .select("item_id", "plays", "successes", "succ_ppm", "ucb6", "ucb_rank")
      .orderBy("ucb_rank")
  }

  val r40Sql: String = {
    val ucb = "round(successes::DOUBLE / plays + " +
      "sqrt(2.0 * ln(tot.n_total::DOUBLE) / plays), 6)"
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |arms AS (
       |  SELECT item_id, count(*) AS plays,
       |    count(CASE WHEN n_lines >= 2 THEN 1 END) AS successes
       |  FROM ratings GROUP BY 1 ORDER BY plays DESC, item_id LIMIT 20),
       |tot AS (SELECT sum(plays)::BIGINT AS n_total FROM arms)
       |SELECT item_id, plays, successes,
       |  (1000000 * successes) // plays AS succ_ppm,
       |  $ucb AS ucb6,
       |  row_number() OVER (ORDER BY $ucb DESC, item_id)::BIGINT AS ucb_rank
       |FROM arms, tot ORDER BY ucb_rank""".stripMargin
  }

  // r41: SHIFTED POSITIVE PMI item association (Levy & Goldberg 2014 —
  // SGNS/word2vec implicitly factorizes the PMI−ln k matrix, so the
  // SPPMI table IS the embedding-free stand-in for item2vec): over
  // order baskets, PMI(i,j) = ln(co·B / (n_i·n_j)) with B = basket
  // count, shift k = 5. All sufficient statistics are exact integers
  // (co, n_i, n_j, B, and the ppm lift ratio); each PMI value is ONE
  // IEEE division + ONE ln, rounded 6dp once (the r40/t14 libm
  // discipline), and the ranking runs on the ROUNDED score with the
  // (i, j) tie ladder — cross-engine stable.
  // Scale: pair generation rides r03's one-shuffle basketPairs
  // (per-basket local explosion, never a corpus self-join); the item
  // frequency dim broadcasts; the PMI algebra is pair-dim.
  def r41(s: SparkSession, d: String): DataFrame = {
    val oi = Ratings.orderItems(s, d)
    val freq = oi.groupBy(col("l_partkey").as("item")).agg(count(lit(1)).as("n_ord"))
    val baskets = oi.agg(countDistinct(col("l_orderkey")).as("n_baskets"))
    val co = basketPairs(s, d)
      .groupBy("i", "j").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
    co.join(broadcast(freq).as("fi"), col("i") === col("fi.item"))
      .join(broadcast(freq).as("fj"), col("j") === col("fj.item"))
      .crossJoin(broadcast(baskets))
      .withColumn("lift_ppm",
        expr("(1000000 * cnt * n_baskets) div (fi.n_ord * fj.n_ord)"))
      .withColumn("pmi6",
        round(log((col("cnt") * col("n_baskets")).cast("double") /
          (col("fi.n_ord") * col("fj.n_ord")).cast("double")), 6))
      .withColumn("sppmi6",
        greatest(lit(0.0),
          round(log((col("cnt") * col("n_baskets")).cast("double") /
            (lit(5L) * col("fi.n_ord") * col("fj.n_ord")).cast("double")), 6)))
      .select(col("i"), col("j"), col("cnt"), col("lift_ppm"),
        col("pmi6"), col("sppmi6"))
      .orderBy(col("sppmi6").desc, col("i"), col("j"))
      .limit(200)
  }

  val r41Sql: String =
    s"""WITH oi AS (${Ratings.sqlOrderItems}),
       |freq AS (SELECT l_partkey AS item, count(*) AS n_ord FROM oi GROUP BY 1),
       |b AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM oi),
       |co AS (
       |  SELECT a.l_partkey AS i, b2.l_partkey AS j, count(*) AS cnt
       |  FROM oi a JOIN oi b2
       |    ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT i, j, cnt,
       |  (1000000 * cnt * n_baskets) // (fi.n_ord * fj.n_ord) AS lift_ppm,
       |  round(ln((cnt * n_baskets)::DOUBLE / (fi.n_ord * fj.n_ord)::DOUBLE), 6)
       |    AS pmi6,
       |  greatest(0.0,
       |    round(ln((cnt * n_baskets)::DOUBLE / (5 * fi.n_ord * fj.n_ord)::DOUBLE), 6))
       |    AS sppmi6
       |FROM co JOIN freq fi ON co.i = fi.item
       |        JOIN freq fj ON co.j = fj.item
       |CROSS JOIN b
       |ORDER BY sppmi6 DESC, i, j LIMIT 200""".stripMargin

  // ------------------------------------------------------------------
  // r42: NEGATIVE-SAMPLING TABLE (word2vec/item2vec unigram^0.75 — the
  // training-data artifact every embedding run consumes: r41 mines
  // the POSITIVE pairs, this allocates the NEGATIVES): raw popularity
  // is too head-heavy (hot items swamp every batch) and uniform is
  // too tail-heavy (gradients starve), so the sampling distribution
  // is n^0.75 — the Mikolov smoothing. The one irrational op (pow)
  // rounds to 6dp ONCE per item (p09 discipline); normalization sums
  // exact DECIMAL(20,6); everything downstream is integer off the
  // rounded ppm weight: n_neg = (B·ppm) div 10^6 for the 250k-draw
  // table. Output: top-50 items by (n DESC, item_id) with raw vs
  // smoothed ppm side by side — the flattening is the contract
  // (head share shrinks, tail share grows; pinned in RecommendSpec).
  // Scale: one orders⋈lineitem shuffle + item-keyed agg (the r01
  // matrix shape); the weight algebra and ranking are item-dim; the
  // ppm normalizer is a 1-row broadcast.
  private val NEG_BUDGET = 250000L

  def r42(s: SparkSession, d: String): DataFrame = {
    val n = Ratings.implicitRatings(s, d)
      .groupBy(col("item_id")).agg(count(lit(1)).as("n"))
    val tot = n.agg(sum(col("n")).as("tot"))
    val w = n.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("(1000000 * n) div tot"))
      .withColumn("w6", round(pow(col("n").cast("double"), lit(0.75)), 6))
    val ws = w.agg(sum(col("w6").cast("decimal(20,6)")).as("wsum"))
    w.crossJoin(broadcast(ws))
      .withColumn("ppm",
        round(lit(1000000.0) * col("w6") / col("wsum").cast("double"), 0)
          .cast("long"))
      .withColumn("n_neg", expr(s"(${NEG_BUDGET}L * ppm) div 1000000"))
      .select("item_id", "n", "share_ppm", "w6", "ppm", "n_neg")
      .orderBy(col("n").desc, col("item_id"))
      .limit(50)
  }

  val r42Sql: String =
    s"""WITH r AS (${Ratings.sqlRatings}),
       |n AS (SELECT item_id, count(*) AS n FROM r GROUP BY 1),
       |tot AS (SELECT sum(n)::BIGINT AS tot FROM n),
       |w AS (
       |  SELECT item_id, n, (1000000 * n) // tot.tot AS share_ppm,
       |    round(pow(n::DOUBLE, 0.75), 6) AS w6
       |  FROM n, tot),
       |ws AS (SELECT sum(w6::DECIMAL(20,6)) AS wsum FROM w)
       |SELECT item_id, n, share_ppm, w6,
       |  round(1000000.0 * w6 / ws.wsum::DOUBLE, 0)::BIGINT AS ppm,
       |  ($NEG_BUDGET * round(1000000.0 * w6 / ws.wsum::DOUBLE, 0)::BIGINT)
       |    // 1000000 AS n_neg
       |FROM w, ws ORDER BY n DESC, item_id LIMIT 50""".stripMargin

  // ------------------------------------------------------------------
  // r43: SEQUENTIAL-RECOMMENDER EVALUATION under leave-last-out (the
  // next-basket protocol — r12/r17/r20 evaluate the CF ranking against
  // a random holdout; sequential models are graded on predicting the
  // NEXT basket from the one before it, and a random split would leak
  // the future into training): per customer the LAST order is the
  // test basket, the PENULTIMATE order is the query context, and the
  // transition table (r27's consecutive-order item pairs) trains on
  // every transition EXCEPT the one into the last order — the rnd≠2
  // filter IS the no-leakage rule. Candidates score by summed
  // transition counts from the context items, top-5 under the
  // (score DESC, item) ladder; hit@1/hit@5 as exact integers and ppm
  // rates (10⁶·hits div scored-users — no float).
  // Scale: the train table is r27's shape (one custkey window + two
  // orderkey-keyed joins); scoring is a context×transition keyed join
  // + user-keyed WindowGroupLimit top-5; the hit check is one
  // (user,item)-keyed join; closers are 1-row broadcast aggs.
  /** The eval's per-user top-5 (user, j, rk) — split out so the spec
    * can replay one customer's slate against a driver-side recompute. */
  private def r43Parts(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val o = Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_orderdate")
    val wAsc = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wDesc = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    // Round 14: the shared LEAVES are pinned, not the big intermediate.
    // Per-job profile showed six concurrent ~1.4 s two-stage jobs — the
    // seq window (3 consumers) and the orderItems distinct (4
    // consumers) re-ran once per branch; AQE's ReusedExchange shares a
    // shuffle only within one job, and the closers are separate
    // actions. `scores` itself stays unpinned (measured in r13:
    // materializing the wide user×candidate frame times 5% SLOWER).
    val seq = Pin.cut(o.withColumn("nxt", lead(col("o_orderkey"), 1).over(wAsc))
      .withColumn("rnd", row_number().over(wDesc)))
    val li = Pin.cut(Ratings.orderItems(s, d))
    val trans = seq.filter(col("nxt").isNotNull && col("rnd") =!= 2)
      .join(li.as("a"), col("o_orderkey") === col("a.l_orderkey"))
      .join(li.as("b"), col("nxt") === col("b.l_orderkey"))
      .groupBy(col("a.l_partkey").as("i"), col("b.l_partkey").as("j"))
      .agg(count(lit(1)).as("cnt"))
    val src = Pin.cut(seq.filter(col("rnd") === 2)
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("i")))
    val scores = src.join(trans, Seq("i"))
      .groupBy("user", "j").agg(sum(col("cnt")).as("score"))
    val wTop = Window.partitionBy("user").orderBy(col("score").desc, col("j"))
    val top = Pin.cut(scores.withColumn("rk", row_number().over(wTop))
      .filter(col("rk") <= 5))
    val tst = seq.filter(col("rnd") === 1)
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("user"), col("l_partkey").as("j"))
    (src, scores, top, tst)
  }

  /** One customer's served slate, rank order — the spec's replay hook. */
  def r43Probe(s: SparkSession, d: String, user: Long): List[Long] = {
    val (_, _, top, _) = r43Parts(s, d)
    top.filter(col("user") === user).orderBy("rk")
      .select("j").collect().map(_.getLong(0)).toList
  }

  def r43(s: SparkSession, d: String): DataFrame = {
    val (src, _, top, tst) = r43Parts(s, d)
    val hits = top.join(tst, Seq("user", "j"))
      .groupBy("user").agg(min(col("rk")).as("best_rk"))
    val nEval = src.agg(count_distinct(col("user")).as("n_eval"))
    // n_scored off the PINNED top-5 frame: row_number emits rk=1 for
    // every user present in `scores`, so the distinct-user sets are
    // identical — and this closer then reads ≤5 rows/user instead of
    // re-running the full user×candidate aggregation
    val nScored = top.agg(count_distinct(col("user")).as("n_scored"))
    val h = hits.agg(count(lit(1)).as("hit5"),
      count(when(col("best_rk") === 1, lit(1))).as("hit1"))
    nEval.crossJoin(broadcast(nScored)).crossJoin(broadcast(h))
      .select(col("n_eval"), col("n_scored"), col("hit1"), col("hit5"),
        expr("(1000000 * hit1) div n_scored").as("hit1_ppm"),
        expr("(1000000 * hit5) div n_scored").as("hit5_ppm"))
  }

  val r43Sql: String =
    s"""WITH seq AS (
       |  SELECT o_orderkey, o_custkey,
       |    lead(o_orderkey) OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate, o_orderkey) AS nxt,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rnd
       |  FROM orders),
       |oi AS (${Ratings.sqlOrderItems}),
       |trans AS (
       |  SELECT a.l_partkey AS i, b.l_partkey AS j, count(*) AS cnt
       |  FROM seq
       |  JOIN oi a ON seq.o_orderkey = a.l_orderkey
       |  JOIN oi b ON seq.nxt = b.l_orderkey
       |  WHERE seq.nxt IS NOT NULL AND seq.rnd <> 2
       |  GROUP BY 1, 2),
       |src AS (
       |  SELECT o_custkey AS usr, l_partkey AS i
       |  FROM seq JOIN oi ON seq.o_orderkey = oi.l_orderkey WHERE rnd = 2),
       |scores AS (
       |  SELECT usr, j, sum(cnt) AS score
       |  FROM src JOIN trans USING (i) GROUP BY 1, 2),
       |top AS (
       |  SELECT usr, j, row_number() OVER (PARTITION BY usr
       |    ORDER BY score DESC, j) AS rk
       |  FROM scores QUALIFY rk <= 5),
       |tst AS (
       |  SELECT o_custkey AS usr, l_partkey AS j
       |  FROM seq JOIN oi ON seq.o_orderkey = oi.l_orderkey WHERE rnd = 1),
       |hits AS (
       |  SELECT top.usr, min(rk) AS best_rk
       |  FROM top JOIN tst ON top.usr = tst.usr AND top.j = tst.j
       |  GROUP BY 1),
       |e AS (SELECT count(DISTINCT usr) AS n_eval FROM src),
       |sc AS (SELECT count(DISTINCT usr) AS n_scored FROM scores),
       |h AS (SELECT count(*) AS hit5,
       |        count(CASE WHEN best_rk = 1 THEN 1 END) AS hit1 FROM hits)
       |SELECT n_eval, n_scored, hit1, hit5,
       |  (1000000 * hit1) // n_scored AS hit1_ppm,
       |  (1000000 * hit5) // n_scored AS hit5_ppm
       |FROM e, sc, h""".stripMargin

  // ------------------------------------------------------------------
  // r44: RFM SEGMENTATION (recency/frequency/monetary — the classic
  // customer-value feature table that feeds churn models, campaign
  // targeting and the cold-start priors r22/r24 lean on): per
  // customer, recency = integer days since their last order (ref =
  // corpus max date, data-derived), frequency = order count, monetary
  // = exact DECIMAL(12,2) spend; each dimension quintiled from its
  // EXACT ROW RANK under a fully-pinned total order (value, then
  // custkey), with the standard ntile remainder arithmetic written
  // out as integer algebra (first n mod 5 buckets take ceil(n/5))
  // rather than calling either engine's ntile — both the round-7
  // scale flag (three unpartitioned customer-grain windows) and a
  // driver-oracle ntile-variance hazard die together; 5 = best;
  // segments by the standard (R,F) rule grid. The gate is the
  // SEGMENT ROLLUP (counts, exact integer-cent spend, integer mean
  // recency) plus a per-segment id-set checksum — ONE mis-scored
  // customer moves a checksum and hash-fails, so the whole
  // assignment is pinned without emitting a customer-dim table.
  // Scale: one custkey-keyed agg over orders; ranks via the
  // two-level bucket cumsum (bounded bucket grain, partitioned
  // in-bucket row_number) — no customer-grain global sort anywhere.
  def r44(s: SparkSession, d: String): DataFrame = {
    // recency stays in pure DATE arithmetic end-to-end: datediff on two
    // DATEs is an exact integer day count in Spark AND DuckDB, with no
    // epoch-micros detour (epoch_us(DATE) goes through a DATE→TIMESTAMP
    // cast whose semantics are an oracle-version hazard — the round-8
    // driver gate hash-failed exactly this query while the same SQL
    // passed bit-for-bit on local DuckDB). Round-10: the oracle's day
    // count is plain DATE subtraction (ref − last), NOT date_diff('day',
    // …) — this key was the ONLY oracle in the suite using date_diff,
    // and DuckDB has changed that function's argument/sign convention
    // across releases, which fits the three-rounds-running driver-only
    // hash fail exactly (same 6 rows, different values ⇒ a sign-flipped
    // recency reshuffles every quintile). DATE − DATE = integer days is
    // core SQL surface on every DuckDB build. x-probe battery
    // (ops/Probes.scala) pins both constructs independently.
    //
    // Round-11: monetary is EXACT INTEGER CENTS end-to-end. The round-10
    // probe battery cornered the remaining driver-only hash fail to the
    // monetary column alone (x44a/c/d green, x44b red), whose old chain
    // was per-row CAST(double AS DECIMAL(12,2)) → DECIMAL sum →
    // DECIMAL(18,2) render — the one construct family no x0 probe
    // covered, and a known cross-build variance surface in DuckDB
    // (double→DECIMAL rounding + DECIMAL render). The rewrite takes the
    // construct out of the contract: cents = CAST(round(price*100) AS
    // BIGINT) on BOTH sides — the IEEE product is identical in both
    // engines, every product in this corpus sits ~4e-9 from a whole
    // cent (checked; no rounding ties), both engines round positives
    // half-up, and BIGINT sums render exactly with no decimal
    // formatting anywhere in the gate. x09/x10/x11 probes now pin the
    // OLD construct chain independently, so if the driver red survives
    // even this, its pass/fail vector names the construct.
    val o = Tables.orders(s, d)
      .select(col("o_custkey").as("cust"),
        col("o_orderdate").as("od"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val ref = o.agg(max(col("od")).as("refd"))
    val rfm = o.groupBy("cust")
      .agg(max(col("od")).as("lastd"), count(lit(1)).as("frequency"),
        sum(col("cents")).as("monetary"))
      .crossJoin(broadcast(ref))
      .withColumn("recency_days",
        datediff(col("refd"), col("lastd")).cast("long"))
    // Exact per-dimension rank WITHOUT a global window (the round-7
    // version ran three unpartitioned ntile(5) windows at customer
    // grain — a single-partition sort 3× over, and exposed to
    // engine-ntile variance in the driver's oracle): bucket each
    // dimension by a monotone coarse key, cumulate bucket counts on
    // the BOUNDED bucket grain (days / order counts / $10k spend
    // bands — domain-bounded at any corpus size), then rank within
    // buckets only — rank = bucket offset + in-bucket row_number
    // (q66/q68's two-level discipline). Quintiles derive from ranks
    // via the standard ntile remainder arithmetic spelled out as
    // positive integer algebra identical on both engines.
    val rfmP = Pin.cut(rfm) // feeds 3 rank dims + the join
    def ranked(valueCol: String, bucketE: Column, desc: Boolean,
               out: String): DataFrame = {
      val base = rfmP.select(col("cust"), col(valueCol))
        .withColumn("__b", bucketE)
      val bc = base.groupBy("__b").agg(count(lit(1)).as("__c"))
      val bw = Window
        .orderBy(if (desc) col("__b").desc else col("__b").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val off = bc.withColumn("__off", coalesce(sum("__c").over(bw), lit(0L)))
        .select("__b", "__off")
      val iw = Window.partitionBy("__b")
        .orderBy(if (desc) col(valueCol).desc else col(valueCol).asc,
          col("cust"))
      base.join(broadcast(off), "__b")
        .withColumn(out, col("__off") + row_number().over(iw))
        .select("cust", out)
    }
    val rr = ranked("recency_days", col("recency_days"), desc = false, "rr")
    val fr = ranked("frequency", col("frequency"), desc = true, "fr")
    val mr = ranked("monetary", expr("monetary div 1000000"), desc = true, "mr")
    def quint(rc: String) = expr(
      s"6 - (CASE WHEN $rc <= (n % 5) * (n div 5 + 1)" +
      s" THEN ($rc + n div 5) div (n div 5 + 1)" +
      s" ELSE n % 5 + ($rc - (n % 5) * (n div 5 + 1) + n div 5 - 1)" +
      s" div (n div 5) END)")
    val scored = rfmP
      .join(rr, "cust").join(fr, "cust").join(mr, "cust")
      .crossJoin(broadcast(rfmP.agg(count(lit(1)).as("n"))))
      .withColumn("r_score", quint("rr"))
      .withColumn("f_score", quint("fr"))
      .withColumn("m_score", quint("mr"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4, "champions")
          .when(col("f_score") >= 4, "loyal")
          .when(col("r_score") >= 4, "recent")
          .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
          .when(col("r_score") <= 2, "hibernating")
          .otherwise("regular"))
    scored.groupBy("segment")
      .agg(count(lit(1)).as("n_users"),
        sum(col("monetary")).as("monetary_sum_cents"),
        expr("sum(recency_days) div count(1)").as("avg_recency_days"),
        sum(Hashing.hash56(concat_ws("#", lit("rfm"), col("cust")))
          .cast("decimal(38,0)")).cast("decimal(38,0)").cast("string")
          .as("ids_checksum"))
      .orderBy("segment")
  }

  val r44Sql: String = {
    val h = Hashing.sqlHash56("'rfm#' || cust")
    s"""WITH o AS (
       |  SELECT o_custkey AS cust,
       |    -- DATE, explicitly: the parquet column reads as TIMESTAMP in
       |    -- DuckDB, and TIMESTAMP − TIMESTAMP is an INTERVAL; DATE −
       |    -- DATE is an integer day count on every build
       |    CAST(o_orderdate AS DATE) AS od,
       |    -- exact integer cents: identical IEEE double product on both
       |    -- engines, round half-up for positives, no DECIMAL anywhere
       |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
       |  FROM orders),
       |ref AS (SELECT max(od) AS refd FROM o),
       |rfm AS (
       |  SELECT cust, max(od) AS lastd, count(*) AS frequency,
       |    CAST(sum(cents) AS BIGINT) AS monetary,
       |    CAST((ref.refd - max(od)) AS BIGINT) AS recency_days
       |  FROM o, ref GROUP BY cust, ref.refd),
       |ranked AS (
       |  SELECT cust, recency_days, frequency, monetary,
       |    row_number() OVER (ORDER BY recency_days, cust) AS rr,
       |    row_number() OVER (ORDER BY frequency DESC, cust) AS fr,
       |    row_number() OVER (ORDER BY monetary DESC, cust) AS mr,
       |    count(*) OVER () AS n
       |  FROM rfm),
       |scored AS (
       |  SELECT cust, recency_days, frequency, monetary,
       |    6 - (CASE WHEN rr <= (n % 5) * (n // 5 + 1)
       |      THEN (rr + n // 5) // (n // 5 + 1)
       |      ELSE n % 5 + (rr - (n % 5) * (n // 5 + 1) + n // 5 - 1)
       |        // (n // 5) END) AS r_score,
       |    6 - (CASE WHEN fr <= (n % 5) * (n // 5 + 1)
       |      THEN (fr + n // 5) // (n // 5 + 1)
       |      ELSE n % 5 + (fr - (n % 5) * (n // 5 + 1) + n // 5 - 1)
       |        // (n // 5) END) AS f_score,
       |    6 - (CASE WHEN mr <= (n % 5) * (n // 5 + 1)
       |      THEN (mr + n // 5) // (n // 5 + 1)
       |      ELSE n % 5 + (mr - (n % 5) * (n // 5 + 1) + n // 5 - 1)
       |        // (n // 5) END) AS m_score
       |  FROM ranked),
       |seg AS (
       |  SELECT *,
       |    CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
       |         WHEN f_score >= 4 THEN 'loyal'
       |         WHEN r_score >= 4 THEN 'recent'
       |         WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
       |         WHEN r_score <= 2 THEN 'hibernating'
       |         ELSE 'regular' END AS segment
       |  FROM scored)
       |SELECT segment, count(*) AS n_users,
       |  CAST(sum(monetary) AS BIGINT) AS monetary_sum_cents,
       |  CAST(CAST(sum(recency_days) AS BIGINT) // CAST(count(*) AS BIGINT)
       |    AS BIGINT) AS avg_recency_days,
       |  sum(($h)::DECIMAL(38,0))::DECIMAL(38,0)::VARCHAR AS ids_checksum
       |FROM seg GROUP BY 1 ORDER BY segment""".stripMargin
  }

  // ------------------------------------------------------------------
  // r45: COMPLEMENT vs SUBSTITUTE classification (the econometric
  // signal behind "frequently bought together" vs "people also
  // considered" — r03/r04 score ASSOCIATION strength but cannot tell
  // a phone+case (bought together, same basket) from Coke+Pepsi
  // (bought by the same people, never together); serving must not
  // recommend a substitute in the cart page): for every item pair
  // bought by ≥5 common customers, same_ratio_ppm = 10⁶ ·
  // (customers with both in ONE basket) div (customers with both
  // ever) — exact integers, one IEEE-free division; labels:
  // substitute (never co-basketed, ppm = 0), complement
  // (ppm ≥ 200000), mixed. Top-30 under (n_both DESC, i, j).
  // Scale: customer-item and basket-pair sets are r03's one-shuffle
  // shapes; both aggs key on the pair; the cross-basket self-join is
  // customer-keyed and bounded by per-customer catalog touch, not
  // order count.
  def r45(s: SparkSession, d: String): DataFrame = {
    val oi = Ratings.orderItems(s, d)
    // pinned (round 14): oc feeds three subtrees (the cb distinct and
    // both sides of the same-basket self-join) — unpinned, each re-ran
    // the orders⋈orderItems build
    val oc = Pin.cut(oi.join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("cust")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey").as("ord"), col("cust"),
        col("l_partkey").as("item")))
    val cb = oc.select("cust", "item").distinct()
    val bothP = cb.as("a").join(cb.as("b"),
        col("a.cust") === col("b.cust") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("i"), col("b.item").as("j"))
      .agg(count(lit(1)).as("n_both"))
    val sameP = oc.as("a").join(oc.as("b"),
        col("a.ord") === col("b.ord") && col("a.item") < col("b.item"))
      .select(col("a.cust").as("cust"), col("a.item").as("i"),
        col("b.item").as("j")).distinct()
      .groupBy("i", "j").agg(count(lit(1)).as("n_same"))
    bothP.join(sameP, Seq("i", "j"), "left")
      .withColumn("n_same", coalesce(col("n_same"), lit(0L)))
      .filter(col("n_both") >= 5)
      .withColumn("same_ppm", expr("(1000000 * n_same) div n_both"))
      .withColumn("label",
        when(col("same_ppm") === 0, "substitute")
          .when(col("same_ppm") >= 200000, "complement")
          .otherwise("mixed"))
      .select("i", "j", "n_both", "n_same", "same_ppm", "label")
      .orderBy(col("n_both").desc, col("i"), col("j"))
      .limit(30)
  }

  val r45Sql: String =
    s"""WITH oi AS (${Ratings.sqlOrderItems}),
       |oc AS (
       |  SELECT oi.l_orderkey AS ord, o_custkey AS cust, l_partkey AS item
       |  FROM oi JOIN orders ON l_orderkey = o_orderkey),
       |cb AS (SELECT DISTINCT cust, item FROM oc),
       |both_p AS (
       |  SELECT a.item AS i, b.item AS j, count(*) AS n_both
       |  FROM cb a JOIN cb b ON a.cust = b.cust AND a.item < b.item
       |  GROUP BY 1, 2),
       |same_p AS (
       |  SELECT i, j, count(*) AS n_same FROM (
       |    SELECT DISTINCT a.cust, a.item AS i, b.item AS j
       |    FROM oc a JOIN oc b ON a.ord = b.ord AND a.item < b.item)
       |  GROUP BY 1, 2)
       |SELECT i, j, n_both, coalesce(n_same, 0) AS n_same,
       |  (1000000 * coalesce(n_same, 0)) // n_both AS same_ppm,
       |  CASE WHEN coalesce(n_same, 0) = 0 THEN 'substitute'
       |       WHEN (1000000 * coalesce(n_same, 0)) // n_both >= 200000
       |         THEN 'complement'
       |       ELSE 'mixed' END AS label
       |FROM both_p LEFT JOIN same_p USING (i, j)
       |WHERE n_both >= 5
       |ORDER BY n_both DESC, i, j LIMIT 30""".stripMargin

  // ------------------------------------------------------------------
  // r46: WILSON LOWER-BOUND popularity ranking — the small-sample
  // correction every "best rated" list needs (Agresti–Coull/Wilson;
  // the classic "how not to sort by average rating"): a 3/3-positive
  // item must NOT outrank a 48/50 one, so items are ordered by the
  // 95% Wilson score interval's LOWER bound on the positive-
  // interaction proportion, not by p̂. Positive = rating ≥ 26 (the
  // quantity scale is uniform 1..50, so ≈ the upper half). Engine
  // parity: n/pos are exact integer aggregates; p̂ and the bound are
  // ONE fixed-shape IEEE chain per item (z and z² appear as the same
  // decimal literals 1.96/3.8416 in both engines — computing z·z
  // would round differently than the literal), rounded 6dp; ties
  // break on item_id. The p̂-vs-bound rank inversion (the op's whole
  // point) is pinned non-vacuously in RecommendSpec. Scale: one
  // map-side-partial groupBy on the ratings matrix, top-20 heap —
  // nothing global but the bounded final sort.
  def r46(s: SparkSession, d: String): DataFrame = {
    val nD = col("n_users").cast("double")
    val ph = col("n_pos").cast("double") / nD
    val num = ph + lit(3.8416) / (lit(2.0) * nD) -
      lit(1.96) * sqrt((ph * (lit(1.0) - ph) + lit(3.8416) / (lit(4.0) * nD)) / nD)
    val den = lit(1.0) + lit(3.8416) / nD
    Ratings.implicitRatings(s, d)
      .groupBy("item_id")
      .agg(count(lit(1)).as("n_users"),
        count(when(col("rating") >= 26.0, lit(1))).as("n_pos"))
      .filter(col("n_users") >= 5)
      .withColumn("phat", round(ph, 6))
      .withColumn("wilson_lb", round(num / den, 6))
      .orderBy(col("wilson_lb").desc, col("item_id"))
      .limit(20)
  }

  val r46Sql: String = {
    val nD = "CAST(n_users AS DOUBLE)"
    val ph = s"(CAST(n_pos AS DOUBLE) / $nD)"
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |stats AS (
       |  SELECT item_id, count(*) AS n_users,
       |    count(CASE WHEN rating >= 26.0 THEN 1 END) AS n_pos
       |  FROM ratings GROUP BY 1 HAVING count(*) >= 5)
       |SELECT item_id, n_users, n_pos,
       |  round($ph, 6) AS phat,
       |  round(($ph + 3.8416 / (2.0 * $nD) -
       |     1.96 * sqrt(($ph * (1.0 - $ph) + 3.8416 / (4.0 * $nD)) / $nD)) /
       |    (1.0 + 3.8416 / $nD), 6) AS wilson_lb
       |FROM stats
       |ORDER BY wilson_lb DESC, item_id LIMIT 20""".stripMargin
  }

  // ------------------------------------------------------------------
  // r47: WEIGHTED SLOPE ONE (Lemire & Maclachlan 2005 — the classic
  // model-free rating predictor: "item i runs diff/c higher than item
  // j among their co-raters; shift each of u's known ratings by that
  // deviation and average, weighted by co-rater support"). The whole
  // predictor is RATIONAL: with integer ratings, the prediction is
  //   P(u,i) = Σ_j (sdiff_ij + r_uj·c_ij) / Σ_j c_ij
  // — exact bigint numerator/denominator, which is what the gate
  // hashes (the 6dp float is one division for UX). Targets are the
  // top-5 most-rated items (data-derived, ties to smallest item), so
  // the deviation table is target-filtered at the source: devs are
  // (5 targets × co-rated j), never the full O(catalog²) matrix —
  // the bounded-panel discipline that survives warehouse scale. Plan:
  // one user-keyed self-join (fan-out ≤5 per rated row) → one (i,j)
  // agg → one j-keyed scoring join + (u,i) agg; already-rated (u,i)
  // pairs leave via an anti-join BEFORE the agg.
  def r47(s: SparkSession, d: String): DataFrame = {
    // the rating matrix feeds FIVE subplans (targets, deviation left +
    // right, scoring history, anti-join) — materialize it once instead
    // of five fact scans (the round-5 redundant-recompute rule)
    val r = Ratings.implicitRatings(s, d)
      .select(col("user_id"), col("item_id"), col("rating").cast("long").as("r"))
      .transform(Pin.cut)
    val top5 = r.groupBy("item_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("item_id")).limit(5)
      .select(col("item_id").as("i"))
    val a = r.join(broadcast(top5), col("item_id") === col("i"))
      .select(col("user_id").as("ua"), col("i"), col("r").as("ri"))
    val devs = a.join(r.select(col("user_id").as("ua"),
        col("item_id").as("j"), col("r").as("rj")), Seq("ua"))
      .filter(col("i") =!= col("j"))
      .groupBy("i", "j")
      .agg(sum(col("ri") - col("rj")).as("sdiff"), count(lit(1)).as("c"))
    val hist = r.select(col("user_id"), col("item_id").as("j"), col("r").as("ruj"))
    val unrated = hist.join(devs, Seq("j"))
      .join(r.select(col("user_id"), col("item_id").as("i")),
        Seq("user_id", "i"), "left_anti")
    unrated.groupBy(col("user_id"), col("i").as("item_id"))
      .agg(sum(col("sdiff") + col("ruj") * col("c")).as("num"),
        sum(col("c")).as("den"))
      .withColumn("pred", round(col("num").cast("double") / col("den"), 6))
      .orderBy("user_id", "item_id")
  }

  val r47Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |r AS (SELECT user_id, item_id, CAST(rating AS BIGINT) AS r FROM ratings),
       |top5 AS (SELECT item_id AS i FROM (
       |  SELECT item_id, count(*) AS n FROM r GROUP BY 1
       |  ORDER BY n DESC, item_id LIMIT 5)),
       |devs AS (
       |  SELECT a.item_id AS i, b.item_id AS j,
       |    sum(a.r - b.r) AS sdiff, count(*) AS c
       |  FROM r a JOIN r b ON a.user_id = b.user_id AND a.item_id <> b.item_id
       |  WHERE a.item_id IN (SELECT i FROM top5)
       |  GROUP BY 1, 2)
       |SELECT u.user_id, d.i AS item_id,
       |  CAST(sum(d.sdiff + u.r * d.c) AS BIGINT) AS num,
       |  CAST(sum(d.c) AS BIGINT) AS den,
       |  round(CAST(sum(d.sdiff + u.r * d.c) AS DOUBLE) / sum(d.c), 6) AS pred
       |FROM r u JOIN devs d ON u.item_id = d.j
       |WHERE NOT EXISTS (SELECT 1 FROM r x
       |  WHERE x.user_id = u.user_id AND x.item_id = d.i)
       |GROUP BY 1, 2 ORDER BY user_id, item_id""".stripMargin

  // ------------------------------------------------------------------
  // r48: ALS USER FOLD-IN (the serving path every production ALS needs
  // and retraining can't give: a user shows up with fresh history and
  // wants recs NOW — solve their factor against the FROZEN item
  // factors instead of refitting the model). Implicit-feedback normal
  // equations (Hu/Koren/Volinsky): x_u = (YᵀY + Σᵢ α·rᵢ·fᵢfᵢᵀ + λI)⁻¹
  // Σᵢ (1+α·rᵢ)·fᵢ — YᵀY is ONE distributed 64-sum pass over the item
  // factors (computed once, not per user), the per-user Gram/rhs sums
  // are one panel-filtered join + agg, and only the 8×8 solves run on
  // the driver (panel-bounded, partial-pivot Gaussian elimination).
  // Because ALS's own final user half-step IS this exact solve, the
  // fold-in factor must land on the trained factor — the gate carries
  // per-user cos_ok (≥0.999 against the model's userFactors) plus a
  // full top-5 serve from the folded factor (bounded panel × one
  // catalog scan, seen items anti-joined). Oracle pins the panel
  // membership (SQL-derivable) and both contracts TRUE.
  def r48(s: SparkSession, d: String): DataFrame = {
    val model = alsModel(s, d)
    // (id int, f array<double>) — pre-cast + pinned, shared with r51
    val items = factorPanel(s, d, "item")
    val rank = 8
    val gram = (0 until rank).flatMap(i => (0 until rank).map(j => (i, j)))
    def f(c: Column, i: Int) = element_at(c, i + 1)
    // YtY: one 64-sum aggregate over all item factors
    val ytyCols = gram.map { case (i, j) =>
      sum(f(col("f"), i) * f(col("f"), j)).as(s"yy_${i}_$j") }
    val yty = items.agg(ytyCols.head, ytyCols.tail: _*).collect()(0)
    val ratings = Ratings.implicitRatings(s, d)
      .select(col("user_id").cast("int").as("uid"),
        col("item_id").cast("int").as("iid"),
        col("rating").cast("double").as("r"))
    // The onboarding panel is ABSOLUTE-bounded, not a fixed fraction:
    // uid % 97 alone scales with the user base, and since the serve is
    // panel × catalog the fold-in demo silently went O(SF²) — the
    // round-10 sf1 soak measured 48× time for 10× data. The uid cap
    // covers the full customer key range at every gate SF (custkey ≤
    // 15000 at sf0.1), so gated results are bit-identical, while at
    // any larger SF the panel — a WORKLOAD knob, not a data property —
    // stays fixed and the serve scales only with the catalog.
    // Pinned (round 14): the panel feeds three consumers (per-user
    // Gram, trained-factor join, the serve's seen-item anti-join) —
    // unpinned, each re-ran the ratings join+agg; and the anti-join
    // only ever matches panel users, so the pinned ~panel-sized frame
    // replaces a full-ratings build side there.
    val panel = Pin.cut(
      ratings.filter(col("uid") % 97 === 0 && col("uid") <= 15000))
    // per-user Gram contributions and rhs, one join + one agg
    val userCols = gram.map { case (i, j) =>
      sum(col("r") * f(col("f"), i) * f(col("f"), j))
        .as(s"g_${i}_$j") } ++
      (0 until rank).map(i =>
        sum((lit(1.0) + col("r")) * f(col("f"), i)).as(s"b_$i")) :+
      // MLlib's solver scales the ridge by the user's positive-rating
      // count (numExplicits · regParam), not a flat λ — match it
      // exactly (same fix as r51's item side)
      sum(when(col("r") > 0, lit(1L)).otherwise(lit(0L))).as("n_pos")
    val perUser = panel.join(items, col("iid") === col("id"))
      .groupBy("uid")
      .agg(userCols.head, userCols.tail: _*)
      .collect()
    val lambda = 0.1
    val folded = perUser.map { row =>
      val ridge = lambda * row.getAs[Long]("n_pos")
      val a = Array.tabulate(rank * rank) { k =>
        val (i, j) = (k / rank, k % rank)
        yty.getAs[Double](s"yy_${i}_$j") + row.getAs[Double](s"g_${i}_$j") +
          (if (i == j) ridge else 0.0)
      }
      val b = Array.tabulate(rank)(i => row.getAs[Double](s"b_$i"))
      row.getAs[Int]("uid") -> solve8(a, b)
    }
    // fold-in must reproduce the trained factor (ALS's own last
    // user half-step is this exact solve); read through the pinned
    // double panel — the cast is the same float→double widening
    val trained = factorPanel(s, d, "user")
      .join(panel.select("uid").distinct(), col("id") === col("uid"))
      .collect().map(r => r.getAs[Int]("id") ->
        r.getAs[Seq[Double]]("f").toArray).toMap
    def cos(x: Array[Double], y: Array[Double]): Double = {
      val (dp, nx, ny) = (x.zip(y).map(p => p._1 * p._2).sum,
        math.sqrt(x.map(v => v * v).sum), math.sqrt(y.map(v => v * v).sum))
      dp / (nx * ny)
    }
    val cosOk = folded.map { case (u, x) => u -> (cos(x, trained(u)) >= 0.999) }
    import s.implicits._
    val foldedDf = broadcast(
      folded.toSeq.map { case (u, x) => (u, x) }.toDF("uid", "xf"))
    // serve top-5 from the folded factor: bounded panel × one catalog
    // scan, seen items anti-joined BEFORE ranking (s17 discipline).
    // The anti-join's build side is the PINNED PANEL, not all ratings:
    // only panel uids appear on the left, so non-panel rows can never
    // match — same result, panel-sized build instead of a full
    // ratings rebuild.
    val scored = foldedDf.crossJoin(items)
      .select(col("uid"), col("id").as("item"),
        graft.functions.VectorOps.dotProduct(col("xf"), col("f")).as("score"))
      .join(panel.select(col("uid"), col("iid").as("item")),
        Seq("uid", "item"), "left_anti")
    val topk = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("uid").orderBy(col("score").desc, col("item"))))
      .filter(col("rn") <= 5)
      .groupBy("uid").agg(count(lit(1)).as("n_recs"))
    val cosDf = broadcast(cosOk.toSeq.toDF("uid", "cos_ok"))
    topk.join(cosDf, Seq("uid"))
      .select(col("uid").cast("long").as("user_id"),
        (col("n_recs") === 5).as("full_slate"), col("cos_ok"))
      .orderBy("user_id")
  }

  /** Test hook for the dense solver (RecommendSpec pins it). */
  private[graft] def solve8ForTest(a: Array[Double], b: Array[Double]): Array[Double] =
    solve8(a, b)

  /** 8×8 dense solve, partial-pivot Gaussian elimination. */
  private def solve8(a: Array[Double], b: Array[Double]): Array[Double] = {
    val n = 8
    val m = Array.tabulate(n, n + 1)((i, j) => if (j < n) a(i * n + j) else b(i))
    for (c0 <- 0 until n) {
      val piv = (c0 until n).maxBy(r => math.abs(m(r)(c0)))
      val t = m(piv); m(piv) = m(c0); m(c0) = t
      for (r <- c0 + 1 until n) {
        val fac = m(r)(c0) / m(c0)(c0)
        for (c <- c0 to n) m(r)(c) -= fac * m(c0)(c)
      }
    }
    val x = new Array[Double](n)
    for (i <- n - 1 to 0 by -1) {
      var acc = m(i)(n)
      for (j <- i + 1 until n) acc -= m(i)(j) * x(j)
      x(i) = acc / m(i)(i)
    }
    x
  }

  val r48Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT CAST(user_id AS BIGINT) AS user_id,
       |  true AS full_slate, true AS cos_ok
       |FROM (SELECT DISTINCT user_id FROM ratings
       |      WHERE user_id % 97 = 0 AND user_id <= 15000)
       |ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------------
  // r51: ALS ITEM FOLD-IN (the symmetric half of r48's
  // serving-without-retrain story — a NEW ITEM arrives with its first
  // interactions and the catalog must surface it NOW: solve the
  // item's factor against the FROZEN user factors instead of
  // refitting). Implicit normal equations, item side (Hu/Koren/
  // Volinsky): y_i = (XᵀX + Σ_u α·r_u·x_u x_uᵀ + λ·n⁺_i·I)⁻¹ Σ_u
  // (1+α·r_u)·x_u, with the ridge scaled by the item's positive-rating
  // count n⁺_i exactly as MLlib's solver scales it (numExplicits ·
  // regParam) — XᵀX is ONE distributed 64-sum pass over the user
  // factors, per-item Gram/rhs one panel-filtered join + agg, 8×8
  // solves driver-side (panel-bounded). One honest asymmetry vs r48:
  // MLlib updates itemFactors from the PREVIOUS user half-step and
  // userFactors LAST, so the 5-iter model's item factor lags the
  // fold-in by one half-step (measured: most panel cosines land
  // BELOW 0.999 — not a valid gate). The exact target exists anyway:
  // the seed-pinned ALS trajectory is deterministic, so a maxIter=6
  // fit replays iterations 1..5 bit-identically and its itemFactors
  // ARE the item half-step against the 5-iter model's final
  // userFactors — i.e. MLlib's own blocked solver computing the same
  // normal equations this fold-in assembles. cos_ok ≥ 0.999 against
  // THAT is the gate (non-circular: their solver vs ours; float32
  // factor storage is the only slack). The served slate is
  // "users-to-notify": top-5 users per folded item by x_uᵀy_i with
  // already-interacting users anti-joined BEFORE ranking (s17
  // discipline). Oracle pins panel membership + both contracts.
  // Scale: XtX one treeless agg over |users|×64 doubles; scoring is
  // panel × one user-factor scan; nothing is O(catalog).
  def r51(s: SparkSession, d: String): DataFrame = {
    val model = alsModel(s, d)
    // (id int, f array<double>) — pre-cast + pinned, shared with r48
    val users = factorPanel(s, d, "user")
    val rank = 8
    val gram = (0 until rank).flatMap(i => (0 until rank).map(j => (i, j)))
    def f(c: Column, i: Int) = element_at(c, i + 1)
    // XtX: one 64-sum aggregate over all user factors
    val xtxCols = gram.map { case (i, j) =>
      sum(f(col("f"), i) * f(col("f"), j)).as(s"xx_${i}_$j") }
    val xtx = users.agg(xtxCols.head, xtxCols.tail: _*).collect()(0)
    val ratings = Ratings.implicitRatings(s, d)
      .select(col("user_id").cast("int").as("uid"),
        col("item_id").cast("int").as("iid"),
        col("rating").cast("double").as("r"))
    // Absolute panel bound, same reasoning as r48: iid % 89 alone
    // grows with the catalog and the users-to-notify serve is panel ×
    // user base — O(SF²) (48× for 10× data in the round-10 soak). The
    // cap covers the full part key range at every gate SF (partkey ≤
    // 20000 at sf0.1) so gated results are bit-identical.
    // Pinned (round 14) — same three-consumer reasoning as r48's.
    val panel = Pin.cut(
      ratings.filter(col("iid") % 89 === 0 && col("iid") <= 20000))
    // per-item Gram contributions and rhs, one join + one agg
    val itemCols = gram.map { case (i, j) =>
      sum(col("r") * f(col("f"), i) * f(col("f"), j))
        .as(s"g_${i}_$j") } ++
      (0 until rank).map(i =>
        sum((lit(1.0) + col("r")) * f(col("f"), i)).as(s"b_$i")) :+
      // MLlib scales the ridge term by the item's positive-rating
      // count (numExplicits · regParam in its solver), not a flat λ —
      // a flat λ passed the 0.999 gate only because the all-users XtX
      // term dominates; matching the count-scaled solve removes that
      // data-dependent margin
      sum(when(col("r") > 0, lit(1L)).otherwise(lit(0L))).as("n_pos")
    val perItem = panel.join(users, col("uid") === col("id"))
      .groupBy("iid")
      .agg(itemCols.head, itemCols.tail: _*)
      .collect()
    val lambda = 0.1
    val folded = perItem.map { row =>
      val ridge = lambda * row.getAs[Long]("n_pos")
      val a = Array.tabulate(rank * rank) { k =>
        val (i, j) = (k / rank, k % rank)
        xtx.getAs[Double](s"xx_${i}_$j") + row.getAs[Double](s"g_${i}_$j") +
          (if (i == j) ridge else 0.0)
      }
      val b = Array.tabulate(rank)(i => row.getAs[Double](s"b_$i"))
      row.getAs[Int]("iid") -> solve8(a, b)
    }
    // the exact fold-in target: itemFactors of the 6-iter replay (the
    // item half-step MLlib itself computes from the 5-iter model's
    // final user factors)
    val target = alsModelIters(s, d, 6).itemFactors
      .join(panel.select("iid").distinct(), col("id") === col("iid"))
      .collect().map(r => r.getAs[Int]("id") ->
        r.getAs[Seq[Float]]("features").map(_.toDouble).toArray).toMap
    def cos(x: Array[Double], y: Array[Double]): Double = {
      val (dp, nx, ny) = (x.zip(y).map(p => p._1 * p._2).sum,
        math.sqrt(x.map(v => v * v).sum), math.sqrt(y.map(v => v * v).sum))
      dp / (nx * ny)
    }
    val cosOk = folded.map { case (i, y) => i -> (cos(y, target(i)) >= 0.999) }
    import s.implicits._
    val foldedDf = broadcast(
      folded.toSeq.map { case (i, y) => (i, y) }.toDF("iid", "yf"))
    // users-to-notify: bounded item panel × one user-factor scan,
    // already-interacting users anti-joined BEFORE ranking
    val scored = foldedDf.crossJoin(users)
      .select(col("iid"), col("id").as("cand_user"),
        graft.functions.VectorOps.dotProduct(col("yf"), col("f")).as("score"))
      .join(panel.select(col("iid"), col("uid").as("cand_user")),
        Seq("iid", "cand_user"), "left_anti")
    val topk = scored
      .withColumn("rn", row_number().over(
        Window.partitionBy("iid").orderBy(col("score").desc, col("cand_user"))))
      .filter(col("rn") <= 5)
      .groupBy("iid").agg(count(lit(1)).as("n_notify"))
    val cosDf = broadcast(cosOk.toSeq.toDF("iid", "cos_ok"))
    topk.join(cosDf, Seq("iid"))
      .select(col("iid").cast("long").as("item_id"),
        (col("n_notify") === 5).as("full_slate"), col("cos_ok"))
      .orderBy("item_id")
  }

  val r51Sql: String =
    s"""WITH ratings AS (${Ratings.sqlRatings})
       |SELECT CAST(item_id AS BIGINT) AS item_id,
       |  true AS full_slate, true AS cos_ok
       |FROM (SELECT DISTINCT item_id FROM ratings
       |      WHERE item_id % 89 = 0 AND item_id <= 20000)
       |ORDER BY item_id""".stripMargin

  // ------------------------------------------------------------------
  // r49: DAMPED BIAS BASELINE (Koren's μ + b_u + b_i — "most of the
  // signal in a rating is who rates and what gets rated"; the
  // predictor every Netflix-Prize system subtracts BEFORE factorizing,
  // and the honest bar any MF model must beat; r08 stops at item
  // means): b_i = Σ_{R(i)}(r − μ)/(λ + |R(i)|), b_u = Σ_{R(u)}(r − μ −
  // b_i)/(λ + |R(u)|), λ = 5 — the damping is what keeps a 1-rating
  // item from claiming its full residual. Engine parity: the entire
  // chain is FIXED-POINT micro-unit integer arithmetic with explicit
  // floor division at each stage — and since Spark's `div` truncates
  // toward zero while DuckDB's `//` floors, negative residuals would
  // silently disagree: every division goes through the OFFSET trick,
  // (num + 10¹⁰·den) div den − 10¹⁰, which makes truncation equal
  // floor on both engines for any sign. Test SSE accumulates squared
  // CENTI-unit errors (each micro residual floored to centi via the
  // offset trick) in plain BIGINT — keeping the whole gate inside the
  // BIGINT core every DuckDB build shares (micro² needed HUGEINT, a
  // construct no other oracle uses; see the round-10 note below) —
  // summarized by the ZERO-FLOAT fixed point mse_item_centi2 =
  // sse div n_test (the round-7 driver gate flipped the old
  // round(sqrt(·),6) — a 1-ulp sqrt difference in the driver's DuckDB
  // lands on a 6dp tie; RMSE for human eyes is sqrt(mse)/100,
  // computed by the CONSUMER); the gate also carries
  // improved = SSE_bias ≤ SSE_itemmean against r08's model in the
  // same fixed point — each term must EARN its keep, and the verdicts
  // are honest: DAMPING wins (shrinking sparse items toward μ beats
  // r08's raw item means — the classic regularization effect), while
  // the USER term measurably loses here (ratings are order
  // quantities, which carry no per-user effect, so b_u is pure
  // variance — the s21 discipline: pin what the data actually says,
  // don't assert a gain it cannot express). Plan: r08's split
  // artifact, two keyed aggs (item, user) + broadcast joins onto one
  // test scan.
  def r49(s: SparkSession, d: String): DataFrame = {
    val ratings = Split.tagTest(Ratings.implicitRatings(s, d),
      Seq("user_id", "item_id"))
      .select(col("user_id"), col("item_id"),
        (col("rating").cast("decimal(12,2)") * 1000000).cast("long").as("rm"),
        col("is_test"))
      .transform(Pin.cut) // split feeds 5 subplans
    val train = ratings.filter(!col("is_test"))
    val test = ratings.filter(col("is_test"))
    def floorDiv(num: Column, den: Column): Column =
      expr("(__num + 10000000000 * __den) div __den - 10000000000")
    val g = train.agg(sum(col("rm")).as("s"), count(lit(1)).as("n"))
    val mu = broadcast(g.select(
      expr("(s + 10000000000 * n) div n - 10000000000").as("mu")))
    val bi = train.crossJoin(mu).groupBy("item_id")
      .agg(sum(col("rm") - col("mu")).as("__num"),
        (count(lit(1)) + 5).as("__den"),
        // r08-comparable item-mean in the same fixed point
        sum(col("rm")).as("ims"), count(lit(1)).as("imn"))
      .select(col("item_id"), floorDiv(col("__num"), col("__den")).as("bi"),
        expr("(ims + 10000000000 * imn) div imn - 10000000000").as("im"))
    val bu = train
      .join(broadcast(bi.select(col("item_id"), col("bi"))), Seq("item_id"))
      .crossJoin(mu)
      .groupBy("user_id")
      .agg(sum(col("rm") - col("mu") - col("bi")).as("__num"),
        (count(lit(1)) + 5).as("__den"))
      .select(col("user_id"), floorDiv(col("__num"), col("__den")).as("bu"))
    val scored = test
      .join(broadcast(bi), Seq("item_id"), "left")
      .join(broadcast(bu), Seq("user_id"), "left")
      .crossJoin(mu)
      .select(col("rm"),
        (col("mu") + coalesce(col("bi"), lit(0L))).as("p_item"),
        (col("mu") + coalesce(col("bi"), lit(0L)) +
          coalesce(col("bu"), lit(0L))).as("p_full"),
        coalesce(col("im"), col("mu")).as("p_im"))
    // Round-10: the error chain floors each residual from micro to
    // CENTI units (offset trick — residuals can be negative) and
    // accumulates centi² squared errors in plain BIGINT. Micro² sums
    // needed HUGEINT products + a HUGEINT // division in the oracle,
    // and this key was the ONLY one in the suite exercising those —
    // version-sensitive DuckDB surface, and the prime suspect for the
    // three-rounds-running driver-only hash fail (the identical SQL
    // passes bit-for-bit on local DuckDB 1.0.0). Centi² keeps the
    // whole gate in the BIGINT core every DuckDB build shares:
    // |e_centi| ≤ ~10⁶ here, so the sums hold exactly to ~10⁹ test
    // rows; past that, lift the sums to DECIMAL(38,0). The x-probe
    // battery (ops/Probes.scala) still pins the HUGEINT constructs
    // independently so the driver run names them if they diverge.
    def errC(p: String) =
      expr(s"((rm - $p) + 1000000000000) div 100 - 10000000000")
    val errs = scored
      .withColumn("e_im", errC("p_im"))
      .withColumn("e_item", errC("p_item"))
      .withColumn("e_full", errC("p_full"))
    def sse(e: String) = sum(col(e) * col(e))
    errs.crossJoin(broadcast(g.select(col("n").as("n_train"))))
      .groupBy("n_train")
      .agg(count(lit(1)).as("n_test"),
        sse("e_im").as("sse_itemmean_c2"),
        sse("e_item").as("sse_item_c2"),
        sse("e_full").as("sse_full_c2"))
      .select(col("n_train"), col("n_test"),
        col("sse_itemmean_c2"), col("sse_item_c2"), col("sse_full_c2"),
        // exact MSE in centi² units (floor; RMSE = sqrt(mse)/100 for
        // human eyes — the round-7 driver gate proved round(sqrt(),6)
        // is a cross-engine rounding-tie hazard, so the gated column
        // is the division-only fixed point; operands positive, so
        // Spark div == DuckDB //)
        expr("sse_item_c2 div n_test").as("mse_item_centi2"),
        (col("sse_item_c2") <= col("sse_itemmean_c2")).as("shrinkage_wins"),
        (col("sse_full_c2") <= col("sse_item_c2")).as("user_term_wins"))
  }

  val r49Sql: String = {
    def fd(num: String, den: String) =
      s"($num + 10000000000 * ($den)) // ($den) - 10000000000"
    // Every aggregate's type chain is SPELLED OUT (count(*)→BIGINT,
    // sum→BIGINT cast): nothing is left to the engine's default typing.
    // Round-10: the squared-error chain runs in centi² BIGINT (see the
    // r49 Scaladoc) — the previous micro² form needed HUGEINT products
    // and a HUGEINT // division, constructs no other oracle in the
    // suite uses and the prime suspects for the driver-only hash fail.
    s"""WITH ratings AS (${Ratings.sqlRatings}),
       |tagged AS (
       |  SELECT user_id, item_id,
       |    CAST(CAST(rating AS DECIMAL(12,2)) * 1000000 AS BIGINT) AS rm,
       |    ${Split.sqlIsTest(Seq("user_id", "item_id"))} AS is_test
       |  FROM ratings),
       |train AS (SELECT * FROM tagged WHERE NOT is_test),
       |test AS (SELECT * FROM tagged WHERE is_test),
       |g AS (SELECT CAST(sum(rm) AS BIGINT) AS s,
       |  CAST(count(*) AS BIGINT) AS n FROM train),
       |mu AS (SELECT ${fd("s", "n")} AS mu FROM g),
       |bi AS (
       |  SELECT item_id,
       |    ${fd("CAST(sum(rm - (SELECT mu FROM mu)) AS BIGINT)",
      "CAST(count(*) AS BIGINT) + 5")} AS bi,
       |    ${fd("CAST(sum(rm) AS BIGINT)", "CAST(count(*) AS BIGINT)")} AS im
       |  FROM train GROUP BY 1),
       |bu AS (
       |  SELECT user_id,
       |    ${fd("CAST(sum(t.rm - (SELECT mu FROM mu) - b.bi) AS BIGINT)",
      "CAST(count(*) AS BIGINT) + 5")} AS bu
       |  FROM train t JOIN bi b ON t.item_id = b.item_id GROUP BY 1),
       |scored AS (
       |  SELECT t.rm,
       |    (SELECT mu FROM mu) + coalesce(b.bi, 0) AS p_item,
       |    (SELECT mu FROM mu) + coalesce(b.bi, 0) + coalesce(u.bu, 0)
       |      AS p_full,
       |    coalesce(b.im, (SELECT mu FROM mu)) AS p_im
       |  FROM test t LEFT JOIN bi b ON t.item_id = b.item_id
       |  LEFT JOIN bu u ON t.user_id = u.user_id),
       |errs AS (
       |  SELECT
       |    ((rm - p_im) + 1000000000000) // 100 - 10000000000 AS e_im,
       |    ((rm - p_item) + 1000000000000) // 100 - 10000000000 AS e_item,
       |    ((rm - p_full) + 1000000000000) // 100 - 10000000000 AS e_full
       |  FROM scored)
       |SELECT CAST((SELECT n FROM g) AS BIGINT) AS n_train,
       |  CAST(count(*) AS BIGINT) AS n_test,
       |  CAST(sum(e_im * e_im) AS BIGINT) AS sse_itemmean_c2,
       |  CAST(sum(e_item * e_item) AS BIGINT) AS sse_item_c2,
       |  CAST(sum(e_full * e_full) AS BIGINT) AS sse_full_c2,
       |  CAST(CAST(sum(e_item * e_item) AS BIGINT)
       |    // CAST(count(*) AS BIGINT) AS BIGINT) AS mse_item_centi2,
       |  CAST(CAST(sum(e_item * e_item) AS BIGINT) <=
       |    CAST(sum(e_im * e_im) AS BIGINT) AS BOOLEAN)
       |    AS shrinkage_wins,
       |  CAST(CAST(sum(e_full * e_full) AS BIGINT) <=
       |    CAST(sum(e_item * e_item) AS BIGINT) AS BOOLEAN)
       |    AS user_term_wins
       |FROM errs""".stripMargin
  }

  // ------------------------------------------------------------------
  // r50: COHORT LTV CURVES (the growth-analytics table behind every
  // "payback period" decision — e29's retention matrix counts WHO
  // comes back; LTV accumulates what they're WORTH: cumulative
  // revenue per acquisition cohort as a function of account age):
  // cohort = a customer's first-order month, age = whole months since
  // (exact y·12+m integer difference, no date arithmetic drift),
  // revenue in exact CENTS, the cumulative curve via one cohort-keyed
  // ordered window, and ltv_cents_per_cust as a floor division over
  // the cohort's size. Scale: one fact scan → customer-keyed min
  // (first order) → (cohort, age) grain map-side under a second scan
  // pass; the cumulative window is keyed by cohort and bounded by the
  // calendar, never by customers.
  def r50(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_custkey"),
      (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
        .as("mi"),
      (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
        .as("cents"))
      .transform(Pin.cut) // feeds the cohort min AND the revenue grain
    val cohorts = o.groupBy("o_custkey").agg(min(col("mi")).as("cohort_mi"))
    val sizes = cohorts.groupBy("cohort_mi")
      .agg(count(lit(1)).as("n_customers"))
    val grain = o.join(cohorts, Seq("o_custkey"))
      .groupBy(col("cohort_mi"), (col("mi") - col("cohort_mi")).as("age"))
      .agg(sum(col("cents")).as("rev_cents"))
    val w = Window.partitionBy("cohort_mi").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grain
      .withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(sizes), Seq("cohort_mi"))
      .select(
        concat(format_string("%04d", expr("cohort_mi div 12")),
          lit("-"), format_string("%02d", col("cohort_mi") % 12 + 1))
          .as("cohort"),
        col("age"), col("n_customers"), col("rev_cents"), col("cum_cents"),
        expr("cum_cents div n_customers").as("ltv_cents_per_cust"))
      .orderBy("cohort", "age")
  }

  val r50Sql: String =
    """WITH o AS (
      |  SELECT o_custkey,
      |    year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |cohorts AS (SELECT o_custkey, min(mi) AS cohort_mi FROM o GROUP BY 1),
      |sizes AS (SELECT cohort_mi, count(*) AS n_customers
      |  FROM cohorts GROUP BY 1),
      |grain AS (
      |  SELECT c.cohort_mi, o.mi - c.cohort_mi AS age,
      |    CAST(sum(o.cents) AS BIGINT) AS rev_cents
      |  FROM o JOIN cohorts c ON o.o_custkey = c.o_custkey
      |  GROUP BY 1, 2),
      |cum AS (
      |  SELECT *, CAST(sum(rev_cents) OVER (PARTITION BY cohort_mi
      |    ORDER BY age ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS BIGINT) AS cum_cents
      |  FROM grain)
      |SELECT printf('%04d-%02d', cohort_mi // 12, cohort_mi % 12 + 1)
      |    AS cohort,
      |  age, s.n_customers, rev_cents, cum_cents,
      |  CAST(cum_cents // s.n_customers AS BIGINT) AS ltv_cents_per_cust
      |FROM cum JOIN sizes s USING (cohort_mi)
      |ORDER BY cohort, age""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r50_cohort_ltv" -> (r50 _),
    "r49_bias_baseline" -> (r49 _),
    "r51_item_foldin" -> (r51 _),
    "r48_als_foldin" -> (r48 _),
    "r47_slope_one" -> (r47 _),
    "r46_wilson_ci" -> (r46 _),
    "r45_complements" -> (r45 _),
    "r44_rfm_features" -> (r44 _),
    "r43_seq_eval" -> (r43 _),
    "r42_neg_sampling" -> (r42 _),
    "r41_sppmi" -> (r41 _),
    "r40_ucb_bandit" -> (r40 _),
    "r39_epsilon_greedy" -> (r39 _),
    "r38_coverage_novelty" -> (r38 _),
    "r37_auc" -> (r37 _),
    "r36_basket_rules" -> (r36 _),
    "r35_segment_parity" -> (r35 _),
    "r34_two_stage" -> (r34 _),
    "r33_ips_eval" -> (r33 _),
    "r32_interleaving" -> (r32 _),
    "r31_gini_exposure" -> (r31 _),
    "r30_rank_fusion" -> (r30 _),
    "r29_calibration" -> (r29 _),
    "r28_decayed_popularity" -> (r28 _),
    "r27_next_basket" -> (r27 _),
    "r26_user_knn" -> (r26 _),
    "r25_explanations" -> (r25 _),
    "r24_content_coldstart" -> (r24 _),
    "r23_mmr_diversity" -> (r23 _),
    "r19_serving_health" -> (r19 _),
    "r18_serving_payload" -> (r18 _),
    "r17_ndcg" -> (r17 _),
    "r20_map_recall" -> (r20 _),
    "r21_als_tuning" -> (r21 _),
    "r22_cold_start" -> (r22 _),
    "r16_ann_serving" -> (r16 _),
    "r13_item_users" -> (r13 _),
    "r14_als_rmse" -> (r14 _),
    "r15_model_persist" -> (r15 _),
    "r12_cf_precision" -> (r12 _),
    "r09_rating_histogram" -> (r09 _),
    "r10_user_segments" -> (r10 _),
    "r01_ratings_matrix" -> (r01 _),
    "r02_popularity_topk" -> (r02 _),
    "r03_cooccurrence" -> (r03 _),
    "r04_item_similarity" -> (r04 _),
    "r05_user_recs" -> (r05 _),
    "r06_als_recommend" -> (r06 _),
    "r07_als_item_factors" -> (r07 _),
    "r08_baseline_rmse" -> (r08 _),
    "r11_als_item_neighbors" -> (r11 _))

  val oracles: Map[String, String] = Map(
    "r50_cohort_ltv" -> r50Sql,
    "r49_bias_baseline" -> r49Sql,
    "r51_item_foldin" -> r51Sql,
    "r48_als_foldin" -> r48Sql,
    "r47_slope_one" -> r47Sql,
    "r46_wilson_ci" -> r46Sql,
    "r45_complements" -> r45Sql,
    "r44_rfm_features" -> r44Sql,
    "r43_seq_eval" -> r43Sql,
    "r42_neg_sampling" -> r42Sql,
    "r41_sppmi" -> r41Sql,
    "r40_ucb_bandit" -> r40Sql,
    "r39_epsilon_greedy" -> r39Sql,
    "r38_coverage_novelty" -> r38Sql,
    "r37_auc" -> r37Sql,
    "r36_basket_rules" -> r36Sql,
    "r35_segment_parity" -> r35Sql,
    "r34_two_stage" -> r34Sql,
    "r33_ips_eval" -> r33Sql,
    "r32_interleaving" -> r32Sql,
    "r31_gini_exposure" -> r31Sql,
    "r30_rank_fusion" -> r30Sql,
    "r29_calibration" -> r29Sql,
    "r28_decayed_popularity" -> r28Sql,
    "r27_next_basket" -> r27Sql,
    "r26_user_knn" -> r26Sql,
    "r25_explanations" -> r25Sql,
    "r24_content_coldstart" -> r24Sql,
    "r23_mmr_diversity" -> r23Sql,
    "r19_serving_health" -> r19Sql,
    "r18_serving_payload" -> r18Sql,
    "r17_ndcg" -> r17Sql,
    "r20_map_recall" -> r20Sql,
    "r21_als_tuning" -> r21Sql,
    "r22_cold_start" -> r22Sql,
    "r06_als_recommend" -> r06Sql,
    "r07_als_item_factors" -> r07Sql,
    "r11_als_item_neighbors" -> r11Sql,
    "r13_item_users" -> r13Sql,
    "r14_als_rmse" -> r14Sql,
    "r16_ann_serving" -> r16Sql,
    "r15_model_persist" -> r15Sql,
    "r12_cf_precision" -> r12Sql,
    "r09_rating_histogram" -> r09Sql,
    "r10_user_segments" -> r10Sql,
    "r01_ratings_matrix" -> r01Sql,
    "r02_popularity_topk" -> r02Sql,
    "r03_cooccurrence" -> r03Sql,
    "r04_item_similarity" -> r04Sql,
    "r05_user_recs" -> r05Sql,
    "r08_baseline_rmse" -> r08Sql)
}
