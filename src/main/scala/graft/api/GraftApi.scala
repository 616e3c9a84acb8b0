package graft.api

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextNorm, VectorOps}
import graft.ops.Pin

/** The schema-parameterized public surface of the engine.
  *
  * Every operator in `graft.ops` is gated against a DuckDB oracle on
  * the test corpus, which pins its column names and constants; these
  * kernels are the same computations lifted to `(DataFrame, column
  * names, parameters)` so a user can run them on their OWN frames
  * without touching the test schema. Most gated keys call a kernel
  * here (as `api.Obj.name`), so the oracle gate doubles as that
  * kernel's correctness proof. The public kernels no gated key runs
  * are listed with their reasons in ApiCoverageSpec, which fails on a
  * new public kernel that has neither a gated caller nor a reason.
  *
  * As-of joins are already schema-parameterized at
  * [[graft.plans.AsOf.join]] (custom sort-merge SparkPlan; backward /
  * forward / nearest, inner or left_outer).
  *
  * Scale notes are per-method; the common contract: every shuffle is
  * keyed (band/bucket, id, group), nothing here materializes an
  * all-pairs product, and caps bound worst-case skew fan-out.
  */
object Dedup {

  /** Word n-gram shingles over a materialized token-array column
    * (materialized: inlining the tokenizer would re-expand it into
    * every element access). Arrays shorter than n yield an EMPTY
    * list — without the guard, sequence(0, negative) counts DOWN and
    * null-padded concat_ws would emit phantom shingles that read as
    * false duplicate matches downstream. */
  def shingles(toks: Column, n: Int = 3): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(j => get(toks, i + j)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Exact-duplicate groups: normalized-text fingerprint → group rows
    * (fp, n_docs, keep, drop_max). `keep` is the lowest id — the
    * deterministic survivor rule. One keyed shuffle on the
    * fingerprint. Output: fp, n_docs, keep, drop_max (groups with
    * n_docs > 1 are the duplicates). */
  def exactGroups(df: DataFrame, id: String, text: String): DataFrame =
    df.select(col(id),
        md5(regexp_replace(lower(col(text)), "[^a-z0-9 ]", "")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min(col(id)).as("keep"),
        max(col(id)).as("drop_max"))

  /** MinHash signatures: k permutation-mins over hash56'd word-trigram
    * shingles (docs under 3 tokens have no trigram and are dropped).
    * Map-side only — no shuffle. Output: (id, sig: array<bigint>). */
  def minhashSignatures(df: DataFrame, id: String, text: String,
      k: Int = 16): DataFrame =
    df.select(col(id), col(text).as("__text"))
      .withColumn("__toks", TextNorm.tokens(col("__text")))
      .filter(size(col("__toks")) >= 3)
      .withColumn("__sh", shingles(col("__toks")))
      .withColumn("__hs", transform(col("__sh"), t => Hashing.hash56(t)))
      .select(col(id), Hashing.minhash(col("__hs"), k).as("sig"))

  /** (id, band, bucket) rows from a signature frame — the LSH shuffle
    * key. bands must divide k. */
  def bandBuckets(sigs: DataFrame, id: String, k: Int = 16,
      bands: Int = 4): DataFrame = {
    require(k % bands == 0, s"bands=$bands must divide k=$k")
    val rows = k / bands
    val bandStructs = (0 until bands).map { b =>
      val sliceStr = concat_ws("_",
        transform(slice(col("sig"), b * rows + 1, rows), x => x.cast("string")))
      struct(lit(b).as("band"), Hashing.hash56(sliceStr).as("bucket"))
    }
    sigs.select(col(id), explode(array(bandStructs: _*)).as("bb"))
      .select(col(id), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Keep the `cap` lowest ids per (band, bucket): a degenerate bucket
    * (mass-produced boilerplate) would otherwise make the bucket
    * self-join quadratic in bucket size; capping bounds it at cap²
    * while every duplicate class keeps a representative cluster. */
  def capBuckets(bb: DataFrame, id: String, cap: Int): DataFrame =
    bb.withColumn("__rn", row_number().over(
        Window.partitionBy("band", "bucket").orderBy(id)))
      .filter(col("__rn") <= cap).drop("__rn")

  /** LSH candidate pairs (a < b, distinct): same (band, bucket) after
    * the hot-bucket cap. The shuffle key is (band, bucket) — never
    * all-pairs; at 100 TB tune (k, bands) for candidate volume and
    * `cap` for skew. */
  def lshCandidates(df: DataFrame, id: String, text: String,
      k: Int = 16, bands: Int = 4, bucketCap: Int = 64): DataFrame = {
    val bb = capBuckets(
      bandBuckets(minhashSignatures(df, id, text, k), id, k, bands), id,
      bucketCap)
    val a = bb.select(col("band"), col("bucket"), col(id).as("a"))
    val b = bb.select(col("band").as("band2"), col("bucket").as("bucket2"),
      col(id).as("b"))
    a.join(b, col("band") === col("band2") && col("bucket") === col("bucket2")
        && col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** LSH candidates verified by exact shingle-set Jaccard ≥ threshold.
    * The expensive exact comparison touches ONLY candidate pairs.
    * Output: (a, b, inter, uni, jaccard). */
  def nearDuplicates(df: DataFrame, id: String, text: String,
      threshold: Double = 0.6, k: Int = 16, bands: Int = 4,
      bucketCap: Int = 64): DataFrame = {
    val sh = df
      .withColumn("__toks", TextNorm.tokens(col(text)))
      .filter(size(col("__toks")) >= 3)
      .select(col(id), array_distinct(shingles(col("__toks"))).as("sh"))
    lshCandidates(df, id, text, k, bands, bucketCap)
      .join(sh.select(col(id).as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col(id).as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(array_union(col("sha"), col("shb"))))
      .withColumn("jaccard",
        round(col("inter").cast("double") / col("uni"), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "inter", "uni", "jaccard")
  }

  /** One-call duplicate CLUSTERING (the d08/d13-gated rollup shape on
    * any frame): exact-duplicate edges (doc → its fingerprint group's
    * min id) unioned with verified near-duplicate pairs, connected
    * components over the union ([[Graph.connectedComponents]] — the
    * alternating-star kernel), then the cluster rollup. Output:
    * (cluster, n_docs, keep, drop_max) for clusters with n_docs > 1;
    * `keep` is the deterministic lowest-id survivor — for a
    * quality-aware canonical pick, join the members back and argmax
    * your own score per cluster. Cost: the LSH candidate pass + two
    * keyed CC rounds per log-diameter level; nothing all-pairs. */
  def duplicateClusters(df: DataFrame, id: String, text: String,
      threshold: Double = 0.6, k: Int = 16, bands: Int = 4,
      bucketCap: Int = 64): DataFrame = {
    val fp = df.select(col(id),
      md5(regexp_replace(lower(col(text)), "[^a-z0-9 ]", "")).as("__fp"))
    val exactEdges = fp
      .join(fp.groupBy("__fp").agg(min(col(id)).as("__keep")), "__fp")
      .filter(col(id) =!= col("__keep"))
      .select(col(id).as("a"), col("__keep").as("b"))
    val nearEdges = nearDuplicates(df, id, text, threshold, k, bands,
      bucketCap).select("a", "b")
    Graph.connectedComponents(exactEdges.union(nearEdges), "a", "b")
      .groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("node")).as("keep"), max(col("node")).as("drop_max"))
      .filter(col("n_docs") > 1)
  }
}

/** Text-analysis kernels over a free-text column. */
object Text {

  /** The engine-wide tokenizer: NFC-normalize, then letter/digit runs
    * (identical semantics in Java regex and DuckDB RE2 — the property
    * every oracle gate leans on). */
  def tokens(text: Column): Column = TextNorm.tokens(text)

  /** Append `n_tokens` and `quality_ppm` — an exact INTEGER quality
    * score in parts-per-million (the p15-gated formula): half the
    * score from length saturation (full marks at `fullLengthTokens`),
    * half from the non-stopword fraction, all positive integer
    * arithmetic so the score is bit-identical on any engine and safe
    * to use as a grouping key (a float score flips grain rows on
    * cross-engine rounding ties). Zero-token rows score 0. */
  def withQualityPpm(df: DataFrame, text: String,
      stopwords: Seq[String] = Nil,
      fullLengthTokens: Int = 100): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    df.withColumn("__toks", TextNorm.tokens(col(text)))
      .withColumn("n_tokens", size(col("__toks")))
      .withColumn("__ns",
        if (stopwords.isEmpty) lit(0)
        else size(filter(col("__toks"), t => array_contains(stopArr, t))))
      .withColumn("quality_ppm",
        when(col("n_tokens") > 0,
          least(lit(500000L),
            expr(s"(cast(500000 as bigint) * n_tokens) div $fullLengthTokens")) +
          expr("(cast(500000 as bigint) * (n_tokens - __ns)) div n_tokens"))
        .otherwise(lit(0L)))
      .drop("__toks", "__ns")
  }

  /** Marker-word language ID (the n-gram-free heuristic the t03 gate
    * pins): count caller-supplied marker words per language, predict
    * the argmax with ties broken by marker order. Output:
    * (id, c_<lang>..., predicted). */
  def languageId(df: DataFrame, id: String, text: String,
      markers: Seq[(String, Seq[String])]): DataFrame = {
    require(markers.nonEmpty, "languageId needs at least one language")
    val withToks = df.select(col(id), TextNorm.tokens(col(text)).as("__toks"))
    val counted = markers.foldLeft(withToks) { case (acc, (lang, words)) =>
      val arr = array(words.map(lit): _*)
      acc.withColumn(s"c_$lang",
        size(filter(col("__toks"), t => array_contains(arr, t))))
    }
    val langs = markers.map(_._1)
    val pred =
      if (langs.size == 1) lit(langs.head)
      else langs.init.zipWithIndex.foldLeft(None: Option[Column]) {
        case (acc, (lang, i)) =>
          val rest = langs.drop(i + 1).map(l => col(s"c_$l"))
          val cond = col(s"c_$lang") >= rest.reduce((a, b) => greatest(a, b))
          Some(acc.fold(when(cond, lang))(_.when(cond, lang)))
      }.get.otherwise(langs.last)
    counted.select((col(id) +: langs.map(l => col(s"c_$l")) :+
      pred.as("predicted")): _*)
  }
}

/** The reference pipeline — collaborative filtering on YOUR ratings
  * frame. This is also the gated path: every ALS fit in `graft.ops`
  * comes from [[als]], and r06's `alsTop5` is [[serveTopK]] over the
  * memoized model, so the r06/r07/r14/r21 gates check this code. */
object Recommend {

  /** Training ratings per ALS user/item block. Up to 4·R ratings the
    * fit runs the 4-block floor, which covers every committed scale
    * (sf0.1 has 599,351 ratings). Per-block scheduling overhead
    * dominates small fits: at sf0.01 on a 4-core host (`local[2]`,
    * 3 samples each) 4 blocks fit in 1.9–2.3 s against 2.5–2.9 s
    * for 7. */
  private[graft] val RatingsPerBlock = 1000000L

  /** ALS user and item block count for `rows` training ratings:
    * max(4, ⌈rows / [[RatingsPerBlock]]⌉). A function of the data, not
    * of the cluster, so a fit is the same model at any core count. */
  private[graft] def alsBlocks(rows: Long): Int =
    math.max(4L, (rows + RatingsPerBlock - 1) / RatingsPerBlock).toInt

  private[graft] val AlsSeed = 42L

  /** The one ALS estimator: seed, block count and both storage levels.
    * Callers set the column names, rank, maxIter, regParam,
    * implicitPrefs and coldStartStrategy. MEMORY_AND_DISK, not MLlib's
    * MEMORY_ONLY default: the factor RDDs back every memoized serving
    * query, and a memory-evicted block must spill, not silently re-run
    * the whole fit on the next access. */
  private[graft] def als(rows: Long, seed: Long = AlsSeed): ALS = {
    val blocks = alsBlocks(rows)
    new ALS().setSeed(seed)
      .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
      .setIntermediateStorageLevel("MEMORY_AND_DISK")
      .setFinalStorageLevel("MEMORY_AND_DISK")
  }

  /** Exact top-k per user with already-seen items excluded: recommend
    * k + headroom, anti-join `seen` on (user, item), re-rank (a bare
    * recommendForAllUsers(k) under-fills after the anti-join). The
    * user and item columns are the model's; `seen` carries both.
    * Output: (user, rank, item, score), ≤ k rows per user, ties broken
    * by item id. */
  private[graft] def serveTopK(model: ALSModel, seen: DataFrame, k: Int,
      headroom: Int): DataFrame = {
    val (u, i) = (model.getUserCol, model.getItemCol)
    val recs = model.recommendForAllUsers(k + headroom)
      .select(col(u), explode(col("recommendations")).as("rec"))
      .select(col(u), col(s"rec.$i").as(i), col("rec.rating").as("score"))
    val w = Window.partitionBy(u).orderBy(col("score").desc, col(i))
    recs.join(seen, Seq(u, i), "left_anti")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(u), col("rank"), col(i), col("score"))
  }

  /** Train ALS and serve top-k recommendations per user with
    * already-seen items excluded ([[serveTopK]]). Deterministic for a
    * fixed seed: the block count follows the row count
    * ([[alsBlocks]]), not the core count. Ids must fit INT (MLlib's
    * ALS key type); ratings cast to float. Output: (user, rank, item,
    * score) with exactly ≤ k rows per user, ties broken by item id.
    * Scale: the serving anti-join keys on (user, item); headroom
    * trades recall-after-anti-join against the recommendForAllUsers
    * fan-out. */
  def alsTopK(ratings: DataFrame, user: String, item: String,
      rating: String, k: Int = 5, headroom: Int = 15, rank: Int = 8,
      maxIter: Int = 5, regParam: Double = 0.1,
      implicitPrefs: Boolean = true, seed: Long = AlsSeed): DataFrame = {
    // The INT contract must fail LOUDLY: under default non-ANSI
    // semantics cast("int") on an out-of-range id wraps (long) or
    // clamps (double), silently merging distinct users/items and
    // serving wrong recommendations. One cheap agg over the frame
    // (which also counts the rows for the block rule): an id is bad
    // when it is non-null but its int cast is null (unparseable) or
    // compares unequal to the cast value — the direct comparison (not
    // a long round-trip) also catches FRACTIONAL ids (3.2 and 3.9 both
    // truncate to 3 and would merge) while exact integer-valued
    // doubles still pass.
    def badCount(c: String) = sum(when(col(c).isNotNull &&
      (col(c).cast("int").isNull || col(c) =!= col(c).cast("int")), 1L)
      .otherwise(0L))
    val bad = ratings.agg(badCount(user).as("__bu"),
      badCount(item).as("__bi"), count(lit(1)).as("__n")).head()
    require(bad.isNullAt(0) || bad.getLong(0) == 0L,
      s"alsTopK: ${bad.getLong(0)} `$user` ids do not fit INT " +
        "(MLlib ALS key type) — densify ids to [0, N) first")
    require(bad.isNullAt(1) || bad.getLong(1) == 0L,
      s"alsTopK: ${bad.getLong(1)} `$item` ids do not fit INT " +
        "(MLlib ALS key type) — densify ids to [0, N) first")
    val r = ratings.select(col(user).cast("int").as("__u"),
      col(item).cast("int").as("__i"), col(rating).cast("float").as("__r"))
    val model = als(bad.getLong(2), seed)
      .setUserCol("__u").setItemCol("__i").setRatingCol("__r")
      .setImplicitPrefs(implicitPrefs).setRank(rank).setMaxIter(maxIter)
      .setRegParam(regParam)
      .fit(r)
    serveTopK(model, r.select("__u", "__i"), k, headroom)
      .select(col("__u").as(user), col("rank"), col("__i").as(item),
        col("score"))
  }
}

/** Similarity search over an embedding array column. */
object Ann {

  /** Exact top-k cosine neighbors of each query against the corpus:
    * queries broadcast, corpus streamed — one scan regardless of
    * corpus size (the honest baseline every approximate index is
    * measured against). Self-pairs (same id value) are excluded; ties
    * break by neighbor id. Output: (query_id, rank, neighbor_id,
    * cosine). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      id: String, vec: String, qId: String, qVec: String,
      k: Int = 5): DataFrame = {
    val c = corpus.select(col(id).as("neighbor_id"), col(vec).as("__cv"))
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", VectorOps.cosineSim(col("__cv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cosine")
  }

  /** Bounded-degree kNN graph by NN-descent: hash-seeded random
    * regular graph, then `rounds` of neighbor-of-neighbor refinement
    * — each round one keyed join + one per-node top-`degree` window,
    * candidate pool ≤ (2·degree)² per node, corpus-size-independent.
    * No all-pairs stage anywhere: O(N·degree²·rounds) total.
    * CONTRACT: `id` must be a dense LONG column in [0, N) (densify
    * arbitrary keys with a rank or zipWithIndex pass first) — the
    * seeding derives neighbor offsets arithmetically from the id.
    * Output: (node, nbr), ≤ degree rows per node. */
  def knnGraph(df: DataFrame, id: String, vec: String,
      degree: Int = 8, rounds: Int = 2,
      checkpointRounds: Boolean = true): DataFrame = {
    val e = df.select(col(id).as("__nid"), col(vec).as("__v"))
    val n = e.count()
    // pmod(·, n-1) with n == 1 is pmod-by-zero → null neighbors and
    // silently empty adjacency; fail loudly instead
    require(n > 1, s"knnGraph needs at least 2 vectors, got $n")
    // Seed offsets hash (node, j) — hashing j alone would hand every
    // node the identical circulant offset set (and colliding offsets
    // would shrink the effective seed degree globally); with the node
    // id mixed in, collisions are per-node noise and the seed graph is
    // genuinely pseudo-random-regular.
    val seed = e.select(col("__nid").as("node"))
      .withColumn("j", explode(sequence(lit(1L), lit(degree.toLong))))
      .withColumn("off",
        pmod(Hashing.hash56(
          concat(lit("s20seed#"), col("node").cast("string"), lit("#"),
            col("j").cast("string"))), lit(n - 1)) + 1)
      .withColumn("nbr", (col("node") + col("off")) % n)
      .select("node", "nbr").distinct()
    def pin(g: DataFrame): DataFrame =
      if (checkpointRounds) Pin.cut(g) else g
    def refine(g: DataFrame): DataFrame = {
      val b = pin(g.select("node", "nbr")
        .union(g.select(col("nbr").as("node"), col("node").as("nbr")))
        .distinct())
      val nn = b.as("x").join(b.as("y"), col("x.nbr") === col("y.node"))
        .select(col("x.node").as("node"), col("y.nbr").as("cand"))
      val pool = g.select(col("node"), col("nbr").as("cand"))
        .union(nn).filter(col("node") =!= col("cand")).distinct()
      pin(pool
        .join(e.select(col("__nid").as("node"), col("__v").as("va")), "node")
        .join(e.select(col("__nid").as("cand"), col("__v").as("vb")), "cand")
        .withColumn("cos", round(VectorOps.cosineSim(col("va"), col("vb")), 4))
        .withColumn("rn", row_number().over(
          Window.partitionBy("node").orderBy(col("cos").desc, col("cand"))))
        .filter(col("rn") <= degree)
        .select(col("node"), col("cand").as("nbr")))
    }
    (1 to rounds).foldLeft(seed)((g, _) => refine(g))
  }

  /** Hierarchical (HNSW-style) approximate top-k for ARBITRARY query
    * vectors — the serving path whose per-query cost is independent of
    * corpus size (the gated s24 key pins the same machinery against a
    * full SQL replay on the test corpus). Build: the layer-0 graph is
    * [[knnGraph]]; upper layers are geometric id strata (`l1Mod`,
    * `l2Mod`) with their own knnGraph over the densified stratum.
    * Serve per query: score the whole top stratum (|N/l2Mod| rows),
    * `rounds` greedy-beam expansions over the L1 graph, then a 2-hop
    * expansion of the best `beam` entries over the layer-0 graph, and
    * an exact re-rank of everything visited. Ids must be dense [0, N)
    * (the knnGraph contract); ties break by (cosine desc, id).
    * Output: (query_id, rank, neighbor_id, cosine), ≤ k per query.
    * Self-pairs (neighbor id == query id value) are excluded WHEN the
    * two id columns share a type — the [[bruteForceTopK]] convention,
    * so corpus-as-queries round-trips; differently-typed id spaces
    * (e.g. UUID query ids) skip the exclusion rather than null-filter
    * every row.
    * Scale: descent cost = N/l2Mod + rounds·beam·degree + beam·degree²
    * per query — choose strata so N/l2Mod stays panel-sized; every
    * join keys on the candidate/node id. */
  /** The shared layered-descent kernel (layeredTopK AND the gated
    * s24 key both run THIS — the oracle replay of s24 therefore
    * proves the one copy): builds the densified-L1 stratum graph,
    * scores the whole top (l2Mod) stratum per query, then `rounds`
    * greedy-beam expansions with 4dp-cosine navigation and (cos desc,
    * id) ties. The dedup MUST be distinct-before-set-except: a
    * candidate reached over several edges minus one visited copy
    * would survive a multiset exceptAll and duplicate the visited
    * ledger (handing the beam a top-N containing a repeat — fewer
    * real entry points than asked). Returns (visited(query_id, cand,
    * cos), n_l1, n_l2). c = (__nid, __cv), q = (query_id, __qv),
    * both expected pinned by the caller. */
  /** The L1 stratum graph in ORIGINAL id space: densify the stratum
    * (knnGraph's dense-id contract), NN-descend it, map back. Split
    * out of [[layeredDescent]] round 12 so the persisted-index path
    * (IoOps.graphIndexWrite / the gated i32 key) builds the IDENTICAL
    * artifact the descent consumes. c = (__nid, __cv). */
  private[graft] def l1StratumGraph(c: DataFrame, l1Mod: Int,
      degree: Int): DataFrame = {
    val l1 = Pin.cut(c.filter(col("__nid") % l1Mod === 0))
    val dmap = l1.select(col("__nid"))
      .withColumn("__did",
        row_number().over(Window.orderBy("__nid")).cast("long") - 1)
      .transform(Pin.cut) // stratum-sized global window, bounded
    knnGraph(
        l1.join(dmap, "__nid")
          .select(col("__did").as("vec_id"), col("__cv").as("v")),
        "vec_id", "v", degree, 2)
      .join(dmap.select(col("__did").as("node"), col("__nid").as("n1")), "node")
      .join(dmap.select(col("__did").as("nbr"), col("__nid").as("n2")), "nbr")
      .select(col("n1").as("node"), col("n2").as("nbr"))
  }

  private[graft] def layeredDescent(c: DataFrame, q: DataFrame,
      l1Mod: Int, l2Mod: Int, degree: Int, beam: Int,
      rounds: Int, l1GraphOpt: Option[DataFrame] = None)
      : (DataFrame, Long, Long) = {
    require(l2Mod % l1Mod == 0,
      s"l2Mod=$l2Mod must be a multiple of l1Mod=$l1Mod")
    val nL1 = c.filter(col("__nid") % l1Mod === 0).count()
    val nL2 = c.filter(col("__nid") % l2Mod === 0).count()
    val g1 = l1GraphOpt.getOrElse(
      Pin.cut(l1StratumGraph(c, l1Mod, degree)))
    def scored(cands: DataFrame): DataFrame = cands
      .join(c.select(col("__nid").as("cand"), col("__cv")), "cand")
      .join(q, "query_id")
      .withColumn("cos", round(VectorOps.cosineSim(col("__qv"), col("__cv")), 4))
      .select("query_id", "cand", "cos")
    val top = c.filter(col("__nid") % l2Mod === 0)
      .select(col("__nid").as("cand"))
      .crossJoin(q.select("query_id"))
    var visited = Pin.cut(scored(top))
    for (_ <- 1 to rounds) {
      val exp = descentTopN(visited, beam)
        .join(g1, col("cand") === col("node"))
        .select(col("query_id"), col("nbr").as("cand"))
        .distinct()
        .except(visited.select("query_id", "cand"))
      visited = Pin.cut(visited.unionByName(scored(exp)))
    }
    (visited, nL1, nL2)
  }

  /** Top-n of a (query_id, cand, cos) frame under the descent's tie
    * order (cos desc, cand) — shared by the descent and its callers. */
  private[graft] def descentTopN(sc: DataFrame, n: Int): DataFrame = sc
    .withColumn("__rn", row_number().over(Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("cand"))))
    .filter(col("__rn") <= n).select("query_id", "cand")

  /** `excludeSelf` controls self-pair suppression EXPLICITLY (default
    * true — right for the corpus-as-queries round-trip). The hazard it
    * exists to surface: when corpus and query ids merely SHARE A TYPE
    * but are unrelated id spaces (both bigint, say), id equality is
    * coincidence, and with excludeSelf=true a corpus neighbor whose id
    * happens to equal a query id is silently dropped from that query's
    * top-k — pass excludeSelf=false for unrelated id spaces. When the
    * id types differ, equality cannot hold (a comparison would only
    * coerce to null), so the filter is skipped regardless. */
  def layeredTopK(corpus: DataFrame, queries: DataFrame, id: String,
      vec: String, qId: String, qVec: String, k: Int = 5,
      l1Mod: Int = 50, l2Mod: Int = 250, degree: Int = 8,
      beam: Int = 3, rounds: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    val c = corpus.select(col(id).as("__nid"), col(vec).as("__cv"))
      .transform(Pin.cut)
    val q = queries.select(col(qId).as("query_id"), col(qVec).as("__qv"))
      .transform(Pin.cut)
    val flat = knnGraph(c.select(col("__nid").as("vec_id"),
        col("__cv").as("v")), "vec_id", "v", degree, 2)
      .select(col("node"), col("nbr")).transform(Pin.cut)
    val (visited, _, _) =
      layeredDescent(c, q, l1Mod, l2Mod, degree, beam, rounds)
    val entry = descentTopN(visited, beam)
    val hop1 = entry.join(flat, entry("cand") === flat("node"))
      .select(col("query_id"), col("nbr").as("cand"))
    val hop2 = hop1.join(flat, hop1("cand") === flat("node"))
      .select(col("query_id"), col("nbr").as("cand"))
    val pool = visited.select("query_id", "cand")
      .union(hop1).union(hop2).distinct()
    // final re-rank at FULL precision (the bruteForceTopK convention):
    // the descent's 4dp rounding is a navigation heuristic, but handing
    // users a top-k ordered by 4dp collapses near-ties into id order —
    // on smooth geometries every close neighbor rounds to the same
    // 4 digits and rank 1 stops meaning "nearest found"
    //
    // self-pair exclusion is caller-controlled (excludeSelf, see the
    // scaladoc hazard note); the type check stays as a hard floor —
    // comparing a bigint corpus id to, say, a UUID query id coerces to
    // null and would silently filter EVERY row of that query, and
    // disjoint-typed id spaces can't collide anyway
    val sameIdType =
      corpus.schema(id).dataType == queries.schema(qId).dataType
    val selfPair: Column =
      if (excludeSelf && sameIdType) col("cand") =!= col("query_id")
      else lit(true)
    pool
      .join(c.select(col("__nid").as("cand"), col("__cv")), "cand")
      .join(q, "query_id")
      .withColumn("cosine", VectorOps.cosineSim(col("__qv"), col("__cv")))
      .filter(selfPair)
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("cand"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("cand").as("neighbor_id"),
        col("cosine"))
  }
}

/** Graph kernels on any edge frame — the schema-parameterized forms
  * the gated d13 (connected components) and g01 (PageRank) keys run,
  * so their DuckDB oracles prove these copies. */
object Graph {

  /** Connected components by alternating large-star/small-star
    * (Kiveris et al.) — O(log² n) rounds regardless of graph diameter,
    * the 100 TB answer to min-label propagation's diameter-bound
    * rounds. Every round is two keyed aggs + two keyed joins on node
    * ids; per-round state is lineage-pinned (exponential-plan trap).
    * Output: (node, component) with component = the component's
    * minimum node id; isolated nodes (no edges) don't appear — union
    * your node frame in if you need them. Node ids must be orderable
    * (the min-label convention). */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
      maxRounds: Int = 16): DataFrame = {
    var e = edges.select(col(src).as("a"), col(dst).as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .distinct()
    e = Pin.cut(e)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // large-star: every strictly-larger neighbor connects to the
      // group's min (including the center itself in the min)
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val minsL = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      val ls = sym.filter(col("b") > col("a"))
        .join(minsL, Seq("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star: every ≤-neighbor and the center connect to the min
      val minsS = ls.groupBy("a").agg(min("b").as("m"))
      val withM = ls.join(minsS, Seq("a"))
      val ss = withM.select(col("b").as("n"), col("m"))
        .union(withM.select(col("a").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("a"),
          least(col("n"), col("m")).as("b"))
        .distinct()
      val next = Pin.cut(ss)
      converged = next.count() == e.count() &&
        next.exceptAll(e).count() == 0
      e = next
      rounds += 1
    }
    e.select(col("a").as("node"), col("b").as("component"))
      .union(e.select(col("b").as("node"), col("b").as("component"))
        .distinct())
      .distinct()
  }

  private val SCALE = 1000000000000L // 10^12 fixed-point rank units

  /** PageRank in EXACT bigint fixed point (10^12 units — every
    * per-iteration sum and division is integer arithmetic, so ranks
    * are bit-identical on any engine and any partitioning): damping
    * `dampingPct`/100, dangling mass redistributed uniformly, node
    * set = distinct edge endpoints unless `nodes` supplies isolated
    * nodes too. Edges are treated as DIRECTED — pre-symmetrize for an
    * undirected graph. Per-round state is lineage-pinned; one edge
    * shuffle per iteration is the honest Pregel cost. Output: (node,
    * rank_fp, rank) for every node, unsorted — top-k or normalize
    * downstream. */
  def pageRank(edges: DataFrame, src: String, dst: String,
      nodes: Option[DataFrame] = None, nodeCol: String = "node",
      iterations: Int = 5, dampingPct: Int = 85): DataFrame = {
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct=$dampingPct out of [0, 100]")
    val e = Pin.cut(
      edges.select(col(src).as("src"), col(dst).as("dst")))
    // a caller-supplied node frame exists to ADD isolated nodes, never
    // to subtract endpoints: a nodes frame missing an edge endpoint
    // would silently drop rank mass (contributions grouped by dst
    // vanish in the left join and per-iteration totals stop summing to
    // SCALE) — so the endpoint set is unioned in unconditionally,
    // making `nodes` a guaranteed superset at one distinct's cost
    val endpoints = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
    val nd = nodes.map(_.select(col(nodeCol).as("node"))
        .union(endpoints).distinct())
      .getOrElse(endpoints.distinct())
    val deg = e.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
    val n1 = nd.crossJoin(broadcast(nd.agg(count(lit(1)).as("n"))))
    val base = 100 - dampingPct
    var cur = n1.join(deg, Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"), col("n"),
        expr(s"${SCALE}L div n").as("r"))
    cur = Pin.cut(cur)
    for (_ <- 1 to iterations) {
      val inc = cur.filter(col("deg") > 0)
        .join(e, cur("node") === e("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("r div deg")).as("inc"))
      val dang = cur.filter(col("deg") === 0)
        .agg(coalesce(sum(col("r")), lit(0L)).as("dang"))
      cur = cur.select("node", "deg", "n")
        .join(inc, Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), col("deg"), col("n"),
          expr(s"($base * (${SCALE}L div n)) div 100 + " +
            s"($dampingPct * (coalesce(inc, 0L) + dang div n)) div 100")
            .as("r"))
      cur = Pin.cut(cur)
    }
    cur.select(col("node"), col("r").as("rank_fp"),
      round(col("r").cast("double") / SCALE.toDouble, 6).as("rank"))
  }
}

/** Chunking kernels for storage dedup / training-sequence prep. */
object Chunks {
  /** Content-defined chunking over a text column (the FastCDC-style
    * boundary rule on token hashes, the m16-gated formulation):
    * a token opens a new chunk when hash56("cdc#"+token) ≡ 0 mod
    * `avgTokens` — boundaries depend only on CONTENT, so an insertion
    * shifts at most its own chunk while fixed-width chunking reshifts
    * everything after it (m16 measures 88% vs 0% sharing on a
    * prepended copy). One explode + one key-partitioned prefix-sum
    * window + one reassembly agg — a single shuffle on the id.
    * `avgTokens` must be a power of two. Output: (id, chunk_no,
    * chunk_text, chunk_hash). */
  def contentDefined(df: DataFrame, id: String, text: String,
      avgTokens: Int = 8): DataFrame = {
    require(avgTokens >= 2 && (avgTokens & (avgTokens - 1)) == 0,
      s"avgTokens must be a power of two, got $avgTokens")
    val tokd = df.select(col(id),
      posexplode(TextNorm.tokens(col(text))).as(Seq("pos", "term")))
    val wPre = Window.partitionBy(id).orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    tokd
      .withColumn("__b",
        (Hashing.hash56(concat_ws("#", lit("cdc"), col("term")))
          % avgTokens === 0).cast("long"))
      .withColumn("chunk_no", coalesce(sum(col("__b")).over(wPre), lit(0L)))
      .groupBy(col(id), col("chunk_no"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("term")))),
        x => x("term"))).as("chunk_text"))
      .withColumn("chunk_hash", Hashing.hash56(col("chunk_text")))
  }
}

/** Event-stream kernels over (key, timestamp) frames. */
object Events {
  /** Gap sessionization: append a per-key `session_id` (1-based,
    * ordered by time) that increments whenever the gap since the
    * key's previous event exceeds `gapSeconds`. `tieBreak` pins a
    * total order under equal timestamps — REQUIRED for deterministic
    * ids. One key-partitioned window, no self-joins; at 100 TB the
    * shuffle keys on `key` exactly once (the e02-gated formulation;
    * e07/e15/e21 gate the stateful and streaming twins of the same
    * semantics). */
  def sessionize(df: DataFrame, key: String, ts: String,
      tieBreak: String, gapSeconds: Long = 1800): DataFrame = {
    val w = Window.partitionBy(key).orderBy(col(ts), col(tieBreak))
    df.withColumn("__us", unix_micros(col(ts).cast("timestamp")))
      .withColumn("__gap", col("__us") - lag(col("__us"), 1).over(w))
      .withColumn("__new",
        when(col("__gap").isNull || col("__gap") > gapSeconds * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__us", "__gap", "__new")
  }

  /** Per key, the first `ts` of each step as column `<step>_ts` (step
    * names sanitized to [A-Za-z0-9_]): the one keyed agg both funnel
    * kernels read. Returns the agg and its step columns in order. */
  private def firstStepTimes(df: DataFrame, key: String, ts: String,
      event: String, steps: Seq[String]): (DataFrame, Seq[String]) = {
    require(steps.size >= 2, "a funnel needs at least 2 steps")
    require(steps.distinct.size == steps.size, "funnel steps must be unique")
    val names = steps.map(_.replaceAll("[^A-Za-z0-9_]", "_") + "_ts")
    val firsts = steps.zip(names).map { case (st, n) =>
      min(when(col(event) === st, col(ts).cast("timestamp"))).as(n)
    }
    (df.groupBy(col(key)).agg(firsts.head, firsts.tail: _*), names)
  }

  /** Ordered-funnel completions (the e03-gated rule lifted to any
    * step sequence): per key, the FIRST occurrence of each step must
    * be strictly ordered — a user who clicked before ever viewing did
    * not traverse the funnel. Returns one row per completing key with
    * a `<step>_ts` timestamp column per step (step names sanitized to
    * [A-Za-z0-9_]). One keyed agg over one scan, no self-joins. */
  def funnel(df: DataFrame, key: String, ts: String, event: String,
      steps: Seq[String]): DataFrame = {
    val (agg, names) = firstStepTimes(df, key, ts, event, steps)
    agg.filter(names.sliding(2).map { case Seq(a, b) =>
      col(a) < col(b)
    }.reduce(_ && _))
  }

  /** Per-step funnel survivor counts: row k = keys whose first
    * occurrences of steps 1..k are strictly ordered (step 1 = every
    * key that did step 1). The classic funnel report, derived from
    * ONE keyed agg — no per-step scans. Output: (step_no, step,
    * n_keys), monotone non-increasing in step_no. */
  def funnelCounts(df: DataFrame, key: String, ts: String, event: String,
      steps: Seq[String]): DataFrame = {
    val (agg0, names) = firstStepTimes(df, key, ts, event, steps)
    val agg = agg0.transform(Pin.cut) // one agg feeds |steps| prefix counts
    val spark = df.sparkSession
    import spark.implicits._
    val counts = steps.indices.map { k =>
      val prefixOk = (0 to k).map(i => col(names(i)).isNotNull)
        .reduce(_ && _) && (if (k == 0) lit(true)
        else (1 to k).map(i => col(names(i - 1)) < col(names(i)))
          .reduce(_ && _))
      (k + 1, steps(k), agg.filter(prefixOk).count())
    }
    counts.toDF("step_no", "step", "n_keys")
  }

  /** N-day retention per activity date (the e04-gated rule with the
    * offset parameterized): for each day, `active` = distinct keys
    * seen that day, `retained` = those also seen exactly `dayOffset`
    * days later. One distinct-projection self-join keyed on (key,
    * day) — never event-grain. */
  def retention(df: DataFrame, key: String, ts: String,
      dayOffset: Int = 1): DataFrame = {
    val days = df.select(col(key).as("__k"),
      to_date(col(ts).cast("timestamp")).as("__day")).distinct()
      .transform(Pin.cut) // both sides of the self-join
    val next = days.select(col("__k").as("__k2"), col("__day").as("__day2"))
    days.join(next, col("__k2") === col("__k") &&
        col("__day2") === date_add(col("__day"), dayOffset), "left")
      .groupBy(date_format(col("__day"), "yyyy-MM-dd").as("day"))
      .agg(countDistinct(col("__k")).as("active"),
        countDistinct(when(col("__k2").isNotNull, col("__k")))
          .as("retained"))
      .orderBy("day")
  }
}

/** Generic per-group top-k. */
object TopK {
  /** k best rows per group under `order` (add explicit tie-break
    * columns for determinism). Spark 4 plans this as
    * WindowGroupLimit — a partial per-partition heap before the
    * shuffle, so the exchange carries ≤ k rows per (partition, group),
    * not the whole table. */
  def perGroup(df: DataFrame, groupCols: Seq[String], order: Seq[Column],
      k: Int): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(order: _*)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .withColumnRenamed("__rank", "rank")
  }
}

/** Corpus-curation funnel on any (id, text) frame. */
object Curation {

  /** The p01-shaped pipeline without p01's language stage and
    * per-language cap: quality bar (≥ minTokens tokens, stopword
    * ratio ≤ maxStopRatio) → exact dedup (keep the lowest id per
    * fingerprint, a join on the fingerprint groups' survivors) →
    * near-dup drop (LSH + Jaccard over the exact survivors, anti-join
    * the higher id of each verified pair). One body so
    * [[funnelSurvivors]] and [[funnelCounts]] can never desynchronize
    * (ApiSpec cross-asserts their numbers). Returns (quality
    * survivors, exact-dedup survivors, final survivors); with `pin`
    * the first two stages are cut (Pin.cut), since the counts read
    * them and the later stages consume them. */
  private def funnelStages(df: DataFrame, id: String, text: String,
      minTokens: Int, maxStopRatio: Double, stopwords: Seq[String],
      jaccardThreshold: Double,
      pin: Boolean): (DataFrame, DataFrame, DataFrame) = {
    val stopArr = array(stopwords.map(lit): _*)
    val q0 = df
      .withColumn("__toks", TextNorm.tokens(col(text)))
      .withColumn("__nt", size(col("__toks")))
      .withColumn("__ns",
        if (stopwords.isEmpty) lit(0)
        else size(filter(col("__toks"), t => array_contains(stopArr, t))))
      .filter(col("__nt") >= minTokens &&
        col("__ns").cast("double") <= col("__nt") * maxStopRatio)
      .select(col(id), col(text))
    val q = if (pin) Pin.cut(q0) else q0
    val keep = Dedup.exactGroups(q, id, text).select(col("keep").as(id))
    val exact0 = q.join(keep, id)
    val exact = if (pin) Pin.cut(exact0) else exact0
    val drops = Dedup.nearDuplicates(exact, id, text, jaccardThreshold)
      .select(col("b").as(id)).distinct()
    (q, exact, exact.join(drops, Seq(id), "left_anti"))
  }

  /** The surviving (id, text) rows of the [[funnelStages]] pipeline;
    * [[funnelCounts]] gives the per-stage report. */
  def funnelSurvivors(df: DataFrame, id: String, text: String,
      minTokens: Int = 10, maxStopRatio: Double = 0.5,
      stopwords: Seq[String] = Nil,
      jaccardThreshold: Double = 0.6): DataFrame =
    funnelStages(df, id, text, minTokens, maxStopRatio, stopwords,
      jaccardThreshold, pin = false)._3

  /** Stage-by-stage survivor counts for the same funnel: one row per
    * stage (raw, quality, exact_dedup, near_dedup). */
  def funnelCounts(df: DataFrame, id: String, text: String,
      minTokens: Int = 10, maxStopRatio: Double = 0.5,
      stopwords: Seq[String] = Nil,
      jaccardThreshold: Double = 0.6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (q, exact, fin) = funnelStages(df, id, text, minTokens,
      maxStopRatio, stopwords, jaccardThreshold, pin = true)
    Seq(("a_raw", df.count()), ("b_quality", q.count()),
      ("c_exact_dedup", exact.count()), ("d_near_dedup", fin.count()))
      .toDF("stage", "n_docs")
  }
}

/** Training-data mixture kernels on any (id, domain[, tokens]) frame —
  * the gated p03/p04/p09 (and p16) mixers run these; p10 keeps its
  * two fixed rounds beside the fixpoint [[Mix.waterFill]].
  * All selection math is exact integer arithmetic: targets are floor
  * divisions of corpus totals, pick order is the deterministic hash
  * of (seed, id), and a run is reproducible on any cluster layout. */
object Mix {

  private def pctCol(domain: String, pctByDomain: Map[String, Int],
      defaultPct: Int): Column =
    pctByDomain.foldLeft(when(lit(false), 0)) { case (acc, (dom, p)) =>
      acc.when(col(domain) === dom, p)
    }.otherwise(defaultPct)

  /** Every percentage a Mix kernel takes lies in [0, 100]: a negative
    * entry would silently take nothing, one above 100 would over-give. */
  private def checkPcts(pctByDomain: Map[String, Int], defaultPct: Int,
      budgetPct: Int = 100): Unit = {
    require(pctByDomain.values.forall(p => p >= 0 && p <= 100),
      s"pctByDomain entries must be in [0, 100]: $pctByDomain")
    require(defaultPct >= 0 && defaultPct <= 100,
      s"defaultPct=$defaultPct out of [0, 100]")
    require(budgetPct >= 0 && budgetPct <= 100,
      s"budgetPct=$budgetPct out of [0, 100]")
  }

  /** hash56("<seed>#<id>"): the deterministic pick order. */
  private def pickKey(seed: String, id: String): Column =
    Hashing.hash56(concat_ws("#", lit(seed), col(id).cast("string")))

  /** Document-count mixture (the p03 kernel): per domain, take the
    * first `tot·pct div 100` rows under hash-of-id pick order. Returns
    * the input rows + (pct, n_target, pick_key, taken) so callers
    * filter or audit; `pick_key` is the row's hash56("<seed>#<id>")
    * rank key (p03 sums it over taken rows as an id-set checksum). One
    * domain-keyed shuffle plus a broadcast total. Percentages need
    * not sum to 100 — each domain's target is independent (over-asked
    * domains saturate at their size). */
  def byDocCount(df: DataFrame, id: String, domain: String,
      pctByDomain: Map[String, Int], defaultPct: Int = 0,
      seed: String = "mix"): DataFrame = {
    checkPcts(pctByDomain, defaultPct)
    val tot = df.agg(count(lit(1)).as("__tot"))
    val w = Window.partitionBy(domain)
      .orderBy(col("pick_key"), col(id))
    df.crossJoin(broadcast(tot))
      .withColumn("pct", pctCol(domain, pctByDomain, defaultPct))
      .withColumn("n_target", expr("cast((cast(__tot as decimal(38,0)) * pct) div 100 as bigint)"))
      .withColumn("pick_key", pickKey(seed, id))
      .withColumn("taken", row_number().over(w) <= col("n_target"))
      .drop("__tot")
  }

  /** Token-budget mixture (the p04/p16 kernel): a training mix is
    * specified in TOKENS, so each domain's budget is
    * `tot_tokens·pct div 100` and a row is taken iff its whole-prefix
    * cumulative token count fits the budget under hash pick order —
    * the deterministic prefix rule, no fractional documents. Returns
    * input rows + (pct, budget, pick_key, cum_tokens, taken), with
    * `pick_key` as in [[byDocCount]]. */
  def byTokenBudget(df: DataFrame, id: String, domain: String,
      tokens: String, pctByDomain: Map[String, Int], defaultPct: Int = 0,
      seed: String = "tokmix"): DataFrame = {
    checkPcts(pctByDomain, defaultPct)
    val tot = df.agg(sum(col(tokens).cast("long")).as("__tot_tok"))
    val w = Window.partitionBy(domain)
      .orderBy(col("pick_key"), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.crossJoin(broadcast(tot))
      .withColumn("pct", pctCol(domain, pctByDomain, defaultPct))
      .withColumn("budget", expr("cast((cast(__tot_tok as decimal(38,0)) * pct) div 100 as bigint)"))
      .withColumn("pick_key", pickKey(seed, id))
      .withColumn("cum_tokens", sum(col(tokens).cast("long")).over(w))
      .withColumn("taken", col("cum_tokens") <= col("budget"))
      .drop("__tot_tok")
  }

  /** Temperature-scaled domain weights (the p09 kernel, the
    * multilingual-sampling rule): w_d ∝ share_d^tau with tau < 1
    * flattening head domains. Domain-grain rollup: (domain, n_rows,
    * n_tokens, share_ppm, w6, w_ppm, target_tokens); the only
    * floats are the tau power rounded at 6dp and its normalization —
    * shares, weights and targets re-enter integer ppm space
    * immediately. One domain-keyed agg; everything after runs on the
    * domain-grain rollup (bounded by the domain count, not data). */
  def temperature(df: DataFrame, domain: String, tokens: String,
      tau: Double = 0.3): DataFrame = {
    val dom = df.groupBy(domain)
      .agg(count(lit(1)).as("n_rows"),
        sum(col(tokens).cast("long")).as("n_tokens"))
      .transform(Pin.cut)
    val tot = dom.agg(sum(col("n_tokens")).as("__tot_tok"))
    val w = dom.crossJoin(broadcast(tot))
      .withColumn("share_ppm", expr("cast((cast(n_tokens as decimal(38,0)) * 1000000) div __tot_tok as bigint)"))
      .withColumn("w6",
        round(pow(col("n_tokens").cast("double") / col("__tot_tok"),
          lit(tau)), 6))
    val ws = w.agg(sum(col("w6").cast("decimal(20,6)")).as("__wsum"))
    w.crossJoin(broadcast(ws))
      .withColumn("w_ppm",
        round(lit(1000000.0) * col("w6") / col("__wsum").cast("double"), 0)
          .cast("long"))
      .select(col(domain), col("n_rows"), col("n_tokens"), col("share_ppm"),
        col("w6"), col("w_ppm"),
        expr("cast((cast(__tot_tok as decimal(38,0)) * w_ppm) div 1000000 as bigint)")
          .as("target_tokens"))
      .orderBy(domain)
  }

  /** Water-filling token allocation (the p10 kernel, iterated to
    * FIXPOINT since round 11): a total budget of `budgetPct`% of
    * corpus tokens is split by the pct map, but a domain can never be
    * allocated more than it HAS — saturated domains return their
    * leftover, which is redistributed proportionally to the
    * unsaturated pcts, and redistribution REPEATS until no leftover
    * moves (a pass can saturate a SECOND domain, whose own excess the
    * old single pass silently stranded — the under-fill VERDICT r10
    * #5 names). Convergence: each productive pass saturates ≥1 new
    * domain or moves the whole remaining leftover, so ≤ |domains|
    * passes run; the loop also stops when floor division zeroes every
    * share. Conservation pin: allocations only grow, never exceed
    * supply, and Σfinal_alloc ≤ budget at every pass (floor slack is
    * bounded by the unsaturated-domain count). All integer floor
    * arithmetic; the per-pass scalars are a 1-row agg on the
    * DOMAIN-GRAIN rollup (metadata-sized — the pct map is an authored
    * config, domains are dozens, never corpus-scale). Output at
    * domain grain: (domain, supply, pct, budget, alloc1 [the
    * first-pass allocation], final_alloc, saturated). */
  def waterFill(df: DataFrame, domain: String, tokens: String,
      pctByDomain: Map[String, Int], defaultPct: Int = 0,
      budgetPct: Int = 60): DataFrame = {
    // over-asked pct maps (effective sum > 100) make __given1 exceed
    // the budget; without the clamp below, the negative leftover would
    // SUBTRACT from every unsaturated domain — a silently wrong answer
    // from a public API. The clamp is the load-bearing fix: whether
    // the ask is over 100 is only knowable per-run (defaultPct covers
    // however many domains the data contains, and a reusable config
    // map may carry entries for domains absent from this frame — a
    // static sum check would reject those valid calls). checkPcts
    // catches the statically-checkable misuse: out-of-range entries.
    checkPcts(pctByDomain, defaultPct, budgetPct)
    val dom = df.groupBy(domain)
      .agg(sum(col(tokens).cast("long")).as("supply"))
      .transform(Pin.cut)
    val tot = dom.agg(sum(col("supply")).as("__tot"))
    val base = dom.crossJoin(broadcast(tot))
      .withColumn("pct", pctCol(domain, pctByDomain, defaultPct).cast("long"))
      .withColumn("budget", expr(s"cast((cast(__tot as decimal(38,0)) * $budgetPct) div 100 as bigint)"))
      .withColumn("alloc1",
        least(col("supply"), expr("cast((cast(budget as decimal(38,0)) * pct) div 100 as bigint)")))
      .withColumn("alloc", col("alloc1"))
      .transform(Pin.cut)
    // Fixpoint redistribution: per pass, the exact scalar state
    // (budget, Σalloc, unsaturated pct mass) is a 1-row agg on the
    // domain-grain frame; the pass adds each unsaturated domain's
    // floor share of the leftover, capped at supply. The leftover
    // clamps at 0: when defaultPct makes the effective pct total
    // exceed 100 (data-dependent, not statically checkable), the
    // first pass over-gives and there is nothing left to
    // redistribute — never a negative correction.
    val nDomains = base.count()
    var cur = base
    var pass = 0L
    var done = nDomains == 0
    while (!done && pass < nDomains) {
      val st = cur.agg(
        max(col("budget")).as("b"), sum(col("alloc")).as("g"),
        sum(when(col("alloc") < col("supply"), col("pct"))
          .otherwise(lit(0L))).as("pu")).head()
      val budget = Option(st.get(0)).fold(0L)(_.asInstanceOf[Long])
      val given = Option(st.get(1)).fold(0L)(_.asInstanceOf[Long])
      val pctUnsat = Option(st.get(2)).fold(0L)(_.asInstanceOf[Long])
      val leftover = math.max(0L, budget - given)
      if (leftover == 0L || pctUnsat == 0L) done = true
      else {
        val next = cur.withColumn("alloc", least(col("supply"),
          col("alloc") + when(col("alloc") < col("supply"),
            expr(s"cast((cast($leftover as decimal(38,0)) * pct) " +
              s"div $pctUnsat as bigint)")).otherwise(lit(0L))))
          .transform(Pin.cut)
        // floor division can zero every share (leftover < pct mass):
        // nothing moved, the fixpoint is reached
        val nextGiven = Option(next.agg(sum(col("alloc"))).head().get(0))
          .fold(0L)(_.asInstanceOf[Long])
        if (nextGiven == given) done = true else cur = next
      }
      pass += 1
    }
    cur
      .select(col(domain), col("supply"), col("pct"), col("budget"),
        col("alloc1"), col("alloc").as("final_alloc"),
        (col("alloc") === col("supply")).as("saturated"))
      .orderBy(domain)
  }
}

/** Ranking-quality evaluation on any (recs, truth) frame pair. The
  * gated r12/r17/r20 keys call these kernels on the memoized
  * co-occurrence recs, so their oracles check this code. recs
  * carries (user, item, rank) with rank 1-based and ≤ k per user;
  * truth carries the held-out (user, item) relevance set. All three
  * accumulate in exact fixed point (the DCG table and the AP lcm
  * scaling) so a metric is bit-identical on any engine; only the
  * final human-facing ratio divides. */
object Eval {

  /** Corpus-level precision@k (the r12 kernel): one row —
    * (n_users, n_recs, n_hits, precision_at_k). Hits via one
    * left-semi join on (user, item). */
  def precisionAtK(recs: DataFrame, truth: DataFrame, user: String,
      item: String): DataFrame = {
    val t = truth.select(col(user), col(item)).distinct()
    val hits = recs.join(t, Seq(user, item), "left_semi")
    recs.agg(countDistinct(col(user)).as("n_users"),
        count(lit(1)).as("n_recs"))
      .join(hits.agg(count(lit(1)).as("n_hits")))
      .select(col("n_users"), col("n_recs"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_recs"))
          .as("precision_at_k"))
  }

  /** 1e10-fixed-point DCG gain table: gain(rank i) = 1e10/log2(i+1),
    * rounded once driver-side — the same long for every engine. */
  private def gainTable(k: Int): Seq[Long] =
    (1 to k).map(i => math.round(1e10 / (math.log(i + 1.0) / math.log(2.0))))

  /** Per-user NDCG@k (the r17 kernel): binary relevance, fixed-point
    * DCG (driver-computed gain table — no per-row transcendentals to
    * tie cross-engine), ideal DCG from min(n_rel, k). Output:
    * (user, n_rel, dcg_fp, ndcg_at_k). */
  def ndcgAtK(recs: DataFrame, truth: DataFrame, user: String,
      item: String, rank: String = "rank", k: Int = 5): DataFrame = {
    val gains = gainTable(k)
    val cum = gains.scanLeft(0L)(_ + _).tail
    val rel = truth.select(col(user), col(item)).distinct()
    val gainExpr = gains.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (g, i)) => when(col(rank) === i + 1, lit(g)).otherwise(acc)
    }
    val idcgExpr = cum.zipWithIndex.foldLeft(lit(0L)) {
      case (acc, (c, i)) =>
        when(least(col("n_rel"), lit(k)) === i + 1, lit(c)).otherwise(acc)
    }
    val dcg = recs.join(rel, Seq(user, item), "left_semi")
      .groupBy(user).agg(sum(gainExpr).as("dcg_fp"))
    rel.groupBy(user).agg(count(lit(1)).as("n_rel"))
      .join(dcg, Seq(user), "left")
      .select(col(user), col("n_rel"),
        coalesce(col("dcg_fp"), lit(0L)).as("dcg_fp"),
        round(coalesce(col("dcg_fp"), lit(0L)).cast("double") / idcgExpr, 6)
          .as("ndcg_at_k"))
      .orderBy(user)
  }

  /** Per-user MAP@k and recall@k (the r20 kernel): AP accumulates
    * lcm(1..k)·cum_hits/rank — exact integers for every hit rank, no
    * float sum order to diverge. Output: (user, n_rel, n_hits, ap_fp,
    * ap_at_k, recall_at_k); ap_fp is the lcm-scaled fixed point. */
  def mapRecallAtK(recs: DataFrame, truth: DataFrame, user: String,
      item: String, rank: String = "rank", k: Int = 5): DataFrame = {
    require(k >= 1 && k <= 40,
      s"k=$k out of range (lcm(1..k)·k must fit a long)")
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = (1L to k.toLong).reduce((a, b) => a / gcd(a, b) * b)
    val rel = truth.select(col(user), col(item)).distinct()
    val wCum = Window.partitionBy(user).orderBy(rank)
    // the exactness argument below requires rank ∈ [1, k] (lcm(1..k)
    // is divisible by every rank it sees, and only positive ranks
    // divide it): rank > k would contribute silently-floored terms,
    // rank = 0 a NULL term (lcm div 0) that drops from the sum while
    // still inflating the cumulative hit count, and a negative rank a
    // negative floored term — enforce the whole contract instead of
    // trusting it
    val recsK = recs.filter(col(rank).between(1, k))
    val flagged = recsK.join(rel.withColumn("__hit", lit(1L)),
        Seq(user, item), "left")
      .withColumn("__hit", coalesce(col("__hit"), lit(0L)))
      .withColumn("__cum", sum(col("__hit")).over(wCum))
    // rank ≤ k always divides lcm(1..k), so (lcm div rank)·cum is the
    // exact integer lcm·(cum/rank) — no float division to lose bits
    // once lcm outgrows double precision
    val ap = flagged.filter(col("__hit") === 1)
      .groupBy(user)
      .agg(sum(expr(s"($lcm div `$rank`) * __cum")).as("ap_fp"),
        count(lit(1)).as("n_hits"))
    rel.groupBy(user).agg(count(lit(1)).as("n_rel"))
      .join(ap, Seq(user), "left")
      .select(col(user), col("n_rel"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("ap_fp"), lit(0L)).as("ap_fp"),
        round(coalesce(col("ap_fp"), lit(0L)).cast("double") /
          (lit(lcm) * least(col("n_rel"), lit(k))), 6).as("ap_at_k"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_rel"), 6).as("recall_at_k"))
      .orderBy(user)
  }
}

/** BM25 ranking on any (id, text) frame for a caller-supplied query —
  * the gated t36 key runs it on its data-derived query. */
object Search {

  /** Okapi BM25 over the engine tokenizer: idf = ln((N−df+0.5)/
    * (df+0.5)+1), contribution = idf·tf·(k1+1)/(tf + k1·(1−b +
    * b·dl/avgdl)). Both idf and per-term contributions round at 6dp
    * into DECIMAL(18,6) before summing (the t36 engine-parity
    * discipline: sums of rounded decimals are exact; a raw double sum
    * is order-dependent). Returns (id, n_hit, score6) for documents
    * matching ≥1 query term, best first. Scale: one corpus scan for
    * (df, dl), the tf join is broadcast on the query terms, every agg
    * keys on (doc, term) — nothing is O(vocabulary) per document. */
  def bm25(df: DataFrame, id: String, text: String,
      queryTerms: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val toks = TextNorm.tokens(col(text))
    val docs = df.select(col(id), toks.as("__toks"),
      size(toks).cast("long").as("__dl")).transform(Pin.cut)
    val corpus = docs.agg(count(lit(1)).as("__n_docs"),
      sum(col("__dl")).as("__sum_dl"))
    val q = array(queryTerms.map(lit): _*)
    val dfreq = docs
      .select(col(id),
        explode(array_intersect(array_distinct(col("__toks")), q))
          .as("__term"))
      .groupBy("__term").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(corpus))
      .withColumn("__idf6",
        round(log((col("__n_docs") - col("__df") + lit(0.5)) /
          (col("__df") + lit(0.5)) + lit(1.0)), 6).cast("decimal(18,6)"))
    val tf = docs
      .select(col(id), col("__dl"),
        explode(filter(col("__toks"), t => array_contains(q, t)))
          .as("__term"))
      .groupBy(col(id), col("__term"))
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
      .join(broadcast(dfreq), "__term")
    tf
      .withColumn("__avgdl",
        col("__sum_dl").cast("double") / col("__n_docs").cast("double"))
      .withColumn("__contrib6",
        round(col("__idf6").cast("double") *
          (col("__tf").cast("double") * lit(k1 + 1.0)) /
          (col("__tf").cast("double") +
            lit(k1) * (lit(1.0 - b) +
              lit(b) * (col("__dl").cast("double") / col("__avgdl")))),
          6).cast("decimal(18,6)"))
      .groupBy(id)
      .agg(count(lit(1)).as("n_hit"), sum(col("__contrib6")).as("score6"))
      .orderBy(col("score6").desc, col(id))
  }
}

/** Ordered-pattern kernels on any frame — the schema-parameterized
  * forms of the gated q46 (gap fill), q51 (interval merge), q48
  * (SCD2 as-of enrichment) and q63 (match_recognize-style sign-run
  * grammar) operators. The gated keys call straight into this object
  * (the api.Graph.pageRank delegation pattern), so the DuckDB oracle
  * gate doubles as each kernel's correctness proof.
  *
  * Scale contract shared by all four: every window is PARTITIONED by
  * the caller's keys (nothing here global-sorts), the only shuffles
  * are keyed on those keys, and output grain is input grain or
  * coarser.
  */
object Patterns {

  /** Dense-spine GAP FILL with forward fill (the q46 kernel): for
    * each key group, a complete time spine from its min to its max
    * `time` stepped by `step` (an interval SQL literal, e.g.
    * "interval 1 day"), left-joined back and forward-filled with the
    * last seen `value`. Output: keys ++ (time, <filledName>,
    * is_filled) where is_filled marks synthesized rows. `df` must be
    * at (keys, time) grain — but NOT necessarily grid-aligned: the
    * spine is the grid UNION the actual observation times, so a row
    * off the min+n·step grid (a 14:00 reading under a daily step) is
    * kept as its own output row instead of being silently replaced by
    * the forward-fill of the nearest grid point. One keyed agg for
    * the per-group bounds + one keyed window — the spine explode is
    * bounded by the time range, never by row count. */
  def gapFill(df: DataFrame, keys: Seq[String], time: String,
      value: String, step: String = "interval 1 day",
      filledName: String = ""): DataFrame = {
    require(keys.nonEmpty, "gapFill needs at least one key column")
    val out = if (filledName.nonEmpty) filledName else s"${value}_filled"
    val kc = keys.map(col)
    val grid = df.groupBy(kc: _*)
      .agg(min(col(time)).as("__mind"), max(col(time)).as("__maxd"))
      .select(kc :+ explode(sequence(col("__mind"), col("__maxd"),
        expr(step))).as(time): _*)
    // grid ∪ actual times: aligned inputs collapse to the grid (the
    // q46 case, distinct is a no-op); misaligned observations survive
    val spine = grid.union(df.select(kc :+ col(time): _*)).distinct()
    val w = Window.partitionBy(kc: _*).orderBy(time)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(df.select(kc :+ col(time) :+ col(value): _*),
        keys :+ time, "left")
      .select(kc ++ Seq(col(time),
        last(col(value), ignoreNulls = true).over(w).as(out),
        col(value).isNull.as("is_filled")): _*)
  }

  /** INTERVAL MERGE (the q51 island kernel): coalesce overlapping or
    * touching [start, end] intervals per key group into maximal
    * islands via the running-max island rule (a row opens a new
    * island iff its start exceeds the max end seen so far). Output:
    * keys ++ (island, start, end) at ISLAND grain, island numbered
    * from 1 in time order. start/end must be a totally ordered
    * numeric/temporal type; q51's rollup (count, coverage, longest)
    * is one groupBy on this output. */
  def intervalMerge(df: DataFrame, keys: Seq[String], start: String,
      end: String): DataFrame = {
    require(keys.nonEmpty, "intervalMerge needs at least one key column")
    val kc = keys.map(col)
    val wOrd = Window.partitionBy(kc: _*).orderBy(start, end)
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df
      .withColumn("__prev_max_en", max(col(end)).over(wPrev))
      .withColumn("__new_island",
        when(col("__prev_max_en").isNull ||
          col(start) > col("__prev_max_en"), 1L).otherwise(0L))
      .withColumn("island", sum(col("__new_island")).over(wRun))
      .groupBy(kc :+ col("island"): _*)
      .agg(min(col(start)).as(start), max(col(end)).as(end))
  }

  /** SCD2 / as-of dimension enrichment (the q48 kernel): for every
    * fact row, the dimension version whose `validFrom` is the latest
    * at-or-before the fact's `factTime` — the point-in-time-correct
    * join every slowly-changing dimension needs (a plain equi-join
    * either duplicates facts across versions or pins them to the
    * wrong one). Thin façade over the custom sort-merge
    * [[graft.plans.AsOf.join]] exec (one shuffle per side on the key,
    * no range fan-out); `joinType` inner or left_outer, left_outer
    * keeping facts that predate every version. */
  def scd2Join(fact: DataFrame, dim: DataFrame, factKey: String,
      dimKey: String, factTime: String, validFrom: String,
      joinType: String = "inner"): DataFrame =
    graft.plans.AsOf.join(fact, dim, factKey, dimKey, factTime,
      validFrom, joinType)

  /** Maximal SIGN RUNS of consecutive deltas (the q63 substrate —
    * SQL match_recognize's pattern alphabet): order each key group by
    * `time`, sign the step-to-step delta of `measure` (+1/-1/0), and
    * collapse maximal constant-sign runs. Output: keys ++ (run_id,
    * sig, start_t, end_t, move, len) where start_t is the time BEFORE
    * the run's first delta (the q63 peak/trough convention), move the
    * summed delta, len the number of steps. `df` must be at (keys,
    * time) grain; time's sort order must be chronological. */
  def signRuns(df: DataFrame, keys: Seq[String], time: String,
      measure: String): DataFrame = {
    require(keys.nonEmpty, "signRuns needs at least one key column")
    val kc = keys.map(col)
    val w = Window.partitionBy(kc: _*).orderBy(time)
    val sgn = df
      .withColumn("__prev_t", lag(col(time), 1).over(w))
      .withColumn("__delta", col(measure) - lag(col(measure), 1).over(w))
      .filter(col("__delta").isNotNull)
      .withColumn("sig", when(col("__delta") > 0, 1)
        .when(col("__delta") < 0, -1).otherwise(0))
    sgn
      .withColumn("__chg",
        when(col("sig") === lag(col("sig"), 1).over(w), 0).otherwise(1))
      .withColumn("run_id", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(kc :+ col("run_id"): _*)
      .agg(max(col("sig")).as("sig"), min(col("__prev_t")).as("start_t"),
        max(col(time)).as("end_t"), sum(col("__delta")).as("move"),
        count(lit(1)).as("len"))
  }

  /** One parsed step of the extended pattern grammar (round 12 —
    * VERDICT r11 #2). Grammar per step string:
    *   sym('|'sym)* quant? '?'?   with quant = '{m}' | '{m,}' | '{m,n}'
    * `alts` is the alternation set; `minLen`/`maxLen` bound the
    * MAXIMAL run's row count (the only faithful reading of SQL:2016
    * quantifiers over a maximal-run alphabet: a run of symbol B with
    * L rows matches B{m,n} iff m ≤ L ≤ n — a longer run can't donate
    * a prefix, because the leftover B rows would then have to match
    * the NEXT step, and maximal runs mean that step isn't B);
    * `optional` marks the whole step absent-able ('?'). `label` names
    * the step's output columns. */
  private[graft] case class PatStep(label: String, alts: Seq[String],
      minLen: Long, maxLen: Long, optional: Boolean)

  private[graft] def parsePatStep(raw: String): PatStep = {
    var s = raw.trim
    require(s.nonEmpty, "empty pattern step")
    val optional = s.endsWith("?")
    if (optional) s = s.dropRight(1)
    var minLen = 1L
    var maxLen = Long.MaxValue
    val b = s.indexOf('{')
    if (b >= 0) {
      require(s.endsWith("}"), s"malformed quantifier in pattern step '$raw'")
      val q = s.substring(b + 1, s.length - 1)
      s = s.substring(0, b)
      q.split(",", -1) match {
        case Array(m)     => minLen = m.trim.toLong; maxLen = minLen
        case Array(m, "") => minLen = m.trim.toLong
        case Array(m, n)  => minLen = m.trim.toLong; maxLen = n.trim.toLong
        case _ => throw new IllegalArgumentException(
          s"malformed quantifier in pattern step '$raw'")
      }
      require(minLen >= 1 && maxLen >= minLen,
        s"quantifier bounds out of order in pattern step '$raw'")
    }
    val alts = s.split("\\|").map(_.trim).toSeq
    require(alts.nonEmpty && alts.forall(_.nonEmpty),
      s"empty alternation branch in pattern step '$raw'")
    require(alts.distinct == alts,
      s"duplicate alternation branch in pattern step '$raw'")
    PatStep(alts.mkString("_or_"), alts, minLen, maxLen, optional)
  }

  /** Generic MATCH_RECOGNIZE-lite (round-11 — the arbitrary-pattern
    * compiler VERDICT r9 #4 / r10 #4 asked for; q63's DOWN+ UP+ is
    * one instance): classify each row into a SYMBOL (first matching
    * predicate in `defines` wins; a row matching none gets a null
    * symbol and acts as a run breaker, never part of a match),
    * collapse maximal constant-symbol runs with the signRuns
    * change-flag/cumsum algebra, then match `pattern` as CONSECUTIVE
    * runs whose symbols spell the pattern. A bare symbol step is
    * implicitly `+`-greedy because runs are MAXIMAL. `afterMatch`
    * picks the emission convention: `"all"` (default) emits every
    * match window (q63's convention; for alternating patterns the two
    * coincide), `"skip_past_last_row"` is the SQL:2016 default — the
    * greedy non-overlapping subset (matches scanned in start order,
    * each kept match resumes the search after its last run; ties at a
    * start keep the longest extent, and ambiguous readings sharing an
    * extent all survive, since they occupy identical rows).
    *
    * EXTENDED STEP GRAMMAR (round 12 — the SQL:2016 features Trino/
    * Flink ship): each pattern step may be
    *   - an ALTERNATION `"a|b"` — the run's symbol may be any branch
    *     (the step's output columns are named `a_or_b_*`, plus an
    *     `a_or_b_alt` column carrying WHICH branch matched);
    *   - BOUNDED `"b{2,4}"` / `"b{2,}"` / `"b{3}"` — the maximal
    *     run's row count must fall in the bounds (see [[PatStep]] for
    *     why run-length bounds are the faithful reading over a
    *     maximal-run alphabet);
    *   - OPTIONAL `"b?"` — the run may be absent entirely, in which
    *     case the step's output columns are null and the neighboring
    *     steps must be directly adjacent runs. Suffixes compose:
    *     `"(a|b){2,3}?"` is written `"a|b{2,3}?"` (quantifier then
    *     `?`). k optional steps expand to 2^k adjacency variants,
    *     each matched independently and unioned — at most one variant
    *     can match per start run UNLESS an optional step's symbol
    *     also appears in the following step's alternation (then both
    *     readings are emitted; keep them disjoint for unambiguous
    *     grammars).
    *
    * Per-run measures come from `runAggs` (aggregate expressions over
    * the run's rows; default start/end/len). Output: keys ++ match_id
    * (the first matched run's id) ++ per-step columns named
    * `<label>_<agg>` — a repeated label in the pattern gets a
    * 1-based positional suffix (`down2_len`).
    *
    * Scale: one row-grain keyed window for classification + change
    * flags, one keyed agg to run grain, then ≤(m−1) lead()s per
    * variant on the RUN-GRAIN frame — run count is bounded by the
    * grain of the series, never the corpus, and nothing sorts
    * globally. */
  def matchRecognize(df: DataFrame, keys: Seq[String], time: String,
      defines: Seq[(String, Column)], pattern: Seq[String],
      runAggs: Seq[(String, Column)] = Nil,
      afterMatch: String = "all"): DataFrame = {
    require(keys.nonEmpty, "matchRecognize needs at least one key column")
    require(defines.nonEmpty && pattern.nonEmpty, "empty defines/pattern")
    require(afterMatch == "all" || afterMatch == "skip_past_last_row",
      s"afterMatch must be 'all' or 'skip_past_last_row', got '$afterMatch'")
    val symNames = defines.map(_._1)
    require(symNames.distinct == symNames, "duplicate define names")
    val steps = pattern.map(parsePatStep)
    val badAlts = steps.flatMap(_.alts).filterNot(symNames.contains)
    require(badAlts.isEmpty, s"pattern step not defined: $badAlts")
    require(steps.exists(!_.optional),
      "pattern needs at least one non-optional step")
    val kc = keys.map(col)
    val aggs =
      if (runAggs.nonEmpty) runAggs
      else Seq("start" -> min(col(time)), "end" -> max(col(time)),
        "len" -> count(lit(1)))
    require(aggs.forall(_._1 != "alt") || steps.forall(_.alts.size == 1),
      "runAgg named 'alt' collides with an alternation step's " +
        "<label>_alt column — rename the agg")
    // 1. classify (first-match-wins; unmatched → null symbol)
    val sym = defines.foldRight(lit(null).cast("string")) {
      case ((n, p), acc) => when(p, lit(n)).otherwise(acc)
    }
    // 2. run algebra: a row opens a new run unless its symbol equals
    // the previous row's (null-safe: null symbols never chain, so an
    // unmatched row is its own run and breaks adjacency either side).
    // __a___cnt is the hidden run length the quantifier checks read —
    // always computed, independent of the caller's runAggs.
    val w = Window.partitionBy(kc: _*).orderBy(time)
    val runs = df.withColumn("__sym", sym)
      .withColumn("__chg",
        when(col("__sym") === lag(col("__sym"), 1).over(w), 0L)
          .otherwise(1L))
      .withColumn("__run", sum(col("__chg")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(kc :+ col("__run"): _*)
      .agg(max(col("__sym")).as("__sym"),
        count(lit(1)).as("__a___cnt") +:
          aggs.map { case (n, c) => c.as(s"__a_$n") }: _*)
    // 3. pattern = consecutive runs: lead() the run-grain frame
    val rw = Window.partitionBy(kc: _*).orderBy("__run")
    def stepCol(i: Int, c: String): Column =
      if (i == 0) col(c) else lead(col(c), i).over(rw)
    val labels = steps.map(_.label)
    val dupSteps = labels.groupBy(identity).collect {
      case (p, v) if v.size > 1 => p
    }.toSet
    val stepPrefix = labels.zipWithIndex.map { case (p, i) =>
      if (dupSteps(p)) s"$p${labels.take(i + 1).count(_ == p)}" else p
    }
    // a positional suffix can collide with a LITERAL define name
    // (defines "down" and "down1", pattern down down down1 → two
    // steps both named down1): duplicate output columns would make
    // every downstream col() ambiguous — fail loudly at call time
    require(stepPrefix.distinct == stepPrefix,
      s"pattern step output names collide after positional suffixing: " +
        s"$stepPrefix — rename the conflicting define")
    // 4. optional-step expansion: each variant is the ordered list of
    // PRESENT step indexes; absent steps emit typed nulls. 2^k
    // variants, k = optional step count — a grammar feature, bounded.
    val optIdx = steps.zipWithIndex.collect {
      case (st, i) if st.optional => i
    }
    require(optIdx.size <= 8,
      s"${optIdx.size} optional steps would expand to 2^${optIdx.size} " +
        "adjacency variants — restructure the pattern")
    val variants: Seq[Seq[Int]] = (0 until (1 << optIdx.size)).map { mask =>
      val absent = optIdx.zipWithIndex.collect {
        case (idx, bit) if (mask & (1 << bit)) != 0 => idx
      }.toSet
      steps.indices.filterNot(absent)
    }
    // ADVICE r12: each variant re-derives the whole run-grain frame
    // (classification window + change-flag cumsum + groupBy) from the
    // raw input — with k optional steps that subtree would execute
    // 2^k times. Pin it once when there is anything to share; the
    // single-variant path (q63/q70) keeps its lazy plan untouched.
    val runsShared =
      if (variants.size > 1 || afterMatch != "all") Pin.cut(runs)
      else runs
    def variantDf(present: Seq[Int]): DataFrame = {
      val jOf = present.zipWithIndex.toMap // step index -> lead offset
      val mv = present.size
      // typed null for an absent step's column: never-true when() over
      // the run-grain column keeps the agg's own type without knowing
      // it statically
      def absentNull(c: String): Column = when(lit(false), col(c))
      val proj = runsShared.select(kc ++
        Seq(col("__run").as("match_id"),
          // run ids are a per-key change-flag cumsum, so a variant of
          // mv consecutive runs ends at match_id + mv − 1 — the
          // "last row" the SKIP PAST LAST ROW dedup resumes after
          (col("__run") + lit(mv - 1)).as("__last")) ++
        (0 until mv).map(j => stepCol(j, "__sym").as(s"__sym_$j")) ++
        (0 until mv).map(j => stepCol(j, "__a___cnt").as(s"__cnt_$j")) ++
        steps.indices.flatMap { si =>
          val altCol =
            if (steps(si).alts.size > 1)
              Seq((jOf.get(si) match {
                case Some(j) => stepCol(j, "__sym")
                case None    => absentNull("__sym")
              }).as(s"${stepPrefix(si)}_alt"))
            else Nil
          altCol ++ aggs.map { case (n, _) =>
            (jOf.get(si) match {
              case Some(j) => stepCol(j, s"__a_$n")
              case None    => absentNull(s"__a_$n")
            }).as(s"${stepPrefix(si)}_$n")
          }
        }: _*)
      val cond = present.zipWithIndex.map { case (si, j) =>
        val st = steps(si)
        val symOk =
          if (st.alts.size == 1) col(s"__sym_$j") === lit(st.alts.head)
          else col(s"__sym_$j").isin(st.alts: _*)
        val lenOk = Seq(
          if (st.minLen > 1L) Some(col(s"__cnt_$j") >= lit(st.minLen))
          else None,
          if (st.maxLen != Long.MaxValue)
            Some(col(s"__cnt_$j") <= lit(st.maxLen))
          else None).flatten
        (symOk +: lenOk).reduce(_ && _)
      }.reduce(_ && _)
      proj.filter(cond)
        .drop((0 until mv).map(j => s"__sym_$j") ++
          (0 until mv).map(j => s"__cnt_$j"): _*)
    }
    val all = variants.map(variantDf).reduce(_ unionByName _)
    if (afterMatch == "all") all.drop("__last")
    else {
      // AFTER MATCH SKIP PAST LAST ROW (round 13 — VERDICT r12 #3, the
      // SQL:2016 default Trino/Flink users expect): of the all-matches
      // set, keep the greedy non-overlapping subset — scan matches in
      // start order, keep one, resume the search after its LAST run.
      // Ties at the same start keep the LONGEST extent (the greedy-
      // quantifier reading); ambiguous readings with the SAME extent
      // (the optional-in-next-alternation double emission) occupy
      // identical rows, so all of them survive the extent semi-join.
      // Scale: matches per key are run-grain bounded (the same bound
      // the ≤(m−1) lead()s rely on), so the per-key collect + fold is
      // the bounded-domain tier, never corpus-grain; the fold is one
      // codegen'd higher-order aggregate, not a driver loop.
      val allPinned = Pin.cut(all)
      val keptIv = allPinned
        .groupBy(kc: _*)
        .agg(collect_list(struct(col("match_id").as("f"),
          (-col("__last")).as("nl"), col("__last").as("l"))).as("ms"))
        .withColumn("ks", expr(
          """aggregate(array_sort(ms),
            |  named_struct('lk', CAST(-9223372036854775808 AS BIGINT),
            |    'ks', CAST(array() AS ARRAY<STRUCT<f: BIGINT, l: BIGINT>>)),
            |  (acc, m) -> IF(m.f > acc.lk,
            |    named_struct('lk', m.l,
            |      'ks', array_append(acc.ks, named_struct('f', m.f, 'l', m.l))),
            |    acc),
            |  acc -> acc.ks)""".stripMargin))
        .select(kc :+ explode(col("ks")).as("kv"): _*)
        .select(kc :+ col("kv.f").as("match_id") :+ col("kv.l").as("__last"): _*)
      allPinned
        .join(keptIv, keys :+ "match_id" :+ "__last", "left_semi")
        .drop("__last")
    }
  }

  /** TROUGH-RECOVERY matches (the full q63 contract — the
    * match_recognize DOWN+ UP+ pattern): every maximal down-run
    * immediately followed by an up-run, with the peak/bottom
    * timestamps, drawdown depth and recovery magnitude. Output: keys
    * ++ (peak, bottom, recovered, depth, recovery, down_len, up_len).
    * Since round 11 this is the convenience instantiation of
    * [[matchRecognize]] — deltas classified down/up/flat (flat runs
    * break adjacency exactly as signRuns' sig=0 runs did), pattern
    * Seq("down", "up"), per-run measures matching the signRuns
    * conventions (start_t = the time BEFORE the run's first delta).
    * Run count is bounded by the time-grain cardinality, never the
    * corpus. */
  def troughRecoveries(df: DataFrame, keys: Seq[String], time: String,
      measure: String): DataFrame = {
    val kc = keys.map(col)
    val w = Window.partitionBy(kc: _*).orderBy(time)
    val deltas = df
      .withColumn("__prev_t", lag(col(time), 1).over(w))
      .withColumn("__delta", col(measure) - lag(col(measure), 1).over(w))
      .filter(col("__delta").isNotNull)
    matchRecognize(deltas, keys, time,
      defines = Seq("down" -> (col("__delta") < 0),
        "up" -> (col("__delta") > 0), "flat" -> lit(true)),
      pattern = Seq("down", "up"),
      runAggs = Seq("start_t" -> min(col("__prev_t")),
        "end_t" -> max(col(time)), "move" -> sum(col("__delta")),
        "len" -> count(lit(1))))
      .select(kc ++ Seq(col("down_start_t").as("peak"),
        col("down_end_t").as("bottom"), col("up_end_t").as("recovered"),
        (-col("down_move")).as("depth"), col("up_move").as("recovery"),
        col("down_len"), col("up_len")): _*)
  }
}
