package graft

import org.apache.spark.sql.DataFrame

/** Plan-shape regression tests: the physical plans must keep the
  * properties the 100 TB design depends on (scan pruning, pushdown,
  * broadcast dims, map-side partial aggregation, no cartesian
  * products). Catching a regression here is cheaper than finding it
  * in a cluster bill. */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02 pushes filter and projection into the parquet scan") {
    val p = plan(ops.Relational.q02(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(p_type)") ||
      p.contains("PushedFilters: [IsNotNull(p_retailprice)"), p.take(2000))
    // projection pruned to the 4 selected columns
    assert(p.contains("ReadSchema") && !p.contains("p_size"), "scan not pruned")
  }

  test("q03 broadcasts the customer dim") {
    assert(plan(ops.Relational.q03(spark, sf)).contains("BroadcastHashJoin"))
  }

  test("q05 star join broadcasts nation and region") {
    val p = plan(ops.Relational.q05(spark, sf))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("q01 aggregates with map-side partial agg") {
    val p = plan(ops.Relational.q01(spark, sf))
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(2000))
  }

  test("r02 popularity keeps partial aggregation before the shuffle") {
    assert(plan(ops.Recommend.r02(spark, sf)).contains("partial_count"))
  }

  test("r12 co-occurrence is basket-collect, not a pairwise self-join") {
    val p = plan(ops.Recommend.r12(spark, sf))
    // the old shape: join on (k = k2) AND NOT (i = j) — Σℓ² rows
    // through the exchange; the basket shape has no inequality join
    // and exactly one aggregation (collect_set) producing the pairs
    assert(!p.contains("NOT (i"), "pairwise self-join is back:\n" + p.take(2000))
    assert(p.contains("collect_set"), "basket collect_set missing")
  }

  test("m03 decode runs columnar: FeatureDecodeExec between transitions") {
    val df = ops.Multimodal.m03(spark, sf)
    df.collect() // AQE inserts the columnar transitions per-stage at execution
    val p = plan(df)
    assert(p.contains("FeatureDecode"), "custom columnar exec missing:\n" + p.take(1500))
    assert(p.contains("ColumnarToRow"),
      "planner did not wrap the columnar exec:\n" + p.take(1500))
  }

  test("q36 salted aggregation is two-phase: exchange on (key, salt)") {
    val p = plan(ops.Relational.q36(spark, sf))
    assert(p.contains("__salt"), "salt column missing from the plan:\n" + p.take(1500))
    // first exchange partitions on (l_returnflag, __salt), the second
    // (post-AQE it may be a coalesced read) on l_returnflag alone
    assert("hashpartitioning\\(l_returnflag[^)]*__salt".r.findFirstIn(p).isDefined,
      "no (key, salt) exchange:\n" + p.take(1500))
  }

  test("no accidental cartesian products anywhere") {
    // sanctioned exceptions: q20/r08/r14/r15 broadcast a single-row
    // aggregate; r06/r13 are MLlib recommendForAll*, whose blocked
    // user×item cross product IS the scoring algorithm; q65 pairs the
    // FIVE region bitmaps with an inequality self-join (ra < rb) —
    // a 5×5 frame bounded by the region dim, never by data.
    val sanctioned = Set("q20_scalar_subq", "r08_baseline_rmse",
      "r06_als_recommend", "r13_item_users", "r14_als_rmse",
      "r15_model_persist", "q65_audience_overlap")
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!sanctioned(name)) {
        val p = plan(fn(spark, sf))
        assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
      }
    }
  }

  test("q01 executes inside whole-stage codegen") {
    val df = ops.Relational.q01(spark, sf)
    df.collect() // materialize so AQE finalizes the physical stages
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), "no WholeStageCodegen stage markers in q01")
  }

  test("s01 broadcasts the probe side of the knn scan") {
    val p = plan(ops.Similarity.s01(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("dedup LSH candidate join is a hash join on (band, bucket)") {
    val p = plan(ops.Dedup.d03(spark, sf))
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"))
  }

  test("ANN encode/assign paths aggregate without sorting the fan-out") {
    // The former row_number-window argmin forced an exchange + full
    // sort of the corpus × codebook fan-out; the min-struct hash
    // aggregation must plan with NO SortExec below the aggregate.
    // The only sorts allowed in these plans are the final orderBy and
    // the bounded per-query rank window AFTER the candidate join.
    def sortsBelowFirstAgg(df: org.apache.spark.sql.DataFrame): Int = {
      val p = df.queryExecution.executedPlan
      // walk: count SortExec nodes that have an aggregate ancestor
      // (i.e. sorts feeding aggregation rather than output ordering)
      def walk(n: org.apache.spark.sql.execution.SparkPlan,
        underAgg: Boolean): Int = {
        val isAgg = n.nodeName.contains("Aggregate")
        val isSort = n.nodeName == "Sort"
        (if (isSort && underAgg) 1 else 0) +
          n.children.map(walk(_, underAgg || isAgg)).sum
      }
      walk(p, underAgg = false)
    }
    // s06's plan: encode agg + recon agg + pqSearch window. The
    // window's sort sits ABOVE the aggregates (not feeding them), so
    // zero sorts may appear below an aggregate boundary.
    assert(sortsBelowFirstAgg(ops.Similarity.s06(spark, sf)) == 0,
      "a Sort feeds the PQ encode aggregation — window-argmin regressed")
    assert(sortsBelowFirstAgg(ops.Similarity.s05(spark, sf)) == 0,
      "a Sort feeds the IVF cell assignment aggregation")
  }

  test("runtime bloom filter prunes the fact scan off a selective dim filter") {
    // At 100 TB the shuffle join orders⋈lineitem with a selective
    // predicate on orders only pays off if lineitem rows that cannot
    // match are dropped BEFORE the exchange. Spark's InjectRuntimeFilter
    // does that with a bloom filter built from the filtered creation
    // side. Local datasets sit below the worthwhileness thresholds, so
    // pin the behavior with thresholds scaled down; production confs
    // keep the defaults (10MB creation side / 10GB application side).
    val c = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold").map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val orders = graft.Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
      val li = graft.Tables.lineitem(spark, sf)
      val joined = li.join(orders,
        li("l_orderkey") === orders("o_orderkey")).groupBy("o_orderpriority").count()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") || p.contains("BloomFilter"),
        p.take(3000))
    } finally saved.foreach { case (k, v) =>
      v.fold(c.unset(k))(c.set(k, _))
    }
  }

  test("i03 read-back prunes partitions: lang filter hits the listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_i03_spec_").toString
    sources.Io.writeParquet(
      graft.Tables.documents(spark, sf).select("doc_id", "lang", "source", "n_chars"),
      dir, partitionBy = Seq("lang"), coalesceTo = Some(2))
    val p = plan(ops.IoOps.prunedReadback(spark, dir))
    // The lang predicate must resolve against partition directories
    // (PartitionFilters), not as a post-scan data filter (PushedFilters).
    assert(p.contains("PartitionFilters:") && p.contains("lang#"), p.take(2000))
    val pf = p.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("")
    assert(pf.contains("lang#"), s"lang not in partition filters: $pf")
  }

  test("i06 clustered read-back pushes the range predicate to the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_i06_spec_").toString
    graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .repartitionByRange(4, org.apache.spark.sql.functions.col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(dir)
    val p = plan(ops.IoOps.clusteredReadback(spark, dir))
    // the range predicate must reach the parquet reader (row-group
    // min/max skipping), not run as a post-scan filter only
    val pushed = p.linesIterator.find(_.contains("PushedFilters:")).getOrElse("")
    assert(pushed.contains("GreaterThanOrEqual(l_orderkey,1000)") &&
      pushed.contains("LessThan(l_orderkey,2000)"),
      s"range predicate not pushed: $pushed")
  }

  test("r22 backfill joins broadcast the popularity head") {
    val df = ops.Recommend.r22(spark, sf)
    df.collect() // AQE-final plan: runtime sizes convert the anti-joins
    val p = plan(df)
    // users × head is a broadcast nested-loop (bounded head), and the
    // anti-joins against seen/cf EXECUTE broadcast. (The plan string
    // also embeds cached relations' pre-AQE builds, which may show
    // sort-merge they never ran — assert on codegen'd executed nodes,
    // the `*(n)`-starred lines, not on the whole dump.)
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1500))
    val executedSmj = p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("SortMergeJoin"))
    assert(!executedSmj, "backfill executed a sort-merge join")
  }

  test("p03 window stays keyed by domain; the total broadcasts") {
    val p = plan(ops.Pipeline.p03(spark, sf))
    // the rank runs inside a domain-keyed exchange (the limit is
    // column-bound — n_target — so WindowGroupLimit can't elide the
    // in-partition sort, but the shuffle key keeps it corpus-parallel);
    // the only global sort is the 4-row output ordering
    assert(p.contains("Exchange hashpartitioning(domain"), p.take(1500))
    // the 1-row total broadcasts, never shuffles the corpus against it
    assert(p.contains("BroadcastNestedLoopJoin"), "corpus total not broadcast")
  }

  test("p01 caches nothing and reads documents through at most two scans") {
    val df = ops.Pipeline.p01(spark, sf)
    assert(df.queryExecution.optimizedPlan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation => m
    }.isEmpty, "p01 caches a frame")
    df.collect() // AQE settles exchange reuse at execution
    val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val scans = aqe.collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.getName == "documents.parquet") =>
        (f.requiredSchema, f.dataFilters)
    }
    // the flag table's scan and the LSH input's (which d04's shingle
    // branch reads again, identically); a three-way union per corpus
    // adds a filtered scan for each copy kind
    assert(scans.nonEmpty && scans.distinct.size <= 2, scans.mkString("\n"))
  }

  test("t17/t18 scans prune to the columns the ops read") {
    val p17 = plan(ops.TextOps.t17(spark, sf))
    assert(p17.contains("ReadSchema") && !p17.contains("n_chars"),
      "t17 reads columns it never uses")
    val p18 = plan(ops.TextOps.t18(spark, sf))
    assert(!p18.contains("source"), "t18 reads columns it never uses")
  }

  test("r24 cold-start plan is all broadcast joins, no fact-fact shuffle join") {
    val p = plan(ops.Recommend.r24(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // both profile joins broadcast (the profiles are bounded dims);
    // a sort-merge here would shuffle the serving fan-out
    assert(!p.contains("SortMergeJoin"), "profile join fell to sort-merge")
    // and the top-3 rank gets the group-limit pushdown
    assert(p.contains("WindowGroupLimit"), "top-3 rank not group-limited")
  }

  test("s11 SQ8 stats broadcast back; corpus never shuffles for the stats") {
    val p = plan(ops.Similarity.s11(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("m07 broadcasts probes over one decode of the corpus") {
    val df = ops.Multimodal.m07(spark, sf)
    df.collect()
    val p = plan(df)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(1500))
    // exactly the columnar decode feeds both sides
    assert(p.contains("FeatureDecode"), "custom columnar decode not in plan")
  }

  test("t21 chunk window shuffles on the fingerprint, not globally") {
    val p = plan(ops.TextOps.t21(spark, sf))
    assert(p.contains("Exchange hashpartitioning(fp"), p.take(1500))
    // the only range exchange is the 500-row ordered output
    val rangeExchanges = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(rangeExchanges <= 1, "unexpected global sort in the dedup path")
  }

  test("q50 contribution-explosion plan has no cartesian range join") {
    val p = plan(ops.Relational.q50(spark, sf))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "sliding distinct fell back to an O(days x users) range join")
    assert(p.contains("Exchange hashpartitioning"), p.take(1200))
  }

  test("g06 degree dims broadcast; pair join keyed, never cartesian") {
    val p = plan(ops.Graph.g06(spark, sf))
    // degrees are a bounded dim — they must broadcast onto the pairs
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // the cohort-sided pair join must ride the supplier key (hash or
    // sort-merge both fine — the point is no unkeyed product)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "pair generation lost its equality key")
  }

  test("s12/s13 broadcast the probe panel over one corpus scan") {
    for (df <- Seq(ops.Similarity.s12(spark, sf), ops.Similarity.s13(spark, sf))) {
      val p = plan(df)
      assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
      // one corpus scan: embeddings appears in exactly two scans
      // (probe side + corpus side), never a third pass
      assert(p.linesIterator.count(_.contains("Scan parquet")) <= 3, // +1 spine/self
        "extra corpus passes in range/maxsim plan")
    }
  }

  test("e24 attribution rides one user-keyed join and purchase-keyed windows") {
    val p = plan(ops.EventOps.e24(spark, sf))
    // the range predicate must ride the equality join, not a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "touch join fell to a nested loop — range predicate not post-filtered")
    assert(p.contains("Exchange hashpartitioning(p_id"), p.take(1500))
  }

  test("m11 packing window is source-keyed, never a single global sort") {
    val p = plan(ops.Multimodal.m11(spark, sf))
    assert(p.contains("Exchange hashpartitioning(source"), p.take(1500))
    // the only range exchange is the small ordered rollup output
    val ranges = p.linesIterator.count(_.contains("Exchange rangepartitioning"))
    assert(ranges <= 1, "packing planned a global sort of the corpus")
  }

  test("t25 DSIR dims broadcast onto one token explode") {
    val p = plan(ops.TextOps.t25(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"),
      "a vocabulary dim fell to sort-merge — the corpus explode re-shuffled")
  }

  test("i18 snapshot diff is one key-keyed join, no product") {
    val p = plan(ops.IoOps.i18(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "diff lost its key equality")
    assert(p.contains("FullOuter") &&
      (p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
      p.take(1500))
  }

  test("i28 nested read prunes to the two touched leaves") {
    val (_, p) = ops.IoOps.i28WithPlan(spark, sf)
    val rs = p.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail("no ReadSchema in the nested read-back plan"))
    // the touched leaves must be read ...
    assert(rs.contains("seg:") && rs.contains("k:"), rs)
    // ... and the untouched siblings must NOT be: meta.user.id,
    // meta.kind and items[].v share structs with the touched leaves,
    // so their absence is exactly nested-schema pruning at work
    assert(!rs.contains("id") && !rs.contains("kind"),
      s"struct siblings not pruned: $rs")
    assert(!rs.contains("v:"), s"array-struct sibling v not pruned: $rs")
  }

  test("PlanDump's canonical form hides run-scoped ids, not plan moves") {
    import org.apache.spark.sql.functions.col
    def dump(df: DataFrame) = PlanDump.canonical(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    def q(n: Long) = spark.range(0, n, 1, 4).toDF("id").groupBy(col("id") % 3).count()
    // a fresh frame gets fresh expression and plan ids; same shape, same text
    val (a, b) = (dump(q(10)), dump(q(10)))
    assert(a.contains("#1") && a == b, s"$a\n---\n$b")
    assert(dump(q(10).filter(col("count") > 1)) != a)
  }
}
