package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

class IoSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_io").toString

  test("csv round-trip preserves rows and schema") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "source", "n_chars")
    val dir = tmp() + "/docs_csv"
    sources.Io.writeCsv(docs, dir)
    val back = sources.Io.readCsv(spark, dir, docs.schema)
    assert(back.count() == docs.count())
    assert(back.schema == docs.schema)
    assert(back.agg(sum("n_chars")).collect()(0).getLong(0) ==
      docs.agg(sum("n_chars")).collect()(0).getLong(0))
  }

  test("a table's schema resolves once: the second read starts no job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    Tables.orders(spark, sf) // resolves (or finds) the memoized schema
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = String.valueOf(e.properties.getProperty("spark.jobGroup.id"))
        groups.add(g)
        if (g == "tables-marker") marker.countDown()
      }
    }
    sc.addSparkListener(listener)
    val again = try {
      sc.setJobGroup("tables-read", "second orders read")
      val df = Tables.orders(spark, sf)
      // the listener bus delivers in order: once the marker job's start
      // arrives, every job the read could have started has arrived too
      sc.setJobGroup("tables-marker", "listener-bus marker")
      spark.range(1).count()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS))
      df
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    assert(!groups.contains("tables-read"))
    assert(again.collect().toSet ==
      spark.read.parquet(s"$sf/orders.parquet").collect().toSet)
  }

  test("jsonl round-trip preserves rows") {
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "event_type", "value")
    val dir = tmp() + "/events_json"
    sources.Io.writeJsonl(ev, dir)
    val back = sources.Io.readJsonl(spark, dir, ev.schema)
    assert(back.count() == ev.count())
  }

  test("IVF-PQ incremental append serves identically to a one-shot build") {
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    val cb = ops.Similarity.pqSeedCodebook(e)
    // one-shot index over the full corpus
    val full = tmp() + "/idx_full"
    ops.IoOps.ivfPqWrite(e, cents, cb, full)
    // incremental: build from the even half, append the odd half
    val incr = tmp() + "/idx_incr"
    ops.IoOps.ivfPqWrite(e.filter(col("vec_id") % 2 === 0), cents, cb, incr)
    ops.IoOps.ivfPqAppend(spark, e.filter(col("vec_id") % 2 === 1), incr)
    // frozen quantizers ⇒ per-vector cells/codes are build-path
    // independent ⇒ the served results must be row-identical
    val a = ops.IoOps.ivfPqServe(spark, e, full, probeBelow = 50, topK = 3)
    val b = ops.IoOps.ivfPqServe(spark, e, incr, probeBelow = 50, topK = 3)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "append-built index diverges from the one-shot build")
    assert(a.count() > 0)
  }

  test("z-order layout skips data a shuffled layout must scan") {
    // same rows, two layouts: Morton-sorted files vs randomly-placed
    // rows. The 2-D box predicate pushes to parquet on both; only the
    // z-ordered copy has per-file footer stats tight enough to skip,
    // so its scan must produce (strictly) fewer rows. This is the
    // measured OPTIMIZE ZORDER effect, not just a plan-shape claim.
    // unwrap AQE wrappers: AdaptiveSparkPlanExec and QueryStageExec
    // nodes hold their subplans out-of-band, so collectLeaves stops
    // at them instead of reaching the file scans
    def leaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        leaves(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(q.plan)
      case l if l.children.isEmpty => Seq(l)
      case n => n.children.flatMap(leaves)
    }
    def scannedRows(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      leaves(df.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
    }
    val zdir = ops.IoOps.zorderedDir(spark, sf, files = 8)
    // fixed per-user dir + overwrite, same no-accumulation discipline
    // as zorderedDir itself
    val sdir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_i09spec_shuffled_" + System.getProperty("user.name", "nouser")
        .replaceAll("[^A-Za-z0-9]", "_")).toString
    sources.Io.readParquet(spark, zdir)
      .repartition(8) // round-robin: destroys clustering, keeps rows
      .write.mode("overwrite").parquet(sdir)
    val zScan = scannedRows(ops.IoOps.zorderReadback(spark, zdir))
    val sScan = scannedRows(ops.IoOps.zorderReadback(spark, sdir))
    val total = Tables.orders(spark, sf).count()
    assert(zScan < sScan,
      s"z-ordered scan read $zScan rows, shuffled layout $sScan — no skipping")
    assert(zScan < total, s"z-ordered scan read all $total rows")
    // and both layouts agree on the box result
    val a = ops.IoOps.zorderReadback(spark, zdir).collect().map(_.toString).sorted
    val b = ops.IoOps.zorderReadback(spark, sdir).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("i11 compaction bin-packs to the byte-derived file count") {
    val dir = tmp()
    Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .repartition(32).write.parquet(dir + "/landing")
    val (before, after) =
      ops.IoOps.compact(spark, dir + "/landing", dir + "/out", targetBytes = 256 * 1024)
    assert(before == 32)
    assert(after < before, s"no compaction: $before -> $after")
    // the output count is the bin-packing formula, not a magic number
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(dir + "/landing"))
      .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).sum
    val want = math.max(1, math.ceil(bytes.toDouble / (256 * 1024)).toInt)
    assert(after == want, s"got $after files, bin-packing says $want")
    // and content is preserved exactly
    assert(sources.Io.readParquet(spark, dir + "/out")
      .exceptAll(sources.Io.readParquet(spark, dir + "/landing")).count() == 0)
  }

  test("i12 bucketed join reports zero shuffle exchanges in its gate column") {
    val rows = ops.IoOps.i12(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("zero_exchange_ok")),
      "bucketed fact-fact join planned a shuffle exchange")
  }

  test("i14 snapshots isolate readers and delete logically") {
    val (df, add0Survives, totalFiles, v1Files) =
      ops.IoOps.i14WithStats(spark, sf)
    val rows = df.collect().map(r =>
      r.getAs[Int]("version") -> (r.getAs[Long]("n_rows"), r.getAs[Long]("sum_keys"))).toMap
    // reader isolation: v1 + v3 partition v2 exactly (no row lost or
    // double-counted across the append + logical delete)
    assert(rows(1)._1 + rows(3)._1 == rows(2)._1)
    assert(rows(1)._2 + rows(3)._2 == rows(2)._2)
    assert(rows(1)._1 > 0 && rows(3)._1 > 0, "a version is empty: vacuous")
    // the logical delete left add0's bytes on disk (time travel works)
    assert(add0Survives, "logical delete physically removed files")
    // and v1's manifest hides the appended files
    assert(v1Files < totalFiles, "append visible to the old snapshot")
  }

  test("i15 evolved layouts both prune partitions under one query") {
    val (df, plan) = ops.IoOps.i15WithPlan(spark, sf)
    assert(df.collect().nonEmpty)
    // the lang filter reaches BOTH epochs' partition listings
    val pruned = "PartitionFilters: \\[isnotnull\\(lang".r
      .findAllIn(plan).size
    assert(pruned >= 2, s"only $pruned branch(es) pruned:\n" + plan.take(2000))
  }

  test("i13 retention delete rewrites ONLY the affected partitions") {
    val dir = tmp() + "/lake"
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "source", "n_chars")
    docs.write.partitionBy("lang").parquet(dir)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    def listing(lang: String): Seq[(String, Long, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/lang=$lang"))
        .filter(_.getPath.getName.startsWith("part-"))
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSeq.sorted
    val enBefore = listing("en")
    val frDocs = docs.filter(col("lang") === "fr").count()
    val forget = docs.filter(col("lang") === "fr" && col("doc_id") % 5 === 0)
      .select("doc_id")
    val nForget = forget.count()
    assert(nForget > 0, "forget list empty: delete untested")
    ops.IoOps.retentionDelete(spark, dir, forget, "lang")
    // untouched partition: same files, same bytes, same mtimes
    assert(listing("en") == enBefore,
      "retention delete rewrote an unaffected partition")
    // affected partition: exactly the forgotten rows are gone
    val after = spark.read.parquet(dir)
    assert(after.filter(col("lang") === "fr").count() == frDocs - nForget)
    assert(after.join(forget, Seq("doc_id"), "left_semi").count() == 0,
      "a forgotten doc survived")
  }

  test("partitioned parquet write prunes partitions on read") {
    val docs = Tables.documents(spark, sf)
    val dir = tmp() + "/docs_part"
    sources.Io.writeParquet(docs, dir, partitionBy = Seq("lang"), coalesceTo = Some(1))
    val en = sources.Io.readParquet(spark, dir).filter(col("lang") === "en")
    // partition pruning: the physical scan must carry a partition filter
    val plan = en.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"))
    assert(en.count() ==
      docs.filter(col("lang") === "en").count())
  }

  test("i17: vacuum removes exactly the planted orphans, lake rows conserved") {
    val rows = ops.IoOps.i17(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Long]("n_orphans_removed") == 2L),
      "vacuum did not remove exactly the two planted orphan files")
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == Tables.documents(spark, sf).count(),
      "post-vacuum lake row count diverged from the corpus")
  }

  test("i20: increments are disjoint file sets that rebuild the full table") {
    val (df, incFiles) = ops.IoOps.i20WithFiles(spark, sf)
    val rows = df.collect()
    assert(rows.length == 3)
    // pairwise disjoint: no file is ever processed twice
    val sets = incFiles.map(_.toSet)
    for (i <- sets.indices; j <- sets.indices if i < j)
      assert(sets(i).intersect(sets(j)).isEmpty,
        s"file re-processed across increments $i/$j")
    assert(sets.forall(_.nonEmpty), "an empty increment — wave vacuous")
    // conservation: incremental row totals rebuild the full table
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == Tables.orders(spark, sf).count())
  }

  test("i23: quarantine conserves the batch and routes exactly the planted corruption") {
    val row = ops.IoOps.i23(spark, sf).collect().head
    val cust = Tables.customer(spark, sf)
      .select("c_custkey", "c_acctbal").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(row.getAs[Long]("n_total") == cust.length,
      "parser dropped or duplicated landing lines")
    assert(row.getAs[Long]("n_total") ==
      row.getAs[Long]("n_good") + row.getAs[Long]("n_quarantined"),
      "a line was routed to both or neither side")
    val planted = cust.count(_._1 % 7 == 0)
    assert(row.getAs[Long]("n_quarantined") == planted,
      s"quarantined ${row.getAs[Long]("n_quarantined")} != planted $planted")
    assert(planted > 0, "no corruption planted at spec SF — test is vacuous")
    val goodSum = BigDecimal(cust.filter(_._1 % 7 != 0)
      .map(c => BigDecimal(c._2).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      .toString).toDouble
    assert(row.getAs[Double]("good_acctbal") == goodSum,
      "good-side balance mass drifted from the source rows")
  }

  test("i22: masking is injective, leak-free, and deterministic across exports") {
    val a = ops.IoOps.i22(spark, sf).collect()
    a.foreach { r =>
      assert(r.getAs[Boolean]("injective"), "mask collapsed distinct names")
      assert(r.getAs[Boolean]("no_leak"), "raw value pattern leaked into tokens")
    }
    // a second physical export must produce identical tokens (joinability
    // across runs and across tables)
    val b = ops.IoOps.i22(spark, sf).collect()
    assert(a.map(_.getAs[String]("tok_checksum")).toSeq ==
      b.map(_.getAs[String]("tok_checksum")).toSeq)
  }

  test("i21: failed audit never publishes; bad staging stays orphaned on disk") {
    val (df, okA, okB, latestManifest, stagedB) = ops.IoOps.i21WithAudit(spark, sf)
    val rows = df.collect()
    assert(okA && !okB, s"audits: A=$okA B=$okB")
    // the failed attempt left the readable snapshot identical to v2
    val s2 = rows.find(_.getAs[Int]("step") == 2).get
    val s3 = rows.find(_.getAs[Int]("step") == 3).get
    assert(s2.getAs[Long]("n_rows") == s3.getAs[Long]("n_rows") &&
      s2.getAs[Long]("sum_keys") == s3.getAs[Long]("sum_keys"))
    assert(s3.getAs[Long]("n_violations") > 0L, "plant vacuous")
    // B's files were staged (exist) but are referenced by NO manifest
    assert(stagedB.nonEmpty)
    assert(stagedB.toSet.intersect(latestManifest.toSet).isEmpty,
      "bad staging leaked into the published manifest")
  }

  test("i19: OCC commit loses exactly one race, final snapshot holds both appends") {
    val rows = ops.IoOps.i19(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Int]("final_version") == 3,
        "the rebased commit did not land as v3")
      assert(r.getAs[Int]("conflict_retries") == 1,
        "writer B's first commit should fail exactly once through CREATE_NEW")
    }
    val expect = Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_orders")).sum == expect,
      "an append was lost or doubled across the contended commits")
  }

  test("i18: the snapshot diff exercises all four classes and conserves keys") {
    val rows = ops.IoOps.i18(spark, sf).collect()
    val byClass = rows.map(r => r.getAs[String]("class") ->
      r.getAs[Long]("n_keys")).toMap
    assert(byClass.keySet == Set("added", "deleted", "changed", "unchanged"),
      s"a diff class is vacuous: ${byClass.keySet}")
    val orders = Tables.orders(spark, sf)
    val nOld = orders.filter(col("o_orderdate") < "1996-01-01").count()
    val nNew = orders.filter(col("o_orderkey") % 53 =!= 0).count()
    // old = deleted + changed + unchanged; new = added + changed + unchanged
    assert(byClass("deleted") + byClass("changed") + byClass("unchanged") == nOld)
    assert(byClass("added") + byClass("changed") + byClass("unchanged") == nNew)
  }

  test("i16: the stats manifest actually prunes files and loses no rows") {
    val rows = ops.IoOps.i16(spark, sf).collect()
    assert(rows.nonEmpty)
    // the gate column must be data-derived TRUE (the oracle pins TRUE;
    // a manifest that selects everything would hash-fail there, and
    // row-equality is covered by the lang rollup being oracle-gated)
    assert(rows.forall(_.getAs[Boolean]("files_pruned")),
      "manifest selected every file — no pruning happened")
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    val expect = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 200 && col("doc_id") <= 350).count()
    assert(total == expect, s"pruned read lost rows: $total != $expect")
  }

  test("i24: membership-sketch pruning conserves the probe set and actually prunes") {
    val rows = ops.IoOps.i24(spark, sf).collect()
    val expect = Tables.documents(spark, sf)
      .filter(col("doc_id") % 97 === 0)
      .select("doc_id").orderBy("doc_id").limit(5)
      .collect().map(_.getLong(0)).toSeq
    assert(rows.map(_.getAs[Long]("doc_id")).toSeq == expect,
      "pruned read lost or invented probe rows")
    assert(rows.forall(_.getAs[Boolean]("files_pruned")),
      "sketch consulted but nothing pruned — min/max-style vacuity")
  }

  test("i25: the delete file is O(deletes) and data files stay byte-identical") {
    // replicate the MOR flow with inspectable dirs: write data, write a
    // position-delete file, and pin that (1) no data file was touched,
    // (2) the position-only anti-join equals the predicate delete
    val dir = java.nio.file.Files.createTempDirectory("graft_i25spec_").toString
    try {
      val docs = Tables.documents(spark, sf).select("doc_id", "lang")
      docs.repartition(4, col("doc_id")).write.parquet(s"$dir/data")
      def scan = spark.read.parquet(s"$dir/data")
        .select(col("doc_id"), col("lang"),
          col("_metadata.file_path").as("fp"),
          col("_metadata.row_index").as("pos"))
      val before = new java.io.File(s"$dir/data").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      scan.filter(col("doc_id") % 7 === 0).select("fp", "pos")
        .write.parquet(s"$dir/deletes")
      val after = new java.io.File(s"$dir/data").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
      assert(before == after, "a data file changed — that's copy-on-write, not MOR")
      val nDel = spark.read.parquet(s"$dir/deletes").count()
      assert(nDel == docs.filter(col("doc_id") % 7 === 0).count())
      assert(nDel > 0, "vacuous: no planted deletes at this SF")
      val morIds = scan
        .join(spark.read.parquet(s"$dir/deletes"), Seq("fp", "pos"), "left_anti")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val expect = docs.filter(col("doc_id") % 7 =!= 0)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(morIds == expect, "position-addressed delete hit the wrong rows")
      // shallow-clone economics on the same lake: the clone artifact is
      // FILE-dimensional (one row per referenced data file), never
      // row-dimensional — at toy SF byte sizes are all footer overhead,
      // so the scale pin is the cardinality, not the bytes
      locally { import spark.implicits._
        spark.read.parquet(s"$dir/data").inputFiles.toSeq
          .toDF("path").coalesce(1).write.parquet(s"$dir/clone_manifest") }
      val nDataFiles = new java.io.File(s"$dir/data").listFiles()
        .count(_.getName.endsWith(".parquet"))
      val manifestRows = spark.read.parquet(s"$dir/clone_manifest").count()
      assert(manifestRows == nDataFiles.toLong,
        s"clone manifest has $manifestRows rows for $nDataFiles data files")
      assert(manifestRows < spark.read.parquet(s"$dir/data").count(),
        "manifest cardinality reached row cardinality")
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  test("i27: dynamic overwrite replaces only the touched partition's files") {
    val (out, before, after) = ops.IoOps.i27WithFiles(spark, sf)
    val rows = out.collect()
    assert(rows.map(_.getAs[String]("o_orderstatus")).toSet == Set("F", "O", "P"))
    // untouched partitions: identical file lists AND byte sizes — a
    // static-mode truncation or any rewrite of F/O fails here
    Seq("o_orderstatus=F", "o_orderstatus=O").foreach { p =>
      assert(before(p) == after(p), s"untouched partition $p was rewritten")
    }
    // the touched partition really was replaced, not appended to
    assert(before("o_orderstatus=P").map(_._1).toSet
      .intersect(after("o_orderstatus=P").map(_._1).toSet).isEmpty,
      "partition P kept original files — it was appended to, not replaced")
    // row conservation: restatement changes values, never cardinality
    val nOrders = Tables.orders(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_rows")).sum == nOrders,
      "dynamic overwrite changed the table's row count")
  }

  test("i31: the IVM merge equals a from-scratch recompute row for row " +
    "and the delta is genuinely smaller") {
    val ivm = ops.IoOps.i31(spark, sf).collect()
      .map(r => (r.getAs[String]("prio"), r.getAs[Int]("yr")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("rev_cents"))).toMap
    val scratch = Tables.orders(spark, sf)
      .groupBy(col("o_orderpriority").as("prio"),
        year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).as("n"),
        sum((col("o_totalprice").cast("decimal(14,2)") * 100).cast("long"))
          .as("rev"))
      .collect()
      .map(r => (r.getAs[String]("prio"), r.getAs[Int]("yr")) ->
        (r.getAs[Long]("n"), r.getAs[Long]("rev"))).toMap
    assert(ivm == scratch, "incremental refresh diverged from recompute")
    // the delta rollup is a strict subset of the view's groups: the
    // newest year contributes ≤ 5 priorities of the ~35 groups
    val cut = Tables.orders(spark, sf)
      .agg(max(year(col("o_orderdate")))).collect()(0).getInt(0)
    val deltaGroups = scratch.keys.count(_._2 == cut)
    assert(deltaGroups < scratch.size,
      "delta touched every group — nothing incremental about that")
  }

  test("i30: the DSv2 manifest planner prunes exactly the non-intersecting " +
    "files and column pruning reaches the reader") {
    import org.apache.spark.sql.sources._
    val dir = java.nio.file.Files.createTempDirectory("graft_i30_spec_").toString
    try {
      // 4 files covering [0,99], [100,199], [200,299], [300,399]
      (0 until 4).foreach { k =>
        val w = new java.io.PrintWriter(s"$dir/part-$k")
        (0 until 100).foreach(i =>
          w.println(s"${k * 100 + i},c${(k * 100 + i) % 3},${i * 7L}"))
        w.close()
      }
      val mw = new java.io.PrintWriter(s"$dir/manifest")
      (0 until 4).foreach(k => mw.println(s"part-$k,${k * 100},${k * 100 + 99}"))
      mw.close()
      def plan(fs: Filter*): Seq[String] =
        sources.ManifestSource.surviving(dir, fs).map(_._1)
      // exact file arithmetic
      assert(plan() == Seq("part-0", "part-1", "part-2", "part-3"))
      assert(plan(GreaterThanOrEqual("id", 150L), LessThan("id", 310L)) ==
        Seq("part-1", "part-2", "part-3"))
      assert(plan(EqualTo("id", 205L)) == Seq("part-2"))
      assert(plan(GreaterThan("id", 399L)).isEmpty)
      // a non-id filter prunes nothing (it stays residual)
      assert(plan(EqualTo("cat", "c1")).size == 4)
      // end-to-end: pruned + column-pruned read returns correct data
      val df = spark.read.format("graft.sources.ManifestSource")
        .option("path", dir).load()
        .filter(col("id") >= 150 && col("id") < 310)
      assert(df.count() == 160)
      // project a single non-id column through the pruned reader
      val cats = df.select("cat").collect().map(_.getString(0))
      assert(cats.length == 160 && cats.forall(_.startsWith("c")))
      // residual re-verification: planner over-reads part-1 rows below
      // 150, but Spark's residual filter removes them — no leakage
      assert(df.agg(min("id"), max("id")).collect()(0).toSeq ==
        Seq(150L, 309L))
    } finally {
      new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("i29: lineage disambiguates a self-join — the ExprId-keyed walk " +
    "never crosses the two sides") {
    // same base table twice under different aliases: a name-keyed
    // tracker would attribute both outputs to both sides
    val o1 = Tables.orders(spark, sf).alias("cur")
    val o2 = Tables.orders(spark, sf)
      .select(col("o_orderkey").as("k2"), col("o_totalprice").as("p2"))
      .alias("prev")
    val q = o1.join(o2, col("o_orderkey") === col("k2"))
      .select(col("o_totalprice").as("cur_price"),
        (col("o_totalprice") - col("p2")).as("price_delta"))
    val got = plans.Lineage.trace(q).toSet
    assert(got == Set(
      ("cur_price", "cur", "o_totalprice"),
      ("price_delta", "cur", "o_totalprice"),
      ("price_delta", "prev", "p2")),
      s"self-join lineage wrong: $got")
  }

  test("i32: the persisted graph-ANN artifact is id-only and serves " +
    "bit-identically to the fresh build (round 12)") {
    val e = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .localCheckpoint()
    val n = e.count()
    val cut = n * 9 / 10
    val base = e.filter(col("vec_id") < cut).localCheckpoint()
    val arr = e.filter(col("vec_id") >= cut)
    val dir = Files.createTempDirectory("graft_i32_spec_").toString
    ops.IoOps.graphIndexWrite(base, dir)
    // artifact is IDS ONLY — no raw-vector duplication
    val g0 = graft.sources.Io.readParquet(spark, s"$dir/graph0")
    val g1 = graft.sources.Io.readParquet(spark, s"$dir/graph1")
    assert(g0.schema.fieldNames.sorted.toSeq == Seq("nbr", "node") &&
      g1.schema.fieldNames.sorted.toSeq == Seq("nbr", "node"))
    // loaded adjacency == fresh build, as a SET of edges
    val fresh0 = graft.api.Ann.knnGraph(base, "vec_id", "v", 8, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(g0.collect().map(r =>
      (r.getAs[Long]("node"), r.getAs[Long]("nbr"))).toSet == fresh0)
    // the descent SERVE from the loaded artifact is bit-identical to
    // the fresh-build serve (the i32 gate's serve half)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "rank", "nn_id", "cos").collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("nn_id"), r.getAs[Double]("cos"))).toSet
    val loaded = rows(ops.Similarity.hnswServe(base, probeMax = 20,
      l1Mod = 50, l2Mod = 250, beam = 3, rounds = 2,
      flatGraph = Some(g0.localCheckpoint()),
      l1Graph = Some(g1.localCheckpoint())))
    val fresh = rows(ops.Similarity.hnswServe(base, probeMax = 20,
      l1Mod = 50, l2Mod = 250, beam = 3, rounds = 2))
    assert(loaded == fresh,
      "loaded-artifact serve diverged from the fresh build")
    // the append half runs ON the loaded graph and matches s23's
    // fresh-build insert+repair rows exactly
    val appLoaded = ops.Similarity.nswInsert(e, base, arr,
        g0.localCheckpoint()).collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[Long]("node"),
        r.getAs[Int]("rank"), r.getAs[Long]("nbr"))).toSet
    val appFresh = ops.Similarity.nswInsert(e, base, arr,
        graft.api.Ann.knnGraph(base, "vec_id", "v", 8, 2)
          .localCheckpoint()).collect()
      .map(r => (r.getAs[String]("kind"), r.getAs[Long]("node"),
        r.getAs[Int]("rank"), r.getAs[Long]("nbr"))).toSet
    assert(appLoaded == appFresh,
      "append on the loaded artifact diverged from the fresh build")
  }
}
