package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.sources.Io

/** Source/sink round-trips under the correctness gate (i01..i02):
  * each query writes a table slice through [[graft.sources.Io]] in a
  * non-parquet format, reads it back schema-explicit, and aggregates —
  * the oracle runs the same aggregate over the original parquet, so a
  * hash match proves the format round-trip is lossless.
  *
  * Scale: the write is one map stage (no shuffle before the sink); the
  * read-back is a fresh scan. Schema-explicit readers skip the
  * inference pass — at 100 TB, inference is a full extra read of the
  * data. The aggregate after read-back is the usual partial-agg +
  * one-exchange shape.
  */
object IoOps {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // i01: CSV round-trip. Strings survive the writer's quoting; the
  // explicit read schema restores the integer types CSV erases.
  def i01(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i01_")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    Io.writeCsv(
      Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars"), dir)
    Io.readCsv(s, dir, schema)
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"))
      .orderBy("lang", "source")
  }

  val i01Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // i02: JSONL round-trip. Doubles print losslessly (shortest
  // round-trip repr) and the quantities are whole numbers, so the
  // read-back sum is exact in either engine.
  def i02(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i02_")
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType)))
    Io.writeJsonl(
      Tables.lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity"), dir)
    Io.readJsonl(s, dir, schema)
      .groupBy("l_linenumber")
      .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("sum_qty"))
      .orderBy("l_linenumber")
  }

  val i02Sql: String =
    """SELECT l_linenumber, count(*) AS n_items, sum(l_quantity) AS sum_qty
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  // i03: partitioned-layout round-trip — the data-layout decision that
  // matters most at 100 TB. Write documents hive-partitioned by lang
  // (lang=… directories), read back filtering two of five languages:
  // the filter resolves against the directory listing, so the scan
  // never opens the other partitions' files (PartitionFilters in the
  // plan, pinned in PlanSpec; at scale that's a 60% I/O cut here, and
  // a date-partitioned fact table gets the same effect per day).
  // coalesceTo bounds files per partition — a 1000-executor write
  // would otherwise emit one file per task per partition.
  def i03(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i03_")
    Io.writeParquet(
      Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars"),
      dir, partitionBy = Seq("lang"), coalesceTo = Some(4))
    prunedReadback(s, dir)
  }

  /** The read side of i03, split out so PlanSpec can assert partition
    * pruning on the exact DataFrame the gated query returns. */
  def prunedReadback(s: SparkSession, dir: String): DataFrame =
    Io.readParquet(s, dir)
      .filter(col("lang").isin("en", "zh"))
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("sum_chars"))
      .orderBy("lang", "source")

  val i03Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang IN ('en', 'zh')
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // i04: ORC round-trip — the other self-describing columnar format a
  // warehouse ingests from. ORC carries its own schema + types, so no
  // read schema is needed; the gate proves types survive (timestamps
  // become epoch micros, decimal-rounded money) against the parquet
  // original.
  def i04(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i04_")
    Io.writeOrc(
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority", "o_totalprice"),
      dir)
    Io.readOrc(s, dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_price"))
      .orderBy("o_orderpriority")
  }

  val i04Sql: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // i05: ANN index persistence — a serving pipeline builds the IVF-PQ
  // index ONCE and reloads it per query batch; rebuilding it from raw
  // vectors on every query (what s07 does, correctly, as a one-shot
  // demo) is the first thing a real user would refuse to do at scale.
  // Build s07's exact index (seed quantizers, so the oracle still
  // applies), persist its four relations — cell assignments, PQ codes
  // (the M small ints per vector ARE the compressed payload; vectors
  // themselves are NOT stored), codebook, coarse centroids — then
  // serve the s07 search entirely from the reloaded parquet: probes
  // re-assign against the loaded centroids, candidates reconstruct
  // from the loaded codes × codebook. Oracle = s07's SQL: the search
  // result from the round-tripped index must be hash-identical to the
  // freshly-built one.
  /** Build an IVF-PQ index from `e` and persist its four relations
    * under `dir`. Quantizers (centroids, codebook) are given by the
    * caller — they are the trained artifacts; the per-vector work
    * (cell assignment, PQ codes) is one broadcast-quantizer scan. */
  def ivfPqWrite(e: DataFrame, cents: DataFrame, cb: DataFrame,
    dir: String): Unit = {
    Io.writeParquet(Similarity.nearestCell(e, cents).select("vec_id", "cell"),
      s"$dir/cells")
    Io.writeParquet(Similarity.pqEncode(e, cb), s"$dir/codes")
    Io.writeParquet(cents, s"$dir/centroids")
    Io.writeParquet(cb, s"$dir/codebook")
  }

  /** Incrementally add `delta` vectors to a persisted index: assign +
    * encode ONLY the delta against the stored quantizers and append.
    * No rebuild, no retrain — the ingest-time path of a serving
    * pipeline (quantizer retraining is an offline cadence decision;
    * until then new vectors quantize against the frozen codebooks,
    * exactly as FAISS add() does). One scan of the delta. */
  def ivfPqAppend(s: SparkSession, delta: DataFrame, dir: String): Unit = {
    val cents = Io.readParquet(s, s"$dir/centroids")
    val cb = Io.readParquet(s, s"$dir/codebook")
    Io.writeParquet(
      Similarity.nearestCell(delta, cents).select("vec_id", "cell"),
      s"$dir/cells", mode = org.apache.spark.sql.SaveMode.Append)
    Io.writeParquet(Similarity.pqEncode(delta, cb),
      s"$dir/codes", mode = org.apache.spark.sql.SaveMode.Append)
  }

  /** Serve an ADC top-k search entirely from the persisted relations:
    * probes assign against the loaded centroids, candidates
    * reconstruct from the loaded codes × codebook. */
  def ivfPqServe(s: SparkSession, probeSrc: DataFrame, dir: String,
    probeBelow: Long, topK: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cellsL = Io.readParquet(s, s"$dir/cells")
    val centsL = Io.readParquet(s, s"$dir/centroids")
    val recon = Similarity.pqDecode(Io.readParquet(s, s"$dir/codes"),
      Io.readParquet(s, s"$dir/codebook"))
    val probes = Similarity.nearestCell(probeSrc, centsL)
      .filter(col("vec_id") < probeBelow)
      .select(col("vec_id").as("query_id"), col("cell"), col("v").as("q"))
    val cand = cellsL.select(col("vec_id").as("nn_id"), col("cell"))
      .join(recon.withColumnRenamed("vec_id", "nn_id"), Seq("nn_id"))
    val adc = graft.functions.VectorOps.sqDist(col("q"), col("r"))
    val wRank = Window.partitionBy("query_id").orderBy(col("adc"), col("nn_id"))
    probes.join(cand, Seq("cell"))
      .filter(col("query_id") =!= col("nn_id"))
      .withColumn("adc", round(adc, 4))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= topK)
      .select("query_id", "cell", "rank", "nn_id", "adc")
      .orderBy("query_id", "rank")
  }

  def i05(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i05_")
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    ivfPqWrite(e, cents, Similarity.pqSeedCodebook(e), dir)
    ivfPqServe(s, e, dir, probeBelow = 100, topK = 3)
  }

  // i32: GRAPH-ANN INDEX PERSISTENCE (round 12 — VERDICT r11 #1, the
  // top item: i05 persists the IVF-PQ index, but the graph family
  // (s20 NN-descent, s23 appends, s24 HNSW layers) rebuilt from raw
  // vectors every session — and the graph index is the ONE artifact a
  // 100 TB deployment cannot rebuild per job, since the build costs
  // O(N·R²·rounds) while a load costs one scan of an (node, 8×nbr)
  // id table). Persist BOTH strata of the hierarchy — graph0 (the
  // layer-0 NN-descent adjacency) and graph1 (the L1 stratum graph in
  // original id space) — as id-only parquet (no raw-vector
  // duplication: serving re-reads vectors from the corpus), then run
  // the TWO lifecycle consumers entirely from the loaded artifact:
  // s24's layer-descent serve (loaded graph1 navigates, loaded graph0
  // expands), and s23's NSW insert + local repair of the held-out 10%
  // arrivals ON the loaded graph0. The build is deterministic
  // (hash-seeded, 4dp + id ties), so the DuckDB oracle replays one
  // shared NN-descent and both consumers — a round-trip that dropped,
  // duplicated, or re-typed an edge flips the hash; IoSpec separately
  // pins loaded-serve ≡ fresh-serve bit-equality and the id-only
  // schema. Scale: the artifact is O(N·degree) ids; write/read is one
  // keyed scan; nothing here touches vectors beyond the serves.
  /** Persist the graph-ANN artifact for corpus `e` = (vec_id, v)
    * under `dir`: layer-0 NN-descent adjacency (`graph0`) and the L1
    * stratum graph (`graph1`), both (node, nbr) id pairs only. */
  def graphIndexWrite(e: DataFrame, dir: String, l1Mod: Int = 50,
      degree: Int = 8): Unit = {
    Io.writeParquet(
      graft.api.Ann.knnGraph(e, "vec_id", "v", degree, rounds = 2),
      s"$dir/graph0")
    Io.writeParquet(
      graft.api.Ann.l1StratumGraph(
        e.select(col("vec_id").as("__nid"), col("v").as("__cv")),
        l1Mod, degree),
      s"$dir/graph1")
  }

  /** The built-and-written artifact dir per (session, dataset) — the
    * index is built ONCE and every serve loads it; that asymmetry IS
    * i32's contract (a per-query rebuild is exactly what the key
    * exists to retire), so the bench's warm run measures load+serve,
    * the deployment's steady state. Registered in Memo: family
    * boundaries clear it and the build ledger attributes the one
    * real build. */
  private val graphDirCache = Memo.artifact[String]("i32_graph_dir")

  def i32(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .transform(Pin.cut)
    val n = e.count()
    val cut = n * 9 / 10
    val base = Pin.cut(e.filter(col("vec_id") < cut))
    val arr = e.filter(col("vec_id") >= cut)
    // DETERMINISTIC per-(app, dataset) artifact path (ADVICE r12: a
    // fresh tmpDir per rebuild leaked the old artifact every time a
    // Memo family boundary cleared the TrieMap — over a long
    // bench/soak session that is one orphaned index per e→i→... lap).
    // writeParquet overwrites, so a post-clear rebuild lands in place
    // and the session holds at most ONE artifact per dataset.
    val dir = graphDirCache(s, d) {
      val fresh = java.nio.file.Paths.get(
        System.getProperty("java.io.tmpdir"),
        "graft_i32_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).toString
      graphIndexWrite(base, fresh)
      fresh
    }
    val g0 = Pin.cut(Io.readParquet(s, s"$dir/graph0"))
    val g1 = Pin.cut(Io.readParquet(s, s"$dir/graph1"))
    val serve = Similarity.hnswServe(base, probeMax = 100, l1Mod = 50,
        l2Mod = 250, beam = 3, rounds = 2,
        flatGraph = Some(g0), l1Graph = Some(g1), compareFlat = false)
      .select(lit("serve").as("kind"), col("query_id").as("node"),
        col("rank"), col("nn_id").as("nbr"), col("cos"))
    val appended = Similarity.nswInsert(e, base, arr, g0)
    serve.unionByName(appended).orderBy("kind", "node", "rank")
  }

  // i06: range-clustered layout + data skipping — the OTHER layout
  // lever beside partitioning (i03). repartitionByRange(col) +
  // sortWithinPartitions makes every output file (and every parquet
  // row group inside it) cover a narrow key range, so a selective
  // predicate prunes via min/max footer stats instead of scanning —
  // at 100 TB, range-clustering the fact table on its hottest filter
  // column is the difference between reading 4 files and reading
  // 4,000. The gate proves the clustered copy returns the identical
  // aggregate over a selective key range; PlanSpec pins the pushed
  // filter on the clustered scan.
  def i06(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i06_")
    Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .repartitionByRange(4, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(dir)
    clusteredReadback(s, dir)
  }

  /** The read side of i06, split out so PlanSpec can assert the pushed
    * range predicate on the exact DataFrame the gated query returns. */
  def clusteredReadback(s: SparkSession, dir: String): DataFrame =
    Io.readParquet(s, dir)
      .filter(col("l_orderkey") >= 1000 && col("l_orderkey") < 2000)
      .groupBy("l_linenumber")
      .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_price"))
      .orderBy("l_linenumber")

  val i06Sql: String =
    """SELECT l_linenumber, count(*) AS n_rows, sum(l_quantity) AS sum_qty,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE)
      |    AS sum_price
      |FROM lineitem WHERE l_orderkey >= 1000 AND l_orderkey < 2000
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // i09: Z-ORDER (Morton) clustering — i06 range-clusters ONE column;
  // multi-dimensional workloads (customer × time boxes here) need a
  // layout where EVERY dimension is partially clustered, or the
  // second dimension's predicate prunes nothing. The 32-bit Morton
  // key interleaves 16 bits of customer id with 16 bits of day index
  // (pure integer shifts/masks, generated identically for both
  // dialects — the oracle recomputes min/max zkey of the box, so the
  // interleave math is cross-engine-checked bit-exact). Files are
  // range-split + sorted on zkey, so each file's footer carries tight
  // PARTIAL ranges on both raw dims; IoSpec measures that a 2-D box
  // scan over the z-ordered copy reads fewer rows than over a
  // zkey-shuffled copy of the same data — the Delta/Iceberg OPTIMIZE
  // ZORDER effect, reproduced from first principles.
  // Z_BITS caps the zkey domain: custkeys above 2^16−1 (TPC-H sf≥0.5)
  // and day indexes past ~179 years alias — EXPLICITLY, via the mask
  // below, so colliding keys still land in valid (non-scattering)
  // zkey space and the layout degrades to coarser clustering instead
  // of noise. Widen Z_BITS (zkey is a 2·Z_BITS-bit long; up to 31
  // fits) when the key domain grows.
  private val Z_BITS = 16
  private val Z_MASK = (1L << Z_BITS) - 1
  // INVARIANT: Z_EPOCH must be at/before the corpus min o_orderdate
  // (this corpus generates 1995-01-01 onward; standard TPC-H starts
  // 1992-01-01 — move the epoch back with the corpus) so the day
  // index is never negative. A negative dy's two's-complement low
  // bits would otherwise scatter early orders across zkey space; the
  // Z_MASK makes even that case alias explicitly instead of
  // sign-extending.
  private val Z_EPOCH = "1995-01-01"

  /** Morton interleave ck/dy (bit i of ck → bit 2i+1, dy → 2i) in the
    * given dialect's shift syntax, both inputs masked to Z_BITS. */
  private def zExpr(dialectSpark: Boolean): String =
    (0 until Z_BITS).map { i =>
      if (dialectSpark)
        s"shiftleft(shiftright(ck & $Z_MASK, $i) & 1, ${2 * i + 1}) + " +
          s"shiftleft(shiftright(dy & $Z_MASK, $i) & 1, ${2 * i})"
      else
        s"((((ck & $Z_MASK) >> $i) & 1) << ${2 * i + 1}) + " +
          s"((((dy & $Z_MASK) >> $i) & 1) << ${2 * i})"
    }.mkString("(", " + ", ")")

  /** The z-ordered copy of orders: (custkey, day) → zkey, range-split
    * and sorted on it. One FIXED dir per (dataset, files), written
    * with overwrite — repeated Verify/Bench/spec runs reuse the path
    * instead of accumulating corpus copies in fresh temp dirs. */
  private[graft] def zorderedDir(s: SparkSession, d: String, files: Int): String = {
    val san = d.replaceAll("[^A-Za-z0-9]", "_")
    // per-USER fixed dir: a world-shared /tmp path would collide
    // across users (overwrite can't delete another user's files);
    // concurrent JVMs of the same user still share it — acceptable
    // for a deterministic derived artifact both would write
    // identically
    val user = System.getProperty("user.name", "nouser")
      .replaceAll("[^A-Za-z0-9]", "_")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_i09_${user}_${san}_$files").toString
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey").as("ck"),
        datediff(col("o_orderdate").cast("date"), lit(Z_EPOCH)).cast("long").as("dy"),
        col("o_totalprice"), col("o_orderpriority"))
      .withColumn("zkey", expr(zExpr(dialectSpark = true)))
      .repartitionByRange(files, col("zkey"))
      .sortWithinPartitions("zkey")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  /** The read side: a 2-D box over the z-ordered copy. Split out so
    * IoSpec can measure scan rows on the exact gated DataFrame. */
  def zorderReadback(s: SparkSession, dir: String): DataFrame =
    Io.readParquet(s, dir)
      .filter(col("ck") >= 10 && col("ck") < 100 &&
        col("dy") >= 720 && col("dy") < 1080)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_price"),
        min(col("zkey")).as("min_zkey"), max(col("zkey")).as("max_zkey"))
      .orderBy("o_orderpriority")

  def i09(s: SparkSession, d: String): DataFrame =
    zorderReadback(s, zorderedDir(s, d, files = 8))

  val i09Sql: String =
    s"""WITH z AS (
       |  SELECT o_orderpriority, o_totalprice,
       |    ${zExpr(dialectSpark = false)} AS zkey
       |  FROM (
       |    SELECT o_orderpriority, o_totalprice, o_custkey AS ck,
       |      datediff('day', DATE '$Z_EPOCH', CAST(o_orderdate AS DATE)) AS dy
       |    FROM orders)
       |  WHERE ck >= 10 AND ck < 100 AND dy >= 720 AND dy < 1080)
       |SELECT o_orderpriority, count(*) AS n_orders,
       |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
       |    AS sum_price,
       |  CAST(min(zkey) AS BIGINT) AS min_zkey,
       |  CAST(max(zkey) AS BIGINT) AS max_zkey
       |FROM z GROUP BY 1 ORDER BY 1""".stripMargin

  // i07: CDC MERGE (upsert + delete) — the Delta/Iceberg MERGE INTO
  // shape expressed as a full-outer join on the key: matched+update
  // rows take the change's values, matched+delete rows drop,
  // unmatched change rows insert, everything else passes through.
  // One shuffle per side (broadcast when the change batch is small —
  // the common CDC case); at 100 TB the join key IS the table's
  // clustering key, so the merge co-locates with i06's layout. The
  // change batch is derived deterministically from the base table, so
  // the oracle replays the identical merge in SQL and the gate
  // hash-checks the merged table's rollup.
  def i07(s: SparkSession, d: String): DataFrame = {
    val base = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val changes = base.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("U").as("op"),
        lit(null).cast("string").as("c_status"),
        round(col("o_totalprice").cast("decimal(18,2)") * lit(1.1), 2)
          .cast("double").as("c_price"))
      .union(base.filter(col("o_orderkey") % 17 === 0 &&
          col("o_orderkey") % 10 =!= 0) // disjoint from updates: MERGE
        .select(col("o_orderkey"), lit("D").as("op"),  // forbids two
          lit(null).cast("string").as("c_status"),     // matches/key
          lit(null).cast("double").as("c_price")))
      .union(base.filter(col("o_orderkey") % 25 === 0)
        .select((col("o_orderkey") + 10000000).as("o_orderkey"),
          lit("I").as("op"), lit("N").as("c_status"),
          col("o_totalprice").as("c_price")))
    val merged = base.join(changes, Seq("o_orderkey"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col("o_orderkey"),
        coalesce(col("c_status"), col("o_orderstatus")).as("status"),
        coalesce(col("c_price"), col("o_totalprice")).as("price"))
    merged.groupBy("status")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("price").cast("decimal(18,2)")), 2)
          .cast("double").as("sum_price"))
      .orderBy("status")
  }

  val i07Sql: String =
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
      |changes AS (
      |  SELECT o_orderkey, 'U' AS op, NULL::VARCHAR AS c_status,
      |    CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2) AS DOUBLE)
      |      AS c_price
      |  FROM base WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'D', NULL, NULL FROM base
      |  WHERE o_orderkey % 17 = 0 AND o_orderkey % 10 <> 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000, 'I', 'N', o_totalprice
      |  FROM base WHERE o_orderkey % 25 = 0),
      |merged AS (
      |  SELECT coalesce(b.o_orderkey, c.o_orderkey) AS o_orderkey,
      |    coalesce(c.c_status, b.o_orderstatus) AS status,
      |    coalesce(c.c_price, b.o_totalprice) AS price
      |  FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
      |  WHERE c.op IS NULL OR c.op <> 'D')
      |SELECT status, count(*) AS n_orders,
      |  CAST(round(sum(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
      |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  // i08: the `binaryFile` source — the ingestion path for multimodal
  // blob corpora (every m-series op assumes binary payloads already
  // sit in a table; this is how they get there). Documents' UTF-8
  // bytes land as one .bin file per doc (an executor-side sink:
  // foreachPartition writes its own partition's files — no driver
  // loop, the blob-store layout a 100 TB media corpus arrives in),
  // then read back with binaryFile, which carries (path, length,
  // content) and never decodes. Identity is proven per blob: byte
  // length AND md5(content) must match the oracle's octet_length /
  // md5 over the source strings — both engines hash the same UTF-8
  // bytes.
  def i08(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i08_")
    try {
      // executors write through the Hadoop FileSystem resolved from
      // the directory URI — the cluster-safe path (file:// here;
      // s3a://bucket/prefix on a real deployment lands each
      // partition's blobs in shared storage), not raw java.nio against
      // a driver-local path that workers wouldn't share
      val dirUri = "file://" + dir
      // Configuration isn't serializable and Spark's wrapper is
      // private[spark] — but a bare executor-side `new Configuration()`
      // only sees classpath site files and silently drops every
      // spark.hadoop.* session override (s3a credentials/endpoint on a
      // real deployment). Ship the driver conf's entries as a
      // broadcast Map and replay them onto the executor-side conf.
      val bcHconf = {
        import scala.jdk.CollectionConverters._
        s.sparkContext.broadcast(
          s.sparkContext.hadoopConfiguration.iterator().asScala
            .map(e => (e.getKey, e.getValue)).toArray)
      }
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .select("doc_id", "text")
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val base = new org.apache.hadoop.fs.Path(dirUri)
          val conf = new org.apache.hadoop.conf.Configuration()
          bcHconf.value.foreach { case (k, v) => conf.set(k, v) }
          val fs = base.getFileSystem(conf)
          rows.foreach { r =>
            val out = fs.create(
              new org.apache.hadoop.fs.Path(base, s"${r.getLong(0)}.bin"), true)
            try out.write(
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
          }
        }
      s.read.format("binaryFile").load(dir)
        .select(
          regexp_extract(col("path"), "(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
          col("length").as("n_bytes"),
          md5(col("content")).as("content_md5"))
        .orderBy("doc_id")
        .transform(Pin.cut)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i08Sql: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS content_md5
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  // i10: SCHEMA EVOLUTION — a 100 TB corpus is written over months by
  // evolving pipelines; later epochs add columns. The reader must
  // union epochs without a rewrite: parquet mergeSchema reconciles
  // the per-file footers and earlier epochs surface the new column as
  // NULL. The gate replays the evolution (epoch 1 = v1 schema, epoch
  // 2 adds a typed column), reads both through one merged-schema
  // scan, and hash-checks rows INCLUDING the null backfill against
  // the oracle's explicit NULL-padded union.
  def i10(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i10_")
    try {
      val docs = Tables.documents(s, d)
      docs.filter(col("doc_id") < 100)
        .select("doc_id", "lang")
        .write.parquet(dir + "/epoch1")
      docs.filter(col("doc_id") >= 100 && col("doc_id") < 200)
        .select(col("doc_id"), col("lang"),
          (col("n_chars") % 100).cast("double").as("quality"))
        .write.parquet(dir + "/epoch2")
      s.read.option("mergeSchema", "true")
        .parquet(dir + "/epoch1", dir + "/epoch2")
        .orderBy("doc_id")
        .transform(Pin.cut) // pin rows so the finally can delete the dirs
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i10Sql: String =
    """SELECT doc_id, lang, CAST(NULL AS DOUBLE) AS quality
      |FROM documents WHERE doc_id < 100
      |UNION ALL
      |SELECT doc_id, lang, CAST(n_chars % 100 AS DOUBLE) AS quality
      |FROM documents WHERE doc_id >= 100 AND doc_id < 200
      |ORDER BY doc_id""".stripMargin

  // i11: SMALL-FILE COMPACTION — the standing operational job of any
  // file-based lake: streaming/micro-batch ingest leaves thousands of
  // tiny files per partition, and scan cost becomes file-open-bound.
  // Compaction bin-packs to a target file size: output file count =
  // ceil(input bytes / target) — DATA-DERIVED, not a magic number.
  // The gate hash-checks the compacted copy's content rollup (loss or
  // duplication fails) plus the compaction contract booleans; the
  // file counts themselves are pinned in IoSpec.
  private[graft] def compact(s: SparkSession, inDir: String, outDir: String,
    targetBytes: Long): (Int, Int) = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
    def parts(p: String) = fs.listStatus(new org.apache.hadoop.fs.Path(p))
      .filter(f => f.getPath.getName.startsWith("part-"))
    val in = parts(inDir)
    val nOut = math.max(1, math.ceil(
      in.map(_.getLen).sum.toDouble / targetBytes).toInt)
    // round-robin: compaction balances bytes, it does not re-cluster
    // (i06/i09 own clustering) — a keyed repartition here would skew
    // output file sizes by key frequency
    Io.readParquet(s, inDir).repartition(nOut)
      .write.mode("overwrite").parquet(outDir)
    (in.length, parts(outDir).length)
  }

  def i11(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i11_")
    try {
      Tables.lineitem(s, d).filter(col("l_orderkey") < 4000)
        .select("l_orderkey", "l_partkey", "l_quantity")
        .repartition(64) // the small-files landing zone
        .write.parquet(dir + "/landing")
      val (before, after) =
        compact(s, dir + "/landing", dir + "/compacted", targetBytes = 512 * 1024)
      Io.readParquet(s, dir + "/compacted")
        .agg(count(lit(1)).as("n_rows"),
          round(sum(col("l_quantity").cast("decimal(12,2)")), 2)
            .cast("double").as("sum_qty"))
        .select(col("n_rows"), col("sum_qty"),
          lit(after < before).as("compacted_ok"))
        .transform(Pin.cut)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i11Sql: String =
    """SELECT count(*) AS n_rows,
      |  CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE)
      |    AS sum_qty,
      |  true AS compacted_ok
      |FROM lineitem WHERE l_orderkey < 4000""".stripMargin

  // i12: BUCKETED fact⋈fact join — both sides written bucketed+sorted
  // by the join key (external tables under a scratch dir), then joined
  // with ZERO shuffle exchanges: Spark adopts the bucketed output
  // partitioning, so each of the 16 bucket pairs merges locally. At
  // 100 TB this is the warehouse contract that amortizes one clustered
  // write across every subsequent fact⋈fact join (Hive/Iceberg bucket
  // transforms) instead of re-shuffling both tables per join. The gate
  // hash-checks the joined aggregate (content preserved through the
  // bucketed write) AND a zero-exchange boolean derived from the
  // executed join plan — a plan regression flips the hash red.
  /** The bucketed layout is a STANDING warehouse artifact — a real
    * deployment writes it once and every co-keyed join rides it; only
    * the first invocation per (application, dataset) pays the two
    * bucketed table writes (the round's shared-artifact rule). */
  private val bucketCache = Memo.artifact[(String, String)]("i12_bucket_tables")

  def i12(s: SparkSession, d: String): DataFrame = {
    val (ordersTable, lineitemTable) =
      bucketCache(s, d) {
        val suf = Integer.toHexString(d.hashCode)
        val (ot, lt) = (s"graft_i12_orders_$suf", s"graft_i12_lineitem_$suf")
        val dir = tmpDir("graft_i12_")
        s.sql(s"DROP TABLE IF EXISTS $ot")
        s.sql(s"DROP TABLE IF EXISTS $lt")
        Tables.orders(s, d).select("o_orderkey", "o_orderdate")
          .write.option("path", dir + "/orders")
          .bucketBy(16, "o_orderkey").sortBy("o_orderkey")
          .saveAsTable(ot)
        Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
          .write.option("path", dir + "/lineitem")
          .bucketBy(16, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(lt)
        (ot, lt)
      }
    val ob = s.table(ordersTable)
    val lb = s.table(lineitemTable)
    val joined = ob.hint("merge").join(lb, ob("o_orderkey") === lb("l_orderkey"))
    // the join subplan must carry no shuffle: the bucket layout IS
    // the partitioning (the post-join agg still exchanges on o_year
    // — 5 groups, not two fact tables)
    val zeroExchange = !joined.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning")
    joined
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(12,2)") - col("l_discount").cast("decimal(12,2)"))), 2)
          .cast("double").as("revenue"))
      .withColumn("zero_exchange_ok", lit(zeroExchange))
      .orderBy("o_year")
  }

  val i12Sql: String =
    """SELECT year(o_orderdate) AS o_year, count(*) AS n_items,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |    (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))), 2)
      |    AS DOUBLE) AS revenue,
      |  true AS zero_exchange_ok
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // i13: RETENTION DELETE — the right-to-be-forgotten / TTL job every
  // lake runs. A keyed forget-list deletes rows from a partitioned
  // table by REWRITING ONLY THE AFFECTED PARTITIONS: the forget keys
  // name their partitions (one semi-join against the lake), dynamic
  // partition overwrite rewrites exactly those directories, every
  // other partition's files stay byte-identical (pinned in IoSpec by
  // file listing). At 100 TB the difference between this and a naive
  // full-table rewrite is the whole job: delete cost scales with the
  // affected partitions, not the corpus. The gate reads the lake back
  // post-delete and hash-checks the rollup against the oracle's
  // NOT-IN spec — a row lost from an untouched partition or a
  // surviving forgotten row both flip the hash.
  /** Keyed delete from a `partCol`-partitioned parquet lake, rewriting
    * only the partitions the forget keys live in (dynamic partition
    * overwrite). The affected-partition list is a semi-join against
    * the lake collected driver-side — bounded by the partition-value
    * count (directory metadata), never row data. */
  def retentionDelete(s: SparkSession, lake: String, forget: DataFrame,
      partCol: String): Unit = {
    val t = s.read.parquet(lake)
    val affected = t.join(forget, Seq("doc_id"), "left_semi")
      .select(partCol).distinct().collect().map(_.getString(0))
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      t.filter(col(partCol).isin(affected.toSeq: _*))
        .join(forget, Seq("doc_id"), "left_anti")
        .write.mode("overwrite").partitionBy(partCol).parquet(lake)
    } finally {
      prev match {
        case Some(v) => s.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => s.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  def i13(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i13_")
    val lake = dir + "/lake"
    try {
      val docs = Tables.documents(s, d).select("doc_id", "lang", "source", "n_chars")
      docs.write.partitionBy("lang").parquet(lake)
      // the forget-list arrives keyed (doc_id), as from a privacy queue
      val forget = docs.filter(col("lang") === "fr" && col("doc_id") % 5 === 0)
        .select("doc_id")
      retentionDelete(s, lake, forget, "lang")
      s.read.parquet(lake)
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("lang", "source")
        .transform(Pin.cut)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i13Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents
      |WHERE NOT (lang = 'fr' AND doc_id % 5 = 0)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // i14: TIME TRAVEL via snapshot manifests — the lakehouse core
  // mechanic (Iceberg/Delta) from first principles: a table version
  // is a MANIFEST (list of data files), not a directory. Appends
  // write new files + a new manifest; logical deletes drop files
  // from the next manifest WITHOUT touching bytes; a reader pins a
  // version by reading exactly its manifest's files. The gate
  // computes all three versions' rollups AFTER all writes landed —
  // so v1's numbers prove reader isolation (the append and the
  // delete are invisible through the old manifest), and v3 proves
  // the logical delete (add0's rows gone while its bytes remain —
  // byte survival pinned in IoSpec). Scale: manifests are file-count
  // metadata, never row data; version switch is O(1); no rewrite on
  // append or delete — the property that makes snapshots affordable
  // at 100 TB.
  private def parquetFiles(s: SparkSession, dir: String): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
    fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.toString).filter(_.endsWith(".parquet")).sorted.toSeq
  }

  def i14(s: SparkSession, d: String): DataFrame = i14WithStats(s, d)._1

  /** (gated rollup, add0 bytes still on disk after the v3 logical
    * delete, total data files, files visible to manifest v1) — the
    * last three pin snapshot semantics in IoSpec. */
  def i14WithStats(s: SparkSession, d: String): (DataFrame, Boolean, Int, Int) = {
    val dir = tmpDir("graft_i14_")
    import s.implicits._
    def writeManifest(v: Int, paths: Seq[String]): Unit =
      paths.toDF("path").coalesce(1).write.parquet(s"$dir/manifests/v$v")
    def readSnapshot(v: Int): DataFrame = {
      val paths = s.read.parquet(s"$dir/manifests/v$v")
        .collect().map(_.getString(0)).sorted
      s.read.parquet(paths: _*)
    }
    try {
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      // v1: the initial load (pre-1996 orders)
      orders.filter(col("o_orderdate") < "1996-01-01")
        .write.parquet(s"$dir/data/add0")
      val add0 = parquetFiles(s, s"$dir/data/add0")
      writeManifest(1, add0)
      // v2: append-only upgrade — new files, old files untouched
      orders.filter(col("o_orderdate") >= "1996-01-01")
        .write.parquet(s"$dir/data/add1")
      val add1 = parquetFiles(s, s"$dir/data/add1")
      writeManifest(2, add0 ++ add1)
      // v3: logical delete of the initial load — add0 drops out of
      // the manifest; its bytes stay on disk for time travel
      writeManifest(3, add1)
      // all three versions read AFTER every write landed
      def rollup(v: Int): DataFrame =
        readSnapshot(v).agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").cast("long").as("sum_keys"))
          .select(lit(v).as("version"), col("n_rows"), col("sum_keys"))
      val out = rollup(1).union(rollup(2)).union(rollup(3))
        .orderBy("version")
        .transform(Pin.cut)
      (out, parquetFiles(s, s"$dir/data/add0").nonEmpty,
        add0.size + add1.size, add0.size)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i14Sql: String =
    """SELECT 1 AS version, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
      |FROM orders WHERE o_orderdate < DATE '1996-01-01'
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(o_orderkey) AS BIGINT)
      |FROM orders WHERE o_orderdate >= DATE '1996-01-01'
      |ORDER BY version""".stripMargin

  // i15: PARTITION-SPEC EVOLUTION — the lake outlives its layout: an
  // early epoch partitioned by lang only; operations later re-spec to
  // (lang, source) for finer pruning. Iceberg calls this partition
  // evolution; without engine support the portable answer is
  // per-epoch directories, each read with ITS OWN spec and unioned —
  // no historical rewrite (at 100 TB the rewrite IS the cost being
  // avoided). A pruned query pushes its lang filter into BOTH
  // branches' partition listings (per-branch PartitionFilters pinned
  // in IoSpec via the executed plan), and the new epoch additionally
  // prunes source. The gate hash-checks a filtered rollup across both
  // epochs, so a row lost to either layout flips the hash.
  def i15(s: SparkSession, d: String): DataFrame = i15WithPlan(s, d)._1

  /** (gated rollup, executed-plan string of the pruned union read) —
    * the plan carries both branches' PartitionFilters for IoSpec. */
  def i15WithPlan(s: SparkSession, d: String): (DataFrame, String) = {
    val dir = tmpDir("graft_i15_")
    try {
      val docs = Tables.documents(s, d)
        .select("doc_id", "lang", "source", "n_chars")
      // epoch 1 (historical): partitioned by lang only
      docs.filter(col("doc_id") % 2 === 0)
        .write.partitionBy("lang").parquet(s"$dir/epoch1")
      // epoch 2 (current spec): partitioned by (lang, source)
      docs.filter(col("doc_id") % 2 === 1)
        .write.partitionBy("lang", "source").parquet(s"$dir/epoch2")
      val e1 = s.read.parquet(s"$dir/epoch1")
        .select("doc_id", "lang", "source", "n_chars")
      val e2 = s.read.parquet(s"$dir/epoch2")
        .select("doc_id", "lang", "source", "n_chars")
      val unioned = e1.union(e2).filter(col("lang") === "en")
      val planStr = unioned.queryExecution.executedPlan.toString
      val out = unioned
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").cast("long").as("sum_chars"))
        .orderBy("source")
        .transform(Pin.cut)
      (out, planStr)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i15Sql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE lang = 'en'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // i16: FILE-LEVEL STATS MANIFEST skipping — the Iceberg/Delta
  // manifest idea, one level above i06's row-group footers: a tiny
  // (file → min/max cluster key) manifest is consulted BEFORE
  // planning the scan, so non-overlapping files never even appear in
  // the read — at 100 TB that's the difference between "open 100k
  // footers" and "open 4". Layout: 8 range-clustered files; manifest
  // built in one pass (input_file_name rollup — stand-in for stats
  // captured at write time); a point-range query selects overlapping
  // files only (a metadata-scale driver decision, like i14's
  // manifest) and the gate carries files_pruned = selected < total,
  // which the oracle pins as TRUE — a non-pruning rewrite hash-fails.
  def i16(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i16_")
    Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      .repartitionByRange(8, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(dir)
    val manifest = Io.readParquet(s, dir)
      .groupBy(input_file_name().as("path"))
      .agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .cache()
    try {
      val (lo, hi) = (200L, 350L)
      val nTotal = manifest.count()
      val selected = manifest
        .filter(col("max_id") >= lo && col("min_id") <= hi)
        .select("path").collect().map(_.getString(0)) // metadata-sized
      Io.readParquet(s, selected.toIndexedSeq)
        .filter(col("doc_id") >= lo && col("doc_id") <= hi)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .withColumn("files_pruned", lit(selected.length < nTotal))
        .orderBy("lang")
    } finally manifest.unpersist()
  }

  val i16Sql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  TRUE AS files_pruned
      |FROM documents WHERE doc_id >= 200 AND doc_id <= 350
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // i17: ORPHAN-FILE VACUUM — the lake maintenance job (Delta VACUUM /
  // Iceberg remove_orphan_files): a crashed writer leaves data files
  // in the table directory that no manifest references; readers that
  // trust the directory listing double-count them, and they leak
  // storage forever. Build: a 4-file lake whose manifest is captured
  // at write time; two orphan files planted beside them (a "failed
  // write"'s leftovers). Vacuum = directory listing anti-joined
  // against the manifest (driver-side metadata op, like i14/i16) →
  // delete. The gate reads the lake AFTER vacuum: the lang rollup
  // must equal the clean corpus (deleting a referenced file would
  // drop rows; missing an orphan would double-count doc_id%50 docs)
  // and the oracle pins n_orphans_removed = 2 as a literal.
  def i17(s: SparkSession, d: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = tmpDir("graft_i17_")
    val lake = root + "/lake"
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
    docs.repartitionByRange(4, col("doc_id")).write.mode("overwrite").parquet(lake)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      s.sparkContext.hadoopConfiguration)
    def dataFiles(): Seq[String] = {
      val it = fs.listStatus(new org.apache.hadoop.fs.Path(lake))
      it.toIndexedSeq.map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
    }
    val manifest = dataFiles().toSet // captured at write time
    // plant two orphans: leftover part-files of an aborted write
    val scratch = root + "/scratch"
    docs.filter(col("doc_id") % 50 === 0).coalesce(1)
      .write.mode("overwrite").parquet(scratch)
    val srcListing = Files.list(Paths.get(scratch))
    val part = try srcListing.filter(p =>
        p.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally srcListing.close()
    Seq("orphan-000.parquet", "orphan-001.parquet").foreach { name =>
      Files.copy(part, Paths.get(lake, name), StandardCopyOption.REPLACE_EXISTING)
    }
    // vacuum: listing \ manifest → delete
    val orphans = dataFiles().filterNot(manifest)
    orphans.foreach { n =>
      fs.delete(new org.apache.hadoop.fs.Path(lake + "/" + n), false)
    }
    Io.readParquet(s, lake)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .withColumn("n_orphans_removed", lit(orphans.size.toLong))
      .orderBy("lang")
  }

  val i17Sql: String =
    """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(2 AS BIGINT) AS n_orphans_removed
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // i18: SNAPSHOT DIFF (table_changes between two lake versions) —
  // the audit every CDC consumer, replication checker, and "what did
  // last night's job do" investigation runs: key-level classification
  // of two snapshots into added / deleted / changed / unchanged, then
  // a per-class rollup. Both versions are WRITTEN to parquet and the
  // diff runs over the READ-BACK files (the i14 discipline — the gate
  // covers the disk round-trip); v_old = pre-1996 orders, v_new =
  // all orders minus every 53rd key (deletes), with every 97th key's
  // price bumped by the i07 decimal-exact ×1.1 (changes) and the
  // 1996+ rows newly present (adds). The change test compares the
  // decimal-derived doubles — bit-equal cross-engine, so "changed"
  // is exact, not epsilon.
  // Scale: ONE full-outer join keyed on the primary key (both sides
  // shuffle-partitioned on it; with i12's bucketed layout the
  // exchange vanishes), then a tiny 4-row rollup. No ordering, no
  // window.
  def i18(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i18_")
    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice", "o_orderdate")
    orders.filter(col("o_orderdate") < "1996-01-01")
      .write.parquet(s"$dir/v_old")
    orders.filter(col("o_orderkey") % 53 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0,
          round(col("o_totalprice").cast("decimal(18,2)") * lit(1.1), 2)
            .cast("double"))
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        col("o_orderdate"))
      .write.parquet(s"$dir/v_new")
    val vOld = Io.readParquet(s, s"$dir/v_old")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p_old"))
    val vNew = Io.readParquet(s, s"$dir/v_new")
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p_new"))
    vOld.join(vNew, Seq("k"), "full_outer")
      .withColumn("class",
        when(col("p_old").isNull, "added")
          .when(col("p_new").isNull, "deleted")
          .when(col("p_old") === col("p_new"), "unchanged")
          .otherwise("changed"))
      .groupBy("class")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("k")).cast("long").as("sum_keys"))
      .orderBy("class")
  }

  val i18Sql: String =
    """WITH v_old AS (
      |  SELECT o_orderkey AS k, o_totalprice AS p_old
      |  FROM orders WHERE o_orderdate < '1996-01-01'),
      |v_new AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 97 = 0
      |      THEN CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * 1.1, 2)
      |        AS DOUBLE)
      |      ELSE o_totalprice END AS p_new
      |  FROM orders WHERE o_orderkey % 53 <> 0)
      |SELECT CASE WHEN p_old IS NULL THEN 'added'
      |    WHEN p_new IS NULL THEN 'deleted'
      |    WHEN p_old = p_new THEN 'unchanged'
      |    ELSE 'changed' END AS class,
      |  count(*) AS n_keys, sum(k)::BIGINT AS sum_keys
      |FROM v_old FULL OUTER JOIN v_new USING (k)
      |GROUP BY 1 ORDER BY class""".stripMargin

  // i19: OPTIMISTIC-CONCURRENCY COMMIT (the Delta/Iceberg writer
  // protocol): two writers read the same snapshot and both try to
  // commit version v+1; the commit primitive is an ATOMIC
  // create-if-absent of the version's manifest file, so exactly one
  // wins and the loser must re-read the new latest, re-validate
  // (append-only changes always commute), and commit v+2 — never
  // blind-overwrite, never lost update. Both writers here run the
  // REAL primitive (CREATE_NEW on the manifest path; the loser's
  // attempt genuinely throws) with deterministic win order so the
  // gate can pin the outcome: the final snapshot must hold base +
  // BOTH appends and exactly 3 committed versions — a lost update or
  // double-commit hash-fails the rollup.
  // Scale: commits are metadata-sized (a manifest of file paths);
  // data files land once and are never rewritten — the whole race is
  // on a few-KB object, exactly why OCC scales to thousands of
  // concurrent writers in production lakes.
  def i19(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i19_")
    import java.nio.file.{Files => JFiles, Paths, StandardOpenOption}
    val orders = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
    def writeData(name: String, df: DataFrame): Seq[String] = {
      df.write.parquet(s"$dir/data/$name")
      parquetFiles(s, s"$dir/data/$name")
    }
    // the OCC primitive: atomically create manifests/v<N>; throws if
    // another writer already committed that version
    def tryCommit(v: Int, paths: Seq[String]): Boolean =
      try {
        JFiles.createDirectories(Paths.get(s"$dir/manifests"))
        JFiles.write(Paths.get(s"$dir/manifests/v$v"),
          paths.mkString("\n").getBytes("UTF-8"),
          StandardOpenOption.CREATE_NEW) // atomic create-if-absent
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    def latest(): (Int, Seq[String]) = {
      val vs = JFiles.list(Paths.get(s"$dir/manifests")).iterator()
      var mx = 0
      while (vs.hasNext) {
        val n = vs.next().getFileName.toString
        mx = math.max(mx, n.stripPrefix("v").toInt)
      }
      (mx, JFiles.readAllLines(Paths.get(s"$dir/manifests/v$mx"))
        .toArray(Array.empty[String]).toSeq)
    }
    val base = writeData("base", orders.filter(col("o_orderdate") < "1996-01-01"))
    require(tryCommit(1, base), "v1 must be uncontended")
    // both writers snapshot v1, prepare disjoint appends
    val (v0, snap0) = latest()
    val addA = writeData("addA", orders.filter(
      col("o_orderdate") >= "1996-01-01" && col("o_orderkey") % 2 === 0))
    val addB = writeData("addB", orders.filter(
      col("o_orderdate") >= "1996-01-01" && col("o_orderkey") % 2 =!= 0))
    // writer A wins v2
    require(tryCommit(v0 + 1, snap0 ++ addA), "writer A must win v2")
    // writer B's attempt at the SAME version must lose...
    val bFirstTry = tryCommit(v0 + 1, snap0 ++ addB)
    // ...then rebase: re-read latest, re-validate (append-only
    // commutes), commit the next version
    var retries = 0
    var committed = bFirstTry
    while (!committed) {
      retries += 1
      val (vNow, snapNow) = latest()
      committed = tryCommit(vNow + 1, snapNow ++ addB)
    }
    val (vFinal, files) = latest()
    Io.readParquet(s, files)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_orderkey")).cast("long").as("sum_keys"))
      .withColumn("final_version", lit(vFinal))
      .withColumn("conflict_retries", lit(retries))
      .orderBy("o_orderstatus")
  }

  val i19Sql: String =
    """SELECT o_orderstatus, count(*) AS n_orders,
      |  sum(o_orderkey)::BIGINT AS sum_keys,
      |  3 AS final_version, 1 AS conflict_retries
      |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin

  // ------------------------------------------------------------------
  // i20: INCREMENTAL READ between snapshots — the consumption twin of
  // i14's versioning and i18's row diff: a downstream consumer (the
  // "streaming from a table" mechanic — Delta/Iceberg incremental
  // scan) checkpoints the last manifest version it processed and each
  // run reads ONLY the files the new manifest added (manifest set
  // difference — METADATA-sized planning, no row diffing, no re-scan
  // of history). Three append waves land as v1..v3; the consumer
  // processes inc(v) = files(v) ∖ files(v−1) and the gate rolls up
  // each increment — a re-read file (dupes) or a skipped file (loss)
  // flips the hash, and the oracle reproduces the waves as date-range
  // rollups. IoSpec pins the conservation law: increments are
  // pairwise DISJOINT file sets whose union is exactly snapshot v3,
  // and their row totals rebuild the full table. Scale: each
  // consumer run's input is proportional to the DELTA, not the
  // table — the property that makes a standing downstream job
  // affordable on a 100 TB lake.
  def i20(s: SparkSession, d: String): DataFrame = i20WithFiles(s, d)._1

  /** (gated per-increment rollup, the per-increment file lists) — the
    * file lists pin disjointness + coverage in IoSpec. */
  def i20WithFiles(s: SparkSession, d: String): (DataFrame, Seq[Seq[String]]) = {
    val dir = tmpDir("graft_i20_")
    import s.implicits._
    try {
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      def wave(n: Int, dfw: DataFrame): Seq[String] = {
        dfw.repartition(2).write.parquet(s"$dir/data/w$n")
        parquetFiles(s, s"$dir/data/w$n")
      }
      val w1 = wave(1, orders.filter(col("o_orderdate") < "1995-01-01"))
      val w2 = wave(2, orders.filter(
        col("o_orderdate") >= "1995-01-01" && col("o_orderdate") < "1996-01-01"))
      val w3 = wave(3, orders.filter(col("o_orderdate") >= "1996-01-01"))
      def writeManifest(v: Int, paths: Seq[String]): Unit =
        paths.toDF("path").coalesce(1).write.parquet(s"$dir/manifests/v$v")
      writeManifest(1, w1)
      writeManifest(2, w1 ++ w2)
      writeManifest(3, w1 ++ w2 ++ w3)
      def manifestPaths(v: Int): Set[String] =
        s.read.parquet(s"$dir/manifests/v$v").collect().map(_.getString(0)).toSet
      // the incremental consumer: per version, plan ONLY the delta
      val incFiles = (1 to 3).map { v =>
        val prev = if (v == 1) Set.empty[String] else manifestPaths(v - 1)
        (manifestPaths(v) -- prev).toSeq.sorted
      }
      val out = incFiles.zipWithIndex.map { case (files, i) =>
        s.read.parquet(files: _*)
          .agg(count(lit(1)).as("n_rows"),
            sum("o_orderkey").cast("long").as("sum_keys"))
          .select(lit(i + 1).as("version"), col("n_rows"), col("sum_keys"))
      }.reduce(_.union(_)).orderBy("version").transform(Pin.cut)
      (out, incFiles)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i20Sql: String =
    """SELECT 1 AS version, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
      |FROM orders WHERE o_orderdate < DATE '1995-01-01'
      |UNION ALL
      |SELECT 2, count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
      |WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'
      |UNION ALL
      |SELECT 3, count(*), CAST(sum(o_orderkey) AS BIGINT) FROM orders
      |WHERE o_orderdate >= DATE '1996-01-01'
      |ORDER BY version""".stripMargin

  // ------------------------------------------------------------------
  // i21: WRITE-AUDIT-PUBLISH (the Iceberg WAP / Delta-constraints /
  // DLT-expectations governance pattern): a writer never mutates the
  // readable table — it STAGES files, runs the audit expectations on
  // the staged READ-BACK (what would be published, not what the plan
  // claims), and only a passing audit swaps the manifest. Two staged
  // batches: A is clean and publishes v2; B carries planted
  // violations (every 7th orderkey's totalprice negated — the q49
  // planting discipline) so its audit fails and the latest readable
  // snapshot PROVABLY stays v2 — the gate reads it after the failed
  // attempt, so a leaked bad row or a lost good row flips the hash.
  // The audit booleans and violation counts are DATA-DERIVED on both
  // sides (the oracle re-derives them from the same predicate), never
  // literals. B's staged files stay on disk unreferenced — exactly
  // the orphans i17's vacuum collects (pinned in IoSpec, with
  // latest-manifest ≡ v2). Scale: audit cost is one scan of the
  // STAGED DELTA, publish is a metadata-sized manifest write — the
  // table itself is never re-validated or rewritten.
  def i21(s: SparkSession, d: String): DataFrame = i21WithAudit(s, d)._1

  /** (gated steps, audit A passed, audit B passed, latest manifest
    * files, staged-B files still on disk) — for the IoSpec pins. */
  def i21WithAudit(s: SparkSession, d: String)
      : (DataFrame, Boolean, Boolean, Seq[String], Seq[String]) = {
    val dir = tmpDir("graft_i21_")
    import s.implicits._
    try {
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      orders.filter(col("o_orderdate") < "1996-01-01")
        .write.parquet(s"$dir/data/base")
      val base = parquetFiles(s, s"$dir/data/base")
      def writeManifest(v: Int, paths: Seq[String]): Unit =
        paths.toDF("path").coalesce(1).write.parquet(s"$dir/manifests/v$v")
      writeManifest(1, base)
      var latest = base
      var version = 1
      // stage A: clean append (1996 H1)
      orders.filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1996-07-01")
        .write.parquet(s"$dir/staging/a")
      // stage B: the rest, with planted constraint violations
      orders.filter(col("o_orderdate") >= "1996-07-01")
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 7 === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")))
        .write.parquet(s"$dir/staging/b")
      // the audit runs on the staged READ-BACK — files, not plans
      def audit(stage: String): (Long, Boolean) = {
        val stg = Io.readParquet(s, parquetFiles(s, stage))
        val viol = stg.filter(col("o_totalprice") <= 0 ||
          col("o_orderkey").isNull).count()
        (viol, viol == 0 && stg.count() > 0)
      }
      def tryPublish(stage: String): (Long, Boolean) = {
        val (viol, ok) = audit(stage)
        if (ok) {
          latest = latest ++ parquetFiles(s, stage)
          version += 1
          writeManifest(version, latest)
        }
        (viol, ok)
      }
      val (violA, okA) = tryPublish(s"$dir/staging/a")
      val (violB, okB) = tryPublish(s"$dir/staging/b")
      // gate: the READABLE snapshot after each step (re-read through
      // the latest manifest so a wrong publish cannot hide)
      def snap(v: Int): DataFrame =
        Io.readParquet(s,
          s.read.parquet(s"$dir/manifests/v$v").collect().map(_.getString(0)).toSeq)
      def step(n: Int, df: DataFrame, viol: Long, pub: Boolean): DataFrame =
        df.agg(count(lit(1)).as("n_rows"),
            sum("o_orderkey").cast("long").as("sum_keys"))
          .select(lit(n).as("step"), col("n_rows"), col("sum_keys"),
            lit(viol).as("n_violations"), lit(pub).as("published"))
      val out = step(1, snap(1), 0L, pub = true)
        .union(step(2, snap(version), violA, okA))
        .union(step(3, snap(version), violB, okB))
        .orderBy("step").transform(Pin.cut)
      (out, okA, okB, latest, parquetFiles(s, s"$dir/staging/b"))
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i21Sql: String =
    """WITH v2 AS (
      |  SELECT count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_keys
      |  FROM orders WHERE o_orderdate < DATE '1996-07-01')
      |SELECT 1 AS step, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
      |  CAST(0 AS BIGINT) AS n_violations, true AS published
      |FROM orders WHERE o_orderdate < DATE '1996-01-01'
      |UNION ALL
      |SELECT 2, n_rows, sum_keys,
      |  (SELECT count(*) FROM orders
      |   WHERE o_orderdate >= DATE '1996-01-01'
      |     AND o_orderdate < DATE '1996-07-01' AND o_totalprice <= 0),
      |  true
      |FROM v2
      |UNION ALL
      |SELECT 3, n_rows, sum_keys,
      |  (SELECT count(*) FROM orders
      |   WHERE o_orderdate >= DATE '1996-07-01'
      |     AND (o_orderkey % 7 = 0 OR o_totalprice <= 0)),
      |  NOT EXISTS (SELECT 1 FROM orders
      |    WHERE o_orderdate >= DATE '1996-07-01'
      |      AND (o_orderkey % 7 = 0 OR o_totalprice <= 0))
      |FROM v2
      |ORDER BY step""".stripMargin

  // ------------------------------------------------------------------
  // i22: MASKED (pseudonymized) EXPORT — the data-governance twin of
  // t17's in-text redaction: before a warehouse table leaves its
  // trust boundary (vendor share, analytics sandbox), direct
  // identifiers are replaced by DETERMINISTIC tokens — tok_ +
  // salted-hash prefix — so the export stays JOINABLE (same value ⇒
  // same token, across tables and across runs) while raw values never
  // land on disk. The export is physically written and the gate reads
  // it BACK: per segment, row count, distinct name tokens (must equal
  // distinct raw names — tokenization is injective on this domain; a
  // sloppy truncating mask collapses customers and flips the count),
  // a checksum pinning the exact token VALUES, and a data-derived
  // no_leak boolean (zero read-back tokens match the raw-value
  // pattern). Oracle applies the identical mask formula relationally.
  // Determinism-across-writes and no-raw-strings-on-disk pinned in
  // IoSpec. Scale: pure map-side column transform inside the export
  // scan; the salt would be a keyed secret at deployment.
  private val MASK_SALT = "graft-mask-v1"

  private def maskTok(c: Column): Column =
    concat(lit("tok_"), substring(md5(concat(c, lit(MASK_SALT))), 1, 12))

  def i22(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i22_")
    try {
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          maskTok(col("c_name")).as("name_tok"))
        .write.parquet(s"$dir/export")
      val back = s.read.parquet(s"$dir/export")
      val raw = Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(countDistinct(col("c_name")).as("n_raw_names"))
      back.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("name_tok")).as("n_name_tokens"),
          sum(graft.functions.Hashing.hash56(col("name_tok"))
            .cast("decimal(38,0)")).cast("string").as("tok_checksum"),
          count(when(col("name_tok").rlike("Customer|#"), lit(1))).as("n_leaks"))
        .join(broadcast(raw), Seq("c_mktsegment"))
        .select(col("c_mktsegment"), col("n_rows"), col("n_name_tokens"),
          (col("n_name_tokens") === col("n_raw_names")).as("injective"),
          (col("n_leaks") === 0L).as("no_leak"), col("tok_checksum"))
        .orderBy("c_mktsegment")
        .transform(Pin.cut)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i22Sql: String =
    s"""WITH masked AS (
       |  SELECT c_custkey, c_mktsegment,
       |    'tok_' || substr(md5(c_name || '$MASK_SALT'), 1, 12) AS name_tok
       |  FROM customer),
       |raw AS (
       |  SELECT c_mktsegment, count(DISTINCT c_name) AS n_raw_names
       |  FROM customer GROUP BY 1)
       |SELECT c_mktsegment, count(*) AS n_rows,
       |  count(DISTINCT name_tok) AS n_name_tokens,
       |  count(DISTINCT name_tok) = any_value(n_raw_names) AS injective,
       |  count(CASE WHEN regexp_matches(name_tok, 'Customer|#') THEN 1 END) = 0
       |    AS no_leak,
       |  sum(${graft.functions.Hashing.sqlHash56("name_tok")})::DECIMAL(38,0)::VARCHAR
       |    AS tok_checksum
       |FROM masked JOIN raw USING (c_mktsegment)
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // i23: CORRUPT-RECORD QUARANTINE on JSONL ingest — the dead-letter
  // routing every production feed needs (i02 round-trips clean JSONL;
  // real landing zones carry truncated/mangled lines, and dropping
  // them silently or failing the whole batch are both wrong). A
  // landing dir is built from customer rows rendered as JSON lines
  // with a deterministic subset (custkey % 7 = 0) truncated
  // mid-object (unparseable); the PERMISSIVE read routes rows via
  // columnNameOfCorruptRecord: good rows feed the rollup, quarantined
  // rows keep their RAW line, from which dead-letter triage recovers
  // the key by regex. The gate pins all three: conservation
  // (total = good + quarantined), the exact good id-set + balance
  // mass, and the exact recovered dead-letter key set — a parser that
  // drops, double-routes, or half-parses any line hash-fails.
  // Scale: parse + route are map-side over the landing scan; one
  // global agg of six scalars. The quarantine side writes to a
  // dead-letter dir in production — same plan, different sink.
  def i23(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i23_")
    try {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          to_json(struct(col("c_custkey"), col("c_name"), col("c_acctbal")))
            .as("line"))
        .select(when(col("c_custkey") % 7 === 0,
            expr("substring(line, 1, length(line) - 2)"))
          .otherwise(col("line")).as("value"))
        .write.text(s"$dir/landing")
      val schema = StructType(Seq(
        StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_acctbal", DoubleType),
        StructField("_corrupt_record", StringType)))
      val parsed = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(s"$dir/landing")
        .cache() // corrupt-column queries need the materialized parse
      val ok = col("_corrupt_record").isNull
      val out = parsed.agg(
        count(lit(1)).as("n_total"),
        count(when(ok, lit(1))).as("n_good"),
        count(when(!ok, lit(1))).as("n_quarantined"),
        sum(when(ok, graft.functions.Hashing.hash56(
            concat_ws("#", lit("ok"), col("c_custkey"))))
          .otherwise(lit(0L)).cast("decimal(38,0)")).cast("string")
          .as("good_ids_checksum"),
        sum(when(ok, col("c_acctbal").cast("decimal(12,2)"))).cast("double")
          .as("good_acctbal"),
        sum(when(!ok, graft.functions.Hashing.hash56(concat_ws("#", lit("dl"),
            regexp_extract(col("_corrupt_record"), "\"c_custkey\":(\\d+)", 1))))
          .otherwise(lit(0L)).cast("decimal(38,0)")).cast("string")
          .as("deadletter_checksum"))
        .transform(Pin.cut)
      parsed.unpersist()
      out
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i23Sql: String = {
    import graft.functions.Hashing
    s"""WITH marked AS (
       |  SELECT c_custkey, c_acctbal, c_custkey % 7 = 0 AS corrupt
       |  FROM customer)
       |SELECT count(*) AS n_total,
       |  count(CASE WHEN NOT corrupt THEN 1 END) AS n_good,
       |  count(CASE WHEN corrupt THEN 1 END) AS n_quarantined,
       |  sum(CASE WHEN NOT corrupt
       |        THEN ${Hashing.sqlHash56("'ok#' || c_custkey")} ELSE 0 END)
       |    ::DECIMAL(38,0)::VARCHAR AS good_ids_checksum,
       |  sum(CASE WHEN NOT corrupt THEN c_acctbal::DECIMAL(12,2) END)::DOUBLE
       |    AS good_acctbal,
       |  sum(CASE WHEN corrupt
       |        THEN ${Hashing.sqlHash56("'dl#' || c_custkey")} ELSE 0 END)
       |    ::DECIMAL(38,0)::VARCHAR AS deadletter_checksum
       |FROM marked""".stripMargin
  }

  // ------------------------------------------------------------------
  // i24: VALUE-MEMBERSHIP (bloom-style) FILE SKIPPING — the parquet
  // bloom-filter / Iceberg value-set idea, the POINT-LOOKUP
  // complement to i16's min/max ranges: hash-clustered layouts have
  // interleaved key ranges, so min/max stats prune NOTHING for a
  // point probe, yet each key lives in exactly one file — a per-file
  // membership sketch recovers the pruning without the reader ever
  // knowing the writer's partitioner. Layout: 16 hash-clustered
  // files; sketch = the file's distinct (hash56(doc_id) mod 16384)
  // bit set, built in one read pass (stand-in for bits captured at
  // write time); a 5-key probe set (data-derived: the 5 smallest
  // doc_ids divisible by 97) selects only files whose sketch holds
  // the probe's bit. False positives cost an extra file read, never
  // a wrong row — the gate carries files_pruned, which a
  // read-everything rewrite flips to false and hash-fails.
  // Scale: the sketch table is (files × bits)-dim metadata; the probe
  // decision is a driver-side broadcast-semi-join of 5 keys; the
  // selected read is O(matching files), not O(table).
  def i24(s: SparkSession, d: String): DataFrame = {
    import graft.functions.Hashing
    val dir = tmpDir("graft_i24_")
    val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
    docs.repartition(16, col("doc_id"))
      .write.mode("overwrite").parquet(dir)
    val sketch = Io.readParquet(s, dir)
      .select(input_file_name().as("path"),
        (Hashing.hash56(concat_ws("#", lit("bf"), col("doc_id"))) % 16384)
          .as("bit"))
      .distinct()
      .cache()
    try {
      val nTotal = sketch.select("path").distinct().count()
      val probes = docs.filter(col("doc_id") % 97 === 0)
        .select("doc_id").orderBy("doc_id").limit(5)
        .collect().map(_.getLong(0)) // metadata-sized (5 keys)
      val probeBits = probes
        .map(id => graft.functions.Md5Prefix56.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"bf#$id"), 7)
          % 16384).toSet
      val selected = sketch
        .filter(col("bit").isInCollection(probeBits.toSeq))
        .select("path").distinct().collect().map(_.getString(0))
      Io.readParquet(s, selected.toIndexedSeq)
        .filter(col("doc_id").isInCollection(probes.toIndexedSeq))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .withColumn("files_pruned", lit(selected.length < nTotal))
        .orderBy("doc_id")
        .transform(Pin.cut)
    } finally {
      sketch.unpersist()
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i24Sql: String =
    """SELECT doc_id, lang, n_chars, TRUE AS files_pruned
      |FROM documents
      |WHERE doc_id % 97 = 0
      |  AND doc_id IN (SELECT doc_id FROM documents WHERE doc_id % 97 = 0
      |                 ORDER BY doc_id LIMIT 5)
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // i25: MERGE-ON-READ POSITION DELETES (the Iceberg-v2 delete-file
  // protocol — i13 deletes by REWRITING affected partitions
  // (copy-on-write); at high delete rates the rewrite amplification
  // is the cost, so v2 lakes instead write an O(deletes) DELETE FILE
  // of (data_file, row_position) pairs and every reader anti-joins it
  // at scan time). The positions are REAL: the delete file is built
  // from the scan-exposed `_metadata.file_path`/`_metadata.row_index`
  // metadata columns, and the MOR read filters by POSITION ONLY — a
  // position mechanism that misaddresses rows deletes the wrong docs
  // and flips the id-set checksum. Compaction then folds the deletes
  // into new data files (the delete file retires) and the gate's
  // compact_ok boolean pins that the compacted table reproduces the
  // MOR view column-for-column.
  // Scale: delete write is O(deletes) metadata, data files stay
  // byte-identical (pinned in IoSpec); the MOR anti-join keys on
  // (file, pos) — at 100 TB the delete side is a broadcast or a
  // file-partitioned merge, never a data rewrite until compaction
  // chooses one.
  def i25(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i25_")
    val data = dir + "/data"
    val dels = dir + "/deletes"
    val compacted = dir + "/data_v2"
    try {
      Tables.documents(s, d).select("doc_id", "lang", "n_chars")
        .repartition(8, col("doc_id")).write.parquet(data)
      def scan: DataFrame = s.read.parquet(data)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("_metadata.file_path").as("fp"),
          col("_metadata.row_index").as("pos"))
      // the delete file: positions of every doc_id % 7 == 0 row
      scan.filter(col("doc_id") % 7 === 0).select("fp", "pos")
        .coalesce(1).write.parquet(dels)
      val delDf = s.read.parquet(dels)
      val mor = scan.join(delDf, Seq("fp", "pos"), "left_anti")
        .select("doc_id", "lang", "n_chars")
      mor.repartition(4).write.parquet(compacted)
      def rollup(df: DataFrame): DataFrame = df.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        // cast BEFORE the sum — p05's ANSI-overflow rule
        sum(graft.functions.Hashing.hash56(
          concat_ws("#", lit("mor"), col("doc_id"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").cast("string").as("ids_checksum"))
      rollup(mor)
        .join(rollup(s.read.parquet(compacted))
          .select(col("lang"), col("n_docs").as("c_n"),
            col("sum_chars").as("c_s"), col("ids_checksum").as("c_c")),
          Seq("lang"))
        .withColumn("compact_ok",
          col("n_docs") === col("c_n") && col("sum_chars") === col("c_s") &&
            col("ids_checksum") === col("c_c"))
        .select("lang", "n_docs", "sum_chars", "ids_checksum", "compact_ok")
        .orderBy("lang")
        .transform(Pin.cut) // pin rows so the finally can delete the dirs
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i25Sql: String = {
    val h = graft.functions.Hashing.sqlHash56("'mor#' || doc_id")
    s"""SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
       |  sum(($h)::DECIMAL(38,0))::DECIMAL(38,0)::VARCHAR AS ids_checksum,
       |  TRUE AS compact_ok
       |FROM documents WHERE doc_id % 7 <> 0
       |GROUP BY 1 ORDER BY lang""".stripMargin
  }

  // ------------------------------------------------------------------
  // i26: SHALLOW (ZERO-COPY) CLONE — the Delta `CLONE`/Iceberg
  // snapshot-ref mechanic: a dev/test/experiment copy of a 100 TB
  // table cannot be a data copy; a shallow clone is a NEW TABLE whose
  // manifest references the SOURCE's data files (i14's
  // manifest-as-version idea crossed table boundaries). The clone is
  // O(metadata) to create, and because manifests are immutable it is
  // a frozen snapshot: the source appending AFTER the clone does not
  // leak into clone reads (if it did, the cloned 'en' rollup would
  // double and the hash would fail — the planted append is exactly an
  // 'en' re-copy). zero_copy pins that no data directory exists under
  // the clone and every referenced file lives under the source;
  // src_advanced pins the source really moved on (v2 manifest lists
  // more files than the clone).
  // Scale: clone creation reads/writes one manifest — file-count
  // metadata, never row data; clone reads plan directly over the
  // referenced files.
  def i26(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i26_")
    import s.implicits._
    try {
      val docs = Tables.documents(s, d).select("doc_id", "lang", "n_chars")
      docs.write.parquet(s"$dir/src/data/add0")
      val v1 = parquetFiles(s, s"$dir/src/data/add0")
      v1.toDF("path").coalesce(1).write.parquet(s"$dir/src/manifests/v1")
      // the clone: copy the MANIFEST, never the data
      s.read.parquet(s"$dir/src/manifests/v1").coalesce(1)
        .write.parquet(s"$dir/clone/manifests/v1")
      // the source evolves after the clone froze
      docs.filter(col("lang") === "en")
        .select((col("doc_id") + 10000000L).as("doc_id"),
          col("lang"), col("n_chars"))
        .write.parquet(s"$dir/src/data/add1")
      (v1 ++ parquetFiles(s, s"$dir/src/data/add1")).toDF("path")
        .coalesce(1).write.parquet(s"$dir/src/manifests/v2")
      val clonePaths = s.read.parquet(s"$dir/clone/manifests/v1")
        .collect().map(_.getString(0)).sorted
      val zeroCopy = !new java.io.File(s"$dir/clone/data").exists() &&
        clonePaths.nonEmpty && clonePaths.forall(_.contains("/src/data/"))
      val srcAdvanced =
        s.read.parquet(s"$dir/src/manifests/v2").count() > clonePaths.length
      s.read.parquet(clonePaths: _*)
        .groupBy("lang").agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .withColumn("zero_copy", lit(zeroCopy))
        .withColumn("src_advanced", lit(srcAdvanced))
        .orderBy("lang")
        .transform(Pin.cut) // pin rows so the finally can delete the dirs
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i26Sql: String =
    """SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
      |  TRUE AS zero_copy, TRUE AS src_advanced
      |FROM documents GROUP BY 1 ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------
  // i27: DYNAMIC PARTITION OVERWRITE (INSERT OVERWRITE that replaces
  // ONLY the partitions the incoming batch touches — the restatement
  // primitive behind every "re-run yesterday" backfill): a
  // status-partitioned orders table takes a restated batch covering
  // just partition P (every price doubled — the audit trail that
  // proves replacement happened); with partitionOverwriteMode=dynamic
  // the writer swaps P's files and MUST NOT touch F or O. Static
  // overwrite mode would truncate the whole table first — the classic
  // footgun this mode exists to fix. Gate: the full READ-BACK rolled
  // up per partition — F/O must equal the original data exactly (a
  // static-mode truncation zeroes them; a blind append doubles P's
  // rows) while P carries restated values only. File-level evidence
  // (untouched partitions' file lists byte-identical, P's replaced)
  // pinned in IoSpec via i27WithFiles. Scale: write cost is O(restated
  // partition), never O(table) — the property that makes daily
  // restatement affordable on a 100 TB lake.
  def i27(s: SparkSession, d: String): DataFrame = i27WithFiles(s, d)._1

  /** (gated rollup, per-partition (path,size) lists before/after) —
    * the file lists pin untouched-partition identity in IoSpec. */
  def i27WithFiles(s: SparkSession, d: String)
      : (DataFrame, Map[String, Seq[(String, Long)]], Map[String, Seq[(String, Long)]]) = {
    val dir = tmpDir("graft_i27_")
    try {
      val orders = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
      orders.write.partitionBy("o_orderstatus").parquet(s"$dir/t")
      def files(): Map[String, Seq[(String, Long)]] = {
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          s.sparkContext.hadoopConfiguration)
        fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/t"))
          .filter(_.isDirectory).map { p =>
            p.getPath.getName ->
              fs.listStatus(p.getPath).filter(_.getPath.getName.endsWith(".parquet"))
                .map(f => (f.getPath.toString, f.getLen)).sortBy(_._1).toSeq
          }.toMap
      }
      val before = files()
      // the restated batch: partition P only, doubled prices (×2 is an
      // exponent bump — exact on doubles, so the oracle can replay it)
      orders.filter(col("o_orderstatus") === "P")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(s"$dir/t")
      val after = files()
      val out = s.read.parquet(s"$dir/t")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum("o_orderkey").cast("long").as("sum_keys"),
          round(sum(col("o_totalprice").cast("decimal(14,2)")), 2)
            .cast("double").as("sum_price"))
        .orderBy("o_orderstatus").transform(Pin.cut)
      (out, before, after)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i27Sql: String =
    """SELECT o_orderstatus, count(*) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_keys,
      |  CAST(round(sum(CAST(CASE WHEN o_orderstatus = 'P'
      |      THEN o_totalprice * 2 ELSE o_totalprice END
      |    AS DECIMAL(14,2))), 2) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // i28: NESTED-SCHEMA COLUMN PRUNING (the storage feature that makes
  // deeply-structured lakes affordable: a query touching two leaves
  // of a wide struct/array-of-struct document must read TWO leaf
  // column chunks, not the whole tree — at 100 TB the difference is
  // the whole I/O bill): events materialize as a nested document
  // (meta.user.{id,seg}, meta.kind, items: array<struct<k,v>>), the
  // read-back selects ONLY meta.user.seg and the items[].k fold, and
  // the GATE is the rollup while PlanSpec pins the scan's ReadSchema
  // to exactly those leaves (id/kind/v absent — the evidence
  // Catalyst's nestedSchemaPruning actually reached the parquet
  // reader). Oracle: the same rollup straight from the flat source —
  // nesting must be a LOSSLESS reshaping, not a semantic change.
  def i28(s: SparkSession, d: String): DataFrame = i28WithPlan(s, d)._1

  /** (gated rollup, formatted plan of the nested read-back) — the
    * plan string pins leaf-level ReadSchema pruning in PlanSpec. */
  def i28WithPlan(s: SparkSession, d: String): (DataFrame, String) = {
    val dir = tmpDir("graft_i28_")
    try {
      Tables.events(s, d)
        .select(col("event_id"),
          struct(
            struct(col("user_id").as("id"), (col("user_id") % 7).as("seg"))
              .as("user"),
            col("event_type").as("kind")).as("meta"),
          array(
            struct(col("value").cast("long").as("k"), col("value").as("v")),
            struct((col("event_id") % 100).as("k"), (col("value") / 2).as("v")))
            .as("items"))
        .write.parquet(s"$dir/nested")
      // extract items.k FIRST (GetArrayStructFields — a prunable
      // ExtractValue chain) and fold the bare longs: folding the raw
      // structs with `x.k` inside the lambda would defeat pruning —
      // higher-order-function bodies are opaque to nestedSchemaPruning,
      // so the scan would read v too
      val rb = s.read.parquet(s"$dir/nested")
        .select(col("meta.user.seg").as("seg"),
          expr("aggregate(items.k, 0L, (acc, x) -> acc + x)").as("ksum"))
      val out = rb.groupBy("seg")
        .agg(count(lit(1)).as("n"), sum("ksum").as("sum_k"))
        .orderBy("seg").transform(Pin.cut)
      (out, rb.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i28Sql: String =
    """SELECT user_id % 7 AS seg, count(*) AS n,
      |  CAST(sum(CAST(trunc(value) AS BIGINT) + event_id % 100) AS BIGINT)
      |    AS sum_k
      |FROM events GROUP BY 1 ORDER BY seg""".stripMargin

  // ------------------------------------------------------------------
  // i29: COLUMN-LEVEL LINEAGE extraction (the OpenLineage / Unity
  // Catalog governance primitive: which (table, column) leaves does
  // every output column transitively read? — impact analysis, PII
  // propagation audits, and downstream-breakage checks all hang off
  // this map). Derived from the Catalyst ANALYZED plan by plans/
  // Lineage: ExprId-keyed walk (names are ambiguous under self-joins),
  // SubqueryAlias nodes as the table bases, Project/Aggregate mapping
  // each named output to the union of its references' sources. The
  // audited query exercises the interesting cases: a pass-through
  // grouping key, an aggregate over one table, a COUNT DISTINCT over
  // the other, and a CASE expression whose lineage spans BOTH tables.
  // The oracle states the expected lineage literally — the contract
  // the extractor must reproduce from the plan alone. Driver-side
  // metadata op: touches zero data rows at any scale.
  def i29(s: SparkSession, d: String): DataFrame = {
    val audited = Tables.orders(s, d).alias("orders")
      .join(Tables.customer(s, d).alias("customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        round(sum(col("o_totalprice").cast("decimal(14,2)")), 2)
          .cast("double").as("revenue"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        round(sum(when(col("c_mktsegment") === "BUILDING",
          col("o_totalprice")).otherwise(0.0).cast("decimal(14,2)")), 2)
          .cast("double").as("building_rev"))
    import s.implicits._
    graft.plans.Lineage.trace(audited)
      .toDF("out_col", "src_table", "src_col")
      .orderBy("out_col", "src_table", "src_col")
  }

  val i29Sql: String =
    """SELECT * FROM (VALUES
      |  ('building_rev', 'customer', 'c_mktsegment'),
      |  ('building_rev', 'orders', 'o_totalprice'),
      |  ('n_nations', 'customer', 'c_nationkey'),
      |  ('o_orderpriority', 'orders', 'o_orderpriority'),
      |  ('revenue', 'orders', 'o_totalprice'))
      |  AS lineage(out_col, src_table, src_col)
      |ORDER BY out_col, src_table, src_col""".stripMargin

  // ------------------------------------------------------------------
  // i30: CUSTOM DATASOURCE V2 with manifest pruning (the one Catalyst
  // extension point the engine hadn't exercised — custom Expression /
  // aggregate / LogicalPlan / Strategy / columnar SparkPlan /
  // optimizer Rule / SessionExtensions all exist; this adds the
  // CONNECTOR tier where Iceberg/Delta live): sources/ManifestSource
  // implements TableProvider → ScanBuilder with filter AND column
  // pushdown → Batch planning that consults a file-stats manifest, so
  // files whose id range can't match the pushed bounds never become
  // input partitions (i16's skipping, moved where production formats
  // do it — invisible to the query). The lake: orders re-keyed to
  // (id, cat, cents), range-split into 8 sorted files written
  // EXECUTOR-SIDE (mapPartitions + local FS; i08's sink discipline)
  // with the manifest built from the 8 returned (file, min, max)
  // rows — metadata-sized driver work. Gate: a mid-range id slice
  // (data-derived bounds) aggregated per cat, vs the oracle
  // recomputing straight from the SOURCE table — write → manifest →
  // pruned connector read must round-trip losslessly — plus
  // files_pruned pinned TRUE in-gate via the connector's own planner;
  // exact planned-file arithmetic pinned in IoSpec.
  def i30(s: SparkSession, d: String): DataFrame = {
    val dir = tmpDir("graft_i30_")
    try {
      val rows = Tables.orders(s, d).select(
        col("o_orderkey").as("id"), col("o_orderpriority").as("cat"),
        (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
          .as("cents"))
      import s.implicits._
      val metas = rows.repartitionByRange(8, col("id"))
        .sortWithinPartitions("id")
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val f = new java.io.File(s"$dir/part-$pid")
          val w = new java.io.PrintWriter(f)
          var (mn, mx, n) = (Long.MaxValue, Long.MinValue, 0L)
          it.foreach { r =>
            val id = r.getAs[Long]("id")
            mn = math.min(mn, id); mx = math.max(mx, id); n += 1
            w.println(s"$id,${r.getAs[String]("cat")},${r.getAs[Long]("cents")}")
          }
          w.close()
          if (n == 0) { f.delete(); Iterator.empty }
          else Iterator.single((s"part-$pid", mn, mx))
        }.collect()
      val mw = new java.io.PrintWriter(s"$dir/manifest")
      metas.sortBy(_._1).foreach { case (f, mn, mx) => mw.println(s"$f,$mn,$mx") }
      mw.close()
      // data-derived mid-range slice: [min + 3·span, min + 5·span)
      val Array(idMin, idMax) = rows.agg(min("id"), max("id"))
        .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      val span = (idMax - idMin + 1) / 8
      val (lo, hi) = (idMin + 3 * span, idMin + 5 * span)
      val planned = graft.sources.ManifestSource.surviving(dir, Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("id", lo),
        org.apache.spark.sql.sources.LessThan("id", hi))).size
      val out = s.read.format("graft.sources.ManifestSource")
        .option("path", dir).load()
        .filter(col("id") >= lo && col("id") < hi)
        .groupBy("cat")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .withColumn("files_pruned", lit(planned < metas.length))
        .orderBy("cat")
      Pin.cut(out)
    } finally {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
  }

  val i30Sql: String =
    """WITH bounds AS (
      |  SELECT min(o_orderkey) AS mn,
      |    (max(o_orderkey) - min(o_orderkey) + 1) // 8 AS span
      |  FROM orders)
      |SELECT o_orderpriority AS cat, count(*) AS n,
      |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS sum_cents,
      |  true AS files_pruned
      |FROM orders, bounds
      |WHERE o_orderkey >= mn + 3 * span AND o_orderkey < mn + 5 * span
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------------------
  // i31: INCREMENTAL VIEW MAINTENANCE (the algebraic IVM rule behind
  // every materialized dashboard — i20 reads increments, this
  // COMPUTES them: when a batch lands, merge its PARTIAL AGGREGATES
  // into the view instead of recomputing from the base table; for
  // distributive aggregates (count/sum) the merge is exact algebra,
  // and at 100 TB it is the difference between touching the delta
  // and re-scanning history every refresh). The view: revenue cents
  // + order counts by (priority, year). Delta = the newest order
  // year (data-derived cutoff); base = everything before. The
  // refreshed view = base view FULL OUTER delta rollup with
  // coalesced sums — and the gate hashes it against the oracle's
  // FROM-SCRATCH recompute over base+delta, so any merge bug
  // (dropped group, double count, missed new group) flips it. The
  // in-gate `incremental` boolean pins the efficiency claim: the
  // delta rollup touches strictly fewer groups than the full view.
  def i31(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d).select(col("o_orderpriority").as("prio"),
      year(col("o_orderdate")).as("yr"),
      (col("o_totalprice").cast("decimal(14,2)") * 100).cast("long")
        .as("cents"))
      .transform(Pin.cut) // cutoff agg + base + delta share one scan
    val cutoff = o.agg(max(col("yr")).as("cut"))
    val withCut = o.crossJoin(broadcast(cutoff))
    def rollup(df: DataFrame): DataFrame =
      df.groupBy("prio", "yr")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("rev_cents"))
    val baseView = rollup(withCut.filter(col("yr") < col("cut")))
    val deltaAgg = rollup(withCut.filter(col("yr") >= col("cut")))
      .transform(Pin.cut) // consumed by the merge AND the group count
    val merged = baseView.as("b")
      .join(deltaAgg.as("dl"),
        col("b.prio") === col("dl.prio") && col("b.yr") === col("dl.yr"),
        "full")
      .select(
        coalesce(col("b.prio"), col("dl.prio")).as("prio"),
        coalesce(col("b.yr"), col("dl.yr")).as("yr"),
        (coalesce(col("b.n"), lit(0L)) + coalesce(col("dl.n"), lit(0L)))
          .as("n"),
        (coalesce(col("b.rev_cents"), lit(0L)) +
          coalesce(col("dl.rev_cents"), lit(0L))).as("rev_cents"))
    val nDelta = deltaAgg.count()
    val nTotal = merged.count()
    merged
      .withColumn("incremental", lit(nDelta < nTotal))
      .orderBy("prio", "yr")
  }

  val i31Sql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS prio, year(o_orderdate) AS yr,
      |    CAST(CAST(o_totalprice AS DECIMAL(14,2)) * 100 AS BIGINT) AS cents
      |  FROM orders)
      |SELECT prio, yr, count(*) AS n,
      |  CAST(sum(cents) AS BIGINT) AS rev_cents,
      |  true AS incremental
      |FROM o GROUP BY 1, 2 ORDER BY prio, yr""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "i31_ivm" -> (i31 _),
    "i30_dsv2_manifest" -> (i30 _),
    "i29_column_lineage" -> (i29 _),
    "i28_nested_pruning" -> (i28 _),
    "i27_dynamic_overwrite" -> (i27 _),
    "i26_shallow_clone" -> (i26 _),
    "i25_pos_deletes" -> (i25 _),
    "i24_bloom_skip" -> (i24 _),
    "i23_quarantine" -> (i23 _),
    "i22_masked_export" -> (i22 _),
    "i21_wap_publish" -> (i21 _),
    "i20_incremental_read" -> (i20 _),
    "i19_occ_commit" -> (i19 _),
    "i18_snapshot_diff" -> (i18 _),
    "i17_vacuum_orphans" -> (i17 _),
    "i16_stats_manifest" -> (i16 _),
    "i15_partition_evolution" -> (i15 _),
    "i14_time_travel" -> (i14 _),
    "i13_retention_delete" -> (i13 _),
    "i12_bucketed_join" -> (i12 _),
    "i10_schema_evolution" -> (i10 _),
    "i11_compaction" -> (i11 _),
    "i09_zorder" -> (i09 _),
    "i08_binary_source" -> (i08 _),
    "i07_merge_upsert" -> (i07 _),
    "i06_clustered_skip" -> (i06 _),
    "i01_csv_roundtrip" -> (i01 _),
    "i02_jsonl_roundtrip" -> (i02 _),
    "i03_partition_prune" -> (i03 _),
    "i04_orc_roundtrip" -> (i04 _),
    "i05_ann_index_persist" -> (i05 _),
    "i32_graph_persist" -> (i32 _))

  val oracles: Map[String, String] = Map(
    "i31_ivm" -> i31Sql,
    "i30_dsv2_manifest" -> i30Sql,
    "i29_column_lineage" -> i29Sql,
    "i28_nested_pruning" -> i28Sql,
    "i27_dynamic_overwrite" -> i27Sql,
    "i26_shallow_clone" -> i26Sql,
    "i25_pos_deletes" -> i25Sql,
    "i24_bloom_skip" -> i24Sql,
    "i23_quarantine" -> i23Sql,
    "i22_masked_export" -> i22Sql,
    "i21_wap_publish" -> i21Sql,
    "i20_incremental_read" -> i20Sql,
    "i19_occ_commit" -> i19Sql,
    "i18_snapshot_diff" -> i18Sql,
    "i17_vacuum_orphans" -> i17Sql,
    "i16_stats_manifest" -> i16Sql,
    "i15_partition_evolution" -> i15Sql,
    "i14_time_travel" -> i14Sql,
    "i13_retention_delete" -> i13Sql,
    "i12_bucketed_join" -> i12Sql,
    "i10_schema_evolution" -> i10Sql,
    "i11_compaction" -> i11Sql,
    "i09_zorder" -> i09Sql,
    "i08_binary_source" -> i08Sql,
    "i07_merge_upsert" -> i07Sql,
    "i06_clustered_skip" -> i06Sql,
    "i01_csv_roundtrip" -> i01Sql,
    "i02_jsonl_roundtrip" -> i02Sql,
    "i03_partition_prune" -> i03Sql,
    "i04_orc_roundtrip" -> i04Sql,
    "i05_ann_index_persist" -> Similarity.s07Sql,
    "i32_graph_persist" -> Similarity.i32Sql)
}
