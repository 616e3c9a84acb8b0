package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: a closed loop with one client that
  * replays a fixed mix of gated query keys in passes.
  *
  *   1. set up: session creation and lake registration, timed from JVM
  *      start;
  *   2. one untimed warm-up pass that writes each key's result as parquet
  *      for the caller to hash against the DuckDB oracle, then a wait for
  *      the caller's `oracle.done` (it evaluates the oracle meanwhile);
  *   3. measured passes following `pattern`, one letter a pass: `R` drops
  *      every artifact and runs a rebuild pass, `W` a warm pass. The whole
  *      pattern runs once, then it repeats from its start until `seconds`
  *      have been measured.
  *
  * graft is reached only through `SparkEntry.queries`,
  * `SparkEntry.oracleSql` and `ops.Memo`. Writes `harness.json` (and,
  * traced, `trace.json`) into `out`.
  *
  * Args: key=value pairs — lake, tables (comma list), keys (comma list),
  * pattern, seconds, slots, trace (0|1), out.
  */
object Harness {
  final case class Conf(lake: String, tables: Seq[String], keys: Seq[String],
                        pattern: String, seconds: Double, slots: Int, trace: Boolean,
                        out: String)

  final case class Pass(kind: String, wallS: Double, keyS: Seq[(String, Double)],
                        builds: Seq[String], errors: Seq[(String, String)],
                        heapAfterGcMb: Double, pinStoredMb: Double, pinBlocks: Double,
                        gcS: Double, jitS: Double, compiles: Double,
                        compileMs: Double, cpuS: Double, stealPct: Double,
                        span: Option[Span]) {
    def json: Map[String, Any] = Map("kind" -> kind, "wall_s" -> wallS,
      "key_s" -> keyS.toMap, "builds" -> builds,
      "errors" -> errors.map { case (k, m) => Map("key" -> k, "error" -> m) },
      "heap_after_gc_mb" -> heapAfterGcMb, "cpu_s" -> cpuS, "steal_pct" -> stealPct)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val c = Conf(a("lake"), a("tables").split(",").toSeq, a("keys").split(",").toSeq,
      a("pattern"), a("seconds").toDouble, a("slots").toInt, a("trace") == "1", a("out"))
    Files.createDirectories(Paths.get(c.out))

    // Wall seconds since JVM start at the end of each phase.
    val phases = collection.mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit =
      phases(name) = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // 1. set-up, timed from JVM start.
    val spark = setUp(c)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val all = graft.SparkEntry.queries
    val missing = c.keys.filterNot(all.contains)
    require(missing.isEmpty, s"unknown query keys: ${missing.mkString(",")}")
    require(c.pattern.nonEmpty && c.pattern.forall("RW".contains(_)),
      s"pattern must be letters R and W: ${c.pattern}")
    val fns = c.keys.map(k => k -> all(k))
    phase("setup")
    // The caller evaluates the oracle SQL while the warm-up runs; the
    // measured passes wait until it is done.
    val oracle = graft.SparkEntry.oracleSql
    val tmp = Paths.get(c.out, "oracle.json.tmp")
    Files.writeString(tmp, json(c.keys.flatMap(k => oracle.get(k).map(k -> _)).toMap))
    Files.move(tmp, Paths.get(c.out, "oracle.json"))
    val calibStart = Calibrate.ms()

    // 2. warm-up (JIT, class loading, generated code), not measured; its
    // results are the ones checked against the oracle.
    val warmup = runPass(spark, fns, c.lake, "warmup", None, None,
      Some(s"${c.out}/results"))
    phase("warmup")
    while (!Files.exists(Paths.get(c.out, "oracle.done"))) Thread.sleep(50)
    phase("oracle_wait")

    // 3. measured passes.
    val tracer = if (c.trace) Some(new Tracer) else None
    val runSpan = tracer.map(t => t.open(null, "run", "run"))
    tracer.foreach(_.attach(spark))
    val passes = collection.mutable.ArrayBuffer.empty[Pass]
    val measureStart = System.nanoTime()
    def measured = (System.nanoTime() - measureStart) / 1e9
    // Traced, each warm pass has an untraced twin, the reference for the
    // tracing overhead; which of the two runs first alternates.
    def untracedWarm(tr: Tracer): Unit = {
      tr.detach(spark)
      passes += runPass(spark, fns, c.lake, "warm_untraced", None, None)
      tr.attach(spark)
    }
    var (i, warms) = (0, 0)
    while (i < c.pattern.length || measured < c.seconds) {
      if (c.pattern(i % c.pattern.length) == 'R') {
        drop(spark, tracer)
        passes += runPass(spark, fns, c.lake, "rebuild", tracer, runSpan)
      } else {
        if (warms % 2 == 0) tracer.foreach(untracedWarm)
        passes += runPass(spark, fns, c.lake, "warm", tracer, runSpan)
        if (warms % 2 == 1) tracer.foreach(untracedWarm)
        warms += 1
      }
      i += 1
    }
    val measuredS = measured
    // Every artifact of the mix is held here (the last pass reused them).
    val heapLiveMb = Jvm.liveHeapMb()
    phase("measure")

    val calibEnd = Calibrate.ms()

    val layers = tracer.map { tr =>
      quiesce(tr)
      tr.detach(spark)
      runSpan.foreach(tr.close)
      tr.resolve()
      tr.write(s"${c.out}/trace.json", Map("keys" -> c.keys, "slots" -> c.slots,
        "passes" -> passes.map(_.json)))
      layerMetrics(tr, passes.toSeq, c.slots)
    }
    phase("trace")
    Files.writeString(Paths.get(c.out, "harness.json"), json(Map(
      "phases_s" -> phases,
      "keys" -> c.keys, "slots" -> c.slots, "setup_s" -> setupS,
      "measured_s" -> measuredS, "heap_live_mb" -> heapLiveMb,
      "calib_ms" -> Seq(calibStart, calibEnd),
      "passes" -> (warmup +: passes).map(_.json),
      "layers" -> layers)))
    spark.stop()
  }

  /** A session configured as graft's own bench configures it, with every
    * file-system side effect pointed into the run directory, and the lake's
    * tables registered (schemas resolved from the parquet footers). */
  def setUp(c: Conf): SparkSession = {
    val box = sys.props("java.io.tmpdir")
    val spark = SparkSession.builder()
      .master(s"local[${c.slots}]")
      .config("spark.sql.shuffle.partitions", c.slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$box/spark-local")
      .config("spark.sql.warehouse.dir", s"$box/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    c.tables.foreach(t => spark.read.parquet(s"${c.lake}/$t.parquet").createOrReplaceTempView(t))
    spark
  }

  /** Drop every artifact: memos, cached frames, and what GC can reclaim. */
  def drop(spark: SparkSession, tracer: Option[Tracer]): Unit = {
    tracer.foreach(_.currentPass = null)
    graft.ops.Memo.clearAll()
    spark.catalog.clearCache()
    System.gc()
    tracer.foreach(quiesce)
    graft.ops.Memo.drainBuilds(): Unit
  }

  /** One pass of the mix. Each result goes to the noop sink, or, given
    * `results`, to parquet under it. Ends with a GC, so that the next pass
    * starts on a collected heap. */
  def runPass(spark: SparkSession, fns: Seq[(String, (SparkSession, String) => DataFrame)],
              lake: String, kind: String, tracer: Option[Tracer],
              parent: Option[Span], results: Option[String] = None): Pass = {
    val sc = spark.sparkContext
    val pass = tracer.map(t => t.open(parent.orNull, "pass", kind))
    tracer.foreach(_.currentPass = pass.orNull)
    val (gc0, jit0) = (Jvm.gcS, Jvm.jitS)
    val (cc0, cm0) = (Jvm.compiles, Jvm.compileMs)
    val builds = collection.mutable.ArrayBuffer.empty[String]
    val errors = collection.mutable.ArrayBuffer.empty[(String, String)]
    val (cpu0, steal0) = (Jvm.cpuS, Jvm.steal)
    val t0 = System.nanoTime()
    val keyS = fns.map { case (k, fn) =>
      val t = System.nanoTime()
      val key = tracer.map(tr => tr.open(pass.orNull, "key", k))
      def call[T](name: String)(body: => T): T = tracer match {
        case None => body
        case Some(tr) =>
          val s = tr.open(key.orNull, name, k)
          sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
          try body finally { sc.setLocalProperty(Tracer.SpanProp, null); tr.close(s) }
      }
      try {
        val df = call("construct")(fn(spark, lake))
        val w = df.write.mode("overwrite")
        call("sink")(results.fold(w.format("noop").save())(r => w.parquet(s"$r/$k")))
      } catch { case e: Throwable => errors += k -> brief(e) }
      val built = graft.ops.Memo.drainBuilds()
      builds ++= built
      for (tr <- tracer; s <- key) {
        built.foreach(b => s.events.add(Map("event" -> "memo_build", "artifact" -> b)))
        tr.close(s)
      }
      k -> (System.nanoTime() - t) / 1e9
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val (cpu, steal1) = (Jvm.cpuS - cpu0, Jvm.steal)
    val stealPct = if (steal1._2 > steal0._2)
      100.0 * (steal1._1 - steal0._1) / (steal1._2 - steal0._2) else 0.0
    pass.foreach(p => tracer.foreach(_.close(p)))
    val storage = sc.getRDDStorageInfo
    val pinMb = storage.map(r => r.memSize + r.diskSize).sum / 1e6
    val pinBlocks = storage.map(_.numCachedPartitions).sum.toDouble
    val (gc, jit) = (Jvm.gcS - gc0, Jvm.jitS - jit0)
    val (cc, cm) = (Jvm.compiles - cc0, Jvm.compileMs - cm0)
    System.gc()
    Pass(kind, wall, keyS, builds.toSeq, errors.toSeq, Jvm.heapUsedMb, pinMb, pinBlocks,
      gc, jit, cc, cm, cpu, stealPct, pass)
  }

  /** Layer metrics of the traced run: warm passes unprefixed, rebuild
    * passes under `rebuild.`; each the median over that kind's passes. */
  def layerMetrics(tr: Tracer, passes: Seq[Pass], slots: Int): Map[String, Double] = {
    def perPass(p: Pass): Map[String, Double] =
      p.span.fold(Map.empty[String, Double])(tr.passMetrics(_, slots)) ++ Map(
        "memo.builds" -> p.builds.size.toDouble,
        "pin.stored_mb" -> p.pinStoredMb, "pin.blocks" -> p.pinBlocks,
        "codegen.compiles" -> p.compiles, "codegen.compile_ms" -> p.compileMs,
        "jvm.gc_s" -> p.gcS, "jvm.jit_s" -> p.jitS, "heap.live_mb" -> p.heapAfterGcMb)
    def medians(kind: String): Map[String, Double] = {
      val ms = passes.filter(_.kind == kind).map(perPass)
      ms.headOption.fold(Map.empty[String, Double])(_.keys.map { k =>
        k -> median(ms.map(_(k)))
      }.toMap)
    }
    val untraced = median(passes.filter(_.kind == "warm_untraced").map(_.wallS))
    val traced = median(passes.filter(_.kind == "warm").map(_.wallS))
    medians("warm") ++ medians("rebuild").map { case (k, v) => s"rebuild.$k" -> v } ++ Map(
      "trace.warm_s" -> traced, "trace.untraced_warm_s" -> untraced,
      "trace.overhead_pct" -> (traced / untraced - 1) * 100)
  }

  def json(v: AnyRef): String =
    org.json4s.jackson.Serialization.write(v)(org.json4s.DefaultFormats)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Wait until the listener queues have delivered what is posted so far:
    * the delivered count stops changing for 100 ms (2 s cap). */
  private def quiesce(tr: Tracer): Unit = {
    var prev = -1L
    var cur = tr.delivered.get
    var tries = 0
    while (cur != prev && tries < 20) {
      prev = cur; Thread.sleep(100); cur = tr.delivered.get; tries += 1
    }
  }

  private def brief(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(300)
}

/** JVM-wide counters read around each pass. */
object Jvm {
  private val mx = ManagementFactory.getMemoryMXBean
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  def jitS: Double = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .fold(0.0)(_.getTotalCompilationTime / 1e3)
  /** CPU seconds of the whole process (every thread, GC and JIT included). */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal, total) jiffies of all CPUs from /proc/stat; (0, 0) off Linux. */
  def steal: (Long, Long) = scala.util.Try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.getOrElse((0L, 0L))
  def heapUsedMb: Double = mx.getHeapMemoryUsage.getUsed / 1e6

  /** Used heap after GC, once Spark's ContextCleaner has dropped the
    * blocks, shuffles and broadcasts whose owners that GC collected: a
    * single GC still counts them in some runs and not in others (94 vs
    * 340 MB on the same pipeline pass). GCs 100 ms apart until the used
    * heap stops falling by more than 1 MB, at most 5. */
  def liveHeapMb(): Double = {
    System.gc()
    var prev = Double.MaxValue
    var cur = heapUsedMb
    var rounds = 0
    while (prev - cur > 1 && rounds < 5) {
      Thread.sleep(100)
      System.gc()
      prev = cur; cur = heapUsedMb; rounds += 1
    }
    cur
  }
  def compiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
  def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
}

/** A fixed pure-JVM kernel (xorshift fill + sort of 2^20 longs) timed to
  * show host speed drift; no graft or Spark code. Median of 3, in ms. */
object Calibrate {
  @volatile private var sink = 0L
  def ms(): Double = Harness.median((1 to 3).map { _ =>
    val t = System.nanoTime()
    val a = new Array[Long](1 << 20)
    var x = 88172645463325252L
    var i = 0
    while (i < a.length) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      a(i) = x; i += 1
    }
    java.util.Arrays.sort(a)
    sink += a(a.length / 2)
    (System.nanoTime() - t) / 1e6
  })
}
