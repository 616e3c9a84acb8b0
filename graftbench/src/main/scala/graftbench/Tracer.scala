package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval on the run's clock (ms since the tracer started), the
  * span that caused it, its counters and its point events. */
final class Span(val id: Long, @volatile var parent: Long, val kind: String,
                 val name: String, val start: Double) {
  @volatile var end: Double = start
  val counters = new ConcurrentHashMap[String, Double]()
  val events = new ConcurrentLinkedQueue[Map[String, Any]]()
  def add(k: String, v: Double): Unit = { counters.merge(k, v, _ + _): Unit }
  def counter(k: String): Double = counters.getOrDefault(k, 0.0)
}

/** Spans for the traced run: run -> pass -> key -> {construct, sink} from
  * the harness, Spark job -> stage from a SparkListener. Jobs find their
  * parent through a local property the harness sets before each call;
  * listener records without one (Catalyst phases, micro-batches) are
  * placed by time in the innermost harness span, which is sound because
  * the loop runs one query at a time. Everything stays in memory until
  * [[write]]. */
final class Tracer {
  import Tracer._

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private val ids = new AtomicLong(0)
  /** Listener callbacks delivered so far; stable once the queues drain. */
  val delivered = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def now: Double = (System.nanoTime() - nano0) / 1e6
  private def at(epochMs: Long): Double = (epochMs - epoch0).toDouble

  def open(parent: Span, kind: String, name: String): Span =
    record(new Span(ids.incrementAndGet(), Option(parent).fold(0L)(_.id),
      kind, name, now))
  def close(s: Span): Span = { s.end = now; s }

  private def record(s: Span): Span = { spans.add(s); s }

  // Harness span that block releases count against (the pass running now).
  @volatile var currentPass: Span = _

  // Listener records that carry no parent span: (time, record).
  private val looseEvents = new ConcurrentLinkedQueue[(Double, Map[String, Any])]()
  private val jobs = new ConcurrentHashMap[Int, Span]()
  private val stageJob = new ConcurrentHashMap[Int, Span]()
  private val stages = new ConcurrentHashMap[(Int, Int), Span]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      delivered.incrementAndGet()
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .fold(0L)(_.toLong)
      val s = new Span(ids.incrementAndGet(), parent, "job", s"job ${e.jobId}", at(e.time))
      record(s)
      jobs.put(e.jobId, s)
      e.stageIds.foreach(stageJob.putIfAbsent(_, s))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      delivered.incrementAndGet()
      Option(jobs.get(e.jobId)).foreach(_.end = at(e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      delivered.incrementAndGet()
      val i = e.stageInfo
      val job = stageJob.get(i.stageId)
      val s = new Span(ids.incrementAndGet(), if (job == null) 0L else job.id, "stage",
        s"stage ${i.stageId}.${i.attemptNumber()}",
        at(i.submissionTime.getOrElse(epoch0 + now.toLong)))
      s.add("tasks_total", i.numTasks.toDouble)
      stages.put((i.stageId, i.attemptNumber()), s)
      record(s)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      delivered.incrementAndGet()
      val i = e.stageInfo
      Option(stages.get((i.stageId, i.attemptNumber()))).foreach { s =>
        s.end = at(i.completionTime.getOrElse(epoch0 + now.toLong))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      delivered.incrementAndGet()
      val s = stages.get((e.stageId, e.stageAttemptId))
      val m = e.taskMetrics
      if (s != null && m != null) {
        s.add("tasks", 1)
        s.add("run_ms", m.executorRunTime.toDouble)
        s.add("cpu_ms", m.executorCpuTime / 1e6)
        s.add("gc_ms", m.jvmGCTime.toDouble)
        s.add("deser_ms", m.executorDeserializeTime.toDouble)
        s.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("spill_b", m.diskBytesSpilled.toDouble)
        s.add("scan_b", m.inputMetrics.bytesRead.toDouble)
        s.add("scan_rows", m.inputMetrics.recordsRead.toDouble)
        s.add("write_b", m.outputMetrics.bytesWritten.toDouble)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      delivered.incrementAndGet()
      val u = e.blockUpdatedInfo
      val p = currentPass
      if (p != null && u.blockId.isRDD && !u.storageLevel.isValid) p.add("pin.dropped", 1)
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = note(qe, action)
    override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = note(qe, action)
    private def note(qe: QueryExecution, action: String): Unit = {
      delivered.incrementAndGet()
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).fold(0.0)(_.durationMs.toDouble)
      // Planning runs at the action; that is where the record belongs.
      val t = ph.get("planning").orElse(ph.get("optimization")).fold(now)(x => at(x.startTimeMs))
      val files = qe.executedPlan.collect {
        case w: DataWritingCommandExec => w.metrics.get("numFiles").fold(0L)(_.value)
      }.sum
      looseEvents.add((t, Map("event" -> "catalyst", "action" -> action,
        "analysis_ms" -> ms("analysis"), "optimizer_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning"), "files" -> files)))
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      delivered.incrementAndGet()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      val t = at(java.time.Instant.parse(p.timestamp).toEpochMilli)
      looseEvents.add((t, Map("event" -> "micro_batch", "batch_id" -> p.batchId,
        "rows" -> p.numInputRows,
        "batch_ms" -> d.getOrElse("triggerExecution", 0.0),
        "commit_ms" -> (d.getOrElse("commitOffsets", 0.0) + d.getOrElse("walCommit", 0.0)),
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs.toDouble).sum,
        "state_mb" -> p.stateOperators.map(_.memoryUsedBytes.toDouble).sum / 1e6)))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Place parentless records in the innermost harness span that holds
    * their time: jobs become its children, other records its events. */
  def resolve(): Unit = {
    val harness = spans.asScala.filter(s => HarnessKinds(s.kind)).toVector
    def holder(t: Double): Option[Span] =
      harness.filter(s => s.start <= t && t <= s.end).maxByOption(s => depth(s.kind))
    spans.asScala.filter(s => s.kind == "job" && s.parent == 0L)
      .foreach(s => s.parent = holder(s.start).fold(0L)(_.id))
    looseEvents.asScala.foreach { case (t, ev) =>
      holder(t).foreach(_.events.add(ev + ("t_ms" -> t)))
    }
    looseEvents.clear()
  }

  /** Per-pass layer metrics, from the spans under `pass`. */
  def passMetrics(pass: Span, slots: Int): Map[String, Double] = {
    val desc = descendants(pass)
    def of(kind: String) = desc.filter(_.kind == kind)
    def dur(s: Span) = s.end - s.start
    val constructIds = of("construct").map(_.id).toSet
    val jobSpans = of("job")
    val stageSpans = of("stage")
    def sum(k: String) = stageSpans.map(_.counter(k)).sum
    val events = (desc :+ pass).flatMap(_.events.asScala)
    def ev(kind: String) = events.filter(_("event") == kind)
    def evSum(kind: String, k: String) =
      ev(kind).map(_(k) match { case n: Number => n.doubleValue; case _ => 0.0 }).sum
    val wall = dur(pass)
    val busy = union(jobSpans.map(j => (j.start max pass.start, j.end min pass.end)))
    Map(
      "ops.construct_s" -> of("construct").map(dur).sum / 1e3,
      "ops.sink_s" -> of("sink").map(dur).sum / 1e3,
      "ops.construct_jobs" -> jobSpans.count(j => constructIds(j.parent)).toDouble,
      "catalyst.analysis_ms" -> evSum("catalyst", "analysis_ms"),
      "catalyst.optimizer_ms" -> evSum("catalyst", "optimizer_ms"),
      "catalyst.planning_ms" -> evSum("catalyst", "planning_ms"),
      "catalyst.actions" -> ev("catalyst").size.toDouble,
      "sched.jobs" -> jobSpans.size.toDouble,
      "sched.stages" -> stageSpans.size.toDouble,
      "sched.tasks" -> sum("tasks"),
      "sched.driver_gap_s" -> (wall - busy) / 1e3,
      "task.run_s" -> sum("run_ms") / 1e3,
      "task.cpu_s" -> sum("cpu_ms") / 1e3,
      "task.gc_s" -> sum("gc_ms") / 1e3,
      "task.deser_s" -> sum("deser_ms") / 1e3,
      "task.slot_util" -> (if (wall > 0) sum("run_ms") / (slots * wall) else 0.0),
      "shuffle.write_mb" -> sum("shuffle_write_b") / 1e6,
      "shuffle.read_mb" -> sum("shuffle_read_b") / 1e6,
      "shuffle.spill_mb" -> sum("spill_b") / 1e6,
      "scan.read_mb" -> sum("scan_b") / 1e6,
      "scan.rows" -> sum("scan_rows"),
      "write.mb" -> sum("write_b") / 1e6,
      "write.files" -> evSum("catalyst", "files"),
      "stream.batches" -> ev("micro_batch").size.toDouble,
      "stream.batch_ms" -> evSum("micro_batch", "batch_ms"),
      "stream.commit_ms" -> evSum("micro_batch", "commit_ms"),
      "stream.state_commit_ms" -> evSum("micro_batch", "state_commit_ms"),
      "stream.state_mb" -> ev("micro_batch").map(_("state_mb").asInstanceOf[Double])
        .maxOption.getOrElse(0.0),
      "pin.dropped" -> pass.counter("pin.dropped"),
    )
  }

  /** Span JSON with self times: a span's duration minus the part of it
    * its children cover. */
  def write(path: String, meta: Map[String, Any]): Unit = {
    val all = spans.asScala.toVector.sortBy(s => (s.start, s.id))
    val children = all.groupBy(_.parent)
    def self(s: Span): Double = (s.end - s.start) -
      union(children.getOrElse(s.id, Vector.empty).map(c => (c.start max s.start, c.end min s.end)))
    val rows = all.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s),
        "counters" -> s.counters.asScala.toMap, "events" -> s.events.asScala.toVector)
    }
    val perPass = all.filter(_.kind == "pass").map { p =>
      Map("id" -> p.id, "pass" -> p.name, "wall_s" -> (p.end - p.start) / 1e3,
        "self_s_by_kind" -> (p +: descendants(p)).groupBy(_.kind)
          .map { case (k, ss) => k -> ss.map(self).sum / 1e3 })
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      Harness.json(meta ++ Map("pass_self_s" -> perPass, "spans" -> rows)))
  }

  private def descendants(s: Span): Vector[Span] = {
    val children = spans.asScala.toVector.groupBy(_.parent)
    def under(x: Span): Vector[Span] =
      children.getOrElse(x.id, Vector.empty).flatMap(c => c +: under(c))
    under(s)
  }
}

object Tracer {
  /** Local property naming the harness span a Spark job runs under. */
  val SpanProp = "graftbench.span"
  private val HarnessKinds = Set("run", "pass", "key", "construct", "sink")
  private def depth(kind: String): Int =
    Map("run" -> 0, "pass" -> 1, "key" -> 2, "construct" -> 3, "sink" -> 3)(kind)

  /** Total length covered by a set of intervals. */
  def union(xs: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var reach = Double.NegativeInfinity
    xs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (b > reach) { covered += b - (a max reach); reach = b }
    }
    covered
  }
}
