package graft.ops

import org.apache.spark.sql.DataFrame

/** Bounded-lineage materialization for iterative round loops (PageRank,
  * BFS, connected components): each round's state must be pinned or the
  * unrolled plan grows exponentially in rounds (see g01's header).
  *
  * Two modes, one call site:
  *  - DEFAULT: `localCheckpoint` — truncated-lineage blocks live in
  *    executor block managers. Fast (no FS round-trip) and correct,
  *    but NOT fault-tolerant: on a real cluster an executor loss drops
  *    the only copy of lineage-truncated state, failing the job.
  *  - RELIABLE: set `spark.graft.checkpointDir` to a shared-storage
  *    path (HDFS/S3) and the SAME call sites write RDD checkpoints
  *    there instead — state survives executor loss and the job
  *    recomputes only the current round. The cost is one write+read
  *    of the per-round state — the standard iterative-workload
  *    tradeoff (GraphX periodic checkpointing, MLlib ALS's
  *    checkpointInterval).
  *
  * OpsSpec pins that both modes produce identical ranks/labels.
  * Reliable checkpoint files are not auto-reclaimed unless
  * spark.cleaner.referenceTracking.cleanCheckpoints is on — point the
  * dir at a job-scoped location.
  */
object Iterate {
  private val CONF_KEY = "spark.graft.checkpointDir"
  private val BYTES_KEY = "spark.graft.pinPartitionBytes"
  // keyed by (applicationId, dir): the checkpoint dir is CONTEXT
  // state — remembering the dir string alone would skip
  // setCheckpointDir on a fresh context in the same JVM and
  // df.checkpoint() would throw
  private var dirSetFor: Option[(String, String)] = None

  /** Pin `df`'s current state with bounded lineage, mode per session
    * conf (see object doc). Eager in both modes. */
  def pin(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption(CONF_KEY).filter(_.nonEmpty) match {
      case Some(dir) =>
        val key = (s.sparkContext.applicationId, dir)
        synchronized {
          if (!dirSetFor.contains(key)) {
            s.sparkContext.setCheckpointDir(dir)
            dirSetFor = Some(key)
          }
        }
        // persist BEFORE checkpoint: eager checkpoint runs the plan
        // once for its count and a SECOND job to write the partition
        // files — unpersisted, that second job recomputes the whole
        // round subtree (the PeriodicCheckpointer/ALS pattern:
        // persist → checkpoint → unpersist the source)
        df.persist()
        val out = df.checkpoint()
        df.unpersist()
        out
      case None => compact(df.localCheckpoint())
    }
  }

  /** Data-proportional partition sizing for pinned state (round 14,
    * guide §2.1): a pinned frame inherits its producing plan's
    * partition count, which tracks SESSION WIDTH (shuffle partitions ≈
    * cores), not data volume — so a 30 MB edge frame probed by every
    * round of an iterative loop pays ~cores tasks per round, and the
    * driver's 8-vs-32-core scaling block showed exactly that (8 cores
    * beat 32 on every g-family key). The pin is eager, so the
    * materialized byte size is already in the block manager: compact
    * to ceil(bytes / spark.graft.pinPartitionBytes, default 32 MB)
    * partitions via a NARROW coalesce over the cached blocks — no
    * shuffle, no recompute, no extra job; a tiny frame collapses to 1
    * partition while a 100 TB one keeps its spread (the rule is bytes,
    * never cores). Only fires when the frame is more than 2× over its
    * ideal count: coalesce drops the LogicalRDD's preserved output
    * partitioning, so a frame already near its ideal keeps the
    * metadata (and any downstream exchange reuse) instead. Caveat on a
    * real cluster: merged partitions can read a remote cached block —
    * bounded by the same byte target. Set the conf to 0 to disable. */
  private def compact(out: DataFrame): DataFrame = {
    val target = out.sparkSession.conf.getOption(BYTES_KEY)
      .map { v =>
        try v.trim.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"$BYTES_KEY must be a byte count, got '$v'")
        }
      }.getOrElse(32L << 20)
    if (target <= 0) return out
    org.apache.spark.sql.graft.Bridge.cachedSize(out) match {
      case Some((bytes, parts)) =>
        val ideal = math.max(1L, (bytes + target - 1) / target).toInt
        if (parts > 2 * ideal) out.coalesce(ideal) else out
      case None => out
    }
  }
}
