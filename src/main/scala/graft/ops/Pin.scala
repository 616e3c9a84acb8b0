package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one way graft materializes a frame, with two intents:
  *  - [[cut]] bounds a frame's lineage: the per-round state of
  *    iterative loops (PageRank, BFS, CC — unpinned, the unrolled plan
  *    grows exponentially in rounds; see g01's header), a small frame
  *    several branches re-read, rows read from a dir a `finally`
  *    deletes;
  *  - [[share]] holds a frame several consumers read, lineage kept
  *    (memoized serving artifacts, eval splits, 1-row gates).
  *
  * Every cut follows one policy, per session conf:
  *  - DEFAULT: `localCheckpoint`, then [[compact]]. Fast (no FS
  *    round-trip) and correct, but the blocks live only in executor
  *    block managers: an executor loss fails the job.
  *  - RELIABLE: set `spark.graft.checkpointDir` to shared storage
  *    (HDFS/S3) and every cut writes an RDD checkpoint there — state
  *    survives executor loss at the cost of one write+read of the cut
  *    state (GraphX periodic checkpointing, ALS's checkpointInterval).
  *
  * OpsSpec pins that both modes produce identical rows. Reliable
  * checkpoint files are not auto-reclaimed unless
  * spark.cleaner.referenceTracking.cleanCheckpoints is on — point the
  * dir at a job-scoped location.
  */
object Pin {
  private val CONF_KEY = "spark.graft.checkpointDir"
  private val BYTES_KEY = "spark.graft.pinPartitionBytes"
  // keyed by (applicationId, dir): the checkpoint dir is CONTEXT
  // state — remembering the dir string alone would skip
  // setCheckpointDir on a fresh context in the same JVM and
  // df.checkpoint() would throw
  private var dirSetFor: Option[(String, String)] = None

  /** Cut `df`'s lineage, mode per session conf (see object doc).
    * Eager in both modes. */
  def cut(df: DataFrame): DataFrame = {
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
        // subtree (the PeriodicCheckpointer/ALS pattern: persist →
        // checkpoint → unpersist the source)
        df.persist()
        val out = df.checkpoint()
        df.unpersist()
        out
      case None => compact(df.localCheckpoint())
    }
  }

  /** Hold `df` for several consumers: `persist(MEMORY_AND_DISK)`, then
    * `count()`, so the cache is built before any consumer runs. The
    * level is explicit: an evicted block must SPILL, never silently
    * re-execute the producing lineage on every consumer (the r10
    * driver benched the eval-recs consumers at 11–21× with a warm
    * memo). The lineage stays, so an executor loss recomputes the lost
    * partitions instead of failing the job. */
  def share(df: DataFrame): DataFrame = {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    out
  }

  /** Data-proportional partition sizing (round 14): a cut frame
    * inherits its producer's partition count, which tracks SESSION
    * WIDTH (shuffle partitions ≈ cores), not data volume — so a 30 MB
    * edge frame probed every round paid ~cores tasks per round (the
    * driver's 8 cores beat 32 on every g-family key). The cut is eager,
    * so its bytes are already in the block manager: compact to
    * ceil(bytes / spark.graft.pinPartitionBytes, default 32 MB)
    * partitions by a NARROW coalesce over the cached blocks — no
    * shuffle, no recompute, no extra job; the rule is bytes, never
    * cores. Only fires when the frame is more than 2× over its ideal
    * count: coalesce drops the LogicalRDD's output partitioning, which
    * a frame near its ideal keeps for downstream exchange reuse. Set
    * the conf to 0 to disable. */
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
