package graft.ops

import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap

/** The one store for per-(session, dataset) training artifacts (ALS
  * models, centroid arrays, checkpointed rating splits, ...) and for
  * the parquet schemas [[graft.Tables]] resolves.
  *
  * Declare an artifact once per module and call it with its build:
  * {{{
  *   private val r05Cache = Memo.artifact[DataFrame]("r05_recs")
  *   r05Cache(s, d) { build }               // one entry per (app, d)
  *   modelCache(s, d, s"it$iters") { fit }  // one per (app, d, sub-key)
  * }}}
  * The build runs once per (applicationId, dataset, sub-key); a
  * frame's build ends in [[Pin]]`.share` (several consumers, lineage
  * kept) or `Pin.cut` (lineage cut).
  *
  * Eviction has one rule: every lookup drops the entries of every
  * OTHER applicationId from every declared artifact. Spark allows one
  * active SparkContext per JVM, so a new applicationId means the old
  * context has stopped and its block manager went with it — dropping
  * the reference is all a dead context's DataFrames and models need.
  *
  * Within one context, retained artifacts accumulate in the block
  * manager over a 330-query bench run, and on a memory-pressured host
  * that pressure cascades into TorrentBroadcast store failures on
  * UNRELATED queries (the round-7 bench printed a 50× phantom
  * regression on q40 this way). [[clearAll]] lets the bench drop every
  * artifact at query-family boundaries — families share artifacts
  * internally, almost never across the first-letter prefix.
  */
object Memo {
  private[ops] val registry =
    new java.util.concurrent.CopyOnWriteArrayList[Artifact[_]]()

  /** Build ledger: every memo MISS (artifact actually built) appends
    * `name[#sub-key]` here. The bench drains it per timed run — min-of-2
    * only measures the warm path if run 2's builds are ZERO, and the
    * round-8 driver host showed mean≈min on exactly the
    * memoized-artifact consumers (r16/r21/r22/r13), so the bench line
    * itself must distinguish "slow fit" from "memo miss". */
  private[ops] val buildLog = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** Drain and return the artifacts built since the last drain. */
  def drainBuilds(): Seq[String] = {
    val b = Seq.newBuilder[String]
    var k = buildLog.poll()
    while (k != null) { b += k; k = buildLog.poll() }
    b.result()
  }

  /** Declare a memoized artifact; `name` labels its builds in the ledger. */
  private[graft] def artifact[V](name: String): Artifact[V] = {
    val a = new Artifact[V](name)
    registry.add(a)
    a
  }

  /** Drop every memoized artifact reference. Callers should follow
    * with `spark.catalog.clearCache()` (for `Pin.share`d frames) and let
    * the ContextCleaner collect the now-unreferenced checkpoint RDDs. */
  def clearAll(): Unit = registry.forEach(_.m.clear())
}

/** One declared artifact; see [[Memo]]. */
final class Artifact[V] private[ops] (val name: String) {
  private[ops] val m = TrieMap.empty[(String, String, String), V]

  def apply(s: SparkSession, d: String, sub: String = "")(build: => V): V =
    lookup(s.sparkContext.applicationId, d, sub)(build)

  private[ops] def lookup(app: String, d: String, sub: String)(build: => V): V = {
    Memo.registry.forEach(a => a.m.keysIterator.filter(_._1 != app).foreach(a.m.remove))
    m.getOrElseUpdate((app, d, sub), {
      Memo.buildLog.add(if (sub.isEmpty) name else s"$name#$sub")
      build
    })
  }
}
