package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The artifact store's contract, driven with plain applicationId
  * strings — no SparkSession is needed to exercise keys, eviction and
  * the build ledger. */
class MemoSpec extends AnyFunSuite {
  private def all: Seq[Artifact[Any]] = {
    // the modules declare their artifacts when first referenced
    Seq(Recommend, Similarity, IoOps, Dedup, TextOps, Graph, Probes, graft.Tables): Unit
    Memo.registry.asScala.toSeq.map(_.asInstanceOf[Artifact[Any]])
  }
  private def named(name: String) = all.find(_.name == name).get

  /** Every test puts the artifacts back as it found them: the lookups
    * below evict the shared test session's entries, which the suites
    * after this one would otherwise rebuild. */
  override def withFixture(test: NoArgTest) = {
    val saved = all.map(a => a -> a.m.readOnlySnapshot())
    try super.withFixture(test)
    finally saved.foreach { case (a, snap) => a.m.clear(); a.m ++= snap }
  }

  test("the modules declare 22 artifacts under distinct names") {
    val names = all.map(_.name)
    assert(names.size == 22 && names.distinct == names)
  }

  test("a build runs once per (app, dataset, sub-key) and the ledger names it") {
    Memo.drainBuilds(): Unit
    var builds = 0
    def fit(d: String, sub: String): Any =
      named("als_model").lookup("app-a", d, sub) { builds += 1; s"$d/$sub" }
    assert(Seq(fit("d1", "it5"), fit("d1", "it5"), fit("d1", "it6"), fit("d2", "it5")) ==
      Seq("d1/it5", "d1/it5", "d1/it6", "d2/it5"))
    named("r05_recs").lookup("app-a", "d1", "")("recs")
    named("r05_recs").lookup("app-a", "d1", "")("recs")
    assert(builds == 3)
    assert(Memo.drainBuilds() ==
      Seq("als_model#it5", "als_model#it6", "als_model#it5", "r05_recs"))
  }

  test("a lookup under a new app drops the old app's entries from every artifact") {
    all.foreach(a => a.lookup("app-b", "d", "")(a.name))
    assert(all.forall(_.m.size == 1))
    named("r05_recs").lookup("app-c", "d", "")("recs-c")
    assert(all.forall(a => a.m.size == (if (a.name == "r05_recs") 1 else 0)))
  }

  test("clearAll empties every artifact") {
    all.foreach(a => a.lookup("app-d", "d", "")(a.name))
    Memo.clearAll()
    assert(all.forall(_.m.isEmpty))
  }
}
