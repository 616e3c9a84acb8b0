package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** One copy per kernel: every public def of a `graft.api` object is
  * code a gated key runs, or it names why not. A source scan; it
  * starts no SparkContext.
  *
  * A def counts as gated when code under src/main/scala outside api/
  * calls it as `api.Obj.name` (ops has same-named objects, so callers
  * qualify), or when such a def's body uses it inside api, directly or
  * through other defs. */
class ApiCoverageSpec extends AnyFunSuite {

  /** Public kernels no gated key runs, and why. */
  private val exempt = Map(
    "Ann.bruteForceTopK" -> "s01 ranks 4 dp-rounded cosine for DuckDB parity; this ranks raw cosine",
    "Chunks.contentDefined" -> "m16 numbers both chunkings on one explode/window pass",
    "Dedup.duplicateClusters" -> "d08/d13 cluster near-dup edges only, without exact-duplicate edges",
    "Curation.funnelSurvivors" -> "p01 adds a language stage and a per-language cap",
    "Curation.funnelCounts" -> "p01 adds a language stage and a per-language cap",
    "Mix.waterFill" -> "iterates to a fixpoint; moving p10 off its two fixed rounds is a pending decision",
    "Patterns.signRuns" -> "q63 gates troughRecoveries, not signRuns",
    "Ann.layeredTopK" -> "shares layeredDescent with s24, which gates the descent",
    "Recommend.alsTopK" -> "pinned by RecommendSpec's row equality with alsTop5",
    "TopK.perGroup" -> "no gated twin",
    "Events.funnelCounts" -> "no gated twin",
    "Text.tokens" -> "an alias of functions.TextNorm.tokens, which every gated text key calls")

  /** `src` with comments dropped and string contents blanked, so only
    * code can name a kernel. */
  private def code(src: String): String = {
    val out = new StringBuilder
    var i = 0
    def at(t: String) = src.startsWith(t, i)
    while (i < src.length) {
      if (at("//")) while (i < src.length && src(i) != '\n') i += 1
      else if (at("/*")) {
        var depth = 0
        while ({
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else i += 1
          depth > 0 && i < src.length
        }) ()
      } else if (at("\"\"\"")) {
        val end = src.indexOf("\"\"\"", i + 3)
        i = if (end < 0) src.length else end + 3
        out ++= "\"\""
      } else if (src(i) == '"') {
        i += 1
        while (i < src.length && src(i) != '"') i += (if (src(i) == '\\') 2 else 1)
        i += 1
        out ++= "\"\""
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 1) == '\\' || src(i + 2) == '\'')) {
        i = if (src(i + 1) == '\\') src.indexOf('\'', i + 3) + 1 else i + 3
        out ++= "' '"
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  private def sources(dir: Path): Seq[(Path, String)] =
    Files.walk(dir).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> code(Files.readString(p)))

  private val apiDir = Paths.get("src/main/scala/graft/api")

  /** Every api member def ("Obj.name" → (public, body)). Objects open
    * at column 0 and their members sit at two-space indentation, so a
    * local def inside a body stays part of that body. */
  private lazy val members: Map[String, (Boolean, String)] =
    sources(apiDir).flatMap { case (_, src) =>
      val objs = "(?m)^object (\\w+)".r.findAllMatchIn(src).toSeq
      objs.zipWithIndex.flatMap { case (o, k) =>
        val span = src.substring(o.start,
          if (k + 1 < objs.size) objs(k + 1).start else src.length)
        val defs = "(?m)^  (private\\S* |protected\\S* )?def (\\w+)".r
          .findAllMatchIn(span).toSeq
        defs.zipWithIndex.map { case (m, j) =>
          val end = if (j + 1 < defs.size) defs(j + 1).start else span.length
          s"${o.group(1)}.${m.group(2)}" -> (m.group(1) == null,
            span.substring(m.start, end))
        }
      }
    }.toMap

  /** The api defs that gated code runs: called from outside api, then
    * closed over the uses inside api bodies. */
  private lazy val gated: Set[String] = {
    val called = sources(Paths.get("src/main/scala"))
      .filterNot(_._1.startsWith(apiDir))
      .flatMap { case (_, src) =>
        "\\bapi\\s*\\.\\s*(\\w+)\\s*\\.\\s*(\\w+)\\b".r.findAllMatchIn(src)
          .map(m => s"${m.group(1)}.${m.group(2)}")
      }.toSet.intersect(members.keySet)
    def uses(d: String): Set[String] = {
      val (obj, body) = (d.takeWhile(_ != '.'), members(d)._2)
      val qualified = "\\b(\\w+)\\s*\\.\\s*(\\w+)\\b".r.findAllMatchIn(body)
        .map(m => s"${m.group(1)}.${m.group(2)}")
      val bare = "(?<![\\w.])(\\w+)\\b".r.findAllMatchIn(body)
        .map(m => s"$obj.${m.group(1)}")
      (qualified ++ bare).toSet.intersect(members.keySet)
    }
    def close(g: Set[String]): Set[String] = {
      val next = g ++ g.flatMap(uses)
      if (next == g) g else close(next)
    }
    close(called)
  }

  test("every public api kernel is what a gated key runs, or is exempt with a reason") {
    val public = members.collect { case (d, (true, _)) => d }.toSet
    val ungated = public -- gated -- exempt.keySet
    assert(ungated.isEmpty, s"public api kernels no gated key runs: ${ungated.toSeq.sorted}")
    val stale = exempt.keySet.intersect(gated)
    assert(stale.isEmpty, s"exempt kernels a gated key now runs: ${stale.toSeq.sorted}")
    val unknown = exempt.keySet -- public
    assert(unknown.isEmpty, s"exempt names with no public api def: ${unknown.toSeq.sorted}")
    assert(exempt.values.forall(_.trim.nonEmpty))
  }
}
