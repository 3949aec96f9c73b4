package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every capability the library keeps is reached by a registered query, a pipeline step or the
  * benchmark (DECISIONS.md "Removed operator paths"). A name scan checks it: each `src/main` def that
  * is not `private`, `protected` or `override` must be named in `src/main` or `perfbench/scala`
  * besides its own definition (tests are not callers), or carry a `keep` ruling. */
class SurfaceSpec extends AnyFunSuite {
  import SurfaceSpec._

  test("every public src/main def has a caller outside the tests, or a keep ruling") {
    // `/*` and `//` inside a literal are text, and a splice is code
    assert(lex("val p = \"orders/*.csv\"; f(x) // g\n")._1 == "val p = \"orders/*.csv\"; f(x) \n")
    assert(lex("s\"\"\"${T.f(\"}\")} //\"\"\" /* a /* b */ c */ '\"'")._1 ==
      "s\"\"\"${T.f(\"}\")} //\"\"\"   '\"'")
    val root = Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent).takeWhile(_ != null)
      .find(d => Files.exists(d.resolve("build.sbt"))).get
    def lexed(dir: String) = Files.walk(root.resolve(dir)).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".scala")).sortBy(_.toString).map(p => root.relativize(p) -> lex(Files.readString(p)))
    val main = lexed("src/main")
    val uses = (main ++ lexed("perfbench/scala")).flatMap(f => "\\w+".r.findAllIn(f._2._1)).groupBy(identity)
    val uncalled = main.flatMap { case (p, (_, s)) => publicDefs(s).filter(d => uses(d.split('.')(1)).size == 1).map(_ -> p) }.toMap
    val unruled = (uncalled.keySet -- keep.keySet).toSeq.sorted
    assert(unruled.isEmpty, "uncalled outside the tests, with no keep ruling: " +
      unruled.map(d => s"$d (${uncalled(d)})").mkString(", "))
    assert((keep.keySet -- uncalled.keySet).isEmpty, "keep rulings for defs that are gone or called")
  }
}

object SurfaceSpec {
  private val streaming = "streaming has no query form (the registry is batch-only); StreamingSpec calls it"

  /** The rulings on defs that nothing outside the tests calls. */
  val keep: Map[String, String] = Map(
    "Sampling.bernoulliSample" -> "reference capability (export_to_excel.py)",
    "Sampling.preview" -> "reference capability (preview_data.py)",
    "Sampling.exportRows" -> "reference capability (export_to_excel.py)",
    "Projections.lowercaseAll" -> "reference capability (datamart_extended.py)",
    "Validation.rejects" -> "the Silver rejected set",
    "Medallion.registerTable" -> "reference capability (register_hive_tables.py)",
    "Layout.zOrderLayout" -> "write side of the zOrderKey layout the Morton query reads",
    "Similarity.ivfIndexAppend" -> "the incremental half of q266's persisted IVF index",
    "Redaction.dropTombstoned" -> "the deletion-propagation step the tombstone-cascade test audits",
    "TextAnalysis.dsirScoreStateless" -> "a streaming scorer: no query form, like StreamingOps",
    "SketchAggs.freqMerge" -> "read half of q245's mergeable store; SketchFuzzSpec merges through freq_merge",
    "TextFunctions.minHashSignatureHof" -> "test oracle of the native MinHash signature",
    "PlanAudit.audit" -> "PlanSpec's plan checker; moving it to src/test removes nothing",
    "DedupMinHash.nearDupPairsPlan" -> "PlanSpec's un-checkpointed plan hook",
    "StreamingOps.eventsStream" -> streaming,
    "StreamingOps.incrementalParquetIngest" -> streaming,
    "StreamingOps.nearDupIngest" -> streaming,
    "StreamingOps.embeddingNearDupIngest" -> streaming,
    "StreamingOps.slidingAgg" -> streaming,
    "StreamingOps.sessionAgg" -> streaming,
    "StreamingOps.jdbcUpsertSink" -> streaming,
    "StreamingOps.dedupStream" -> streaming,
    "StreamingOps.urlDedupStream" -> streaming,
    "StreamingOps.attributionJoin" -> streaming,
    "StreamingOps.attributionJoinOuter" -> streaming,
    "StreamingOps.closedSessions" -> streaming,
    "StreamingOps.runningUserTotals" -> streaming)

  /** `src` lexed into (text, shape): both drop `//` and nested `/* */` comments; `text` keeps
    * string and char literals, `shape` blanks them so braces in SQL or regex cannot move nesting. */
  def lex(src: String): (String, String) = {
    val text, shape = new StringBuilder
    var i = 0
    def emit(n: Int, literal: Boolean = false): Unit = for (_ <- 0 until n if i < src.length) {
      text += src(i); shape += (if (literal && src(i) != '\n') ' ' else src(i)); i += 1
    }
    def string(interpolated: Boolean): Unit = {
      val q = if (src.startsWith("\"\"\"", i)) 3 else 1; emit(q)
      while (i < src.length && !(if (q == 3) src.startsWith("\"\"\"", i) && !src.startsWith("\"\"\"\"", i) else src(i) == '"'))
        if (q == 1 && src(i) == '\\') emit(2, literal = true)
        else if (interpolated && src.startsWith("${", i)) { emit(2); code(splice = true); emit(1) }
        else emit(if (interpolated && src(i) == '$') 2 else 1, literal = true)
      emit(q)
    }
    // code up to the end, or up to the `}` that closes a `${` splice
    def code(splice: Boolean): Unit = {
      var depth = 0
      while (i < src.length && !(splice && depth == 0 && src(i) == '}')) src(i) match {
        case '/' if src.startsWith("//", i) => while (i < src.length && src(i) != '\n') i += 1
        case '/' if src.startsWith("/*", i) =>
          var nest = 0
          do if (src.startsWith("/*", i)) { nest += 1; i += 2 } else if (src.startsWith("*/", i)) { nest -= 1; i += 2 } else i += 1
          while (nest > 0 && i < src.length)
          text += ' '; shape += ' '
        case '"' => string(i > 0 && (src(i - 1).isLetterOrDigit || src(i - 1) == '_'))
        case '\'' if src.startsWith("\\", i + 1) => emit(1); emit(src.indexOf('\'', i + 2) - i, literal = true); emit(1)
        case '\'' if src.startsWith("'", i + 2) => emit(1); emit(1, literal = true); emit(1)
        case c => depth += (if (c == '{') 1 else if (c == '}') -1 else 0); emit(1)
      }
    }
    code(splice = false)
    (text.toString, shape.toString)
  }

  /** `Owner.name` of each def in a lexed `shape` that is not private (bare or `[this]`), protected
    * or override, nor main/apply/unapply. Its owner is the innermost template by indentation. */
  def publicDefs(shape: String): Seq[String] = {
    var owners = List.empty[(Int, String)] // (indentation, name), innermost first
    """\b(object|class|trait|def)\s+(\w+)""".r.findAllMatchIn(shape).toSeq.flatMap { m =>
      val line = shape.substring(shape.lastIndexOf('\n', m.start) + 1, m.start)
      val indent = line.takeWhile(_ == ' ').length
      owners = owners.dropWhile(_._1 >= indent)
      if (m.group(1) != "def") { owners ::= indent -> m.group(2); None }
      else if (Set("main", "apply", "unapply")(m.group(2)) || """\b(override\b|protected\b|private(\[this\])?(?![\[\w]))""".r.findFirstIn(line).nonEmpty) None
      else owners.headOption.map(o => s"${o._2}.${m.group(2)}")
    }
  }
}
