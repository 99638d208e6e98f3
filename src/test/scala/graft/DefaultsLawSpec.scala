package graft

import org.scalatest.funsuite.AnyFunSuite

/** The defaults law (the CollectLawSpec pattern): a defaulted parameter
  * or default-valued case-class field in main code is an option, and an
  * option no call sets to another value is a constant in disguise — the
  * registered queries' oracles hard-code the value they run, so no other
  * value was ever verified. Such a parameter becomes a value in the body
  * equal to its old default. Every remaining default is allowlisted here
  * with the call that sets another value; a source scan lists them. */
class DefaultsLawSpec extends AnyFunSuite {

  // File.scala:def.param -> the call that sets another value
  private val allowed: Seq[(String, String)] = Seq(
    "ArrayExprs.scala:subwordTokens.vocab" ->
      "FunctionsSpec passes its own SubwordVocab",
    "AsOfJoin.scala:AsOfJoinExec.strict" ->
      "planned from AsOfJoinPlan.strict, which AsOf.join sets",
    "AsOfJoin.scala:AsOfJoinPlan.strict" ->
      "AsOf.join passes its strict flag",
    "AsOfJoin.scala:join.strict" ->
      "AsOfJoinSpec passes strict = true",
    "Ast.scala:Attr.agg" ->
      "the parser sets the aggregate (Parser: inner.copy(agg = Some(a)))",
    "Bucketed.scala:createOrderTables.buckets" ->
      "ScaleOpsSpec passes buckets = 4",
    "Conversation.scala:lossMask.trainableRole" ->
      "ConversationSpec passes trainableRole = \"b\"",
    "Dedup.scala:ClusterLocal.centroids" ->
      "PipelineSpec passes centroids = 8",
    "Dedup.scala:ClusterLocal.threshold" ->
      "the strategy's pair threshold; PipelineSpec passes it explicitly",
    "Dedup.scala:ExactTiled.threshold" ->
      "the strategy's pair threshold; PipelineSpec passes it explicitly",
    "Dedup.scala:Graph.threshold" ->
      "the strategy's pair threshold; GraphAnnSpec passes it explicitly",
    "Dedup.scala:multiSignalDedup.edges" ->
      "PipelineSpec passes ClusterLocal(0.45, centroids = 8) and ExactTiled(0.45)",
    "Dedup.scala:paraTable.carry" ->
      "q126, paraOccurrences and boilerplateStrip pass Seq(\"source\")",
    "Multimodal.scala:audioAlign.dfCap" ->
      "PipelineSpec passes dfCap = 1 << 20",
    "Multimodal.scala:phashNearDups.blockDfCap" ->
      "PipelineSpec passes blockDfCap = 1 << 20",
    "QueryDef.scala:QueryDef.headline" ->
      "the flagship registry entries pass headline = true",
    "Relational.scala:spearman.forceNormalized" ->
      "SpearmanBranchSpec passes forceNormalized = true",
    "Sampling.scala:chunkOffsets.fan" ->
      "PipelineSpec passes fan = 4L",
    "Sampling.scala:chunkOffsets.partCols" ->
      "q-bodies pass partCols = Seq(\"lang\") and Seq(\"tf\")",
    "Similarity.scala:clusterLocalNearPairs.centroids" ->
      "PipelineSpec passes centroids = 8",
    "Similarity.scala:ivfIndex.centroids" ->
      "PipelineSpec passes centroids = 16",
    "Similarity.scala:ivfQuery.k" ->
      "PipelineSpec passes k = 3",
    "Similarity.scala:ivfQuery.nprobe" ->
      "PipelineSpec passes nprobe = 4",
    "Similarity.scala:ivfQueryAdaptive.k" ->
      "q322 passes its k",
    "Similarity.scala:kmeansRefine.iters" ->
      "PipelineSpec runs iters = 0",
    "Similarity.scala:semDedup.centroids" ->
      "PipelineSpec passes centroids = 16",
    "Similarity.scala:tiledNearPairs.blocks" ->
      "PipelineSpec passes blocks = 4 and 3",
    "Similarity.scala:tiledNearPairs.rowsPerTile" ->
      "PipelineSpec passes rowsPerTile = 40",
    "Stats.scala:analyze.tables" ->
      "ScaleOpsSpec passes Seq(\"nation\", \"region\")",
    "Streams.scala:rollingLimits.limit" ->
      "StreamingSpec derives the limit from q94's frame counts",
    "Text.scala:bpeStates.retainMerges" ->
      "the q-bodies that need only the segmentation pass retainMerges = false"
  )

  test("every default in main code is allowlisted with the call that sets another value") {
    val root = new java.io.File("src/main/scala/graft")
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val found = scalaFiles(root).sortBy(_.getName).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try DefaultsLawSpec.defaults(f.getName, src.mkString) finally src.close()
    }
    val want = allowed.map(_._1).sorted
    val unchanged = found.sorted == want
    assert(unchanged,
      s"""defaulted parameters changed.
         |  new defaults (make each a value in the body, or allowlist it
         |  with the call that sets another value):
         |    ${found.diff(want).mkString("\n    ")}
         |  stale allowlist entries (remove):
         |    ${want.diff(found).mkString("\n    ")}""".stripMargin)
  }

  test("the scan sees defaults across lines and ignores comments and literals") {
    val src =
      "object O {\n" +
      "  // def commented(a: Int = 1)\n" +
      "  /* def blocked(b: Int = 2) /* nested */ */\n" +
      "  val sql = s\"\"\"def quoted(c: Int = 3) ${f(\"}\")}\"\"\"\n" +
      "  val ch = '\"'\n" +
      "  def f[T](x: T,\n" +
      "      k: Int = 10, g: Int => Int = identity)(implicit n: Long = 2L) = x\n" +
      "  def h(p: Map[String, Int] = Map(\"a\" -> 1), q: Boolean = (1 >= 0)) = p\n" +
      "  final case class C(t: Double = 0.45, u: Int) extends T\n" +
      "}\n"
    assert(DefaultsLawSpec.defaults("O.scala", src) == Seq(
      "O.scala:f.k", "O.scala:f.g", "O.scala:f.n",
      "O.scala:h.p", "O.scala:h.q", "O.scala:C.t"))
  }
}

object DefaultsLawSpec {

  /** `src` with comments and the contents of string and character
    * literals blanked; the code inside `${...}` of an interpolated
    * string is kept. */
  def strip(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    val charLit = """'(\\u[0-9a-fA-F]{4}|\\.|[^\\'\n])'""".r
    def charLitLength(i: Int): Int =
      charLit.findPrefixOf(src.substring(i, (i + 8).min(n))).fold(0)(_.length)
    def blank(from: Int, to: Int): Unit =
      (from until to).foreach(j => out += (if (src(j) == '\n') '\n' else ' '))
    // code from `start`; with `inBrace`, stops at the `}` closing a `${`
    def code(start: Int, inBrace: Boolean): Int = {
      var i = start
      var depth = 0
      while (i < n && !(inBrace && depth == 0 && src(i) == '}')) {
        if (src.startsWith("//", i)) {
          val j = src.indexOf('\n', i) match { case -1 => n; case j => j }
          blank(i, j); i = j
        } else if (src.startsWith("/*", i)) {
          var (d, j) = (1, i + 2)
          while (j < n && d > 0) {
            if (src.startsWith("/*", j)) { d += 1; j += 2 }
            else if (src.startsWith("*/", j)) { d -= 1; j += 2 }
            else j += 1
          }
          blank(i, j); i = j
        } else if (src(i) == '"') {
          i = string(i)
        } else if (charLitLength(i) > 0) {
          val j = i + charLitLength(i)
          blank(i, j); i = j
        } else {
          if (src(i) == '{') depth += 1 else if (src(i) == '}') depth -= 1
          out += src(i); i += 1
        }
      }
      i
    }
    def string(start: Int): Int = {
      val interp = start > 0 &&
        (src(start - 1).isLetterOrDigit || src(start - 1) == '_')
      val triple = src.startsWith("\"\"\"", start)
      var i = start + (if (triple) 3 else 1)
      out += '"'
      var open = true
      while (i < n && open) {
        if (triple && src.startsWith("\"\"\"", i)) {
          while (src.startsWith("\"\"\"\"", i)) i += 1
          i += 3; open = false
        } else if (!triple && src(i) == '"') {
          i += 1; open = false
        } else if (!triple && src(i) == '\\' || interp && src.startsWith("$$", i)) {
          blank(i, i + 2); i += 2
        } else if (interp && src.startsWith("${", i)) {
          out ++= "  "
          i = code(i + 2, inBrace = true) + 1
          out += ' '
        } else {
          blank(i, i + 1); i += 1
        }
      }
      out += '"'
      i
    }
    code(0, inBrace = false)
    out.result()
  }

  /** `File.scala:def.param` for every defaulted parameter of a `def` and
    * every default-valued constructor field of a `class`. */
  def defaults(file: String, src: String): Seq[String] = {
    val s = strip(src)
    val head = """\b(?:def|class)\s+([A-Za-z_][A-Za-z0-9_]*)""".r
    val modifier =
      """^\s*(?:@\w+\s*|implicit\s+|override\s+|private\s+|protected\s+|final\s+|val\s+|var\s+)*""".r
    def skipWs(i: Int): Int = { var j = i; while (j < s.length && s(j).isWhitespace) j += 1; j }
    def closing(i: Int): Int = { // index of the bracket matching s(i)
      var (d, j) = (0, i)
      do {
        if ("([{".contains(s(j))) d += 1 else if (")]}".contains(s(j))) d -= 1
        j += 1
      } while (d > 0 && j < s.length)
      j - 1
    }
    def topLevel(p: String)(at: (Char, Int) => Boolean): Seq[Int] = {
      var d = 0
      p.indices.filter { k =>
        val c = p(k)
        if ("([{".contains(c)) d += 1 else if (")]}".contains(c)) d -= 1
        d == 0 && at(c, k)
      }
    }
    head.findAllMatchIn(s).toSeq.flatMap { m =>
      var i = skipWs(m.end)
      if (i < s.length && s(i) == '[') i = skipWs(closing(i) + 1)
      val params = Seq.newBuilder[String]
      while (i < s.length && s(i) == '(') {
        val end = closing(i)
        val list = s.substring(i + 1, end)
        val cuts = -1 +: topLevel(list)((c, _) => c == ',') :+ list.length
        cuts.sliding(2).foreach { case Seq(a, b) =>
          val p = list.substring(a + 1, b)
          topLevel(p) { (c, k) =>
            c == '=' && !(k + 1 < p.length && "=>".contains(p(k + 1))) &&
              !(k > 0 && "=!<>".contains(p(k - 1)))
          }.headOption.foreach { k =>
            val name = modifier.replaceFirstIn(p.substring(0, k), "")
              .takeWhile(_ != ':').trim
            params += s"$file:${m.group(1)}.$name"
          }
        }
        i = skipWs(end + 1)
      }
      params.result()
    }
  }
}
