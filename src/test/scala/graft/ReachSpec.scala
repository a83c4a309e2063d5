package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Reach or remove: every public def of a `src/main` object is called from
  * code that a gate, a CLI or a perfbench workload runs, or it goes. A def
  * that only specs call is code the oracle and the bench never check, and
  * every refactor has to carry it anyway. */
class ReachSpec extends AnyFunSuite {
  import ReachSpec._

  private def sources(): Map[String, String] =
    Seq("src/main/scala", "perfbench/src").flatMap { root =>
      val dir = Paths.get(root)
      assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
      val walk = Files.walk(dir)
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }.map(f => f.toString.replace('\\', '/') -> Files.readString(f)).toMap

  test("every public def of a src/main object has a caller outside its definition") {
    val unreached = scan(sources()).filterNot(d => Kept.contains(d.key))
    assert(unreached.isEmpty, "no gate, CLI or perfbench workload calls:" +
      unreached.map(d => s"\n  ${d.file}:${d.line} ${d.key}").mkString)
  }

  test("the allowlist keeps only unreached reference implementations, each named by its spec") {
    val unreached = scan(sources()).map(_.key).toSet
    Kept.foreach { case (key, (spec, _)) =>
      assert(unreached(key), s"$key is reached now: drop it from the allowlist")
      val name = key.split('.').last
      assert(Files.readString(Paths.get(s"src/test/scala/graft/$spec.scala")).contains(name),
        s"$spec does not use $key")
    }
  }

  test("a planted def with no caller fails, and a scaladoc link is not a caller") {
    val planted = Map(
      "src/main/scala/graft/P.scala" ->
        """package graft
          |/** Planted: [[P.linked]] is only linked from here. */
          |object P {
          |  def used(x: Int): Int = helper(x) + 1
          |  private def helper(x: Int): Int = x
          |  def orphan(x: Int): Int = orphan(x - 1) // recursion is not a caller
          |  /** see [[P.linked]] */
          |  def linked: String = "//not a comment"
          |  override def toString: String = "P"
          |  def main(args: Array[String]): Unit = println(used(1))
          |}
          |""".stripMargin,
      "perfbench/src/Q.scala" -> "object Q { def run(): Int = P.used(2) }")
    assert(scan(planted).map(_.key) == Seq("P.orphan", "P.linked"))
  }
}

object ReachSpec {

  /** Unreached defs that stay, each with the spec that uses it and why. */
  val Kept: Map[String, (String, String)] = Map(
    "Centroids.meanByKey" -> ("OperatorsSpec",
      "the posexplode per-dim mean is the differential reference for exactDimMean"),
    "Dedup.connectedComponentsPropagation" -> ("OperatorsSpec",
      "min-label propagation is the differential reference for connectedComponents"),
    "Dedup.withMinhashSigCols" -> ("OperatorsSpec",
      "the per-row array-fold signature is the differential reference for minhashSig"),
    "Export.readJsonlSharded" -> ("CliSpec",
      "reads the sharded JSONL that CorpusCli exports back into rows"),
    "Tar.writeWdsFiles" -> ("CliSpec",
      "writes the WebDataset shards that IngestCli --wds ingests"),
    "Warc.writeWetFiles" -> ("CliSpec",
      "writes the WET segments that IngestCli --wet ingests"))

  final case class Def(file: String, line: Int, key: String)

  private val ObjectLine = """^(?:(?:private(?:\[\w+\])?|final|case) )*object\s+(\w+)""".r.unanchored
  private val ClassLine =
    """^(?:(?:sealed|abstract|final|case|private(?:\[\w+\])?) )*(?:class|trait)\s""".r.unanchored
  private val DefLine =
    """^  ((?:(?:final|override|private(?:\[\w+\])?|protected|implicit|@\w+) )*)def\s+([A-Za-z_]\w*)""".r.unanchored
  private val Ident = """[A-Za-z_]\w*""".r

  /** The public top-level defs of `src/main` objects in `files` (path ->
    * source) that have no reference outside their own definition. Comments
    * are stripped first, so a scaladoc `[[link]]` is not a caller. `main`,
    * `apply` and overrides are entry points, not candidates. */
  def scan(files: Map[String, String]): Seq[Def] = {
    val lines = files.map { case (f, src) => f -> stripComments(src).split("\n", -1).toIndexedSeq }
    // every identifier occurrence: name -> (file, line)
    val uses = lines.toSeq.flatMap { case (f, ls) =>
      ls.indices.flatMap(i => Ident.findAllIn(ls(i)).map(_ -> (f, i)))
    }.groupMap(_._1)(_._2)
    lines.toSeq.sortBy(_._1).filter(_._1.startsWith("src/main/")).flatMap { case (f, ls) =>
      var obj: Option[String] = None
      ls.indices.flatMap { i =>
        ls(i) match {
          case ObjectLine(name) => obj = Some(name)
          case ClassLine() => obj = None
          case _ =>
        }
        (obj, ls(i)) match {
          case (Some(o), DefLine(mods, name))
              if !mods.contains("private") && !mods.contains("protected") &&
                !mods.contains("override") && name != "main" && name != "apply" =>
            val end = spanEnd(ls, i)
            val called = uses.getOrElse(name, Nil).exists { case (g, l) =>
              g != f || l < i || l >= end
            }
            if (called) None else Some(Def(f, i + 1, s"$o.$name"))
          case _ => None
        }
      }
    }
  }

  /** The line after a member's definition: the next non-blank line back at
    * member indentation that does not close the definition. */
  private def spanEnd(ls: IndexedSeq[String], start: Int): Int = {
    var j = start + 1
    def ends(s: String): Boolean = {
      val ind = s.length - s.dropWhile(_ == ' ').length
      ind < 2 || (ind == 2 && !s.trim.startsWith(")") && !s.trim.startsWith("}"))
    }
    while (j < ls.length && (ls(j).trim.isEmpty || !ends(ls(j)))) j += 1
    j
  }

  /** `src` with `//` and (nested) `/* */` comments blanked out. String and
    * char literals are kept, and so is every newline, so line numbers hold. */
  def stripComments(src: String): String = {
    val out = new java.lang.StringBuilder(src.length)
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src.charAt(j) == '"') j += 1
        out.append(src, i, j); i = j
      } else if (src.charAt(i) == '"') {
        var j = i + 1
        while (j < n && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out.append(src, i, j); i = j
      } else if (src.charAt(i) == '\'' && i + 2 < n && src.charAt(i + 2) == '\'') {
        out.append(src, i, i + 3); i += 3
      } else if (src.charAt(i) == '\'' && i + 3 < n && src.charAt(i + 1) == '\\' &&
          src.charAt(i + 3) == '\'') {
        out.append(src, i, i + 4); i += 4
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out.append("\n" * src.substring(i, j).count(_ == '\n')); i = j
      } else {
        out.append(src.charAt(i)); i += 1
      }
    }
    out.toString
  }
}
