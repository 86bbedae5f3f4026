package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every public member of a top-level object in the library packages
  * (`graft.rules`, `functions`, `streaming`, `sources`, `profile`,
  * `multimodal`) has a caller in shipped code: `src/main` or the
  * benchmark harness (`perfbench/src`, which calls e.g.
  * `PagesGen.shouldDrop`). A caller names the member by its object: an
  * `Obj.member` reference, an import of the member (`import Obj.member`,
  * `Obj.{member, ...}` or `Obj._`, after which the file's bare names
  * count), or the bare name inside the object's own file outside its
  * declaration. A same-named member of another object is not a caller. A
  * member only specs call belongs in test scope ([[ComposedRefs]]); a
  * member nothing calls is deleted.
  */
class SurfaceSpec extends AnyFunSuite {

  private val Packages = Seq("rules", "functions", "streaming", "sources", "profile", "multimodal")

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found (run from the repo root)")
    Files.walk(dir).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  /** `src` without comments or string-literal text: a name in a comment,
    * a message or SQL text is not a reference. An interpolated string
    * keeps its `$name` and `${...}` parts, which are.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("/*", i)) {
        val j = src.indexOf("*/", i + 2)
        i = if (j < 0) n else j + 2
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("'\\", i) && i + 3 < n && src(i + 3) == '\'') {
        i += 4 // escaped char literal such as '\"'
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') {
        i += 3 // char literal such as '"'
      } else if (src(i) == '"') {
        val triple = src.startsWith("\"\"\"", i)
        val end =
          if (triple) {
            val j = src.indexOf("\"\"\"", i + 3)
            if (j < 0) n else j + 3
          } else {
            var k = i + 1
            while (k < n && src(k) != '"' && src(k) != '\n') k += (if (src(k) == '\\') 2 else 1)
            math.min(n, k + 1)
          }
        if (i > 0 && src(i - 1).isLetter) out ++= spliced(src.substring(i, end))
        else out += ' '
        i = end
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  /** The `$name` and `${...}` parts of an interpolated string literal. */
  private def spliced(lit: String): String =
    "\\$(\\{[^}]*\\}|[A-Za-z_]\\w*)".r.findAllMatchIn(lit).map(_.group(1)).mkString(" ", " ", " ")

  private val TopObject = "(?ms)^object\\s+(\\w+)[^\\n]*\\{\\s*$(.*?)^\\}".r
  private val Member = "(?m)^  (?:(?:final|lazy|implicit)\\s+)*(?:def|val|var)\\s+([A-Za-z_]\\w*)".r

  private val Import = "(?m)^\\s*import\\s+([\\w.]+)\\.(\\{[^}]*\\}|[\\w]+)".r

  /** The (object, member) pairs a file imports; member `_` is a wildcard. */
  private def imports(src: String): Seq[(String, String)] =
    Import.findAllMatchIn(src).toSeq.flatMap { m =>
      val obj = m.group(1).split('.').last
      m.group(2).stripPrefix("{").stripSuffix("}").split(',').toSeq
        .map(_.trim.split("\\s+").head).map(obj -> _)
    }

  test("every public library member has a caller in src/main or perfbench") {
    val shipped = (scalaFiles("src/main/scala") ++ scalaFiles("perfbench/src"))
      .map(p => p -> code(new String(Files.readAllBytes(p), "UTF-8"))).toMap
    val imported = shipped.map { case (p, src) => p -> imports(src).toSet }
    val library = shipped.keys.filter(p => Packages.exists(pk =>
      p.toString.contains(s"src/main/scala/graft/$pk/"))).toSeq.sortBy(_.toString)
    assert(library.nonEmpty)
    def count(re: String, src: String): Int = re.r.findAllMatchIn(src).size
    val uncalled = for {
      file <- library
      objMatch <- TopObject.findAllMatchIn(shipped(file)).toSeq
      obj = objMatch.group(1)
      (name, decls) <- Member.findAllMatchIn(objMatch.group(2)).map(_.group(1)).toSeq
        .groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
      refs =
        if (name == "apply") // a companion `apply` is called as `Obj(...)`
          shipped.values.map(count(s"\\b$obj\\s*\\(", _)).sum
        else shipped.map { case (p, src) =>
          val qualified = count(s"\\b$obj\\s*\\.\\s*$name\\b", src)
          def bare = count(s"(?<![\\w.])$name\\b", src)
          if (p == file) qualified + bare - decls
          else if (imported(p)(obj -> name) || imported(p)(obj -> "_")) qualified + bare
          else qualified
        }.sum
      if refs <= 0
    } yield s"${file.getFileName}: $obj.$name"
    assert(uncalled.isEmpty, uncalled.mkString("\n  no shipped caller: ", "\n  no shipped caller: ", ""))
  }
}
