package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every `main` compiled into the library jar must be a reproducer the
  * README names, and every reproducer the README names must exist.
  *
  * The mains are found by scanning `src/main/scala` for lines that
  * declare `def main(args: Array[String])` and attributing each to the
  * nearest preceding line that declares an `object` in its file (both
  * anchored at line start, so comments never match); the README side
  * is every `graft.<Name>` inside the "## Reproducers" section. A new
  * one-off probe or profiler therefore fails this suite until it is
  * either documented as a reproducer (command + artifact) or left out
  * of the library.
  */
class MainsSpec extends AnyFunSuite {

  import MainsSpec.root

  private val PackageDecl = """(?m)^\s*package\s+([\w.]+)""".r
  private val ObjectDecl =
    """(?m)^\s*(?:(?:private|protected|final|case)(?:\[\w+\])?\s+)*object\s+(\w+)""".r
  private val MainDecl =
    """(?m)^\s*(?:override\s+)?def\s+main\s*\(\s*args\s*:\s*Array\[String\]\s*\)""".r
  private val GraftName = """\bgraft(?:\.[a-z]\w*)*\.[A-Z]\w*""".r

  /** Fully qualified names of every object in src/main that has a main. */
  private lazy val mains: Set[String] = {
    val files = Files.walk(root.resolve("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    files.flatMap { f =>
      val src = new String(Files.readAllBytes(f), "UTF-8")
      val pkg = PackageDecl.findAllMatchIn(src).map(_.group(1)).mkString(".")
      val objects = ObjectDecl.findAllMatchIn(src).toList
      MainDecl.findAllMatchIn(src).map { m =>
        val owner = objects.takeWhile(_.start < m.start).lastOption
          .getOrElse(fail(s"$f: main outside any object"))
        if (pkg.isEmpty) owner.group(1) else s"$pkg.${owner.group(1)}"
      }
    }.toSet
  }

  /** Every `graft.<Name>` in README's "## Reproducers" section. */
  private lazy val reproducers: Set[String] = {
    val lines = Files.readAllLines(root.resolve("README.md")).asScala
    val section = lines.dropWhile(_.trim != "## Reproducers").drop(1)
      .takeWhile(!_.startsWith("## "))
    assert(section.nonEmpty, "README.md has no '## Reproducers' section")
    GraftName.findAllIn(section.mkString("\n")).toSet
  }

  test("every main in src/main is listed in README's Reproducers table") {
    assert(mains.contains("graft.Bench") && mains.contains("graft.Verify"),
      s"scan missed the contract mains: $mains")
    val unlisted = mains -- reproducers
    assert(unlisted.isEmpty,
      s"mains not in README's Reproducers table: ${unlisted.toSeq.sorted}")
  }

  test("every reproducer README lists has a main in src/main") {
    val missing = reproducers -- mains
    assert(missing.isEmpty,
      s"README Reproducers names without a main: ${missing.toSeq.sorted}")
  }
}

object MainsSpec {

  /** The repo root: the nearest ancestor of the working directory that
    * holds both README.md and src/main/scala. */
  lazy val root: Path =
    Iterator.iterate(Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(p => Files.isRegularFile(p.resolve("README.md")) &&
        Files.isDirectory(p.resolve("src/main/scala")))
      .getOrElse(sys.error("no README.md + src/main/scala above the working dir"))
}
