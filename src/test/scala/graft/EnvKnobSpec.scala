package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The library's operator packages read no environment variables:
  * behavior is set through arguments and session config, so a
  * long-lived session cannot change under a caller because of its
  * process environment. The scan covers every `.scala` file under the
  * library packages below and fails on any line reading `sys.env` or
  * `System.getenv`, with no exceptions. The reproducer mains and the
  * query registry sit outside the scan: their knobs
  * (`SPARK_GRAFT_ONLY`, `SPARK_GRAFT_POOL`, ...) are how they are run,
  * and `graft.Bench`'s set is pinned below.
  */
class EnvKnobSpec extends AnyFunSuite {

  private val Packages = Seq("api", "operators", "functions", "expressions", "plans", "streaming")
  private val EnvRead = """\bsys\.env\b|\bSystem\.getenv\b""".r

  test("library packages read no environment variables") {
    val dirs = Packages.map(p => MainsSpec.root.resolve(s"src/main/scala/graft/$p"))
    dirs.foreach(d => assert(Files.isDirectory(d), s"missing package dir $d"))
    val hits = for {
      d <- dirs
      f <- Files.walk(d).iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if EnvRead.findFirstIn(line).isDefined
    } yield s"${MainsSpec.root.relativize(f)}:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"environment reads in library packages:\n${hits.mkString("\n")}")
  }

  test("graft.Bench reads exactly its seven knobs") {
    val src = Files.readString(MainsSpec.root.resolve("src/main/scala/graft/Bench.scala"))
    val named = """(?:\bsys\.env\b|\bSystem\.getenv\b)[.\w]*\(\s*"(\w+)"""".r
      .findAllMatchIn(src).map(_.group(1)).toSeq
    assert(named.size == EnvRead.findAllMatchIn(src).size,
      "every environment read in Bench.scala names its variable literally")
    assert(named.toSet == Set("SF_DIR", "CPUS", "SHUFFLE", "ONLY", "POOL", "ITERS",
      "RESET_ITERS").map("SPARK_GRAFT_" + _))
  }
}
