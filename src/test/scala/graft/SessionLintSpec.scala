package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan (no Spark) for the session rules in README's design
  * rules: an operator gets confs of its own only from
  * `graft.operators.Tuned`'s memo, never by building a session or
  * setting a conf itself, and the library packages read no
  * environment (an entry point passes its knobs in as arguments). */
class SessionLintSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala/graft")

  /** `file:line: text` for every line under `dirs` that contains one
    * of `needles`, skipping the files named in `except`. */
  private def hits(dirs: Seq[String], needles: Seq[String],
                   except: Set[String] = Set.empty): Seq[String] =
    dirs.map(main.resolve).flatMap { dir =>
      assert(Files.isDirectory(dir), s"no source directory ${dir.toAbsolutePath}")
      val walk = Files.walk(dir)
      val files = try walk.iterator().asScala.toList finally walk.close()
      files.filter(p => p.toString.endsWith(".scala") &&
          !except(p.getFileName.toString)).sorted.flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if needles.exists(line.contains) =>
            s"$p:${i + 1}: ${line.trim}"
        }
      }
    }

  test("operators derive sessions only through Tuned") {
    val found = hits(Seq("operators"), Seq("newSession()", ".conf.set("),
      except = Set("Tuned.scala"))
    if (found.nonEmpty) fail(
      s"operators build a session or set a conf outside Tuned:\n${found.mkString("\n")}")
  }

  test("library packages read no environment") {
    val found = hits(Seq("api", "operators", "sources", "kv", "plans"),
      Seq("sys.env"))
    if (found.nonEmpty) fail(
      s"library code reads the environment:\n${found.mkString("\n")}")
  }
}
