package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every pin in the engine goes through `Checkpointing`, the one place
  * that honours `graft.iterativeCheckpoint` and frees pins: no other
  * file under `src/main/scala` may call `.localCheckpoint(` or
  * `.checkpoint(` in code (comment lines are skipped). */
class PinLintSpec extends AnyFunSuite {
  test("no raw localCheckpoint or checkpoint call outside Checkpointing") {
    assert(Files.isDirectory(PinLintSpec.Root),
      s"run from the repository root (${PinLintSpec.Root} missing)")
    val found = PinLintSpec.codeLines("Checkpointing.scala")
      .filter { case (_, _, l) => l.contains(".localCheckpoint(") || l.contains(".checkpoint(") }
    assert(found.isEmpty, found.map { case (f, n, l) => s"$f:$n: $l" }
      .mkString("raw pins outside Checkpointing:\n", "\n", ""))
  }
}

object PinLintSpec {
  val Root: Path = Paths.get("src/main/scala")

  /** (file, line number, trimmed line) of each code line under
    * `src/main/scala` outside the file named `except`; comment lines
    * are skipped. */
  def codeLines(except: String): Seq[(Path, Int, String)] =
    Files.walk(Root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != except)
      .toSeq.flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if {
            val code = line.trim
            !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*"))
          } => (f, i + 1, line.trim)
        }
      }
}
