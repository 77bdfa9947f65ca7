package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every pin in the engine goes through `Checkpointing`, the one place
  * that honours `graft.iterativeCheckpoint` and frees pins: no other
  * file under `src/main/scala` may call `.localCheckpoint(` or
  * `.checkpoint(` in code (comment lines are skipped). */
class PinLintSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (file, line number, line) of each raw pin call outside Checkpointing. */
  private def rawPins(): Seq[(Path, Int, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Checkpointing.scala")
      .toSeq
    files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if {
          val code = line.trim
          !(code.startsWith("//") || code.startsWith("*") || code.startsWith("/*")) &&
            (code.contains(".localCheckpoint(") || code.contains(".checkpoint("))
        } => (f, i + 1, line.trim)
      }
    }
  }

  test("no raw localCheckpoint or checkpoint call outside Checkpointing") {
    assert(Files.isDirectory(root), s"run from the repository root ($root missing)")
    val found = rawPins()
    assert(found.isEmpty, found.map { case (f, n, l) => s"$f:$n: $l" }
      .mkString("raw pins outside Checkpointing:\n", "\n", ""))
  }
}
