package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The apply semantics are written once, in `ApplyRule`: no other code
  * line under `src/main/scala/graft/streaming` may rank rows by
  * `row_number` or test a value against `UnchangedToast`, so a second
  * spelling of the rule cannot grow back (comment lines are skipped).
  * Allowed elsewhere: the marker's definition, and `CdcPipeline.marked`,
  * the raw-JSON `contains` gate that only decides whether an event
  * carries a marker (`JdbcMirror`'s marked-row filter calls it). */
class ApplyRuleLintSpec extends AnyFunSuite {
  test("row_number and unchanged-TOAST tests in streaming appear only in ApplyRule") {
    assert(Files.isDirectory(PinLintSpec.Root),
      s"run from the repository root (${PinLintSpec.Root} missing)")
    val allowed = Set(
      ("CdcPipeline.scala", "val UnchangedToast = \"__graft_unchanged_toast__\""),
      ("CdcPipeline.scala", "coalesce(col(\"after\").contains(UnchangedToast), lit(false))"))
    val found = PinLintSpec.codeLines("ApplyRule.scala")
      .filter { case (f, _, l) =>
        f.getParent.endsWith("streaming") && (l.contains("row_number") || l.contains("UnchangedToast"))
      }
      .map { case (f, n, l) => (f.getFileName.toString, n, l) }
      .filterNot { case (f, _, l) => allowed((f, l)) }
    assert(found.isEmpty, found.map { case (f, n, l) => s"$f:$n: $l" }
      .mkString("apply-rule code outside ApplyRule:\n", "\n", ""))
  }
}
