package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The one stream the engine opens itself is the change feed, through
  * `ChangeFeed.stream` and its idle-poll gate (`FeedSource`): no other
  * code line under `src/main/scala` may call `readStream`, so a new
  * feed consumer cannot bypass the gate with a plain file source
  * (comment lines are skipped). Spark's checkpoint format is read only
  * by Spark's own log classes, behind `graftbridge.Bridge`: no code
  * line under `src/main/scala/graft` builds a path to a checkpoint's
  * `sources`, `commits` or `metadata`, so no hand-written parser of
  * them can appear. */
class StreamSourceLintSpec extends AnyFunSuite {
  test("readStream is called only by ChangeFeed.stream") {
    assert(Files.isDirectory(PinLintSpec.Root),
      s"run from the repository root (${PinLintSpec.Root} missing)")
    val found = PinLintSpec.codeLines("").filter(_._3.contains("readStream"))
      .map { case (f, n, l) => (f.getFileName.toString, n, l) }
    assert(found.map(f => (f._1, f._3)) == Seq(("ChangeFeed.scala",
      "val reader = spark.readStream.format(classOf[FeedSourceProvider].getName).schema(schema)")),
      found.map { case (f, n, l) => s"$f:$n: $l" }.mkString("readStream calls:\n", "\n", ""))
  }

  test("no code under graft builds a path into a checkpoint's sources, commits or metadata") {
    val graft = PinLintSpec.Root.resolve("graft")
    val intoCheckpoint = """[\"/](sources|commits|metadata)[\"/]""".r
    val found = PinLintSpec.codeLines("")
      .filter { case (f, _, l) => f.startsWith(graft) && intoCheckpoint.findFirstIn(l).isDefined }
    assert(found.isEmpty, found.map { case (f, n, l) => s"${f.getFileName}:$n: $l" }
      .mkString("checkpoint paths outside Bridge:\n", "\n", ""))
  }
}
