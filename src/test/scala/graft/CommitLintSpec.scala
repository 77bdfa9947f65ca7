package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every engine-owned store commits through one atomic metadata write
  * (a `FileManifest` or an `AtomicFiles` file), so no file under
  * `src/main/scala` other than `AtomicFiles.scala` may call `.rename(`
  * in code, unless [[CommitLintSpec.Allowed]] names the line with its
  * reason (comment lines are skipped). An allowlisted line that no
  * longer exists fails too, so the list only shrinks. */
class CommitLintSpec extends AnyFunSuite {
  test("no rename outside AtomicFiles but the allowlisted plain-source commits") {
    assert(Files.isDirectory(PinLintSpec.Root),
      s"run from the repository root (${PinLintSpec.Root} missing)")
    val found = PinLintSpec.codeLines("AtomicFiles.scala").filter(_._3.contains(".rename("))
    val key = (f: java.nio.file.Path, l: String) => (f.getFileName.toString, l)
    val unlisted = found.filterNot { case (f, _, l) => CommitLintSpec.Allowed.contains(key(f, l)) }
    assert(unlisted.isEmpty, unlisted.map { case (f, n, l) => s"$f:$n: $l" }
      .mkString("renames outside AtomicFiles:\n", "\n", ""))
    val stale = CommitLintSpec.Allowed.keySet -- found.map { case (f, _, l) => key(f, l) }
    assert(stale.isEmpty, s"allowlisted renames no longer in the code: $stale")
  }
}

object CommitLintSpec {
  /** (file, trimmed code line) → why that rename is not a store commit
    * through a manifest: each commits into a directory Spark lists as a
    * plain source, which has no manifest. */
  val Allowed: Map[(String, String), String] = Map(
    ("ChangeFeed.scala", "require(fs.rename(p.getPath, dest),") ->
      "publishTransactional moves each transaction's file to its sequenced name in the feed directory",
    ("IndexedIngest.scala", "if (!fs.rename(part.getPath, target))") ->
      "landAndIndex lands a micro-batch's file in the corpus directory",
    ("Erasure.scala", "if (!fs.rename(orig, oldAside))") ->
      "swapIn parks the corpus before its rewrite moves in",
    ("Erasure.scala", "if (!fs.rename(replacement, orig)) {") ->
      "swapIn moves the rewritten corpus into place",
    ("Erasure.scala", "fs.rename(oldAside, orig) // restore the original; best effort") ->
      "swapIn restores the parked corpus when the move-in fails",
    ("Erasure.scala", "if (!fs.exists(srcPath) && fs.exists(old) && !fs.rename(old, srcPath))") ->
      "forget's crash recovery restores a parked corpus",
    ("Erasure.scala", "if (!fs.rename(st.getPath, orig))") ->
      "forgetPartitioned's crash recovery restores a parked partition",
    ("Erasure.scala", "if (!feedFs.rename(st.getPath, orig))") ->
      "forgetFromFeed's crash recovery restores a parked feed file")
}
