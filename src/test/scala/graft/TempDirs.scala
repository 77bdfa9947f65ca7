package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.operators.IndexStore

/** Temp directories a suite makes: every directory it hands out is
  * deleted when the suite ends, and so is the index root of an indexed
  * one — `IndexStore` keeps that root under the JVM temp dir
  * (`IndexStore.rootFor`), outside the directory it indexes. */
trait TempDirs extends BeforeAndAfterAll { self: Suite =>
  private val dirs = new ConcurrentLinkedQueue[String]()

  /** A fresh temp directory that goes with the suite. */
  protected def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    dirs.add(dir)
    dir
  }

  /** [[tempDir]] whose index root goes with the suite too. */
  protected def indexedTempDir(prefix: String): String = {
    val dir = tempDir(prefix)
    dirs.add(IndexStore.rootFor(dir))
    dir
  }

  override protected def afterAll(): Unit =
    try dirs.asScala.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
    finally super.afterAll()
}
