package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.operators.IndexStore

/** Temp source directories that a suite indexes. `IndexStore` keeps an
  * index root per source directory under the JVM temp dir
  * (`IndexStore.rootFor`), which outlives the source; the suite
  * deletes the roots of the directories it made when it ends. */
trait IndexRoots extends BeforeAndAfterAll { self: Suite =>
  private val dirs = new ConcurrentLinkedQueue[String]()

  /** A fresh temp directory whose index root goes with the suite. */
  protected def indexedTempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    dirs.add(dir)
    dir
  }

  override protected def afterAll(): Unit =
    try dirs.asScala.foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(IndexStore.rootFor(d))))
    finally super.afterAll()
}
