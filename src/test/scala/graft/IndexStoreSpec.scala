package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndexStore

/** The build-once/serve-many contract of the persisted index sidecar:
  * one build per source-data state, served results row-identical to a
  * rebuild, appends invalidate via the source-file fingerprint — and
  * for per-row indexes, append-only source growth is served by a
  * DELTA build over only the new files (the O(batch)-per-ingest path
  * that keeps index maintenance off the corpus-rescan cost curve).
  */
class IndexStoreSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def freshSource(): String = {
    val dir = indexedTempDir("graft_idx_src")
    graft.sources.Tables.load(spark, sf, "documents")
      .write.mode("append").parquet(s"$dir/documents.parquet")
    dir
  }

  test("one build serves repeated reads; rows identical; append rebuilds") {
    val src = freshSource()
    def index() = IndexStore.getOrBuild(spark, src, "lens", "documents") {
      spark.read.parquet(s"$src/documents.parquet")
        .select(col("doc_id"), length(col("text")).as("len"))
    }
    val before = IndexStore.buildsPerformed
    val first = index().orderBy("doc_id").collect().toSeq
    assert(IndexStore.buildsPerformed == before + 1)
    val second = index().orderBy("doc_id").collect().toSeq
    val third = index().orderBy("doc_id").collect().toSeq
    assert(IndexStore.buildsPerformed == before + 1, "served reads must not rebuild")
    assert(first == second && second == third && first.nonEmpty)
    // append to the SOURCE — fingerprint drifts, next read rebuilds
    // and the rebuilt index covers the appended rows
    graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .write.mode("append").parquet(s"$src/documents.parquet")
    val rebuilt = index().collect()
    assert(IndexStore.buildsPerformed == before + 2, "append must invalidate")
    assert(rebuilt.length == 2 * first.length)
  }

  test("d6/d13 share the signature index: one text scan serves both") {
    // a dedicated source dir so this test owns its sidecar lifecycle
    val src = freshSource()
    val before = IndexStore.buildsPerformed
    val d6 = SparkEntry.queries("d6_simhash64_pairs")(spark, src).collect()
    val d13 = SparkEntry.queries("d13_simhash64_lookup")(spark, src).collect()
    assert(IndexStore.buildsPerformed == before + 1,
      "both queries must serve from ONE signature build")
    assert(d6.nonEmpty && d13.nonEmpty)
    // and the served path returns exactly what a fresh derivation does
    import graft.functions.HashExprs.{char_fold_array, simhash64, tokenize}
    val fresh = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), char_fold_array(tokenize(col("text"))).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), simhash64(col("hs")).as("simhash"))
      .orderBy("doc_id").collect().toSeq
    val served = IndexStore.getOrBuildIncremental(spark, src, "simhash64",
      "documents") { _ =>
      fail("index must already be warm"): org.apache.spark.sql.DataFrame
    }.orderBy("doc_id").collect().toSeq
    assert(served == fresh)
  }

  test("a warm serve runs no Spark job: d6, d13, m8 and m9 build with 0 jobs") {
    val src = freshSource()
    def lens() = IndexStore.getOrBuild(spark, src, "lens_warm", "documents") {
      spark.read.parquet(s"$src/documents.parquet")
        .select(col("doc_id"), length(col("text")).as("len"))
    }
    val n = lens().count()
    assert(JobCount.of(spark, "index_warm_serve")(lens()) == 0)
    assert(lens().count() == n)
    Seq("d6_simhash64_pairs", "d13_simhash64_lookup", "m8_perceptual_dedup",
        "m9_audio_dedup").foreach { q =>
      SparkEntry.queries(q)(spark, sf) // warm
      val jobs = JobCount.of(spark, s"index_warm_$q")(SparkEntry.queries(q)(spark, sf))
      assert(jobs == 0, s"$q: building the warm query ran $jobs jobs")
    }
  }

  test("per-row index: append-only source growth takes the DELTA build " +
    "path (derives only the new files), mutation falls back to full rebuild") {
    val src = freshSource()
    var lastDeriveInput = -1L
    def index() = IndexStore.getOrBuildIncremental(spark, src, "lens_inc",
      "documents") { df =>
      lastDeriveInput = df.count()
      df.select(col("doc_id"), length(col("text")).as("len"))
    }
    val builds0 = IndexStore.buildsPerformed
    val apps0 = IndexStore.incrementalAppends
    val first = index().orderBy("doc_id").collect().toSeq
    val baseN = first.length
    assert(IndexStore.buildsPerformed == builds0 + 1 &&
      IndexStore.incrementalAppends == apps0)
    assert(lastDeriveInput == baseN && baseN > 0)
    index().collect()
    assert(IndexStore.buildsPerformed == builds0 + 1, "warm serve must not build")
    // ingest appends NEW parquet files — existing files untouched
    graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .write.mode("append").parquet(s"$src/documents.parquet")
    val after = index().orderBy("doc_id").collect().toSeq
    assert(IndexStore.incrementalAppends == apps0 + 1,
      "append-only growth must take the delta path")
    assert(lastDeriveInput == baseN,
      "delta build must derive ONLY the new files' rows, not the corpus")
    assert(after.length == 2 * baseN)
    // delta-served rows identical to a cold full derivation
    val fresh = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("len"))
      .orderBy("doc_id").collect().toSeq
    assert(after == fresh)
    // in-place mutation of already-indexed files: full rebuild, never
    // a stale serve and never a bogus delta
    val all = spark.read.parquet(s"$src/documents.parquet").localCheckpoint(true)
    all.write.mode("overwrite").parquet(s"$src/documents.parquet")
    val builds1 = IndexStore.buildsPerformed
    val apps1 = IndexStore.incrementalAppends
    val rebuilt = index().orderBy("doc_id").collect().toSeq
    assert(IndexStore.buildsPerformed == builds1 + 1 &&
      IndexStore.incrementalAppends == apps1,
      "mutated source must full-rebuild, not delta-append")
    assert(rebuilt == fresh)
  }

  private def appendCopy(src: String, offset: Long): Unit =
    graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("doc_id", col("doc_id") + lit(offset))
      .write.mode("append").parquet(s"$src/documents.parquet")

  test("reader isolation (r13 ask #2): a DataFrame planned over v1 keeps " +
    "reading while v2 builds and commits; versions older than the " +
    "previously-served one are pruned") {
    val src = freshSource()
    def index() = IndexStore.getOrBuild(spark, src, "lens_iso", "documents") {
      spark.read.parquet(s"$src/documents.parquet")
        .select(col("doc_id"), length(col("text")).as("len"))
    }
    val v1Reader = index() // plans v1's file list eagerly
    val n1 = v1Reader.count()
    // source mutates → NEXT serve retrains into v2 while the v1 plan
    // is still held open
    appendCopy(src, 1000000L)
    val v2Reader = index()
    // BOTH read successfully: the in-flight v1 reader was not broken
    assert(v1Reader.count() == n1, "v1 reader must still scan its planned files")
    assert(v2Reader.count() == 2 * n1)
    // a third build retires v2; every reader within the retention
    // bound keeps reading
    appendCopy(src, 2000000L)
    val v3Reader = index()
    assert(v1Reader.count() == n1 && v2Reader.count() == 2 * n1 && v3Reader.count() == 3 * n1)
    assert(IndexStoreSpec.unserved(src, "lens_iso").nonEmpty,
      "retired versions must survive their rebuilds")
    // the erasure purge deletes every file the served v3 does not name
    val dropped = IndexStore.pruneUnservedVersions(spark, src)
    assert(dropped > 0, s"got $dropped")
    assert(IndexStoreSpec.unserved(src, "lens_iso").isEmpty,
      "only the served version may survive the purge")
    assert(v3Reader.count() == 3 * n1, "served version keeps serving")
  }

  test("purge-vs-rebuild race: an erasure purge waits for an in-flight " +
    "build's commit and never destroys its files") {
    val src = freshSource()
    def index() = IndexStore.getOrBuild(spark, src, "lens_race", "documents") {
      spark.read.parquet(s"$src/documents.parquet")
        .select(col("doc_id"), length(col("text")).as("len"))
    }
    val n1 = index().count()
    // v2's write job is in flight (blocked in its derivation) when the
    // erasure purge runs — the purge must wait for the commit, not
    // delete the build's files
    appendCopy(src, 1000000L)
    val blocking = udf { (t: String) =>
      IndexStoreSpec.entered.countDown(); IndexStoreSpec.release.await(); t.length }
    @volatile var v2Reader: org.apache.spark.sql.DataFrame = null
    @volatile var dropped = -1
    @volatile var failure: Option[Throwable] = None
    def run(body: => Unit) = new Thread(() => try body catch { case e: Throwable => failure = Some(e) })
    val builder = run {
      v2Reader = IndexStore.getOrBuild(spark, src, "lens_race", "documents") {
        spark.read.parquet(s"$src/documents.parquet")
          .select(col("doc_id"), blocking(col("text")).as("len"))
      }
    }
    builder.start()
    assert(IndexStoreSpec.entered.await(120, java.util.concurrent.TimeUnit.SECONDS),
      "the v2 build never started")
    val purger = run { dropped = IndexStore.pruneUnservedVersions(spark, src) }
    purger.start()
    purger.join(2000)
    assert(purger.isAlive, "the purge must wait for the in-flight build's commit")
    IndexStoreSpec.release.countDown()
    builder.join(); purger.join()
    failure.foreach(e => fail("build or purge failed", e))
    assert(dropped > 0, s"got $dropped")
    assert(IndexStoreSpec.unserved(src, "lens_race").isEmpty,
      "only the served version may survive the purge")
    assert(v2Reader.count() == 2 * n1, "the in-flight build commits whole")
    assert(index().count() == 2 * n1, "served version keeps serving")
  }

  test("crash between delta write and manifest update, then ANOTHER " +
    "append: the orphaned delta is pruned, rows served exactly once") {
    val src = freshSource()
    def index() = IndexStore.getOrBuildIncremental(spark, src, "lens_crash",
      "documents") { df =>
      df.select(col("doc_id"), length(col("text")).as("len"))
    }
    index().collect() // base build; manifest records {A}
    val manifest = java.nio.file.Paths.get(
      s"${IndexStore.rootFor(src)}/lens_crash/_graft_manifest")
    val preAppendManifest = java.nio.file.Files.readAllBytes(manifest)
    // append B → delta build lands and the manifest records it
    graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("doc_id", col("doc_id") + lit(1000000L))
      .write.mode("append").parquet(s"$src/documents.parquet")
    index().collect()
    // CRASH SIMULATION: the delta dir survived but the manifest update
    // was lost — restore the pre-append manifest, leaving delta_h({B})
    // orphaned on disk
    java.nio.file.Files.write(manifest, preAppendManifest)
    // append C — the r11 hazard: next build diffs {B, C} against {A}
    // and derives B AGAIN into delta_h({B,C}); without reconciliation
    // the orphan delta_h({B}) would serve B's rows twice
    graft.sources.Tables.load(spark, sf, "documents")
      .withColumn("doc_id", col("doc_id") + lit(2000000L))
      .write.mode("append").parquet(s"$src/documents.parquet")
    val served = index().orderBy("doc_id").collect().toSeq
    val cold = spark.read.parquet(s"$src/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("len"))
      .orderBy("doc_id").collect().toSeq
    assert(served.length == cold.length,
      s"crash+append overlap must not duplicate rows " +
        s"(served ${served.length}, cold ${cold.length})")
    assert(served == cold, "served rows must equal a cold full rebuild")
    // and the replayed-delta idempotence still holds: re-serving after
    // recovery neither rebuilds nor duplicates
    val builds = IndexStore.buildsPerformed
    assert(index().orderBy("doc_id").collect().toSeq == cold)
    assert(IndexStore.buildsPerformed == builds, "recovered index must serve warm")
  }
}

object IndexStoreSpec {
  /** The in-flight build's derivation signals `entered` and waits on
    * `release` (tasks run in the test JVM). */
  val entered = new java.util.concurrent.CountDownLatch(1)
  val release = new java.util.concurrent.CountDownLatch(1)

  /** Data files under index `name` of `dataDir` that its manifest does
    * not name as live. */
  def unserved(dataDir: String, name: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Paths.get(s"${IndexStore.rootFor(dataDir)}/$name")
    val live = new String(java.nio.file.Files.readAllBytes(dir.resolve("_graft_manifest")), "UTF-8")
      .linesIterator.filter(_.startsWith("live\t")).map(_.split("\t", 4)(3)).toSet
    java.nio.file.Files.walk(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(p => dir.relativize(p).toString).toSet -- live
  }
}
