package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.AtomicFiles

/** Persisted DERIVED-RELATION index sidecar — the build-once/serve-many
  * split every serving system makes (a FAISS/Lucene index is built
  * offline and opened by readers): an expensive derived relation (the
  * corpus's SimHash signatures, perceptual fingerprints, …) is
  * materialized to parquet ONCE per source-data state and every later
  * query scans the index instead of re-deriving it.
  *
  * Same invalidation contract as [[StatsStore]]: the sidecar records a
  * fingerprint of the SOURCE table's files (path + length + mtime —
  * driver-side metadata, no scan); any append/rewrite/delete changes
  * the fingerprint and the next `getOrBuild` rebuilds. The serve path
  * is uniform — getOrBuild ALWAYS returns a parquet scan of the
  * sidecar (the build path writes then reads), so consumers get one
  * plan shape whether the index was warm or cold, and the index scan
  * supports column pruning/pushdown like any other table.
  *
  * Correctness note: builders must be deterministic functions of the
  * source data (every index here is), so a served index is
  * row-identical to a rebuild — the sidecar can change WHEN work
  * happens, never what a query returns.
  *
  * Serving note (v3): data lives in immutable `<index>/v<N>/` version
  * dirs behind an atomic `<index>.current` pointer — a rebuild commits
  * a NEW version and swaps the pointer, so an in-flight reader that
  * planned the old version's file list is never broken (the
  * FAISS/Lucene generation-swap pattern); delta builds only APPEND
  * files inside the served version, which is reader-safe by itself.
  * The new and previously-served versions are retained, older ones
  * pruned — reader lifetime is bounded by one rebuild interval.
  */
object IndexStore {

  /** Bump when any builder's derivation changes — stale sidecars from
    * an older derivation must rebuild, not serve. (v2: the manifest
    * records the set of VALID delta directories, so a delta orphaned
    * by a crash is pruned instead of double-served. v3: VERSIONED data
    * dirs `<index>/v<N>/` behind an atomic current-pointer file, so a
    * rebuild never breaks an in-flight reader.) */
  val FormatVersion: Int = 3

  /** Per-process build counter (spec evidence for build-once). */
  @volatile var buildsPerformed: Long = 0L

  /** Per-process delta-append counter (spec evidence that an append
    * to the source was served by an incremental build, not a full
    * re-derivation). */
  @volatile var incrementalAppends: Long = 0L

  /** Per-process stale-serve counter (spec evidence that a
    * [[getOrBuildIfFresh]] call served an index trained on an OLDER
    * corpus state instead of retraining). */
  @volatile var staleServes: Long = 0L

  /** Source file inventory: path → "len|mtime" — the same driver-side
    * metadata the fingerprint hashes, kept per-file so the
    * incremental path can diff listings. */
  private def fileEntriesOf(spark: SparkSession,
      sourceDir: String): Map[String, String] = {
    val p = new org.apache.hadoop.fs.Path(sourceDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Map.empty
    val it = fs.listFiles(p, true)
    val entries = scala.collection.mutable.Map.empty[String, String]
    while (it.hasNext) {
      val st = it.next()
      // commit-protocol markers (_SUCCESS, _committed, .crc, …) are
      // not data and are rewritten by every append — Spark's readers
      // skip them, and so must the inventory, or an append-only write
      // would read as an in-place mutation
      val leaf = st.getPath.getName
      if (st.isFile && !leaf.startsWith("_") && !leaf.startsWith("."))
        entries(st.getPath.toString) = s"${st.getLen}|${st.getModificationTime}"
    }
    entries.toMap
  }

  private def fingerprintOf(spark: SparkSession, sourceDir: String): String = {
    val entries = fileEntriesOf(spark, sourceDir)
    if (entries.isEmpty) return "absent"
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.map { case (p, sig) => s"$p|$sig" }.toSeq.sorted.foreach(e =>
      md.update((e + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    s"v$FormatVersion:${entries.size}:${md.digest().map("%02x".format(_)).mkString}"
  }

  /** Root for one data directory's indexes (tmp-dir sidecar keyed by
    * the absolute path, like [[StatsStore.forDir]]). */
  def rootFor(dataDir: String): String = {
    val abs = new java.io.File(dataDir).getAbsolutePath
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    s"${sys.props("java.io.tmpdir")}/graft_index_$tag"
  }

  /** READER-ISOLATED version commit (r13 verdict ask #2): each full
    * build lands as an immutable `<dir>/v<N>` directory, and the
    * `<dir>.current` pointer file is swapped atomically AFTER the data
    * rename — a reader that planned v<N-1>'s file list keeps reading
    * it untouched while v<N> builds and commits (at a serving
    * deployment a retrain takes hours and queries are continuous; the
    * pre-v3 swap-in-place broke any scan planned before the swap).
    *
    * Retention: the new version and the previously-SERVED one are
    * kept; everything older is pruned — a reader's lifetime is bounded
    * by one retrain interval, which at hours-per-retrain dwarfs any
    * query. Crash points: before the data rename ⇒ a `_v*_build`
    * scratch the next build sweeps; between rename and pointer ⇒ an
    * unreferenced v-dir the next build prunes; the pointer write
    * itself is tmp+ATOMIC_MOVE. Both renames are CHECKED — many Hadoop
    * filesystems report failure by returning false, and proceeding
    * would commit a pointer/manifest that vouches for missing data.
    *
    * Returns the committed version's data path. */
  private def commitNewVersion(spark: SparkSession, df: DataFrame,
      dir: String): String = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prevServed = currentVersion(dir)
    val existing: Seq[Int] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { s =>
        val n = s.getPath.getName
        if (n.startsWith("v")) scala.util.Try(n.stripPrefix("v").toInt).toOption
        else {
          // single-writer contract: any _v*_build scratch here is a
          // dead crash leftover — sweep it now
          if (n.startsWith("_v") && n.endsWith("_build"))
            fs.delete(s.getPath, true)
          None
        }
      }
    val next = (existing :+ 0).max + 1
    val scratch = new org.apache.hadoop.fs.Path(s"$dir/_v${next}_build")
    df.write.mode("overwrite").parquet(scratch.toString)
    val dest = new org.apache.hadoop.fs.Path(versionPath(dir, next))
    if (!fs.rename(scratch, dest))
      throw new java.io.IOException(
        s"index version commit failed: rename $scratch -> $dest returned " +
          "false; scratch left in place, pointer not moved")
    AtomicFiles.writeAtomically(spark,
      new org.apache.hadoop.fs.Path(pointerFile(dir).toUri), s"v$next")
    existing.filterNot(v => prevServed.contains(v))
      .foreach(v => fs.delete(
        new org.apache.hadoop.fs.Path(versionPath(dir, v)), true))
    dest.toString
  }

  /** HARD-DELETE every index version OLDER than the one currently
    * served, across all of `dataDir`'s sidecars (versions NEWER than
    * the served one are in-flight rebuilds mid-commit — racing them
    * would destroy data the pointer is about to vouch for, and they
    * hold no erased-row residue, being built over the rewritten
    * corpus). The version-commit protocol
    * deliberately RETAINS the previously-served version so in-flight
    * readers survive a rebuild — but after an erasure
    * ([[graft.operators.Erasure.forget]]) that retained version still
    * holds the forgotten rows' derived signatures ON DISK, which a
    * right-to-be-forgotten obligation covers too. Call this after the
    * post-erasure rebuilds have committed (i.e. after each index has
    * been served once over the rewritten corpus); the reader-isolation
    * trade is knowingly given up for the erased interval — the
    * operator is choosing erasure over reader grace, exactly like
    * VACUUM FULL after a bulk DELETE. Returns the number of version
    * directories destroyed. */
  def pruneUnservedVersions(spark: SparkSession, dataDir: String): Int = {
    val root = new org.apache.hadoop.fs.Path(rootFor(dataDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    var dropped = 0
    fs.listStatus(root).filter(_.isDirectory).foreach { idx =>
      // strip the listing's file: scheme — the pointer lookup is
      // java.nio on the plain path (the sidecar root is local-tmp by
      // design, see rootFor)
      val dir = idx.getPath.toUri.getPath
      val served = currentVersion(dir)
      // no readable pointer = nothing provably served; leave the index
      // alone rather than reason about state this code cannot see
      served.foreach { cur =>
        fs.listStatus(idx.getPath).filter(_.isDirectory).foreach { v =>
          val n = v.getPath.getName
          // only versions OLDER than the served one are provably dead:
          // a v<N+1> dir is a rebuild racing this purge (data renamed,
          // pointer swap pending — commitNewVersion's commit window),
          // and destroying it would hand the next pointer a vouched-for
          // path with no data. Newer dirs carry no erased-row residue
          // anyway (built over the already-rewritten corpus).
          val ver = if (n.startsWith("v"))
            scala.util.Try(n.stripPrefix("v").toInt).toOption else None
          if (ver.exists(_ < cur)) {
            fs.delete(v.getPath, true); dropped += 1
          }
        }
      }
    }
    dropped
  }

  private def pointerFile(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(s"$dir.current")

  private def versionPath(dir: String, n: Int): String = s"$dir/v$n"

  /** The version the pointer names, if the pointer exists and parses. */
  private def currentVersion(dir: String): Option[Int] =
    if (!java.nio.file.Files.exists(pointerFile(dir))) None
    else scala.util.Try(new String(
      java.nio.file.Files.readAllBytes(pointerFile(dir)),
      java.nio.charset.StandardCharsets.UTF_8).trim.stripPrefix("v").toInt)
      .toOption

  /** The data path currently served: pointer names it AND it exists on
    * disk (a pointer orphaned by manual deletion reads as cold). */
  private def servedPath(dir: String): Option[String] =
    currentVersion(dir).map(versionPath(dir, _))
      .filter(p => new java.io.File(p).exists())

  /** ONE inventory codec for every manifest flavor (incremental
    * `.manifest`, staleness `.trained`): version header, optional
    * extra header lines, then `path\tlen|mtime` per file. A version
    * mismatch reads as empty (= cold/retrain) — bump [[FormatVersion]]
    * in ONE place and every manifest invalidates together. */
  private def parseInventory(lines: Seq[String],
      skipHeaders: Int): Map[String, String] =
    if (!lines.headOption.contains(s"v$FormatVersion")) Map.empty
    else lines.drop(1 + skipHeaders).filter(_.nonEmpty).map { l =>
      val i = l.lastIndexOf('\t'); l.substring(0, i) -> l.substring(i + 1)
    }.toMap

  private def renderInventory(entries: Map[String, String],
      extraHeaders: Seq[String]): String =
    (s"v$FormatVersion" +: extraHeaders ++:
      entries.toSeq.sortBy(_._1).map { case (p, sig) => s"$p\t$sig" })
      .mkString("\n")

  /** Serve index `name` over `dataDir`'s `sourceTable`, building it
    * with `build` only when absent or the source files changed.
    * Always returns a parquet scan of the sidecar. */
  def getOrBuild(spark: SparkSession, dataDir: String, name: String,
      sourceTable: String)(build: => DataFrame): DataFrame = {
    val dir = s"${rootFor(dataDir)}/$name"
    val fpFile = java.nio.file.Paths.get(s"$dir.fingerprint")
    val fp = fingerprintOf(spark, s"$dataDir/$sourceTable.parquet")
    val served = servedPath(dir)
    val warm = java.nio.file.Files.exists(fpFile) &&
      new String(java.nio.file.Files.readAllBytes(fpFile),
        java.nio.charset.StandardCharsets.UTF_8) == fp &&
      served.isDefined
    if (!warm) {
      buildsPerformed += 1
      val committed = commitNewVersion(spark, build, dir)
      AtomicFiles.writeAtomically(spark, new org.apache.hadoop.fs.Path(fpFile.toUri), fp)
      spark.read.parquet(committed)
    } else spark.read.parquet(served.get)
  }

  /** Staleness-tolerant variant for WHOLE-CORPUS statistics (IVF/Lloyd
    * centroids, quantizer codebooks): unlike the per-row sidecars,
    * these have no delta path — any change means full retraining — but
    * they are also APPROXIMATIONS whose quality degrades smoothly with
    * corpus drift, so a live ingest stream must not retrain per
    * micro-batch. Policy: retrain only when the source has MUTATED
    * (any previously-trained file rewritten/deleted — the trained
    * state is gone, serving it would be wrong-era data) or when
    * append-only growth exceeds `maxGrowFraction` of the trained
    * state's bytes (file metadata only — no scan). Under the
    * threshold the TRAINED index is served as-is and the caller's
    * routing absorbs the drift — the standard production bargain
    * (FAISS/Milvus retrain on schedule or drift thresholds, never per
    * insert). The trained-state manifest (per-file inventory) rides
    * the same atomic-write protocol as the incremental manifest.
    *
    * Correctness domain: callers must treat the result as an INDEX
    * (candidate geometry), never as query output — exact-result
    * queries (s17/s18/s19's pinned oracles) use [[getOrBuild]], whose
    * any-change invalidation keeps them bit-identical to a cold
    * rebuild. */
  def getOrBuildIfFresh(spark: SparkSession, dataDir: String, name: String,
      sourceTable: String, maxGrowFraction: Double)(build: => DataFrame): DataFrame = {
    require(maxGrowFraction >= 0.0, s"negative growth budget: $maxGrowFraction")
    val dir = s"${rootFor(dataDir)}/$name"
    val trainedFile = java.nio.file.Paths.get(s"$dir.trained")
    val current = fileEntriesOf(spark, s"$dataDir/$sourceTable.parquet")
    val prev: Map[String, String] =
      if (java.nio.file.Files.exists(trainedFile))
        parseInventory(new String(
          java.nio.file.Files.readAllBytes(trainedFile),
          java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq,
          skipHeaders = 0) // older format reads empty: retrain
      else Map.empty
    def bytesOf(m: Map[String, String]): Long =
      m.valuesIterator.map(_.takeWhile(_ != '|').toLong).sum
    val appendOnly = prev.nonEmpty &&
      prev.forall { case (p, sig) => current.get(p).contains(sig) }
    val grown = bytesOf(current) - bytesOf(prev)
    val served = servedPath(dir)
    val fresh = served.isDefined && prev.nonEmpty &&
      (current == prev ||
        (appendOnly && grown <= (bytesOf(prev) * maxGrowFraction).toLong))
    if (!fresh) {
      buildsPerformed += 1
      val committed = commitNewVersion(spark, build, dir)
      AtomicFiles.writeAtomically(spark, new org.apache.hadoop.fs.Path(trainedFile.toUri),
        renderInventory(current, extraHeaders = Nil))
      spark.read.parquet(committed)
    } else {
      if (current != prev) staleServes += 1
      spark.read.parquet(served.get)
    }
  }

  /** Incremental variant for PER-ROW builders — `derive` must map each
    * source row independently of every other row (a document's SimHash
    * depends only on that document), which makes the index itself
    * row-decomposable: when the source GROWS (ingest appends new
    * parquet files; existing files untouched — the CDC/batch-ingest
    * case), the delta build derives ONLY the new files' rows and
    * appends them to the sidecar. At 100 TB this is the difference
    * between re-fingerprinting the corpus per ingest batch and paying
    * O(batch): the index write amortizes to the ingest rate, not the
    * corpus size. Any rewrite/delete of an already-indexed file falls
    * back to a full rebuild (the manifest records per-file len|mtime,
    * so in-place mutation is detected, never silently served stale).
    * Served rows are identical to a cold full build in every path —
    * the manifest changes WHEN derivation work happens, never what a
    * query returns. */
  def getOrBuildIncremental(spark: SparkSession, dataDir: String, name: String,
      sourceTable: String)(derive: DataFrame => DataFrame): DataFrame = {
    val dir = s"${rootFor(dataDir)}/$name"
    val manifest = java.nio.file.Paths.get(s"$dir.manifest")
    val srcDir = s"$dataDir/$sourceTable.parquet"
    val current = fileEntriesOf(spark, srcDir)
    // manifest v2: header, the VALID delta-directory names, then the
    // per-file inventory. The delta list is what makes a crash between
    // delta-write and manifest-update safe: a delta dir the manifest
    // does not vouch for is an orphan and gets pruned before anything
    // is served or diffed (the r11 hazard — orphan delta_h({B}) plus a
    // later delta_h({B,C}) would serve B's rows twice).
    val (prev, validDeltas): (Map[String, String], Set[String]) =
      if (java.nio.file.Files.exists(manifest)) {
        val lines = new String(java.nio.file.Files.readAllBytes(manifest),
          java.nio.charset.StandardCharsets.UTF_8).linesIterator.toSeq
        // the deltas header is trusted ONLY under the current format
        // version — a version-mismatched manifest must read fully cold
        // (empty inventory AND no vouched deltas), so the reconcile
        // pass prunes the old derivation's delta dirs instead of
        // serving them
        val deltas = lines.drop(1).headOption match {
          case Some(d) if lines.headOption.contains(s"v$FormatVersion") &&
              d.startsWith("deltas=") =>
            d.stripPrefix("deltas=").split(',').filter(_.nonEmpty).toSet
          case _ => Set.empty[String]
        }
        (parseInventory(lines, skipHeaders = 1), deltas)
      } else (Map.empty, Set.empty)
    // the versioned data root this index currently serves — deltas
    // APPEND files inside it (reader-safe: an in-flight reader's
    // planned file list stays valid), full rebuilds commit a NEW
    // version next to it (reader-isolated, see commitNewVersion)
    var served = servedPath(dir)
    // reconcile BEFORE building: any delta_* subdirectory not recorded
    // in the manifest is a crash orphan — its rows are not covered by
    // the inventory diff, so a later delta may re-derive them; delete
    // it (the next diff re-derives its rows exactly once). Stale
    // `_building_*` scratch dirs (crash mid-delta-write) are dead
    // weight — invisible to Spark's listing but not free on disk — so
    // the same pass removes them.
    served.map(new java.io.File(_)).foreach { dataDir =>
      val children = Option(dataDir.listFiles()).getOrElse(Array.empty)
      children.filter(f => f.isDirectory &&
          ((f.getName.startsWith("delta_") && !validDeltas.contains(f.getName)) ||
            f.getName.startsWith("_building_")))
        .foreach { orphan =>
          val p = new org.apache.hadoop.fs.Path(orphan.getAbsolutePath)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
    }
    val mutated = prev.exists { case (p, sig) => !current.get(p).contains(sig) }
    def writeManifest(deltas: Set[String]): Unit =
      AtomicFiles.writeAtomically(spark, new org.apache.hadoop.fs.Path(manifest.toUri),
        renderInventory(current, extraHeaders = Seq(s"deltas=${deltas.toSeq.sorted.mkString(",")}")))
    if (prev.nonEmpty && served.isDefined && !mutated) {
      val newFiles = (current.keySet -- prev.keySet).toSeq.sorted
      if (newFiles.nonEmpty) { // append-only growth: delta build
        buildsPerformed += 1
        incrementalAppends += 1
        // the delta is committed by RENAME (scratch name is
        // `_`-prefixed → invisible to Spark's listing), and becomes
        // servable only when the manifest update records it — crash at
        // any point leaves either nothing or an orphan that the next
        // call's reconcile pass removes
        val tag = java.security.MessageDigest.getInstance("MD5")
          .digest(newFiles.mkString("\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .map("%02x".format(_)).mkString.take(16)
        val scratch = new org.apache.hadoop.fs.Path(s"${served.get}/_building_$tag")
        val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
        derive(spark.read.parquet(newFiles: _*))
          .write.mode("overwrite").parquet(scratch.toString)
        val target = new org.apache.hadoop.fs.Path(s"${served.get}/delta_$tag")
        fs.delete(target, true) // replayed delta: overwrite
        if (!fs.rename(scratch, target))
          throw new java.io.IOException(
            s"delta commit failed: rename $scratch -> $target returned " +
              "false; manifest not updated")
        writeManifest(validDeltas + s"delta_$tag")
      } else if (current != prev) writeManifest(validDeltas) // shrunk-proof: unreachable; keep inventory honest
      // else: unchanged — serve warm
    } else {
      if (!(served.isDefined && current == prev)) {
        buildsPerformed += 1 // cold, mutated, or shrunk: full rebuild
        // a NEW version — also starts with zero delta dirs, so the
        // manifest's delta list resets to empty
        served = Some(
          commitNewVersion(spark, derive(spark.read.parquet(srcDir)), dir))
      }
      writeManifest(Set.empty)
    }
    // recursive lookup flattens base + delta_* subdirectories into one
    // scan (plain partition discovery would misread delta dirs)
    spark.read.option("recursiveFileLookup", "true").parquet(served.get)
  }
}
