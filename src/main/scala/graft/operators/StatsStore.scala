package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.AtomicFiles

/** Persisted ANALYZE-style statistics for the join advisor (r10
  * verdict ask #5): at warehouse scale, statistics are collected ONCE
  * per (table, key) and reused by every subsequent planning decision —
  * re-sketching a side on each `advise()` call re-scans data the
  * optimizer has already measured.
  *
  * The store is one tiny text file, `<path>/_graft_stats`, with a row
  * per (table, key): physical and non-null-key row counts, the
  * Count-Min sketch blob, the HLL distinct estimate, and the
  * Misra-Gries heavy-hitter candidates — exactly [[JoinAdvisor]]'s
  * one-pass statistics row, all mergeable sketch blobs of a few KB.
  * ANALYZE output is always driver-tiny (~KBs per table, regardless of
  * data size), so the driver reads it with no Spark job and upserts it
  * by rewriting the file in one atomic replace ([[AtomicFiles]]): a
  * reader sees the old rows or the new ones, never a torn file.
  *
  * INVALIDATION ON APPEND: every stored row carries a fingerprint of
  * the side's input files (path + length + mtime, from `df.inputFiles`
  * — driver-side filesystem METADATA, no data scan). Appending,
  * rewriting, or deleting any input file changes the fingerprint, so
  * `get` misses and the next `getOrAnalyze` re-sketches — stale
  * statistics can never serve a grown table. Derived relations (a
  * projected/filtered view of a table) are the CALLER's naming
  * concern: stats of `lineitem` with a skew-transformed key are not
  * stats of `lineitem` — name them distinctly (j12 uses
  * "j12_li_skewed").
  *
  * Safety net: the advisor's decisions change only PHYSICS (broadcast
  * vs salt vs shuffle, join order) — inner equi-join output is
  * row-identical under every strategy — so even a wrong served
  * statistic can cost performance, never correctness.
  * [[StatsStore.FormatVersion]] pins the sketch parameterization; a
  * row written by an older sketch format misses rather than mislead.
  */
class StatsStore(spark: SparkSession, val path: String) {
  import StatsStore._

  /** Statistics scans this instance actually executed — the spec's
    * evidence that repeated advise/executeChain calls are served from
    * one ANALYZE pass. */
  @volatile var scansPerformed: Long = 0L

  private val cache = mutable.Map.empty[(String, String), StoredStats]

  /** Fingerprint of a relation's input files: driver-side metadata
    * only (list + length + mtime), no job, no data read. Empty-input
    * relations (pure in-memory data) fingerprint as "mem" and are
    * never persisted-served — there is no change signal to invalidate
    * on. */
  private[operators] def fingerprintOf(df: DataFrame): String = {
    val files = df.inputFiles.sorted
    if (files.isEmpty) "mem"
    else {
      val conf = spark.sparkContext.hadoopConfiguration
      val md = java.security.MessageDigest.getInstance("MD5")
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val st = p.getFileSystem(conf).getFileStatus(p)
        md.update(s"$f|${st.getLen}|${st.getModificationTime}\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
      s"${files.length}:${md.digest().map("%02x".format(_)).mkString}"
    }
  }

  private val file = new org.apache.hadoop.fs.Path(path, "_graft_stats")

  private def readAll(): Seq[StoredStats] =
    AtomicFiles.read(spark, file).toSeq.flatMap(_.linesIterator.flatMap(decode))

  private def writeAll(rows: Seq[StoredStats]): Unit =
    AtomicFiles.writeAtomically(spark, file, rows.map(encode).mkString("\n"))

  /** Stored statistics for (table, key) if present AND still valid for
    * `df`'s current input files; None on miss or fingerprint drift. */
  def get(df: DataFrame, table: String, key: String): Option[JoinAdvisor.SideStats] = {
    val fp = fingerprintOf(df)
    if (fp == "mem") return None
    val hit = cache.get((table, key))
      .orElse {
        val fromDisk = readAll().find(r => r.table == table && r.key == key)
        fromDisk.foreach(r => cache((table, key)) = r)
        fromDisk
      }
    hit.filter(_.fingerprint == fp).map(_.toSideStats)
  }

  /** Serve stored statistics or run ONE sketch pass and persist it. */
  def getOrAnalyze(df: DataFrame, table: String, key: String): JoinAdvisor.SideStats =
    get(df, table, key).getOrElse(analyze(df, table, key))

  /** Run the one-pass statistics scan for (table, key) and upsert the
    * sidecar. Called on miss/drift; also usable as an explicit ANALYZE. */
  def analyze(df: DataFrame, table: String, key: String): JoinAdvisor.SideStats = {
    val fp = fingerprintOf(df)
    scansPerformed += 1
    val s = JoinAdvisor.computeStats(df, key, mgK = MgK)
    if (fp != "mem") {
      val row = StoredStats(table, key, s.physRows, s.keyRows, s.cms,
        s.distinct, s.candidates, fp)
      writeAll(readAll().filterNot(r => r.table == table && r.key == key) :+ row)
      cache((table, key)) = row
    }
    s
  }

  /** ANALYZE several key columns of ONE relation in ONE scan — the
    * chain-advisor path ([[JoinAdvisor.adviseJoinOrderStored]]) needs
    * a fact-side sketch per join key, and k separate analyze calls
    * would scan the fact k times. One map-combined aggregate carries
    * every per-key statistic; each key's row is persisted under
    * (table, key) so later two-sided advises reuse them too. */
  def analyzeKeys(df: DataFrame, table: String,
      keys: Seq[String]): Map[String, JoinAdvisor.SideStats] = {
    if (keys.isEmpty) return Map.empty
    val fp = fingerprintOf(df)
    scansPerformed += 1
    val stats = JoinAdvisor.computeStatsMulti(df, keys, mgK = MgK)
    if (fp != "mem") {
      val rows = stats.map { case (k, s) =>
        k -> StoredStats(table, k, s.physRows, s.keyRows, s.cms,
          s.distinct, s.candidates, fp)
      }
      writeAll(readAll().filterNot(r =>
        r.table == table && keys.contains(r.key)) ++ rows.values)
      rows.foreach { case (k, row) => cache((table, k)) = row }
    }
    stats
  }

  /** Drop every stored row for `table` — the ingest-path hook (a sink
    * that appends to the table calls this; the fingerprint would catch
    * the drift anyway, but an explicit invalidation keeps the sidecar
    * from serving dead weight). */
  def invalidate(table: String): Unit = {
    cache.filterInPlace { case ((t, _), _) => t != table }
    val all = readAll()
    if (all.exists(_.table == table)) writeAll(all.filterNot(_.table == table))
  }
}

object StatsStore {

  /** Bump when the sketch parameterization changes (CMS geometry, HLL
    * precision, MG k) — stored blobs from another format must miss. */
  val FormatVersion: Int = 1

  /** Misra-Gries candidate count used by stored stats — must match
    * what `advise` would use for fresh stats. */
  val MgK: Int = 8

  case class StoredStats(
      table: String, key: String,
      physRows: Long, keyRows: Long,
      cms: Array[Byte], distinct: Long, candidates: Seq[String],
      fingerprint: String) {
    def toSideStats: JoinAdvisor.SideStats =
      JoinAdvisor.SideStats(physRows, keyRows, cms, distinct, candidates)
  }

  private def b64(bytes: Array[Byte]): String = java.util.Base64.getEncoder.encodeToString(bytes)
  private def unb64(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)
  private def b64(s: String): String = b64(s.getBytes("UTF-8"))
  private def text(s: String): String = new String(unb64(s), "UTF-8")

  /** One tab-separated line, [[FormatVersion]] first and one field per
    * candidate last; names, blobs and candidates are base64, so no
    * value can break the line. */
  private def encode(r: StoredStats): String =
    (Seq(FormatVersion.toString, b64(r.table), b64(r.key), r.physRows.toString,
      r.keyRows.toString, b64(r.cms), r.distinct.toString, r.fingerprint) ++
      r.candidates.map(b64)).mkString("\t")

  /** The row a line holds; None for a line of another format. */
  private def decode(line: String): Option[StoredStats] =
    line.split("\t", -1).toSeq match {
      case Seq(v, t, k, phys, keyed, cms, distinct, fp, cands @ _*) if v == FormatVersion.toString =>
        Some(StoredStats(text(t), text(k), phys.toLong, keyed.toLong, unb64(cms),
          distinct.toLong, cands.map(text), fp))
      case _ => None
    }

  /** A store scoped to one data directory (the engine's per-dataset
    * sidecar location): deterministic path under the JVM temp dir,
    * keyed by the directory's absolute path so different datasets
    * never share statistics. */
  def forDir(spark: SparkSession, dataDir: String): StatsStore = {
    val abs = new java.io.File(dataDir).getAbsolutePath
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    new StatsStore(spark,
      s"${sys.props("java.io.tmpdir")}/graft_stats_$tag")
  }
}
