package graft.streaming

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CDC sink into a live SQL database over JDBC — the reference's
  * actual target shape (Postgres→Postgres replication into the
  * `target` database, reference quickstart_prepare_peers.sh:16–19 and
  * README.md:99–106; our [[KeyedParquetStore]] is the lakehouse
  * analogue, this is the database-parity path).
  *
  * Apply semantics: the input batch is the change set resolved by the
  * engine's apply rule ([[ApplyRule.resolve]] — exactly one row per
  * key, the winner's `op` and image), and
  * each partition applies DELETE-then-INSERT per key in ONE
  * transaction:
  *
  *  - delete+insert IS the portable upsert: identical end state on
  *    every engine (MERGE/ON CONFLICT syntax differs per database;
  *    row-at-a-time SELECT-then-branch is two round trips per key);
  *  - idempotent: replaying a batch (Structured Streaming foreachBatch
  *    is at-least-once) reconverges to the same state — effective
  *    exactly-once without sink-side transaction coordination;
  *  - per-partition batching: one connection, two prepared statements,
  *    `executeBatch` per statement — thousands of keys per round trip,
  *    not one;
  *  - the batch arrives hash-partitioned by key (the dedup window
  *    already shuffled on key), so no two tasks touch the same key —
  *    transactions can't deadlock on row locks.
  *
  * At scale the knob is the partition count of the deduped batch:
  * each partition is one database connection — `repartition(n, key)`
  * upstream to match the target's connection/write capacity.
  *
  * Deployment requirements (idempotency holds for SEQUENTIAL replay,
  * not for two concurrent attempts over the same keys):
  *
  *  - the target table MUST have a primary/unique key on `keyCol`:
  *    a zombie or speculative duplicate task attempt interleaving
  *    delete/insert with the original then fails on the constraint
  *    and rolls back, instead of silently double-inserting rows;
  *  - run with `spark.speculation=false` (the default) for this sink —
  *    speculative attempts are exactly the concurrent-duplicate case.
  */
object JdbcMirror {

  // Identifiers are interpolated into SQL text (prepared-statement
  // parameters can't bind identifiers); schemas/keyCols flow in from
  // configuration, so restrict to word characters with optional
  // schema qualification rather than trusting the caller to quote.
  private val IdentRe = "^[A-Za-z_][A-Za-z0-9_]*(\\.[A-Za-z_][A-Za-z0-9_]*)?$".r
  private def checkIdent(id: String, what: String): Unit =
    require(IdentRe.findFirstIn(id).isDefined,
      s"$what '$id' is not a plain (optionally schema-qualified) SQL identifier")

  /** Apply a deduped change batch (`op` + row columns, one row per
    * key) to `table`. Columns other than `op` must match the target
    * table's columns by name. The target table must carry a PK/unique
    * constraint on `keyCol` (see object docs). */
  def applyChanges(
      changes: DataFrame,
      url: String,
      table: String,
      keyCol: String,
      props: Properties = new Properties()): Unit = {
    val dataCols = changes.schema.fieldNames.filter(_ != "op").toSeq
    require(dataCols.contains(keyCol), s"key column $keyCol missing from batch")
    checkIdent(table, "table name")
    dataCols.foreach(checkIdent(_, "column name"))
    val insertSql =
      s"""INSERT INTO $table (${dataCols.mkString(", ")})
          VALUES (${dataCols.map(_ => "?").mkString(", ")})"""
    val deleteSql = s"DELETE FROM $table WHERE $keyCol = ?"
    val keyIdx = changes.schema.fieldIndex(keyCol)
    val opIdx = changes.schema.fieldIndex("op")
    val colIdxs = dataCols.map(changes.schema.fieldIndex)
    val driver = Option(props.getProperty("driver"))
    changes.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        driver.foreach(Class.forName)
        val conn = DriverManager.getConnection(url, props)
        try {
          conn.setAutoCommit(false)
          val del = conn.prepareStatement(deleteSql)
          val ins = conn.prepareStatement(insertSql)
          rows.foreach { r =>
            // one row per key (LWW-deduped): all deletes land before
            // all inserts of the same batch, so delete-then-insert
            // per key holds even across the two statement batches
            del.setObject(1, r.get(keyIdx))
            del.addBatch()
            if (r.getString(opIdx) != "D") {
              colIdxs.zipWithIndex.foreach { case (ci, pi) =>
                ins.setObject(pi + 1, r.get(ci))
              }
              ins.addBatch()
            }
          }
          del.executeBatch()
          ins.executeBatch()
          conn.commit()
          del.close(); ins.close()
        } catch {
          case e: Throwable =>
            try conn.rollback() catch { case _: Throwable => () }
            throw e
        } finally conn.close()
      }
    }
  }

  /** Chunked `key IN (…)` partition predicates for the TOAST
    * read-back: each chunk is one JDBC partition's WHERE clause, so
    * the database serves the read-back with `chunk`-sized index
    * probes — batch-sized work however large the target table is.
    * Keys are numeric envelope keys rendered as literals (no string
    * quoting surface); the key column is identifier-checked by the
    * caller. Sorted so chunk membership is deterministic. An empty
    * key set yields one always-false predicate (`1 = 0`) — a degenerate
    * call still returns an empty frame with the right schema rather
    * than scanning. */
  private[graft] def keyInPredicates(keyCol: String, keys: Seq[Long],
      chunk: Int = 1000): Array[String] = {
    require(chunk > 0, s"chunk must be positive: $chunk")
    if (keys.isEmpty) Array("1 = 0")
    else keys.distinct.sorted.grouped(chunk)
      .map(ks => s"$keyCol IN (${ks.mkString(", ")})").toArray
  }

  /** Apply one raw envelope micro-batch (multi-table fan-out, then the
    * apply rule per table) into JDBC targets — the foreachBatch body of
    * a database-to-database mirror. Table name passes through
    * unchanged; pass a `tableNameOf` to map namespaces.
    *
    * A slice without unchanged-TOAST markers ([[CdcPipeline.UnchangedToast]])
    * runs the plain rule — no target rows, no carried columns, as
    * [[CdcPipeline.lastImagePerKey]] does — so marker-free batches, the
    * steady state, never touch the target for reads. A marked slice
    * runs the rule with the TARGET table's current rows as its base
    * (read back over the same JDBC connection properties), exactly as
    * the parquet store's merge runs it over its stored rows: a marker
    * inherits in-batch first, then from the target row (for a marked
    * key move, the old key's — through a chain of marked moves, the
    * key the chain started from), and fails loudly with neither — so
    * a psql→psql mirror keeps its wide text columns through partial
    * UPDATEs, the behavior the reference relies on
    * (volumes/postgresql.conf:3). Only the winners of the slice's own
    * keys are written; the base rows they did not touch are dropped.
    *
    * The read-back is BATCH-SIZED, not target-sized: the marked rows'
    * lookup keys (own key + beforeKey) collect to the driver — bounded
    * by the micro-batch's marker count — and ship back as chunked
    * `WHERE <key> IN (…)` partition predicates
    * ([[keyInPredicates]]), one database-side index probe per chunk
    * instead of a full table scan. */
  def applyEnvelopeBatch(
      batch: DataFrame,
      url: String,
      schemas: Map[String, StructType],
      keyCols: Map[String, String],
      props: Properties = new Properties(),
      tableNameOf: String => String = identity): Unit =
    CdcPipeline.withPinnedBatch(batch) { (pinned, slices) =>
      val spark = pinned.sparkSession
      slices.foreach { case (table, s) =>
        val (schema, keyCol) = (schemas(table), keyCols(table))
        val slice = pinned.filter(col("table") === table)
        val base = Option.when(s.toasts > 0L) {
          checkIdent(tableNameOf(table), "table name")
          checkIdent(keyCol, "key column")
          // lookup keys: the marked rows' own keys and the old keys of
          // the marked moves. Driver collect bounded by the batch's
          // marker count.
          val keys = slice.filter(CdcPipeline.marked).select(col("key")).distinct()
            .collect().map(_.getLong(0)).toSeq ++ s.markedMoves.map(_.from.toLong)
          // the database may report its column names in another case
          spark.read.jdbc(url, tableNameOf(table), keyInPredicates(keyCol, keys), props)
            .select(schema.fieldNames.toSeq.map(f => col(f).as(f)): _*)
        }
        applyChanges(CdcPipeline.resolve(slice, schema, keyCol, base, s.markedMoves,
            carry = s.toasts > 0L, where = s"table '${tableNameOf(table)}'").filter(col("op").isNotNull),
          url, tableNameOf(table), keyCol, props)
      }
    }
}
