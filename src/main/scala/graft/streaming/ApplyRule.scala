package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** The engine's one apply rule — PeerDB's ordered apply (SURVEY.md
  * §2.8 C1/C3, volumes/postgresql.conf:3): per key the highest-ranked
  * change wins, a column the winner leaves unset inherits the key's
  * previous value, and a key move takes the old key's image with it.
  * [[KeyedParquetStore.merge]], [[CdcPipeline.asOf]],
  * [[CdcPipeline.lastImagePerKey]] and [[JdbcMirror.applyEnvelopeBatch]]
  * all resolve through [[resolve]]; none spells the rule again. */
private[streaming] object ApplyRule {
  // the per-row order: events carry their rank, base rows a null rank,
  // which sorts below every change
  private val Rank = "_graft_rank"

  /** The boolean events column that marks the new key's row of a key
    * move listed in `movedKeys`; only read when moves are given. */
  val Born = "_graft_born"

  /** Resolve `events` over the `base` rows; writes nothing.
    *
    * `events` carries `op` ("I"|"U"|"D"), the key column and the row
    * image for upserts, ranked by `rank` (the LSN on the apply path); a
    * key may appear several times and its highest-ranked row wins.
    * `base` holds the target's current rows of the keys that matter.
    * Both are aligned to `target`, columns they lack read as null. The
    * output is `op`, then `target`'s columns: one row per key of either
    * input, with the winner's `op` — null for a base row no event
    * touched, "D" for a key whose winner is a delete.
    *
    * `carry`: columns a winner may leave unset. Each takes the value of
    * the highest-ranked row of its key (the winner first, the base row
    * last) that is not a delete and does not hold
    * [[CdcPipeline.UnchangedToast]] there; an explicit NULL is a value.
    * The rule is a whole-partition window aggregate on the same window
    * as `row_number`, so it adds no exchange. A winner that is not a
    * delete and finds no value: with a base, it fails the job
    * (`raise_error`) before anything is written — Postgres omits a
    * TOAST value only for a row that exists, so the feed and the target
    * have diverged; without a base, the winner keeps its own value.
    *
    * `movedKeys` (`_from`, `_to` key columns, rank bounds `_lo` and
    * `_hi`): where a key move's new row may inherit from — each old
    * key's rows ranked in [`_lo`, `_hi`), its base row too when `_lo`
    * is null, join under the new key: a broadcast left join re-keys
    * them, at the cost of one broadcast job; a re-keyed base row ranks
    * at Long.MinValue. [[Born]] marks the new key's row of each such
    * move among the events: the key's rows ranked below its latest one
    * belong to an earlier life and are never carried. A key's own base
    * row, where a replay finds what the first apply wrote, is carried
    * when its life found no value, or only a re-keyed base row and the
    * events never delete the key. The one case this cannot resolve: a
    * replay of events that delete a key, move a marked row onto it from
    * a key whose base row supplies the value, and re-create that old
    * key. The re-keyed base row is then the re-created one; no target
    * records which events it already applied, so a replay cannot be
    * told from a first apply, and the first apply is what is right.
    *
    * `bucketOf`: the store's bucket of a key. When given, both inputs
    * carry a `bucket` column, the rows meet in one shuffle on it, the
    * window partitions by (bucket, key) on that partitioning, and the
    * output ends with `bucket`; a re-keyed row takes its new key's
    * bucket. Without it the window partitions by the key. `where` names
    * the target in the failure message. */
  def resolve(events: DataFrame, rank: Column, keyCol: String, target: StructType,
      base: Option[DataFrame], carry: Seq[String] = Nil, movedKeys: Option[DataFrame] = None,
      bucketOf: Option[Column => Column] = None, where: String = ""): DataFrame = {
    val bucket = bucketOf.map(_ => col("bucket")).toSeq
    val born = movedKeys.map(_ => col(Born)).toSeq
    def align(df: DataFrame, extra: Column*): DataFrame =
      df.select((target.fields.toSeq.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      } ++ extra ++ bucket): _*)
    val incoming = align(events, col("op") +: rank.cast(LongType).as(Rank) +:
      born.map(b => (if (events.columns.contains(Born)) b else lit(false)).as(Born)): _*)
    val union = base.map(b => align(b, lit(null).cast("string").as("op") +:
      lit(null).cast(LongType).as(Rank) +: born.map(_ => lit(false).as(Born)): _*))
      .fold(incoming)(_ unionByName incoming)
    // each row of the union is emitted as is and, when it falls in a
    // move's range, re-keyed (`_moved`); a row in several ranges (a key
    // moved away, re-inserted and moved again) repeats, which no winner
    // or carried value can tell apart
    val ranked = movedKeys.fold(union) { m =>
      val self = struct(union.columns.map(col) :+ lit(false).as("_moved"): _*)
      val rekeyed = struct(union.columns.map {
        case `keyCol` => col("_to").as(keyCol)
        case Rank => coalesce(col(Rank), lit(Long.MinValue)).as(Rank)
        case Born => lit(false).as(Born)
        case "bucket" if bucketOf.isDefined => bucketOf.get(col("_to")).as("bucket")
        case c => col(c)
      } :+ lit(true).as("_moved"): _*)
      union.join(broadcast(m), col(keyCol) === col("_from") &&
          coalesce(col(Rank) < col("_hi"), lit(true)) &&
          coalesce(col(Rank) >= col("_lo"), col("_lo").isNull), "left")
        .select(explode(when(col("_to").isNull, array(self))
          .otherwise(array(self, rekeyed))).as("_r"))
        .select("_r.*")
    }
    val byKey = Window.partitionBy(bucket :+ col(keyCol): _*).orderBy(col(Rank).desc_nulls_last)
    val whole = byKey.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val isDelete = col("op") <=> "D"
    // with moves: a key's rows below its latest marked move in belong to
    // an earlier life, so its carry reads its own rows from that move up,
    // then the re-keyed rows of the life the move came from
    val birth = max(when(col(Born), col(Rank))).over(whole)
    val inLife = col("_moved") || birth.isNull || coalesce(col(Rank) >= birth, lit(false))
    // a moved-into key's own base row is what a replay finds the first
    // apply wrote: it is carried when the life found no value (on a
    // replay the old key's row is gone) or only a re-keyed base row,
    // which on a replay may be a later life of the old key — unless the
    // events delete the key, whose base row then predates the delete
    val ownDeleted = max(isDelete && !col("_moved")).over(whole)
    val carried = carry.map { c =>
      val holds = if (target(c).dataType != StringType) !isDelete
        else !isDelete && !(col(c) <=> CdcPipeline.UnchangedToast)
      def firstOf(rows: Column) =
        first(when(holds && rows, struct(col(c).as("v"), col(Rank).as("r"))), ignoreNulls = true)
          .over(whole)
      (if (movedKeys.isEmpty) firstOf(lit(true))
      else {
        val any = firstOf(inLife)
        val own = firstOf(col(Rank).isNull)
        when(birth.isNotNull && own.isNotNull &&
          (any.isNull || (any("r") === Long.MinValue && !ownDeleted)), own).otherwise(any)
      }).as(s"_carry_$c")
    }
    bucketOf.fold(ranked)(_ => ranked.repartition(col("bucket")))
      .select(col("*") +: row_number().over(byKey).as("_rn") +: carried: _*)
      .filter(col("_rn") === 1)
      .select((col("op") +: target.fields.toSeq.map { f =>
        if (!carry.contains(f.name)) col(f.name)
        else when(col(s"_carry_${f.name}").isNull && !isDelete, base.fold(col(f.name))(_ =>
            raise_error(lit(s"$where: unchanged-TOAST column '${f.name}' " +
              "has no stored image to inherit from - feed and target have " +
              "diverged; re-sync the table (KeyedParquetStore.resync)")).cast(f.dataType)))
          .otherwise(col(s"_carry_${f.name}.v")).as(f.name)
      }) ++ bucket: _*)
  }
}
