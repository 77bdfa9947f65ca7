package graft

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{LongType, StructType}

import graft.streaming.{CdcPipeline, ChangeEvent}

/** The apply rule spelled as a plain sequential replay: a map from key to
  * row, folded over the events in LSN order. It is the control the CDC
  * specs hold the engine's apply paths to — the store merge, `asOf` and
  * the JDBC mirror — and it shares none of their apply code.
  *
  * Hard mode: an insert or update upserts its image; a delete removes
  * the key; an update whose `beforeKey` differs from its key moves the
  * row (the old key goes, the new key takes the image); a column holding
  * the unchanged-TOAST marker keeps the row's previous value — for a
  * move, the old key's. Soft mode: a delete keeps the key's row, its
  * data as it died (nulls for a key never seen), flagged deleted and
  * stamped with the delete's LSN; an upsert is live and stamped with its
  * LSN; a move deletes the old key so. */
object ApplyModel {
  val Marker: String = CdcPipeline.UnchangedToast

  /** Column name → value, the key column included; an absent column
    * reads as null. */
  type Row = Map[String, Any]

  final case class Event(lsn: Long, op: String, key: Long, image: Option[Row] = None,
      beforeKey: Option[Long] = None) {
    def isMove: Boolean = op == "U" && beforeKey.exists(_ != key)

    /** The envelope event of `table`: the image rendered as a JSON
      * object, null for a delete. */
    def envelope(table: String): ChangeEvent =
      ChangeEvent(lsn, new Timestamp(1700000000000L + lsn * 1000), op, table, key,
        image.map(json).orNull, beforeKey)
  }

  private def json(r: Row): String = r.toSeq.sortBy(_._1).map { case (c, v) =>
    val js = v match {
      case null => "null"
      case s: String => "\"" + s + "\""
      case x => x.toString
    }
    s""""$c":$js"""
  }.mkString("{", ",", "}")

  /** Hard-mode state after `e`; an image names its key column. A marker
    * with no previous value is a feed the decoder could not have
    * written. */
  def applyHard(keyCol: String)(state: Map[Long, Row], e: Event): Map[Long, Row] = e.op match {
    case "D" => state - e.key
    case _ =>
      val from = if (e.isMove) e.beforeKey.get else e.key
      val prev = state.get(from)
      val img = e.image.getOrElse(sys.error(s"${e.op} at lsn ${e.lsn} has no image"))
      val resolved = img.map {
        case (c, Marker) => c -> prev.map(_.getOrElse(c, null))
          .getOrElse(sys.error(s"marker at lsn ${e.lsn} has no previous image"))
        case kv => kv
      }
      (state - from) + (e.key -> resolved)
  }

  /** The hard-mode state a replay of `batch` over its own result reaches
    * when no target can resolve it — the one place the engine departs
    * from [[replay]], pinned so it stays that narrow. A marked column
    * whose value no event of the batch holds comes from the stored row
    * of the key its chain of moves started from (the root). On a first
    * apply that row predates the batch. On a replay it is the root's row
    * after the batch, and the moved-onto key's own stored row is what
    * the first apply wrote. The engine carries the own row unless the
    * batch deletes or moves away that key; then the own row may be a
    * life that ended in the batch, the engine carries the root's row,
    * and a root the batch re-creates gives its new value. Neither target
    * records which batches it applied, so nothing tells the cases apart.
    * Returns [[replay]]'s state with those columns so taken. */
  def replayed(before: Map[Long, Row], batch: Seq[Event], keyCol: String): Map[Long, Row] = {
    // per key, the columns its image holds from a stored row, and whose
    type Roots = Map[String, Long]
    val (after, roots, died) = batch.sortBy(_.lsn).foldLeft((before,
      before.map { case (k, r) => k -> (r.keySet - keyCol).map(_ -> k).toMap }, Set.empty[Long])) {
      case ((rows, roots, died), e) if e.op == "D" => (rows - e.key, roots - e.key, died + e.key)
      case ((rows, roots, died), e) =>
        val from = if (e.isMove) e.beforeKey.get else e.key
        val inherited: Roots = e.image.get.collect {
          case (c, Marker) if roots.get(from).exists(_.contains(c)) => c -> roots(from)(c)
        }
        val gone = if (e.isMove) Set(from) else Set.empty[Long]
        (applyHard(keyCol)(rows, e), roots -- gone + (e.key -> inherited), died ++ gone)
    }
    after.map { case (k, r) =>
      k -> (if (!died(k)) r else r ++ roots.getOrElse(k, Map.empty).collect {
        case (c, root) if after.contains(root) => c -> after(root).getOrElse(c, null)
      })
    }
  }

  /** Soft-mode state after `e` (the feed carries no markers). */
  def applySoft(keyCol: String)(state: Map[Long, Row], e: Event): Map[Long, Row] = {
    def dead(k: Long) = state + (k -> (state.getOrElse(k, Map(keyCol -> k)) ++
      Map(CdcPipeline.SoftDeleteCol -> true, CdcPipeline.SyncedLsnCol -> e.lsn)))
    e.op match {
      case "D" => dead(e.key)
      case _ =>
        val before = if (e.isMove) dead(e.beforeKey.get) else state
        before + (e.key -> (e.image.get ++ Map(keyCol -> e.key,
          CdcPipeline.SoftDeleteCol -> false, CdcPipeline.SyncedLsnCol -> e.lsn)))
    }
  }

  /** The state `step` reaches from `initial` over `events` in LSN order. */
  def replay(initial: Map[Long, Row], events: Seq[Event],
      step: (Map[Long, Row], Event) => Map[Long, Row]): Map[Long, Row] =
    events.sortBy(_.lsn).foldLeft(initial)(step)

  /** `rows` as (key → values in `schema`'s order), the key as text. */
  def values(rows: Map[Long, Row], schema: StructType): Map[String, Seq[Any]] =
    rows.map { case (k, r) => k.toString -> schema.fieldNames.toSeq.map(r.getOrElse(_, null)) }

  /** `df`'s rows as (key → values in `schema`'s order), the key as text. */
  def values(df: DataFrame, schema: StructType, keyCol: String): Map[String, Seq[Any]] =
    df.select(schema.fieldNames.toSeq.map(f => df.col(f).as(f)): _*).collect().map { r =>
      String.valueOf(r.get(schema.fieldIndex(keyCol))) -> r.toSeq
    }.toMap

  /** A seeded change stream that keeps decoder discipline: an update, a
    * delete or a move addresses a live key; a marker replaces a column
    * of a live key only; a deleted key returns only by a full-image
    * insert. An insert's key and a move's new key are not live: a fresh
    * key, a key that died, or one time in three the key that died last,
    * so keys return in the batch that deleted or moved them away. One
    * event in four is a move. Images set every
    * column of `schema`: long columns to the LSN, string columns to a
    * fresh value, NULL or — with `markers` — the marker. One delete in
    * twenty addresses a key that never existed (a no-op, or a tombstone
    * with no image in soft mode). One delete or move in three takes the
    * key the last upsert wrote, while it is live, so keys die with an
    * image from the same batch; one move in three moves on the key the
    * last move made, so moves chain, through reused keys too.
    *
    * @param live the keys live before the stream */
  final case class Gen(schema: StructType, keyCol: String, live: Set[Long],
      markers: Boolean, moves: Boolean) {
    private val dataCols = schema.fields.toSeq.filter(_.name != keyCol)

    private def image(rnd: Random, lsn: Long, k: Long, marked: Boolean): Row =
      dataCols.map { f =>
        f.name -> (if (f.dataType == LongType) lsn
          else rnd.nextInt(10) match {
            case 0 => null
            case n if marked && n < 5 => Marker
            case _ => s"v$lsn"
          })
      }.toMap + (keyCol -> k)

    /** `n` events from LSN `lsn0` upward. */
    def events(seed: Long, n: Int, lsn0: Long = 100L): Seq[Event] = {
      val rnd = new Random(seed)
      var alive = live.toVector
      var used = live
      var fresh = 1000L
      var lastMoved = Option.empty[Long]
      var lastDead = Option.empty[Long]
      var lastTouched = Option.empty[Long]
      def newKey(): Long = { fresh += 1; used += fresh; fresh }
      def pick(ks: Iterable[Long]): Long = ks.toVector(rnd.nextInt(ks.size))
      def recent(k: Option[Long]): Option[Long] = k.filter(k => alive.contains(k) &&
        rnd.nextInt(3) == 0)
      def notLive(): Long = {
        val dead = used -- alive
        rnd.nextInt(3) match {
          case 0 if lastDead.exists(dead) => lastDead.get
          case 1 if dead.nonEmpty => pick(dead)
          case _ => newKey()
        }
      }
      (0 until n).map { i =>
        val lsn = lsn0 + i
        val roll = rnd.nextInt(100)
        if (alive.isEmpty || roll < 15) {
          val k = notLive()
          alive :+= k
          lastTouched = Some(k)
          Event(lsn, "I", k, Some(image(rnd, lsn, k, marked = false)))
        } else if (roll < 30) {
          val k = if (rnd.nextInt(20) == 0) newKey() else recent(lastTouched).getOrElse(pick(alive))
          alive = alive.filterNot(_ == k)
          lastDead = Some(k)
          Event(lsn, "D", k)
        } else if (moves && roll < 55) {
          val from = recent(lastMoved).orElse(recent(lastTouched)).getOrElse(pick(alive))
          val to = notLive()
          lastMoved = Some(to)
          lastTouched = Some(to)
          lastDead = Some(from)
          alive = alive.filterNot(_ == from) :+ to
          Event(lsn, "U", to, Some(image(rnd, lsn, to, markers)), Some(from))
        } else {
          val k = pick(alive)
          lastTouched = Some(k)
          Event(lsn, "U", k, Some(image(rnd, lsn, k, markers)))
        }
      }
    }
  }

  /** `events` cut into consecutive batches of 1 to `2 * mean - 1` events. */
  def batches(seed: Long, events: Seq[Event], mean: Int): Seq[Seq[Event]] = {
    val rnd = new Random(seed ^ 0x5deece66dL)
    Iterator.unfold(events) { rest =>
      Option.when(rest.nonEmpty)(rest.splitAt(1 + rnd.nextInt(2 * mean - 1)))
    }.toSeq
  }
}
