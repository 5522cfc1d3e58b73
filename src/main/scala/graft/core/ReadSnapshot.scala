package graft.core

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.ByteArray

/** A view's read generation: the raw text of its `entries/_manifest.txt`
  * and, when the view has a folds/ dir, of `folds/_manifest.txt`. Every
  * state commit rewrites a manifest with fresh data-file names, so equal
  * text means the view serves exactly the same rows.
  */
private[core] final case class ReadGen(entries: String, folds: Option[String])

/** The whole ordered answer of `list(view)` at one [[ReadGen]], held on
  * the driver: `(kb, key_json, value_json)` rows in `kb` order (map views:
  * then emitting file and emit seq; reduced views: one merged row per
  * key). `getValue`/`listEntries` are answered from it by binary search on `kb`
  * under Spark's unsigned binary order — the order `list` sorts and
  * range-filters by.
  *
  * `keyed`: `limit` counts keys (map views, whose multi-values share a
  * `kb`); otherwise it counts rows (reduced views).
  */
private[core] final class ReadSnapshot(val gen: ReadGen, rows: Seq[Row], keyed: Boolean) {
  private val kb: Array[Array[Byte]] = rows.iterator.map(_.getAs[Array[Byte]](0)).toArray
  private val keyJson: Array[String] = rows.iterator.map(_.getString(1)).toArray
  private val valueJson: Array[String] = rows.iterator.map(_.getString(2)).toArray

  def size: Int = kb.length
  /** Payload held: kb bytes plus key and value JSON chars. */
  val bytes: Long = kb.iterator.map(_.length.toLong).sum +
    keyJson.iterator.map(_.length.toLong).sum + valueJson.iterator.map(_.length.toLong).sum
  def key(i: Int): String = keyJson(i)
  def value(i: Int): String = valueJson(i)

  /** First row whose kb is >= `key` (`strict`: > `key`). */
  private def bound(key: Array[Byte], strict: Boolean): Int = {
    var lo = 0
    var hi = kb.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val c = ByteArray.compareBinary(kb(mid), key)
      if (c < 0 || (strict && c == 0)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Rows at one encoded key, in emit order. */
  def at(key: Array[Byte]): Range = bound(key, strict = false) until bound(key, strict = true)

  /** Rows of `list(view, opts)` in answer order: the gt/gte/lt/lte
    * slice, walked backwards for `reverse`, cut after `opts` limit keys.
    */
  def range(opts: ListOpts): Range = {
    var lo = 0
    var hi = size
    opts.gt.foreach(k => lo = math.max(lo, bound(KeyCodec.encode(k), strict = true)))
    opts.gte.foreach(k => lo = math.max(lo, bound(KeyCodec.encode(k), strict = false)))
    opts.lt.foreach(k => hi = math.min(hi, bound(KeyCodec.encode(k), strict = false)))
    opts.lte.foreach(k => hi = math.min(hi, bound(KeyCodec.encode(k), strict = true)))
    val n = opts.keyLimit.getOrElse(Int.MaxValue)
    var taken = 0
    if (!opts.reverse) {
      var end = lo
      while (end < hi && taken < n) {
        end = if (keyed) math.min(hi, bound(kb(end), strict = true)) else end + 1
        taken += 1
      }
      lo until end
    } else {
      var start = hi
      while (start > lo && taken < n) {
        start = if (keyed) math.max(lo, bound(kb(start - 1), strict = false)) else start - 1
        taken += 1
      }
      hi - 1 to start by -1
    }
  }
}

/** What a driver read of a view at one generation does. */
private[core] object ReadSnapshots {
  sealed trait Route
  /** Answer from this snapshot, with no Spark job. */
  final case class Serve(s: ReadSnapshot) extends Route
  /** Collect the view's whole answer into a snapshot: the second driver
    * read of the generation.
    */
  case object Fill extends Route
  /** Run the Spark read: the first driver read of the generation, or a
    * fill of it was declined under the current cap.
    */
  case object Spark extends Route
}

/** One engine's read snapshots, at most `cap` rows and `byteBudget`
  * payload bytes in all: storing a snapshot evicts the least recently read
  * views until it fits, and a read under a lowered budget evicts down to
  * it first.
  *
  * A generation is filled only on its SECOND driver read, so a loop that
  * alternates commits with single reads keeps the Spark point read it
  * had and never pays for a whole-view collect. A declined fill is
  * remembered per (view, generation, cap), so later reads of an
  * over-budget view go straight to the Spark path.
  */
private[core] final class ReadSnapshots {
  import ReadSnapshots._
  // access order: iteration runs from the least recently read view
  private val byView = new java.util.LinkedHashMap[String, ReadSnapshot](16, 0.75f, true)
  // view -> the generation its last Spark-path read resolved, and the cap
  // a fill of it was declined under (None: not tried yet). A reader that
  // resolved an older generation may overwrite a newer mark; that costs
  // one more Spark read, never a wrong answer.
  private val marks = mutable.Map.empty[String, (ReadGen, Option[Int])]
  private var rows = 0L
  private var bytes = 0L

  /** Routes a driver read of `view` at `gen`, marking a first read. A
    * snapshot of another generation is left in place: it may be newer
    * than `gen`, and a fill of the view replaces it.
    */
  def route(view: String, gen: ReadGen, cap: Int, byteBudget: Long): Route = synchronized {
    evictTo(cap, byteBudget)
    Option(byView.get(view)).filter(_.gen == gen) match {
      case Some(s) => Serve(s)
      case None => marks.get(view) match {
        case Some((`gen`, None)) => Fill
        case Some((`gen`, Some(declinedAt))) if declinedAt == cap => Spark
        case _ => marks(view) = (gen, None); Spark
      }
    }
  }

  /** Stores a filled snapshot; false (and nothing stored) when it alone
    * is over the budget.
    */
  def put(view: String, s: ReadSnapshot, cap: Int, byteBudget: Long): Boolean = synchronized {
    drop(view)
    val fits = s.size <= cap && s.bytes <= byteBudget
    if (fits) {
      evictTo(cap.toLong - s.size, byteBudget - s.bytes)
      byView.put(view, s)
      rows += s.size
      bytes += s.bytes
    }
    fits
  }

  /** Remembers that `view` at `gen` is not to be filled under `cap`. */
  def decline(view: String, gen: ReadGen, cap: Int): Unit =
    synchronized { marks(view) = (gen, Some(cap)) }

  /** Forgets the view's snapshot and marks (its state changed). */
  def drop(view: String): Unit = synchronized {
    marks.remove(view)
    Option(byView.remove(view)).foreach { s => rows -= s.size; bytes -= s.bytes }
  }

  def clear(): Unit = synchronized { byView.clear(); marks.clear(); rows = 0L; bytes = 0L }

  def heldRows: Long = synchronized(rows)

  private def evictTo(rowLimit: Long, byteLimit: Long): Unit = {
    val it = byView.values.iterator
    while ((rows > rowLimit || bytes > byteLimit) && it.hasNext) {
      val s = it.next()
      rows -= s.size
      bytes -= s.bytes
      it.remove()
    }
  }
}
