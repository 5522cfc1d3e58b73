package graft.core

import java.util.Arrays

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.ByteArray

/** A view's read generation: the raw text of its `entries/_manifest.txt`
  * and, when the view is materialized and has a folds/ dir, of
  * `folds/_manifest.txt` (a view that is not materialized never reads
  * folds). A materialized reduced view other than a Fold answers from
  * its folds alone, so while its folds manifest exists `entries` is
  * empty and only the folds text is read. Every state commit renames a
  * new manifest with fresh data-file names over the old one, so equal
  * text means the view serves exactly the same rows. A driver read gets
  * the text from [[ManifestPins]]: one stat of each manifest while it is
  * the file the engine holds open, a read of its bytes after it was
  * replaced.
  */
private[graft] final case class ReadGen(entries: String, folds: Option[String])

/** The whole ordered answer of `list(view)` at one [[ReadGen]], held on
  * the driver: one row per `(kb, key_json, value_json)` row in `kb` order
  * (map views: then emitting file, emit seq and value; reduced views:
  * one merged row per key). Key and value JSON are parsed once, here,
  * into one [[Entry]] per row; `getValue`/`listEntries` hand out those
  * shared values (`Json.parse` builds immutable ones). Rows are found by binary
  * search on `kb` under Spark's unsigned binary order — the order `list`
  * sorts and range-filters by.
  *
  * `keyed`: `limit` counts keys (map views, whose multi-values share a
  * `kb`); otherwise it counts rows (reduced views).
  */
private[graft] final class ReadSnapshot(val gen: ReadGen, rows: Seq[Row], keyed: Boolean) {
  private val kb: Array[Array[Byte]] = rows.iterator.map(_.getAs[Array[Byte]](0)).toArray
  private val entryAt: Array[Entry] =
    rows.iterator.map(r => Entry(Json.parse(r.getString(1)), Json.parse(r.getString(2)))).toArray
  // map views: row -> the values of its key, one Vector per key shared by
  // its rows (a multi-value getValue hit allocates nothing)
  private val keyValues: Array[Vector[Any]] =
    if (!keyed) null
    else {
      val out = new Array[Vector[Any]](kb.length)
      var i = 0
      while (i < kb.length) {
        val (from, end) = (i, keyEnd(i, kb.length))
        val v = Vector.tabulate(end - from)(j => entryAt(from + j).value)
        while (i < end) { out(i) = v; i += 1 }
      }
      out
    }

  def size: Int = kb.length
  /** An upper bound on the heap bytes the rows hold (see [[ReadSnapshot.heapBytes]]). */
  val bytes: Long = {
    var n = 0L
    var i = 0
    while (i < kb.length) {
      n += ReadSnapshot.RowBytes + kb(i).length +
        ReadSnapshot.heapBytes(entryAt(i).key) + ReadSnapshot.heapBytes(entryAt(i).value)
      if (keyed && (i == 0 || (keyValues(i) ne keyValues(i - 1)))) n += ReadSnapshot.KeyBytes
      i += 1
    }
    n
  }
  /** The entries of rows `r` (an ascending or descending run), in its order. */
  def entries(r: Range): Seq[Entry] =
    if (r.isEmpty) Nil
    else if (r.step > 0) ArraySeq.unsafeWrapArray(Arrays.copyOfRange(entryAt, r.head, r.last + 1))
    else ArraySeq.unsafeWrapArray(Arrays.copyOfRange(entryAt, r.last, r.head + 1)).reverse
  /** The values of the rows `at` one key: for a map view the Vector that
    * every read of the key shares.
    */
  def values(r: Range): Vector[Any] =
    if (r.isEmpty) Vector.empty
    else if (keyed) keyValues(r.start)
    else Vector(entryAt(r.start).value)

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

  /** The end of the run of rows that share row `i`'s kb, at most `hi`:
    * galloping, so a unique key costs one compare and a key of n rows
    * O(log n).
    */
  private def keyEnd(i: Int, hi: Int): Int = {
    val k = kb(i)
    var last = i // a row known to hold k
    var step = 1
    while (step < hi - last && Arrays.equals(kb(last + step), k)) { last += step; step *= 2 }
    var lo = last + 1
    var end = if (step < hi - last) last + step else hi
    while (lo < end) {
      val mid = (lo + end) >>> 1
      if (Arrays.equals(kb(mid), k)) lo = mid + 1 else end = mid
    }
    lo
  }

  /** The start of the run of rows that share row `i`'s kb, at least `lo`. */
  private def keyStart(i: Int, lo: Int): Int = {
    val k = kb(i)
    var first = i
    var step = 1
    while (step <= first - lo && Arrays.equals(kb(first - step), k)) { first -= step; step *= 2 }
    var start = if (step <= first - lo) first - step + 1 else lo
    var hi = first
    while (start < hi) {
      val mid = (start + hi) >>> 1
      if (Arrays.equals(kb(mid), k)) hi = mid else start = mid + 1
    }
    start
  }

  /** Rows at one encoded key, in emit order. */
  def at(key: Array[Byte]): Range = {
    val i = bound(key, strict = false)
    if (i < size && Arrays.equals(kb(i), key)) i until keyEnd(i, size) else i until i
  }

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
        end = if (keyed) keyEnd(end, hi) else end + 1
        taken += 1
      }
      lo until end
    } else {
      var start = hi
      while (start > lo && taken < n) {
        start = if (keyed) keyStart(start - 1, lo) else start - 1
        taken += 1
      }
      hi - 1 to start by -1
    }
  }
}

private[graft] object ReadSnapshot {
  /** Per row, besides its kb bytes and parsed values: the kb array's
    * header, the [[Entry]], three array slots and a slot in its key's
    * values Vector, with 8-byte references.
    */
  private val RowBytes = 96L
  /** Per key of a map view: its values Vector and the Vector's arrays. */
  private val KeyBytes = 128L

  /** An upper bound on the heap bytes of a parsed [[Json]] value on a
    * 64-bit JVM, compressed references or not: strings at two bytes a
    * char, objects and arrays with room for their trie nodes, entry
    * tuples and boxed indexes. ReadSnapshotSpec checks it against
    * Spark's `SizeEstimator`.
    */
  def heapBytes(v: Any): Long = v match {
    case s: String => 56L + 2L * s.length
    case m: collection.Map[_, _] =>
      var n = 192L
      m.foreach { case (k, x) => n += 96L + heapBytes(k) + heapBytes(x) }
      n
    case xs: Iterable[_] =>
      var n = 64L
      xs.foreach(x => n += 16L + heapBytes(x))
      n
    case _ => 24L // a boxed number or boolean, or null
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
  * heap bytes in all: storing a snapshot evicts the least recently read
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
  def heldBytes: Long = synchronized(bytes)

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
