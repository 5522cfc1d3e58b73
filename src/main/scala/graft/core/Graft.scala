package graft.core

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Range-query options — the reference's `list(view, opts)`
  * (/root/reference/README.md, lib/view.js:67). Bounds are compound keys
  * (bare scalars accepted); `limit` counts KEYS for map views (the
  * reference limits the LevelDB key stream, then flattens multi-values).
  * A negative limit means no limit — levelup's `limit: -1` default,
  * which the reference's `list` passes through.
  */
final case class ListOpts(
    gt: Option[Seq[Any]] = None,
    gte: Option[Seq[Any]] = None,
    lt: Option[Seq[Any]] = None,
    lte: Option[Seq[Any]] = None,
    limit: Option[Int] = None,
    reverse: Boolean = false) {
  private[core] def keyLimit: Option[Int] = limit.filter(_ >= 0)
}

/** One materialized view entry, driver-side. */
final case class Entry(key: Any, value: Any)

/** Lifecycle notifications — the reference's indexer events
  * (lib/indexer.js:142-175, 300-338): `archive-indexing` when a pass
  * starts, per-view progress, `archive-indexed` when a pass lands,
  * `indexes-updated` as the "caught up" signal watch users key on, and
  * missing/found/error transitions under watch.
  */
sealed trait GraftEvent { def origin: String }
object GraftEvent {
  final case class ArchiveIndexing(origin: String, version: Long) extends GraftEvent
  final case class IndexProgress(origin: String, view: String, done: Int, total: Int) extends GraftEvent
  final case class ArchiveIndexed(origin: String, version: Long) extends GraftEvent
  final case class IndexesUpdated(origin: String, version: Long) extends GraftEvent
  final case class ArchiveMissing(origin: String) extends GraftEvent
  final case class ArchiveFound(origin: String) extends GraftEvent
  final case class ArchiveError(origin: String, error: Throwable) extends GraftEvent
  /** `view-reset` (reference index.js:113) — reset() is view-scoped, not
    * origin-scoped, so `origin` is empty.
    */
  final case class ViewReset(view: String) extends GraftEvent { def origin: String = "" }
  /** `open` (reference index.js:53): the engine's state catalog loaded.
    * Construction is synchronous here (the reference defers open a
    * tick), so the event is delivered to constructor-passed listeners
    * immediately and REPLAYED once to any listener added later — the
    * same "subscribe after new, still hear open" contract the
    * reference's async open gives its same-tick subscribers.
    */
  case object Open extends GraftEvent { def origin: String = "" }
  /** `open-failed` (reference index.js:57): catalog load threw. Only
    * constructor-passed listeners can observe it — the constructor
    * rethrows, as the reference's open() does after emitting.
    */
  final case class OpenFailed(error: Throwable) extends GraftEvent { def origin: String = "" }
}

/** The engine: a Spark-native re-expression of DatArchiveMapReduce
  * (/root/reference/index.js). Views are defined over archives (file
  * collections); indexing materializes `(kb, key_json, file_url, seq,
  * value_json)` entry rows as parquet partitioned by origin; queries are
  * declarative DataFrame plans over that state.
  *
  * Scale design:
  *   - State is partitioned by origin (`ob=` dirs): (re-)indexing an
  *     origin is a partition-local SNAPSHOT COMMIT (staged files + an
  *     atomically-renamed manifest, r12 — see [[Graft.commitStateWrite]])
  *     — never a full table rewrite; origins index in parallel
  *     trivially, and readers pin the generation they resolved.
  *   - `list` range bounds compile to BinaryType comparisons on `kb`
  *     that push into the parquet scan (row-group pruning via min/max).
  *   - Reduced views aggregate AT QUERY TIME (unless `materialize`d)
  *     with partial aggregation: a `groupBy(kb)` over only the key
  *     range being read.
  *   - Driver reads (`getValue`/`listEntries`) of a view small enough
  *     for `graft.driverCollect.maxRows` (rows, and bytes derived from
  *     it) are answered from a READ SNAPSHOT: the second read of a state
  *     generation collects the view's whole ordered answer once, later
  *     reads of that generation binary-search it on the driver without a
  *     Spark job. Any manifest flip, by any engine on the state root,
  *     invalidates it (see [[ReadSnapshot]] and `readSnapshot`).
  */
class Graft(val spark: SparkSession, val stateRoot: String,
    initialListeners: Seq[GraftEvent => Unit] = Nil) {

  private val views = mutable.LinkedHashMap.empty[String, ViewDef]
  // origin -> last indexed fversion (drives listIndexed/isIndexed)
  private val indexed = mutable.LinkedHashMap.empty[String, Long]
  // (origin, view) -> last indexed fversion. PER VIEW, matching the
  // reference's per-view archiveVersionLevel (view.js:39): a view defined
  // AFTER an origin was indexed starts at -1 and gets a full build on the
  // next index() while current views stay incremental.
  private val viewVersions = mutable.LinkedHashMap.empty[String, Long]
  private def vvKey(origin: String, view: String) = origin + "\n" + view
  // origin -> the Archive object last seen for it — backs the reference's
  // URL-string call forms (index.js:132, 153-158)
  private val archives = mutable.LinkedHashMap.empty[String, Archive]
  // origin -> running watch query (index.js:127-141 watch bookkeeping)
  private val watchers = mutable.LinkedHashMap.empty[String, org.apache.spark.sql.streaming.StreamingQuery]
  private val listeners = mutable.ArrayBuffer.empty[GraftEvent => Unit]
  // serializes whole index/retract passes (state-dir writers) — held
  // across Spark jobs, so it is a SEPARATE monitor from the engine lock,
  // which only guards the in-memory catalog maps and is never held
  // across an action
  private val indexLock = new Object
  // Fold cap-probe cache: a passed FULL-state probe stays valid until the
  // view's entry state changes. stateGen counts state writes per view;
  // foldProbeOkGen records the generation whose probe last passed — a
  // read-heavy deployment then pays the probe once per state version,
  // not once per get/list (r4 verdict finding #4).
  private val stateGen = mutable.Map.empty[String, Long]
  // view -> (state generation, cap) of the last PASSED full-state probe;
  // valid while the generation matches and the current cap is >= the
  // probed one (a pass under a tighter cap implies a pass under a looser)
  private val foldProbeOkGen = mutable.Map.empty[String, (Long, Int)]
  // spec-visible count of actual probe jobs (GraftEngineSpec asserts one
  // probe across repeated reads)
  private[graft] var foldProbeRuns = 0L
  // Driver read snapshots (see readSnapshot), with spec-visible counts of
  // fills (whole-view collects), hits (reads answered with no Spark job)
  // and declined fills
  private val snapshots = new ReadSnapshots
  private val fillLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]
  private[graft] var snapshotFills = 0L
  private[graft] var snapshotHits = 0L
  private[graft] var snapshotDeclines = 0L
  private[graft] def snapshotRowsHeld: Long = snapshots.heldRows
  // state dir -> (data file -> parquet footer (rows, uncompressed bytes))
  // for the dir's current files; data files are never rewritten in place
  private val footerStats = mutable.Map.empty[String, Map[String, (Long, Long)]]
  private def bumpStateGen(view: String): Unit = {
    synchronized { stateGen(view) = stateGen.getOrElse(view, 0L) + 1L }
    snapshots.drop(view)
  }
  private def foldCap: Int = spark.conf.getOption("graft.fold.maxValuesPerKey")
    .map(_.toInt).getOrElse(Graft.defaultFoldCap)
  /** A full-state Fold probe passed for the view's current state under a
    * cap no looser than today's.
    */
  private def foldProbePassed(view: String): Boolean = {
    val cap = foldCap
    synchronized(foldProbeOkGen.get(view).exists { case (g, c) =>
      g == stateGen.getOrElse(view, 0L) && c <= cap
    })
  }

  listeners ++= initialListeners
  // `open` / `open-failed` (reference index.js:53-58): catalog load IS
  // the open. Failure emits to the constructor-passed listeners, then
  // rethrows (the reference's open() also throws after emitting).
  try { loadCatalog(); emit(GraftEvent.Open) }
  catch { case e: Throwable => emit(GraftEvent.OpenFailed(e)); throw e }

  /** Subscribe to lifecycle events ([[GraftEvent]]) — the reference's
    * EventEmitter surface. Listener exceptions are swallowed (an observer
    * must not fail indexing). The one-shot [[GraftEvent.Open]] is
    * replayed to late subscribers (see its scaladoc).
    */
  def addListener(f: GraftEvent => Unit): Unit = {
    synchronized { listeners += f }
    try f(GraftEvent.Open) catch { case _: Throwable => () }
  }

  private def emit(e: GraftEvent): Unit = {
    val ls = synchronized { listeners.toList }
    ls.foreach(l => try l(e) catch { case _: Throwable => () })
  }

  // --- definition ----------------------------------------------------

  private def defineValidated(name: String, view: ViewDef): Unit = synchronized {
    // validate-and-insert under ONE lock acquisition: a check outside it
    // would let two concurrent defines of the same name both pass the
    // duplicate test and silently overwrite
    if (name == null || name.trim.isEmpty)
      throw new SchemaError("view name must be a non-empty string")
    if (views.contains(name))
      throw new SchemaError(s"$name has already been defined")
    if (view == null || view.map == null)
      throw new SchemaError(s"$name: a map definition is required")
    if (view.path == null || view.path.isEmpty)
      throw new SchemaError(s"$name: at least one path pattern is required")
    if (view.path.exists(p => p == null || p.trim.isEmpty))
      throw new SchemaError(s"$name: path patterns must be non-empty strings")
    if (view.path.exists(p => p.trim == "!"))
      throw new SchemaError(s"$name: a negation pattern needs a glob after '!'")
    if (view.reduce != null && view.reduce.contains(null))
      throw new SchemaError(s"$name: reduce must not be null")
    if (view.materialize && (view.reduce == null || view.reduce.isEmpty))
      throw new SchemaError(s"$name: materialize requires a reduce")
    if (view.materialize && view.reduce.exists(_.isInstanceOf[Reduce.Fold]))
      throw new SchemaError(
        s"$name: materialize requires an associative AND commutative reduce " +
          "(Count/Sum/Min/Max, or an Assoc whose function is order-insensitive) " +
          "— per-origin partials of an order-sensitive Fold cannot merge")
    views(name) = view
  }

  /** `damr.define(name, definition)` — rejects ill-formed definitions with
    * [[SchemaError]] (reference view-def.js:4-10).
    */
  def define(name: String, view: ViewDef): Unit = {
    defineValidated(name, view)
    // Reconcile pre-existing folds/ state with THIS definition (outside
    // the engine monitor — refolds run Spark jobs — but serialized with
    // index passes): a view previously indexed without materialize has
    // no (or stale, or partial) folds, and serving them would silently
    // drop whole origins from every aggregate.
    indexLock.synchronized(reconcileFolds(name, view))
  }

  private def viewDef(name: String): ViewDef = synchronized {
    views.getOrElse(name, throw new SchemaError(s"$name is not defined"))
  }
  private def viewNames: Seq[String] = synchronized(views.keys.toSeq)

  // --- indexing ------------------------------------------------------

  /** `damr.index(archive)` — full or incremental depending on what the
    * catalog says was already indexed for this origin. `watch = true` is
    * the reference's one-call `index(archive, {watch: true})`
    * (index.js:127-141): index now, then keep the views maintained until
    * [[unindex]]/[[unwatch]]/[[close]].
    */
  def index(archive: Archive, watch: Boolean = false): Unit = {
    synchronized { archives(archive.url) = archive }
    val preWatchSig: Option[(Long, Long, Long)] = archive match {
      case d: DirArchive if watch => scala.util.Try(listingSig(d)).toOption
      case _ => None
    }
    // Index passes SERIALIZE on indexLock — the reference's indexer is an
    // explicit one-at-a-time queue, and two concurrent snapshot commits
    // into the same view dir would interleave their manifest
    // read-modify-write (the flip is atomic; the read-update cycle is
    // not). Watch ticks of different origins queue here too. (The
    // per-view parallelism below still applies inside each pass —
    // different views, different dirs, different manifests.)
    indexLock.synchronized {
    // one listing/content read SHARED by all view jobs (spill-safe
    // cache, dropped at the end of the pass): unshared, each of N views
    // would re-list the tree and re-read overlapping file contents, and
    // files changing mid-pass would be seen inconsistently across views
    val filesNow = archive.files(spark)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The catalog version is captured BEFORE the view jobs run: a file
    // modified mid-pass then carries fversion > v and is re-processed by
    // the next pass (over-claiming the version would silently skip it).
    // Computed from the persisted snapshot, not archive.version(): for a
    // content-versioned archive the latter would read every file's bytes
    // a second time just for the max.
    val v = filesNow.agg(coalesce(max(col("fversion")), lit(0L))).head() match {
      case r if r.isNullAt(0) => 0L
      case r => math.max(r.getLong(0), 0L)
    }
    emit(GraftEvent.ArchiveIndexing(archive.url, v))
    // Materialize the views CONCURRENTLY: each view's write is an
    // independent Spark job, and submitting them from separate driver
    // threads lets the scheduler interleave their stages (idle cores of
    // one job's tail run the next job's scan). Same pattern a cluster
    // deployment uses for independent output tables.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = Graft.indexPool
    // snapshot the view list + versions under the engine lock: define()
    // may run concurrently (e.g. while watch ticks fire)
    val viewsSnap = synchronized {
      views.toSeq.map { case (n, vd) =>
        (n, vd, viewVersions.getOrElse(vvKey(archive.url, n), -1L))
      }
    }
    val total = viewsSnap.size
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    // Content-versioned archives: hashes aren't monotonic, so "changed"
    // is an equality diff against the per-origin file-version sidecar
    // written by the previous pass — (url, fversion) pairs not in the
    // sidecar are new or rewritten (catches same-mtime rewrites and
    // regressed mtimes that the `> lastV` stamp comparison can't see).
    // PERSISTED so the diff computes once, not once per view job.
    val hashChanged: Option[DataFrame] =
      if (archive.contentVersioned) Some(
        filesNow.join(fileVersions(archive.url),
          filesNow("url") === col("fv_url") && filesNow("fversion") === col("fv_fversion"),
          "left_anti")
          .select(col("url").as("hchg_url"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
    // A sidecar left by a PREVIOUS contentHash-mode pass means lastV is a
    // 63-bit hash no mtime will ever exceed — after a switch back to
    // mtime versioning, the `fversion > lastV` comparison would skip
    // every future change forever. Force one full reprocess, then drop
    // the sidecar so the origin is cleanly back in stamp mode.
    val modeSwitchedToMtime = !archive.contentVersioned &&
      Files.exists(Paths.get(fileVersionsDir(archive.url)))
    val jobs = viewsSnap.map { case (name, view, lastV) => Future {
      val matched = filesNow.filter(view.pathFilter(col("pathname")))
      if (lastV < 0) {
        writeOriginPartition(name, archive.url, mapEntries(view, matched))
        refoldOrigin(name, view, archive.url)
      } else {
        // Incremental: reprocess files whose version advanced PLUS files
        // the index has never seen — a file placed with a backdated
        // mtime (mv, cp -p, tar) has fversion <= lastV but no prior
        // entries, and keying on fversion alone would drop it forever.
        // (A matched file that legitimately emitted zero entries gets
        // re-mapped each pass — idempotent and proportional to such
        // files.) Keep prior entries of unchanged files that still
        // exist; deleted files drop out (retraction, indexer.js:269).
        val knownUrls = entriesForOrigin(name, archive.url)
          .select(col("file_url").as("known_url")).distinct()
        val versionChanged = hashChanged match {
          case Some(h) => matched.join(h, col("url") === col("hchg_url"), "left_semi")
          case None if modeSwitchedToMtime => matched
          case None => matched.filter(col("fversion") > lastV)
        }
        val changed = versionChanged
          .unionByName(matched.join(knownUrls,
            col("url") === col("known_url"), "left_anti"))
          .dropDuplicates("url")
        val currentUrls = matched.select(col("url").as("cur_url"))
        val prior = entriesForOrigin(name, archive.url)
          .join(broadcast(currentUrls), col("file_url") === col("cur_url"), "left_semi")
          .join(broadcast(changed.select(col("url").as("chg_url"))),
            col("file_url") === col("chg_url"), "left_anti")
          .select(Graft.entrySchemaWithPartition.fieldNames.toIndexedSeq.map(col): _*)
        writeOriginPartition(name, archive.url,
          prior.unionByName(mapEntries(view, changed)), readsState = true)
        refoldOrigin(name, view, archive.url)
      }
      emit(GraftEvent.IndexProgress(archive.url, name, done.incrementAndGet(), total))
    } }
    // await ALL jobs before leaving indexLock, even when one fails: a
    // rethrow-on-first-failure would release the lock while later
    // futures are still writing view state, and the next pass (e.g. the
    // watch tick's retry) would race them with concurrent overwrites
    val outcomes = jobs.map(j => scala.util.Try(Await.result(j, Duration.Inf)))
    outcomes.collectFirst { case scala.util.Failure(e) =>
      hashChanged.foreach(_.unpersist(false)); filesNow.unpersist(false); throw e }
    // sidecar AFTER every view landed, BEFORE the catalog claims the
    // version: a failed pass leaves the old sidecar, so the retried pass
    // re-detects the same changed set (idempotent overwrite). Written
    // from the persisted pre-pass snapshot — a file modified mid-pass is
    // absent from it and re-detected next pass.
    if (archive.contentVersioned)
      writeFileVersions(archive.url,
        filesNow.select(col("url").as("fv_url"), col("fversion").as("fv_fversion")))
    else if (modeSwitchedToMtime) deleteDir(fileVersionsDir(archive.url))
    hashChanged.foreach(_.unpersist(false))
    filesNow.unpersist(false)
    synchronized {
      indexed(archive.url) = v
      viewsSnap.foreach { case (name, _, _) =>
        viewVersions(vvKey(archive.url, name)) = v
      }
      saveCatalog()
    }
    emit(GraftEvent.ArchiveIndexed(archive.url, v))
    emit(GraftEvent.IndexesUpdated(archive.url, v))
    }
    if (watch) archive match {
      case d: DirArchive => synchronized {
        if (!watchers.contains(d.url)) {
          // seed the watcher with the PRE-pass listing signature: a change
          // landing during the pass differs from it (first tick re-merges,
          // idempotent), while the common unchanged case skips the
          // redundant full merge the first tick would otherwise run
          this.watch(d, initialSig = preWatchSig)
          ()
        }
      }
      case _ => throw new SchemaError(
        "watch requires a DirArchive (a re-listable file collection)")
    }
  }

  /** `damr.index('dat://x')` / `indexFile('dat://x/path')` URL-string
    * forms (index.js:132, 153-158) — resolve against archives this engine
    * has seen; we cannot conjure an archive from a bare URL the way the
    * reference instantiates a DatArchive.
    */
  def index(url: String): Unit = index(archiveFor(url))
  def index(url: String, watch: Boolean): Unit = index(archiveFor(url), watch)
  def indexFile(fileUrl: String): Unit = {
    val (a, pathname) = resolveFileUrl(fileUrl)
    indexFile(a, pathname)
  }
  def unindexFile(fileUrl: String): Unit = {
    val (a, pathname) = resolveFileUrl(fileUrl)
    unindexFile(a.url, pathname)
  }

  private def archiveFor(url: String): Archive = synchronized {
    archives.getOrElse(url.stripSuffix("/"),
      throw new SchemaError(s"unknown archive $url — pass the Archive object first"))
  }

  private def resolveFileUrl(fileUrl: String): (Archive, String) = synchronized {
    archives.values
      .filter(a => fileUrl.startsWith(a.url) && fileUrl.length > a.url.length &&
        fileUrl.charAt(a.url.length) == '/')
      .toSeq.sortBy(-_.url.length).headOption
      .map(a => (a, fileUrl.substring(a.url.length)))
      .getOrElse(throw new SchemaError(
        s"$fileUrl does not belong to any archive this engine has seen"))
  }

  /** `damr.unindex(archive)` — drop all state derived from the origin
    * (and stop watching it, index.js:67).
    */
  def unindex(origin: String): Unit = {
    unwatch(origin)
    indexLock.synchronized {
      viewNames.foreach { name =>
        // snapshot retraction: the manifest stops serving the origin
        // immediately; its last generation's files linger as the grace
        // generation until compact() retires them (no later commit ever
        // targets a removed origin, so compact is the designated GC)
        Seq(viewDir(name), foldsDir(name)).foreach { dir =>
          if (Files.exists(Paths.get(dir)))
            commitObs(dir, Map(escape(origin) -> Seq.empty[String]))
        }
        bumpStateGen(name)
      }
      deleteDir(fileVersionsDir(origin))
      synchronized {
        viewNames.foreach(name => viewVersions.remove(vvKey(origin, name)))
        indexed.remove(origin)
        saveCatalog()
      }
    }
  }

  /** `damr.indexFile(archive, pathname)` — single-file (re-)index; does
    * not touch the origin catalog (reference semantics).
    */
  def indexFile(archive: Archive, pathname: String): Unit = indexLock.synchronized {
    val file = archive.files(spark).filter(col("pathname") === pathname)
    // a missing (deleted, or typo'd) pathname must NO-OP — without this
    // gate the per-view rewrite below would silently RETRACT the file's
    // existing entries (mapEntries over zero rows). Driver-side metadata
    // check when the archive supports it; one probe job otherwise —
    // either way once per call, not once per view.
    val present = archive.existsFile(spark, pathname)
      .getOrElse(file.limit(1).count() > 0)
    if (present) {
      val snap = synchronized(views.toSeq)
      snap.foreach { case (name, view) =>
        // the pathname is driver-known: test the glob driver-side instead
        // of running a .limit(1).count() Spark job per view per file touch
        if (view.pathMatches(pathname)) {
          val fileUrl = archive.url + pathname
          val prior = entriesForOrigin(name, archive.url)
            .filter(col("file_url") =!= fileUrl)
          writeOriginPartition(name, archive.url,
            prior.unionByName(mapEntries(view, file)), readsState = true)
          refoldOrigin(name, view, archive.url)
        }
      }
    }
  }

  /** `damr.unindexFile` — retract one file's entries. */
  def unindexFile(origin: String, pathname: String): Unit = indexLock.synchronized {
    val fileUrl = origin + pathname
    val snap = synchronized(views.toSeq)
    snap.foreach { case (name, view) =>
      val prior = entriesForOrigin(name, origin).filter(col("file_url") =!= fileUrl)
      writeOriginPartition(name, origin, prior, readsState = true)
      refoldOrigin(name, view, origin)
    }
  }

  /** Compact a view's state: rewrite each origin partition as one file,
    * CLUSTERED BY `kb`. Repeated incremental merges leave an origin's
    * partition as several small files (one per write's task set) with
    * interleaved key ranges; compaction restores scan efficiency without
    * changing contents — the routine small-files pass of any
    * incrementally-maintained table.
    *
    * The kb sort is the storage-layout move of [[graft.functions.Layout]]
    * applied to view state: `get`/`list` push kb point/range predicates
    * into the parquet scan, and row-group min/max stats only prune along
    * the physical order — after compaction each row group covers a
    * narrow kb slice, so a range read skips the rest of the origin
    * (CompactLayoutSpec proves it on real footers). A multi-column
    * Z-ORDER is deliberately NOT used here: origin — the other read
    * dimension — is already the physical partition key (`ob=` dirs), and
    * kb is the only in-partition predicate column; a 1-D z-order IS the
    * sort. `Layout.zorderBy` stays the tool for numeric user tables with
    * two+ independent predicate columns.
    */
  def compact(view: String): Unit = indexLock.synchronized {
    val dir = viewDir(view)
    if (Files.exists(Paths.get(dir))) {
      // one origin at a time: the readsState localCheckpoint then holds
      // exactly ONE origin's entries (the documented sizing invariant) —
      // compacting the whole view in one pass would materialize every
      // origin at once
      liveObs(dir).toList.sorted.foreach { obVal =>
        val rows = stateFrame(dir, Graft.entrySchemaWithPartition)
          .filter(col("ob") === obVal)
          .repartition(col("ob"))
          // kb-clustered layout (see scaladoc); (file_url, seq) as
          // tiebreakers keep multi-value emit order physically contiguous
          .sortWithinPartitions(col("kb"), col("file_url"), col("seq"))
        writeOriginPartition(view, origin = "", rows, readsState = true)
      }
      // compaction is also the GC hook of the snapshot discipline: drop
      // files no generation references (retired grace generations,
      // unindexed-origin leftovers, crashed-commit staging dirs) and
      // manifest rows that serve nothing
      sweepStaleStaging(dir)
      purgeUnreferenced(dir)
      bumpStateGen(view)
    }
  }

  /** Delete data files referenced by NO generation of the manifest
    * (retired garbage, crashed-commit staging leftovers) and drop dead
    * origins from it. LIVE origins keep current AND grace files —
    * pinned readers stay safe through a compact(). RETIRED origins
    * (empty current: unindex/merge-to-zero retractions that no later
    * commit will ever target) are treated as a retirement commit here:
    * their grace files are deleted and the manifest row dropped —
    * compact() counts as the "one subsequent commit" of the grace
    * contract, exactly as a writer-side flip would (r12 advice: these
    * otherwise leaked their last generation forever).
    */
  private def purgeUnreferenced(dir: String): Unit =
    loadManifest(dir).foreach { m0 =>
      val m = m0.filter { case (_, (c, _)) => c.nonEmpty }
      val referenced = m.valuesIterator.flatMap { case (c, p) => c ++ p }.toSet
      listObs(dir).foreach { seg =>
        val od = Paths.get(dir, s"ob=$seg")
        val s = Files.list(od)
        val names =
          try {
            import scala.jdk.CollectionConverters._
            s.iterator().asScala.map(_.getFileName.toString)
              .filter(n => !n.startsWith("_") && !n.startsWith(".")).toList
          } finally s.close()
        names.filterNot(n => referenced(s"ob=$seg/$n"))
          .foreach(n => Files.deleteIfExists(od.resolve(n)))
        val remaining = Files.list(od)
        val empty = try !remaining.iterator().hasNext finally remaining.close()
        if (empty) Files.deleteIfExists(od)
      }
      saveManifest(dir, m)
      spark.catalog.refreshByPath(dir)
    }

  /** `damr.reset(view)` — clear a view's materialized state (and its
    * per-origin index versions, so the next index() rebuilds it fully —
    * reference Indexer.resetIndex semantics).
    */
  def reset(view: String): Unit = {
    indexLock.synchronized {
      deleteDir(viewDir(view))
      deleteDir(foldsDir(view))
      bumpStateGen(view)
      synchronized {
        viewVersions.filterInPlace { case (k, _) => !k.endsWith("\n" + view) }
        saveCatalog()
      }
    }
    emit(GraftEvent.ViewReset(view))
  }

  /** `damr.destroy()` — stops every watch first, or a still-ticking
    * watcher would resurrect state dirs and the catalog under the
    * destroyed root on its next change detection.
    */
  def destroy(): Unit = {
    close()
    indexLock.synchronized {
      deleteDir(stateRoot)
      synchronized {
        indexed.clear()
        viewVersions.clear()
        stateGen.clear()
        foldProbeOkGen.clear()
        footerStats.clear()
      }
      snapshots.clear()
    }
  }

  /** Lifecycle mapping: the reference's `open()` is this constructor
    * (catalog load); `close()` stops every active watch (index.js:67) —
    * state is parquet on disk, the catalog is flushed on every mutation,
    * and the SparkSession belongs to the caller.
    */
  def close(): Unit = {
    // collect under the lock, stop OUTSIDE it: stop() waits for the
    // in-flight micro-batch, whose tick() -> index() needs this lock
    val qs = synchronized { val v = watchers.values.toList; watchers.clear(); v }
    qs.foreach(q => if (q.isActive) q.stop())
  }

  def listIndexed(): Seq[String] = synchronized(indexed.keys.toSeq)
  def isIndexed(origin: String): Boolean = synchronized(indexed.contains(origin))
  /** Last indexed version of an origin (the reference exposes the
    * archive's indexed version through its indexer state).
    */
  def indexedVersion(origin: String): Option[Long] = synchronized(indexed.get(origin))

  // --- queries -------------------------------------------------------

  /** Raw entry state of a view:
    * (kb, key_json, file_url, pathname, seq, value_json, ob).
    *
    * SNAPSHOT-PINNED (r12): the frame resolves the state manifest at
    * construction and scans an explicit file list, so a merge pass
    * committing mid-query cannot delete the files under it — the pin
    * survives one subsequent commit per origin (the grace generation;
    * see the manifest block comment at [[commitStateWrite]]). Only a
    * frame held across TWO commits of the same origin can still lose
    * files — retry, or re-construct the frame.
    */
  def entries(view: String): DataFrame = {
    viewDef(view) // existence check
    stateFrame(viewDir(view), Graft.entrySchemaWithPartition)
  }

  /** `damr.get(view, key)` as a DataFrame of (key_json, value_json):
    * one row per value for map views (ordered by emitting file then emit
    * seq, reference view.js:51), one row for reduced views.
    *
    * Lazy, EXCEPT for Fold views: constructing a Fold read runs the
    * cardinality-cap probe eagerly (see [[reduceEntries]]).
    */
  def get(view: String, key: Any): DataFrame = {
    val kb = KeyCodec.encode(KeyCodec.asKey(key))
    val vd = viewDef(view)
    vd.reduce match {
      case Some(r) if useFolds(view, vd) =>
        // materialized path: merge the per-origin partials at the key —
        // never touches the (much larger) raw entry state
        mergeFolds(folds(view).filter(col("kb") === lit(kb)), r, keepKb = false)
      case Some(r) =>
        reduceEntries(entries(view).filter(col("kb") === lit(kb)), r,
          probeCacheView = Some(view))
      case None =>
        entries(view).filter(col("kb") === lit(kb))
          .orderBy(col("file_url"), col("seq"))
          .select(col("key_json"), col("value_json"))
    }
  }

  /** Driver-side `get` returning parsed values (multi-value for map
    * views, the fold for reduced views) — the reference's return shape.
    * BOUNDED like [[listEntries]]: a map-view key with more than
    * `graft.driverCollect.maxRows` values fails loudly instead of
    * collecting them all (reduced views return one row and never trip).
    * Served from the view's read snapshot when it has one (see
    * [[readSnapshot]]).
    */
  def getValue(view: String, key: Any): Option[Any] = {
    val vd = viewDef(view)
    val what = s"getValue($view, $key)"
    val dfForm = s"get($view, key)"
    val values = readSnapshot(view, vd) match {
      case Some(s) =>
        val at = s.at(KeyCodec.encode(KeyCodec.asKey(key)))
        checkDriverRows(at.size, driverCollectCap, what, dfForm)
        at.map(s.value)
      case None =>
        boundedCollect(get(view, key), what, dfForm).map(_.getAs[String]("value_json"))
    }
    if (values.isEmpty) None
    else vd.reduce match {
      case Some(_) => Some(Json.parse(values.head))
      case None => Some(values.map(Json.parse).toVector)
    }
  }

  /** `damr.list(view, opts)` as a DataFrame of (key_json, value_json)
    * in range order (reversed if asked). The kb bounds push down to the
    * parquet scan.
    *
    * Lazy, EXCEPT for Fold views (constructing a Fold read runs the
    * cardinality-cap probe eagerly, see [[reduceEntries]]) and for
    * limited map views with limit ≤ [[Graft.listKeyInlineMax]], which
    * resolve their ≤ limit winning keys eagerly through
    * [[boundedCollect]] so the main read is one In-pushdown scan.
    */
  def list(view: String, opts: ListOpts = ListOpts()): DataFrame = {
    val vd = viewDef(view)
    val fromFolds = useFolds(view, vd)
    // frame construction is a def: each call pins a FRESH manifest
    // resolution, so the eager limited path below can genuinely retry
    // the two-commit overwrite tail (r12 advice: a val here made
    // boundedCollect's by-name retry replay the same pinned file list
    // five times). The kb range bounds push into whichever state is
    // being scanned — folds for materialized reduced views, raw
    // entries otherwise.
    def buildReduced(): DataFrame =
      rangeRows(view, vd, fromFolds, if (fromFolds) folds(view) else entries(view), opts)
    val reduced = buildReduced()

    val ord = if (opts.reverse) answerOrder(vd).map(_.desc) else answerOrder(vd)

    val limited = opts.keyLimit match {
      case Some(n) if vd.reduce.isEmpty =>
        // Limit counts keys, then multi-values flatten (view.js:73-82).
        val keyOrd = if (opts.reverse) col("kb").desc else col("kb").asc
        def topKeys = buildReduced().select(col("kb")).distinct().orderBy(keyOrd).limit(n)
        if (n <= Graft.listKeyInlineMax) {
          // r12: the winning key set is BOUNDED by n — resolve it once
          // (a distributed TopK, ≤ n kbs back to the driver) and push
          // it into the main scan as an In(kb) literal filter: one
          // state scan instead of two plus a broadcast exchange, and
          // the In predicate prunes parquet row-groups.
          // boundedCollect retries against a FRESH buildReduced() frame
          // per attempt (topKeys is a def), so the overwrite-race
          // defense re-resolves the manifest, not the stale pin.
          val keys = boundedCollect(topKeys, s"list($view) limit keys",
              s"list($view)").map(_.getAs[Array[Byte]]("kb"))
          if (keys.isEmpty) reduced.where(lit(false))
          else reduced.where(col("kb").isin(keys: _*))
        } else reduced.join(broadcast(topKeys), "kb")
      case Some(n) => reduced.orderBy(ord: _*).limit(n)
      case None => reduced
    }
    limited.orderBy(ord: _*).select(col("key_json"), col("value_json"))
  }

  /** The rows of a `list` plan over `state` (the view's entries, or its
    * folds when `fromFolds`), kb range bounds applied, kb kept: map views
    * give (kb, key_json, file_url, seq, value_json), reduced views one
    * (kb, key_json, value_json) row per key.
    */
  private def rangeRows(view: String, vd: ViewDef, fromFolds: Boolean,
      state: DataFrame, opts: ListOpts): DataFrame = {
    var df = state
    opts.gt.foreach(k => df = df.filter(col("kb") > lit(KeyCodec.encode(k))))
    opts.gte.foreach(k => df = df.filter(col("kb") >= lit(KeyCodec.encode(k))))
    opts.lt.foreach(k => df = df.filter(col("kb") < lit(KeyCodec.encode(k))))
    opts.lte.foreach(k => df = df.filter(col("kb") <= lit(KeyCodec.encode(k))))
    vd.reduce match {
      case Some(r) if fromFolds => mergeFolds(df, r, keepKb = true)
      case Some(r) => reduceEntries(df, r, keepKb = true, probeCacheView = Some(view))
      case None => df.select(col("kb"), col("key_json"), col("file_url"), col("seq"), col("value_json"))
    }
  }

  /** Ascending answer order of [[rangeRows]]. */
  private def answerOrder(vd: ViewDef): Seq[Column] =
    if (vd.reduce.isDefined) Seq(col("kb"))
    else Seq(col("kb"), col("file_url"), col("seq"))

  /** Driver-side `list` returning parsed entries — BOUNDED: collects at
    * most `graft.driverCollect.maxRows` rows (default 100k) and fails
    * loudly past that, naming the escape hatches. The cap counts result
    * ROWS (what occupies driver memory); `opts.limit` counts KEYS
    * (reference view.js:73-82), so a limited read can still trip the cap
    * if its keys flatten to more rows than fit. Served from the view's
    * read snapshot when it has one (see [[readSnapshot]]).
    */
  def listEntries(view: String, opts: ListOpts = ListOpts()): Seq[Entry] = {
    val what = s"listEntries($view)"
    val dfForm = s"list($view)"
    readSnapshot(view, viewDef(view)) match {
      case Some(s) =>
        val rows = s.range(opts)
        checkDriverRows(rows.size, driverCollectCap, what, dfForm)
        rows.map(i => Entry(Json.parse(s.key(i)), Json.parse(s.value(i))))
      case None =>
        boundedCollect(list(view, opts), what, dfForm).map { r =>
          Entry(Json.parse(r.getAs[String]("key_json")), Json.parse(r.getAs[String]("value_json")))
        }
    }
  }

  // --- driver read snapshots ------------------------------------------
  //
  // View state changes only at a manifest flip, so a driver read between
  // two commits can be answered from rows the engine already collected.
  // A generation (ReadGen: the view's manifests' bytes, re-read on every
  // call) is filled on its SECOND driver read: the first runs the Spark
  // read as before, the second collects the view's whole ordered answer
  // once through boundedCollect, and later reads of the generation slice
  // it on the driver with no Spark job. So a loop alternating commits
  // with single reads never pays for a whole-view collect. Bounds:
  //   - a view is filled only if the data files of the generation it
  //     scans hold at most graft.driverCollect.maxRows rows and
  //     snapshotByteBudget uncompressed bytes (parquet footers, memoised
  //     per file), so a large or wide view never pays for a wasted
  //     collect and keeps the Spark path; the decline is remembered for
  //     the generation and cap, so it costs the footer pass once;
  //   - all snapshots together hold at most graft.driverCollect.maxRows
  //     rows and snapshotByteBudget payload bytes, least recently read
  //     view evicted first;
  //   - a state dir without a manifest (legacy, streaming sink) is never
  //     snapshotted: nothing tells when it changed;
  //   - a Reduce.Fold view is served only while its cap probe holds a
  //     pass for the current state and cap, so fills never probe and a
  //     lowered cap re-probes through the Spark path.
  // The DataFrame forms (get/list) never use snapshots.

  private def driverCollectCap: Int =
    spark.conf.getOption("graft.driverCollect.maxRows")
      .map(_.toInt).getOrElse(Graft.defaultDriverCollectMax)

  /** Byte bound of a fill and of all snapshots, derived from the row cap. */
  private def snapshotByteBudget(cap: Int): Long = cap.toLong * Graft.snapshotBytesPerRow

  private def checkDriverRows(rows: Int, cap: Int, what: String, dfForm: String): Unit =
    if (rows > cap) throw new IllegalStateException(
      s"$what would materialize more than $cap rows on the driver. " +
        s"Page with ListOpts(limit=...), use the $dfForm DataFrame form " +
        "(distributed, unbounded), or raise spark conf " +
        "graft.driverCollect.maxRows.")

  /** The view's current read generation; None when a state dir it reads
    * has no manifest (never indexed, legacy or streaming-sink dirs).
    */
  private def readGeneration(view: String): Option[ReadGen] = {
    def text(dir: String): Option[String] =
      try Some(new String(Files.readAllBytes(manifestPath(dir)), StandardCharsets.UTF_8))
      catch { case _: java.nio.file.NoSuchFileException => None }
    text(viewDir(view)).flatMap { e =>
      text(foldsDir(view)) match {
        case None if Files.exists(Paths.get(foldsDir(view))) => None
        case f => Some(ReadGen(e, f))
      }
    }
  }

  /** The snapshot to answer a driver read of `view` from; None sends the
    * read down the Spark path (see the block comment above).
    */
  private def readSnapshot(view: String, vd: ViewDef): Option[ReadSnapshot] =
    readGeneration(view).flatMap { gen =>
      val cap = driverCollectCap
      val servable = !vd.reduce.exists(_.isInstanceOf[Reduce.Fold]) || foldProbePassed(view)
      def go(locked: Boolean): Option[ReadSnapshot] =
        snapshots.route(view, gen, cap, snapshotByteBudget(cap)) match {
          case _ if !servable => None
          case ReadSnapshots.Serve(s) => synchronized { snapshotHits += 1 }; Some(s)
          case ReadSnapshots.Spark => None
          // one fill per generation: concurrent readers wait for it
          case ReadSnapshots.Fill if !locked =>
            fillLocks.computeIfAbsent(view, _ => new Object).synchronized(go(locked = true))
          case ReadSnapshots.Fill => fillSnapshot(view, vd, gen, cap)
        }
      go(locked = false)
    }

  /** Collect the view's whole ordered answer, pinned to the generation
    * resolved at each attempt. None, remembered as a decline, when the
    * view is over the budget or has no manifest, or when the collect
    * fails: the Spark path then answers (or fails) exactly as it would
    * without snapshots.
    */
  private def fillSnapshot(view: String, vd: ViewDef, readGen: ReadGen,
      cap: Int): Option[ReadSnapshot] = {
    val byteBudget = snapshotByteBudget(cap)
    var gen = readGen
    def declined(): Option[ReadSnapshot] = {
      snapshots.decline(view, gen, cap)
      synchronized { snapshotDeclines += 1 }
      None
    }
    val rows =
      try boundedCollect({
        gen = readGeneration(view).getOrElse(throw Graft.FillDeclined)
        val fromFolds = vd.reduce.isDefined && vd.materialize && gen.folds.isDefined
        val (dir, schema, text) =
          if (fromFolds) (foldsDir(view), foldsSchema, gen.folds.get)
          else (viewDir(view), Graft.entrySchemaWithPartition, gen.entries)
        val m = parseManifest(dir, text)
        val (n, bytes) = scannedSize(dir, m)
        if (n > cap || bytes > byteBudget) throw Graft.FillDeclined
        rangeRows(view, vd, fromFolds, pinnedFrame(dir, schema, m), ListOpts())
          .orderBy(answerOrder(vd): _*)
          .select(col("kb"), col("key_json"), col("value_json"))
      }, s"listEntries($view)", s"list($view)")
      catch { case scala.util.control.NonFatal(_) => return declined() } // incl. FillDeclined
    val s = new ReadSnapshot(gen, rows, keyed = vd.reduce.isEmpty)
    synchronized { snapshotFills += 1 }
    // answered either way; a snapshot over the byte budget is not kept
    // (footer bytes are encoded sizes, so a dictionary-encoded column can
    // pass the footer check and still collect wider)
    if (!snapshots.put(view, s, cap, byteBudget)) declined()
    Some(s)
  }

  /** Rows and uncompressed bytes in the current data files of a
    * manifest-managed dir, summed from parquet footers on the driver.
    */
  private def scannedSize(dir: String, m: Manifest): (Long, Long) = {
    val files = m.valuesIterator.flatMap(_._1).toSet
    val known = synchronized(footerStats.getOrElse(dir, Map.empty))
    val conf = spark.sparkContext.hadoopConfiguration
    val stats = files.iterator.map { f =>
      f -> known.getOrElse(f, {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$dir/$f"), conf))
        import scala.jdk.CollectionConverters._
        try (r.getRecordCount, r.getFooter.getBlocks.asScala.map(_.getTotalByteSize).sum)
        finally r.close()
      })
    }.toMap
    synchronized { footerStats(dir) = stats }
    (stats.valuesIterator.map(_._1).sum, stats.valuesIterator.map(_._2).sum)
  }

  /** Collect with the driver-OOM guard: one extra row past the cap is
    * fetched to distinguish "exactly cap" from "over cap".
    *
    * `df` is BY-NAME and may run more than once. Since r12 the snapshot
    * manifest is the primary read-vs-commit defense (a pinned frame's
    * files survive one subsequent commit per origin — see
    * [[commitStateWrite]]); this retry remains as defense in depth for
    * the two tails pinning doesn't cover — a frame held across TWO
    * commits of the same origin, and legacy pre-manifest dirs reading
    * whole-dir — where `FAILED_READ_FILE.FILE_NOT_EXIST` can still
    * surface mid-collect. Re-building the frame re-resolves the CURRENT
    * manifest (or re-lists, for legacy dirs), so driver-side point
    * reads (`getValue`/`listEntries`) stay safe under any commit
    * cadence. DataFrame-returning forms stay lazy and keep the bounded
    * caller-visible tail (documented on [[entries]]); only the engine's
    * own collects retry.
    */
  private[graft] def boundedCollect(df: => DataFrame, what: String, dfForm: String): Seq[Row] = {
    val cap = driverCollectCap
    // saturated: cap + 1 overflows to a negative limit at Int.MaxValue
    val fetch = if (cap == Int.MaxValue) cap else cap + 1
    def overwriteRace(t: Throwable): Boolean = {
      var c = t; var depth = 0
      while (c != null && depth < 16) {
        if (c.isInstanceOf[java.io.FileNotFoundException] ||
          String.valueOf(c.getMessage).contains("FILE_NOT_EXIST")) return true
        c = c.getCause; depth += 1
      }
      false
    }
    var rows: Array[Row] = null
    var attempt = 0
    while (rows == null) {
      try rows = df.limit(fetch).collect()
      catch {
        case scala.util.control.NonFatal(t) if overwriteRace(t) && attempt < 5 =>
          attempt += 1; Thread.sleep(200L * attempt)
      }
    }
    checkDriverRows(rows.length, cap, what, dfForm)
    rows.toSeq
  }

  // --- internals -----------------------------------------------------

  private def viewDir(view: String): String = s"$stateRoot/$view/entries"
  private def foldsDir(view: String): String = s"$stateRoot/$view/folds"

  /** Run a view's map over matched files, producing entry rows. */
  private[graft] def mapEntries(view: ViewDef, files: DataFrame): DataFrame = {
    val emitted = view.map match {
      case MapDF(f) =>
        val out = f(files)
        // seq = deterministic per-file emit ordinal for declarative maps
        // (emit order is undefined there; key order is the stable choice).
        out.withColumn("seq",
          row_number().over(Window.partitionBy(col("url")).orderBy(col("kb"), col("value_json"))))
      case MapFn(f) =>
        import spark.implicits._
        val fn = f
        files.select(col("origin"), col("url"), col("pathname"), col("value"))
          .as[(String, String, String, String)]
          .flatMap { case (origin, url, pathname, value) =>
            fn(value, FileMeta(origin, url, pathname)).zipWithIndex.map {
              case ((k, v), i) =>
                val key = KeyCodec.asKey(k)
                (origin, url, pathname, KeyCodec.encode(key), KeyCodec.json(key),
                  Json.render(v), i + 1)
            }
          }
          .toDF("origin", "url", "pathname", "kb", "key_json", "value_json", "seq")
    }
    projectEntries(emitted)
  }

  private def projectEntries(emitted: DataFrame): DataFrame =
    emitted.select(
      col("kb"), col("key_json"),
      col("url").as("file_url"), col("pathname"),
      col("seq"), col("value_json"),
      sha2(col("origin"), 256).substr(1, 16).as("ob"))

  /** The view's map pipeline applied to a STREAMING files DataFrame
    * (Structured Streaming file source with the archive schema
    * `origin,url,pathname,value,fversion`) — the building block for
    * append-only streaming ingestion pipelines (D3). NOTE: this is NOT
    * the A4 watch path — appends cannot retract a modified file's old
    * entries; [[watch]] runs merge passes for that. `seq` is constant in
    * streaming; per-file multi-values order by key bytes.
    */
  def streamEntries(view: String, files: DataFrame): DataFrame = {
    val v = viewDef(view)
    val matched = files.filter(v.pathFilter(col("pathname")))
    v.map match {
      case MapDF(f) => projectEntries(f(matched).withColumn("seq", lit(1)))
      case MapFn(_) => mapEntries(v, matched) // typed flatMap is streaming-safe
    }
  }

  /** A4 watch mode — continuous maintenance of EVERY defined view over a
    * watched directory, with full re-index semantics: new files index,
    * MODIFIED files retract their old entries and re-emit, deleted files
    * retract (the reference fires `indexArchive` on every archive event,
    * indexer.js:82-86 + 217-259 — retract-then-replay, never blind
    * append).
    *
    * Mechanics: Spark's file streaming source keys on path and never
    * re-reads a modified file, so the stream here is a rate-source TICK
    * and each micro-batch does a LISTING DIFF — a 3-aggregate metadata
    * job (count, max fversion, hash of (url, fversion)) that reads no
    * file contents. When the signature moves, the batch runs the same
    * incremental [[index]] pass as the batch API: a per-origin snapshot
    * commit merging prior entries of unchanged files with re-mapped
    * entries of changed ones, keyed on fversion. That makes the write
    * IDEMPOTENT — a replayed batch commits the origin's identical merge
    * result as its next generation instead of appending
    * duplicates, so no streaming-checkpoint coordination is needed.
    *
    * Missing/err transitions surface as [[GraftEvent]]s; each completed
    * pass emits `IndexesUpdated` ("index caught up").
    */
  /** The listing diff fingerprint: (file count, max fversion, xor hash of
    * (url, fversion)) — metadata-only, no content read. bit_xor, not sum:
    * full-range hashes overflow a long sum under ANSI mode, and xor is an
    * order-free set fingerprint.
    */
  private def listingSig(archive: DirArchive): (Long, Long, Long) = {
    val r = archive.files(spark)
      .agg(count(lit(1)), coalesce(max(col("fversion")), lit(0L)),
        coalesce(expr("bit_xor(xxhash64(url, fversion))"), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  def watch(
      archive: DirArchive,
      pollInterval: String = "500 milliseconds",
      initialSig: Option[(Long, Long, Long)] = None): org.apache.spark.sql.streaming.StreamingQuery = synchronized {
    require(!watchers.contains(archive.url), s"${archive.url} is already being watched")
    archives(archive.url) = archive
    val hpath = new org.apache.hadoop.fs.Path(archive.rootPath)
    var lastSig: Option[(Long, Long, Long)] = initialSig
    var missing = false
    def tick(): Unit = try {
      val fs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(hpath)) {
        if (!missing) { missing = true; emit(GraftEvent.ArchiveMissing(archive.url)) }
      } else {
        if (missing) { missing = false; emit(GraftEvent.ArchiveFound(archive.url)) }
        val sig = listingSig(archive)
        if (!lastSig.contains(sig)) {
          index(archive) // the merge pass; emits Indexing/Indexed/Updated
          lastSig = Some(sig)
        }
      }
    } catch {
      case e: Throwable => emit(GraftEvent.ArchiveError(archive.url, e))
    }
    val q = spark.readStream.format("rate").option("rowsPerSecond", "20").load()
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(pollInterval))
      .queryName(s"graft-watch-${escape(archive.url)}")
      .foreachBatch { (_: DataFrame, _: Long) => tick() }
      .start()
    watchers(archive.url) = q
    q
  }

  /** Stop watching an origin (no state change). The stop happens outside
    * the engine lock — see [[close]].
    */
  def unwatch(origin: String): Unit = {
    val q = synchronized { watchers.remove(origin) }
    q.foreach(q => if (q.isActive) q.stop())
  }

  def isWatching(origin: String): Boolean = synchronized(watchers.contains(origin))

  private def entriesForOrigin(view: String, origin: String): DataFrame =
    entries(view).filter(col("ob") === escape(origin))

  // --- write-time reduce materialization (folds/ state) ---------------

  /** Re-fold ONE origin's partial folds from its just-written entries —
    * the write half of `materialize = true` (reference reducesLevel,
    * lib/view.js:42-46). Runs inside the index pass that rewrote the
    * origin's entries: retraction, incremental merge and full build all
    * funnel through the same per-origin commit, so the fold state can
    * never drift from the entry state it derives from. Partials are
    * per-origin (the maintenance unit); reads merge them across origins.
    */
  private def refoldOrigin(name: String, view: ViewDef, origin: String): Unit =
    refoldOb(name, view, escape(origin))

  private def refoldOb(name: String, view: ViewDef, ob: String): Unit =
    view.reduce match {
      case Some(r) if view.materialize =>
        // eager localCheckpoint: one row per (key, origin) — computed once,
        // then reused by the emptiness probe and the write
        val folded = reduceEntries(entries(name).filter(col("ob") === ob), r, keepKb = true)
          .withColumn("ob", lit(ob))
          .localCheckpoint(true)
        if (folded.isEmpty) {
          // retraction: snapshot-commit an empty generation (the stale
          // folds keep serving pinned frames for one grace generation)
          if (Files.exists(Paths.get(foldsDir(name))))
            commitObs(foldsDir(name), Map(ob -> Seq.empty[String]))
        } else commitStateWrite(foldsDir(name), folded, retractIfAbsent = Some(ob))
      case _ => ()
    }

  /** ob= partition names present under a state dir (driver-side listing). */
  private def listObs(dir: String): Set[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Set.empty
    else {
      val s = Files.list(p)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("ob=")).map(_.stripPrefix("ob=")).toSet
      } finally s.close()
    }
  }

  /** Bring folds/ state in line with the view's CURRENT definition at
    * define() time. Folds are maintained by the write paths of a process
    * whose definition says `materialize = true`; a prior process may have
    * written entries under a different definition (flag off: folds went
    * stale; flag newly on: folds missing or covering only re-indexed
    * origins). Serving such folds would silently drop whole origins from
    * every aggregate, so: non-materialized definitions DELETE leftover
    * folds, materialized ones refold any origin present in entries but
    * absent from folds (the one-time migration cost) and drop fold
    * partitions whose origin no longer has entries.
    */
  private def reconcileFolds(name: String, view: ViewDef): Unit = {
    val fd = foldsDir(name)
    if (!view.materialize || view.reduce.isEmpty) {
      if (Files.exists(Paths.get(fd))) deleteDir(fd)
    } else {
      val entryObs = liveObs(viewDir(name))
      val foldObs = liveObs(fd)
      (foldObs -- entryObs).foreach(ob =>
        commitObs(fd, Map(ob -> Seq.empty[String])))
      (entryObs -- foldObs).foreach(ob => refoldOb(name, view, ob))
    }
  }

  /** Origins currently SERVED from a state dir: manifest origins with a
    * non-empty current generation, or the raw `ob=` listing for legacy
    * dirs that predate the manifest.
    */
  private def liveObs(dir: String): Set[String] =
    loadManifest(dir) match {
      case Some(m) => m.collect { case (ob, (cur, _)) if cur.nonEmpty => ob }.toSet
      case None => listObs(dir)
    }

  private def foldsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("kb", org.apache.spark.sql.types.BinaryType),
    org.apache.spark.sql.types.StructField("key_json", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value_json", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("ob", org.apache.spark.sql.types.StringType)))

  /** True when reads of this view should serve the materialized folds. */
  private def useFolds(name: String, vd: ViewDef): Boolean =
    vd.materialize && vd.reduce.isDefined && Files.exists(Paths.get(foldsDir(name)))

  private def folds(name: String): DataFrame =
    stateFrame(foldsDir(name), foldsSchema)

  /** Merge per-origin PARTIAL folds into the final per-key value — the
    * combine side of the classic partial aggregation split. Only Count
    * differs from the first fold (partials SUM, they don't count);
    * Sum/Min/Max/Assoc partials merge through exactly the aggregation
    * [[reduceEntries]] already performs over value_json, so those arms
    * delegate — one render path to keep in JS-number parity, not two.
    * The merge order across origins is nondeterministic (shuffle), which
    * is why define() requires the reduce to be associative AND
    * commutative to materialize.
    */
  private def mergeFolds(df: DataFrame, r: Reduce, keepKb: Boolean): DataFrame = r match {
    case Reduce.Count =>
      // fail-loud on corrupt state: under non-ANSI configs a partial that
      // doesn't parse as a long casts to null and sum() silently skips
      // it, reading corrupted fold state as an undercount (ANSI throws,
      // but with a generic cast error). try_cast + raise_error gives the
      // same clear refusal under EITHER ansi setting. Matches the
      // fail-loud stance of the Fold cap and graft_dot null handling.
      val strictPartial = coalesce(
        expr("try_cast(value_json AS long)"),
        raise_error(concat(
          lit("corrupt Count fold partial for key "), col("key_json"),
          lit(": "), coalesce(col("value_json"), lit("null")))))
      val agg = df.groupBy(col("kb"), col("key_json"))
        .agg(sum(strictPartial).as("c"))
        .withColumn("value_json", col("c").cast("string"))
      if (keepKb) agg.select(col("kb"), col("key_json"), col("value_json"))
      else agg.select(col("key_json"), col("value_json"))
    case _: Reduce.Fold => throw new IllegalStateException(
      "Fold views are never materialized (define() rejects them)")
    case r @ (Reduce.Sum | Reduce.Min | Reduce.Max) =>
      // numeric partials get the same fail-loud guard as Count: these are
      // ENGINE-written values, so a non-numeric one is corruption, never
      // user data — validate here rather than inside reduceEntries, whose
      // cast also serves raw user emissions on the read-time path.
      // NULL and the string "null" are LEGITIMATE partials, not
      // corruption: Json.renderNum renders NaN/Infinity as "null" (a
      // Sum whose emissions overflow writes one), and the merge must
      // treat them exactly like the non-materialized read path does
      // (cast -> null, aggregate skips) rather than brick the view
      val checked = df.withColumn("value_json",
        when(col("value_json").isNull || col("value_json") === "null" ||
          expr("try_cast(value_json AS double)").isNotNull, col("value_json"))
          .otherwise(raise_error(concat(
            lit("corrupt numeric fold partial for key "), col("key_json"),
            lit(": "), col("value_json")))))
      reduceEntries(checked, r, keepKb)
    case other => reduceEntries(df, other, keepKb)
  }

  // --- per-origin file-version sidecar (content-versioned archives) ---

  private def fileVersionsDir(origin: String): String =
    s"$stateRoot/_files/ob=${escape(origin)}"

  /** (fv_url, fv_fversion) as of the last completed pass — empty before
    * the first pass. O(#files) metadata rows, origin-partitioned like the
    * entry state.
    */
  private def fileVersions(origin: String): DataFrame = {
    val dir = fileVersionsDir(origin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fv_url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("fv_fversion", org.apache.spark.sql.types.LongType)))
    if (!Files.exists(Paths.get(dir)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).parquet(dir)
  }

  private def writeFileVersions(origin: String, fv: DataFrame): Unit = {
    // plain overwrite: the write plan derives from the listing snapshot,
    // never from the old sidecar, so no read-path conflict
    fv.write.mode("overwrite").parquet(fileVersionsDir(origin))
    spark.catalog.refreshByPath(fileVersionsDir(origin))
  }

  // --- snapshot-pinned state commits (r12) ----------------------------
  //
  // The Iceberg/Delta snapshot idea in one file, applied to view state
  // (r11 verdict #3). The OLD commit was Spark's dynamic partition
  // overwrite: it deletes the origin's previous files in place, so any
  // frame mid-scan over them died with FILE_NOT_EXIST — tolerable for a
  // sub-second bench poll (retry), fatal for a long query racing a
  // watch tick at 100 TB. NOW every state dir carries a `_manifest.txt`
  // (atomically renamed into place) mapping each origin segment to its
  // CURRENT and PREVIOUS generation of data files; writers stage new
  // files beside the old ones (never touching them), flip the manifest,
  // and physically delete only the generation BEFORE the one being
  // retired. Readers resolve the manifest once at frame construction
  // and read an explicit pinned file list (`basePath` keeps the ob=
  // partition column) — a commit that lands mid-query cannot remove the
  // files that query is scanning. The pin survives exactly one
  // subsequent commit of the same origin (the grace generation); a
  // frame held across two commits can still lose files, which is the
  // same bounded retention contract every snapshot store has.
  // boundedCollect keeps its retry as defense in depth for that tail
  // and for legacy (pre-manifest) state dirs, which read whole-dir as
  // before and are upgraded in place by their next commit.

  /** origin segment → (current files, grace-generation files); paths
    * relative to the state dir ("ob=xxxx/part-....parquet").
    */
  private type Manifest = Map[String, (Seq[String], Seq[String])]

  private def manifestPath(dir: String) = Paths.get(dir, "_manifest.txt")

  /** Parse `_manifest.txt`: one line per origin, three TAB-separated
    * fields (segment, current files comma-joined, previous files
    * comma-joined; empty string = none). Underscore prefix keeps Spark's
    * legacy whole-dir fallback from reading it as data.
    */
  private[graft] def loadManifest(dir: String): Option[Manifest] = {
    val p = manifestPath(dir)
    if (!Files.exists(p)) None
    else Some(parseManifest(dir, new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
  }

  private def parseManifest(dir: String, text: String): Manifest =
    text.linesIterator.filter(_.nonEmpty).map { ln =>
      val f = ln.split("\t", -1)
      require(f.length == 3, s"corrupt state manifest line in ${manifestPath(dir)}: $ln")
      def files(s: String) = if (s.isEmpty) Nil else s.split(",", -1).toSeq
      f(0) -> ((files(f(1)), files(f(2))))
    }.toMap

  private def saveManifest(dir: String, m: Manifest): Unit = {
    Files.createDirectories(Paths.get(dir))
    val body = m.toSeq.sortBy(_._1).map { case (ob, (cur, prev)) =>
      s"$ob\t${cur.mkString(",")}\t${prev.mkString(",")}"
    }.mkString("\n")
    val tmp = Paths.get(dir, s"._manifest.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(dir),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Adopt a legacy (pre-manifest) state dir: every existing data file
    * becomes the current generation of its origin. Runs BEFORE staged
    * files land so the whole-dir fallback is never consulted once mixed
    * generations exist.
    */
  private def bootstrapManifest(dir: String): Manifest =
    listObs(dir).map { seg =>
      val od = Paths.get(dir, s"ob=$seg")
      val s = Files.list(od)
      val files =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString)
            .filter(n => !n.startsWith("_") && !n.startsWith("."))
            .toSeq.sorted
        } finally s.close()
      seg -> ((files.map(n => s"ob=$seg/$n"), Seq.empty[String]))
    }.toMap

  private def manifestOrBootstrap(dir: String): Manifest =
    loadManifest(dir).getOrElse(
      if (Files.exists(Paths.get(dir))) bootstrapManifest(dir)
      else Map.empty)

  /** Flip origin generations: each updated origin's grace files are
    * physically deleted, its current files become the grace generation,
    * `files` becomes current. An empty `files` is a retraction (served
    * as no rows; the retired files linger one generation).
    */
  private def commitObs(dir: String, updates: Map[String, Seq[String]]): Unit =
    commitObsFrom(dir, manifestOrBootstrap(dir), updates)

  /** Core generation flip against an EXPLICIT pre-write manifest `m0` —
    * the writer captures m0 BEFORE staged files land (a bootstrap taken
    * after the move would read the just-written generation as an
    * existing one and schedule it as its own grace-deletion: the gen-1
    * files would die at the gen-2 commit, exactly the pin-break this
    * layer exists to prevent).
    */
  private def commitObsFrom(dir: String, m0: Manifest,
      updates: Map[String, Seq[String]]): Unit = {
    val m1 = m0 ++ updates.map { case (ob, files) =>
      ob -> ((files, m0.get(ob).map(_._1).getOrElse(Seq.empty)))
    }
    // manifest FIRST, retired-generation delete SECOND: a crash between
    // the two leaves only unreferenced garbage (compact GC's it); the
    // reverse order would leave a live manifest pointing at deleted
    // grace files (r12 advice)
    saveManifest(dir, m1)
    updates.foreach { case (ob, _) =>
      m0.get(ob).foreach(_._2.foreach(f =>
        Files.deleteIfExists(Paths.get(dir, f))))
    }
  }

  /** Delete stale `.staging-*` dirs left by a commit that died
    * mid-stageAndMove (JVM crash — the in-process finally never ran).
    * Safe: all writers serialize on indexLock, so any staging dir that
    * exists when a NEW commit starts belongs to no live writer. Runs at
    * every commit and at compact(), bounding crash garbage to one
    * generation (r12 advice: these accumulated forever under watch
    * cadence).
    */
  private def sweepStaleStaging(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.list(p)
      val stale =
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala
            .filter(_.getFileName.toString.startsWith(".staging-")).toList
        } finally s.close()
      stale.foreach(d => deleteDir(d.toString))
    }
  }

  /** Write `out` (carrying an `ob` column) to a hidden staging dir,
    * move the produced part files into their `ob=` dirs under new names
    * no reader references yet, and return segment → relative new files.
    */
  private def stageAndMove(dir: String, out: DataFrame): Map[String, Seq[String]] = {
    Files.createDirectories(Paths.get(dir))
    sweepStaleStaging(dir)
    val staging = Paths.get(dir,
      s".staging-${java.util.UUID.randomUUID().toString.take(8)}")
    try {
      out.write.partitionBy("ob").mode("overwrite").parquet(staging.toString)
      import scala.jdk.CollectionConverters._
      val s = Files.list(staging)
      val obDirs =
        try s.iterator().asScala.filter(_.getFileName.toString.startsWith("ob=")).toList
        finally s.close()
      obDirs.map { od =>
        val seg = od.getFileName.toString.stripPrefix("ob=")
        val target = Paths.get(dir, s"ob=$seg")
        Files.createDirectories(target)
        val fs = Files.list(od)
        val names =
          try fs.iterator().asScala.map(_.getFileName.toString)
            .filter(n => !n.startsWith("_") && !n.startsWith("."))
            .toList.sorted
          finally fs.close()
        names.foreach(n => Files.move(od.resolve(n), target.resolve(n)))
        seg -> names.map(n => s"ob=$seg/$n")
      }.toMap
    } finally deleteDir(staging.toString)
  }

  /** Pinned read of a manifest-managed state dir (current generations
    * only, explicit file list); legacy dirs without a manifest read
    * whole-dir exactly as before their first snapshot commit.
    */
  private def stateFrame(dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    loadManifest(dir) match {
      case Some(m) => pinnedFrame(dir, schema, m)
      case None =>
        if (!Files.exists(Paths.get(dir)))
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else spark.read.schema(schema).parquet(dir)
    }

  /** The current generations of manifest `m` as an explicit file list. */
  private def pinnedFrame(dir: String,
      schema: org.apache.spark.sql.types.StructType, m: Manifest): DataFrame = {
    val files = m.valuesIterator.flatMap(_._1).toSeq.sorted
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.schema(schema).option("basePath", dir)
      .parquet(files.map(f => s"$dir/$f"): _*)
  }

  /** Snapshot-commit of exactly the origin partitions present in
    * `rows` — the incremental-maintenance primitive (see the block
    * comment above for the manifest discipline).
    *
    * When `rows` derives from the view's own current state (incremental
    * merge), the carried rows are materialized first (localCheckpoint —
    * executor-local, sized to ONE origin's entries, the incremental
    * unit, never the whole view); staged files never overwrite the
    * files the plan reads, but the checkpoint also bounds how long the
    * commit holds the prior generation's file handles.
    */
  private def writeOriginPartition(
      view: String, origin: String, rows: DataFrame,
      readsState: Boolean = false): Unit = {
    val out = if (readsState) rows.localCheckpoint(true) else rows
    commitStateWrite(viewDir(view), out,
      retractIfAbsent = if (origin.nonEmpty) Some(escape(origin)) else None)
    // AFTER the state change lands (a bump before it would let a
    // racing Fold probe cache a pass under the NEW generation while
    // reading the OLD files — permanently skipping the cap probe for
    // state it never saw)
    bumpStateGen(view)
  }

  /** Stage, move, flip the manifest. `retractIfAbsent`: an origin this
    * write was FOR that produced zero files is a retraction (a merge
    * that dropped the origin's last entries) — the manifest must say so
    * or the stale generation keeps serving.
    */
  private def commitStateWrite(dir: String, out: DataFrame,
      retractIfAbsent: Option[String]): Unit = {
    // resolve the pre-write generation map and adopt legacy dirs BEFORE
    // new files land beside the old ones (see commitObsFrom)
    val m0 = manifestOrBootstrap(dir)
    if (loadManifest(dir).isEmpty && Files.exists(Paths.get(dir)))
      saveManifest(dir, m0)
    val moved = stageAndMove(dir, out)
    val updates = retractIfAbsent match {
      case Some(seg) if !moved.contains(seg) => moved + (seg -> Seq.empty[String])
      case _ => moved
    }
    if (updates.nonEmpty) commitObsFrom(dir, m0, updates)
    // the session-shared FileStatusCache would otherwise serve the old
    // file listing to the next legacy-fallback read of this path
    spark.catalog.refreshByPath(dir)
  }

  private def reduceEntries(df: DataFrame, r: Reduce, keepKb: Boolean = false,
      probeCacheView: Option[String] = None): DataFrame = {
    val grouped = df.groupBy(col("kb"), col("key_json"))
    val agg = r match {
      case Reduce.Count => grouped.agg(count(lit(1)).as("cnt"))
        .withColumn("value_json", col("cnt").cast("string"))
      // try_cast, not cast: value_json "null" (renderNum's NaN/Infinity
      // rendering, or a null emission) must aggregate as absent — the
      // ANSI cast would crash the read on data the engine itself writes
      case Reduce.Sum => grouped.agg(sum(expr("try_cast(value_json AS double)")).as("s"))
        .withColumn("value_json", udfRenderNum(col("s")))
      case Reduce.Min => grouped.agg(min(expr("try_cast(value_json AS double)")).as("s"))
        .withColumn("value_json", udfRenderNum(col("s")))
      case Reduce.Max => grouped.agg(max(expr("try_cast(value_json AS double)")).as("s"))
        .withColumn("value_json", udfRenderNum(col("s")))
      case Reduce.Assoc(f) =>
        grouped.agg(udaf(new JsonMergeAggregator(f)).apply(col("value_json")).as("value_json"))
      case Reduce.Fold(f) =>
        // ENFORCED cardinality contract (was advisory): Fold replays the
        // reference's sequential (acc, value, key) order, which requires
        // collecting a key's values into one row — a hostile key would
        // OOM an executor. Fail loudly above the cap instead. The check
        // must run BEFORE collect_list builds a buffer (a count-only
        // aggregation never materializes the lists, so it survives the
        // exact cardinalities that would OOM the collect): one eager
        // count pass, then the in-UDF check stays as a second belt.
        // NOTE: constructing a Fold read is EAGER (the cap probe runs one
        // job here) — unlike every other Reduce, which stays lazy until
        // the caller acts. The probe deliberately re-reads the source
        // rather than caching it for the fold: its scan is column-pruned
        // to (kb, key_json) — it never touches the wide value_json — so
        // the second read costs less than pinning the whole entry set on
        // executors (a localCheckpoint here would never be unpersisted,
        // and would strip the lineage a lost executor needs to recover).
        // When the caller names the view (get/list), the probe runs over
        // the FULL entry state — a pass then covers ANY filtered read of
        // the same state, so it is cached per (view, state generation)
        // and repeated Fold reads skip it until the state changes. A
        // full-state FAILURE does not doom kb-filtered reads: the probe
        // falls back to just the rows this read aggregates, so a point
        // get() of an under-cap key still succeeds while an over-cap key
        // exists elsewhere in the view (nothing is cached in that case —
        // the cache is whole-view-scoped).
        val cap = foldCap
        val genBefore = probeCacheView.map(v => synchronized(stateGen.getOrElse(v, 0L)))
        if (!probeCacheView.exists(foldProbePassed)) {
          synchronized { foldProbeRuns += 1 }
          def overCap(frame: DataFrame) = frame
            .groupBy(col("kb")).agg(count(lit(1)).as("n"), first(col("key_json")).as("k"))
            .filter(col("n") > cap).select(col("k"), col("n")).head(1).headOption
          val probeDf = probeCacheView.map(entries).getOrElse(df)
          val fullOver = overCap(probeDf)
          // per-kb fallback: the whole-view probe failed, but this read
          // may not touch the hostile key — re-probe only its own rows
          val violation =
            if (fullOver.isEmpty) None
            else if (probeCacheView.isEmpty) fullOver
            else overCap(df)
          violation.foreach { r =>
            throw new IllegalStateException(
              s"Reduce.Fold: key ${r.getString(0)} has ${r.getLong(1)} values " +
                s"(cap $cap). Fold collects a key's values to replay the " +
                "reference's sequential order and is bounded-cardinality-only; " +
                "use Reduce.Assoc for order-insensitive folds, or raise spark " +
                "conf graft.fold.maxValuesPerKey.")
          }
          // record the generation captured BEFORE the probe: a write that
          // raced the probe bumps the gen and invalidates this entry.
          // Only a FULL-state pass is cacheable — a filtered-read pass
          // says nothing about the keys other reads will touch.
          if (fullOver.isEmpty) probeCacheView.foreach(v => synchronized {
            foldProbeOkGen(v) = (genBefore.get, cap)
          })
        }
        val foldUdf = udf(
          new org.apache.spark.sql.api.java.UDF2[scala.collection.Seq[Row], String, String] {
            override def call(vals: scala.collection.Seq[Row], keyJson: String): String = {
              if (vals.size > cap) throw new IllegalStateException(
                s"Reduce.Fold: key $keyJson has ${vals.size} values (cap $cap). " +
                  "Fold collects a key's values to replay the reference's " +
                  "sequential order and is bounded-cardinality-only; use " +
                  "Reduce.Assoc for order-insensitive folds, or raise " +
                  "spark conf graft.fold.maxValuesPerKey.")
              val key = Json.parse(keyJson)
              val sorted = vals.sortBy(r => (r.getAs[String]("file_url"), r.getAs[Int]("seq")))
              var acc: Option[Any] = None
              sorted.foreach { row =>
                acc = Some(f(acc, Json.parse(row.getAs[String]("value_json")), key))
              }
              Json.render(acc.orNull)
            }
          }, org.apache.spark.sql.types.StringType)
        grouped
          .agg(collect_list(struct(col("file_url"), col("seq"), col("value_json"))).as("vs"))
          .withColumn("value_json", foldUdf(col("vs"), col("key_json")))
    }
    if (keepKb) agg.select(col("kb"), col("key_json"), col("value_json"))
    else agg.select(col("key_json"), col("value_json"))
  }

  private val udfRenderNum = udf { (d: Double) => Json.renderNum(d) }

  private def escape(origin: String): String = {
    // must match the `ob` column produced in mapEntries
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(origin.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString.substring(0, 16)
  }

  private def deleteDir(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      // Files.walk holds directory streams open until closed — an
      // unclosed walk leaks fds on every retraction
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally stream.close()
      spark.catalog.refreshByPath(path)
    }
  }

  // Tiny driver-side catalog (the reference keeps this metadata in
  // LevelDB sublevels; it is O(#origins), not data-plane).
  private def catalogPath = Paths.get(s"$stateRoot/_catalog.json")

  private def saveCatalog(): Unit = {
    Files.createDirectories(catalogPath.getParent)
    def obj(m: collection.Map[String, Long]): String =
      m.map { case (k, v) => Json.renderString(k) + ":" + v }.mkString("{", ",", "}")
    val body = "{\"origins\":" + obj(indexed) + ",\"views\":" + obj(viewVersions) + "}"
    // write-then-atomic-rename: a crash mid-write must not corrupt the
    // catalog (it is what decides full vs incremental on restart)
    val tmp = catalogPath.resolveSibling("_catalog.json.tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, catalogPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private def loadCatalog(): Unit = {
    if (Files.exists(catalogPath)) {
      val txt = new String(Files.readAllBytes(catalogPath), StandardCharsets.UTF_8)
      val root = Json.parse(txt).asInstanceOf[Map[String, Any]]
      def into(m: Any, dst: mutable.LinkedHashMap[String, Long]): Unit =
        m.asInstanceOf[Map[String, Any]].foreach {
          case (k, v: Double) => dst(k) = v.toLong
          case _ =>
        }
      into(root.getOrElse("origins", Map.empty), indexed)
      into(root.getOrElse("views", Map.empty), viewVersions)
    }
  }
}

object Graft {
  import org.apache.spark.sql.types._

  /** Shared pool for concurrent view-materialization job submission —
    * bounded so a many-view engine doesn't flood the scheduler.
    */
  private[core] lazy val indexPool: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        8,
        r => { val t = new Thread(r, "graft-index"); t.setDaemon(true); t }))

  val entrySchema: StructType = StructType(Seq(
    StructField("kb", BinaryType),
    StructField("key_json", StringType),
    StructField("file_url", StringType),
    StructField("pathname", StringType),
    StructField("seq", IntegerType),
    StructField("value_json", StringType)))

  val entrySchemaWithPartition: StructType =
    entrySchema.add(StructField("ob", StringType))

  /** Default per-key value cap for [[Reduce.Fold]] (override with spark
    * conf `graft.fold.maxValuesPerKey`). 100k JSON values ~ tens of MB in
    * one aggregation buffer — far past the reference's operating regime
    * and a safe executor-memory margin.
    */
  val defaultFoldCap: Int = 100000

  /** Default row cap for the DRIVER-materializing convenience reads
    * ([[Graft.listEntries]], [[Graft.getValue]]) — the one user-reachable
    * driver OOM: an unlimited listEntries on a huge view would collect
    * everything into the driver JVM. Override with spark conf
    * `graft.driverCollect.maxRows`. The `list`/`get` DataFrame forms
    * stay unbounded — distributing big results is Spark's job.
    */
  val defaultDriverCollectMax: Int = 100000

  /** list(limit=n) resolves its winning keys driver-side (one scan +
    * In-pushdown) up to this n; larger limits keep the broadcast-join
    * plan so the driver never materializes an unbounded key set.
    */
  val listKeyInlineMax: Int = 1000

  /** Uncompressed parquet bytes per row of `graft.driverCollect.maxRows`
    * that read snapshots may hold: a fill is declined when the files it
    * would scan exceed cap x this, and all snapshots together hold at
    * most that many payload bytes (51 MB at the default cap).
    */
  val snapshotBytesPerRow: Int = 512

  /** A read snapshot fill that stepped aside for the Spark path. */
  private[core] object FillDeclined extends Exception with scala.util.control.NoStackTrace
}
