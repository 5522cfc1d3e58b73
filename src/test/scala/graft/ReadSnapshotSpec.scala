package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, lit, when}

import graft.core._

/** Driver read snapshots ([[Graft.getValue]]/[[Graft.listEntries]]
  * answered without a Spark job between two commits): every state change
  * invalidates them, each (view, generation) is filled once, on its
  * second driver read, a hit runs no job, and every guard of the Spark
  * path still holds on top of them.
  * Answers are checked against a plain model of the indexed files, and
  * against the `list` DataFrame form, which never uses snapshots.
  */
class ReadSnapshotSpec extends SparkSpec {
  import ReadSnapshotSpec._

  private var root: Path = _
  // strictly increasing file stamps: an edit is always newer than the
  // version the last pass recorded
  private var stamp = System.currentTimeMillis() - 3600000L

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-read-snapshot")
    spark.sparkContext.addSparkListener(Jobs)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(Jobs)
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    super.afterAll()
  }

  private def write(dir: Path, name: String, first: String, second: Int): Unit = {
    Files.createDirectories(dir)
    val p = dir.resolve(name)
    Files.write(p, s"""{"first":"$first","second":$second}""".getBytes(StandardCharsets.UTF_8))
    stamp += 1000
    Files.setLastModifiedTime(p, FileTime.fromMillis(stamp))
  }

  private def defineAll(g: Graft, sumsMaterialized: Boolean = true): Unit = {
    g.define("by-first", ViewDef("/*.json", MapFn((v, m) => Seq(first(v) -> m.url))))
    g.define("count", ViewDef("/*.json", MapFn((v, _) => Seq(first(v) -> 1)), Reduce.Count))
    g.define("sums", ViewDef(Seq("/*.json"), MapFn((v, _) => Seq(first(v) -> second(v))),
      Some(Reduce.Sum), materialize = sumsMaterialized))
  }

  // --- a model of what each view has indexed: url -> (first, second) ---

  private final class Model {
    val views: Map[String, mutable.TreeMap[String, (String, Int)]] =
      Seq("by-first", "count", "sums").map(_ -> mutable.TreeMap.empty[String, (String, Int)]).toMap
    /** An index pass of `dir` as origin `origin`: every view now holds the files on disk. */
    def indexed(origin: String, dir: Path): Unit =
      views.values.foreach { m =>
        m.keys.filter(_.startsWith(origin + "/")).toList.foreach(m.remove)
        onDisk(origin, dir).foreach { case (u, d) => m(u) = d }
      }
    def drop(url: String): Unit = views.values.foreach(_.remove(url))
    def dropOrigin(origin: String): Unit =
      views.values.foreach(m => m.keys.filter(_.startsWith(origin + "/")).toList.foreach(m.remove))
  }

  private def onDisk(origin: String, dir: Path): Seq[(String, (String, Int))] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList.filter(_.getFileName.toString.endsWith(".json")).map { p =>
      val body = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      s"$origin/${p.getFileName}" -> ((first(body).toString, second(body).asInstanceOf[Double].toInt))
    } finally s.close()
  }

  private def expected(model: Model, view: String): Seq[Entry] = {
    val m = model.views(view)
    view match {
      case "by-first" => m.toSeq.sortBy { case (u, (k, _)) => (k, u) }.map { case (u, (k, _)) => Entry(k, u) }
      case "count" => m.values.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, vs) => Entry(k, vs.size.toDouble) }
      case _ => m.values.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, vs) => Entry(k, vs.map(_._2).sum.toDouble) }
    }
  }

  private val keys = Seq("a", "b", "c", "d", "e", "zz")

  /** Reads every view through the driver forms and compares with the
    * model; returns the fills this check caused.
    */
  private def check(g: Graft, model: Model, step: String): Long = {
    val fills0 = g.snapshotFills
    Seq("by-first", "count", "sums").foreach { v =>
      val all = expected(model, v)
      assert(g.listEntries(v) == all, s"$step: listEntries($v)")
      keys.foreach { k =>
        val at = all.filter(_.key == k).map(_.value)
        val want = if (at.isEmpty) None else if (v == "by-first") Some(at.toVector) else Some(at.head)
        assert(g.getValue(v, k) == want, s"$step: getValue($v, $k)")
      }
      val fromB = all.filter(_.key.toString >= "b")
      val firstTwo = fromB.map(_.key).distinct.take(2).toSet
      assert(g.listEntries(v, ListOpts(gte = Some(Seq("b")), limit = Some(2))) ==
        fromB.filter(e => firstTwo(e.key)), s"$step: range($v)")
      assert(g.listEntries(v, ListOpts(lt = Some(Seq("d")), reverse = true)) ==
        all.filter(_.key.toString < "d").reverse, s"$step: reverse range($v)")
    }
    g.snapshotFills - fills0
  }

  test("every state change invalidates the snapshot; one fill per (view, generation)") {
    invalidationSequence("inv", state => new Graft(spark, state))
  }

  test("without descriptor identity every state change still invalidates; nothing is pinned") {
    val g = invalidationSequence("inv-nofd",
      state => core.ManifestPinsAccess.withoutDescriptors(new Graft(spark, state)))
    assert(g.manifestPinsHeld == 0)
    if (Files.isDirectory(procFd)) assert(manifestDescriptors(root.resolve("inv-nofd-state")).isEmpty)
  }

  /** Every kind of state change, each followed by a check of every view
    * through the driver reads of an engine that `open` builds (as do the
    * other engines committing to its root); returns that engine.
    */
  private def invalidationSequence(tag: String, open: String => Graft): Graft = {
    val dirA = root.resolve(s"$tag-a")
    val dirB = root.resolve(s"$tag-b")
    write(dirA, "a1.json", "b", 1); write(dirA, "a2.json", "c", 2); write(dirA, "a3.json", "b", 3)
    write(dirB, "b1.json", "a", 10); write(dirB, "b2.json", "c", 20)
    val state = root.resolve(s"$tag-state").toString
    val (a, b) = (new DirArchive("dat://a", dirA.toString), new DirArchive("dat://b", dirB.toString))
    val g = open(state)
    defineAll(g)
    val model = new Model
    g.index(a); g.index(b)
    model.indexed("dat://a", dirA); model.indexed("dat://b", dirB)
    assert(check(g, model, "initial index") == 3)
    assert(check(g, model, "unchanged") == 0, "reads of an unchanged state must all hit")

    write(dirA, "a1.json", "d", 4); write(dirA, "a4.json", "a", 5)
    g.index(a)
    model.indexed("dat://a", dirA)
    assert(check(g, model, "incremental index") == 3)

    write(dirB, "b2.json", "b", 30)
    g.indexFile(b, "/b2.json")
    model.indexed("dat://b", dirB)
    assert(check(g, model, "indexFile") == 3)

    g.unindexFile("dat://a", "/a3.json")
    model.drop("dat://a/a3.json")
    assert(check(g, model, "unindexFile") == 3)

    g.unindex("dat://b")
    model.dropOrigin("dat://b")
    assert(check(g, model, "unindex") == 3)

    g.reset("by-first")
    model.views("by-first").clear()
    assert(check(g, model, "reset") == 0, "a reset view has no manifest; the others are unchanged")
    g.index(a)
    model.indexed("dat://a", dirA)
    assert(check(g, model, "index after reset") == 3)

    Seq("by-first", "count", "sums").foreach(g.compact)
    assert(check(g, model, "compact") == 3)

    // a commit by another engine on the same state root
    val g2 = open(state)
    defineAll(g2)
    write(dirA, "a2.json", "e", 7)
    g2.index(a)
    model.indexed("dat://a", dirA)
    assert(check(g, model, "second engine's commit") == 3)

    // define-time fold reconcile by other engines: a non-materializing
    // definition drops the folds, a materializing one rebuilds them
    val g3 = open(state)
    defineAll(g3, sumsMaterialized = false)
    assert(!Files.exists(Paths.get(state, "sums", "folds")))
    assert(check(g, model, "reconcile drops folds") == 1)
    write(dirA, "a5.json", "a", 8)
    g3.index(a)
    model.indexed("dat://a", dirA)
    assert(check(g, model, "index without folds") == 3)
    val g4 = open(state)
    defineAll(g4)
    assert(Files.exists(Paths.get(state, "sums", "folds")))
    assert(check(g, model, "reconcile refolds") == 1)
    g
  }

  // --- manifests held open: a hit stats them, a flip reads them once ----

  test("a held manifest tells another engine's two flips from none") {
    val dir = root.resolve("flips-a")
    write(dir, "a.json", "b", 1); write(dir, "b.json", "c", 2); write(dir, "c.json", "b", 3)
    val state = root.resolve("flips-state").toString
    val a = new DirArchive("dat://flips", dir.toString)
    val g = new Graft(spark, state)
    defineAll(g)
    g.index(a)
    val model = new Model
    model.indexed("dat://flips", dir)
    assert(check(g, model, "index") == 3)
    val hits = g.snapshotHits
    assert(check(g, model, "unchanged") == 0 && g.snapshotHits > hits, "every view hits")
    // two flips of every manifest g reads: with no file held, the path
    // could name a file with the first one's inode number again
    val g2 = new Graft(spark, state)
    defineAll(g2)
    write(dir, "a.json", "d", 4); g2.index(a)
    write(dir, "a.json", "e", 5); g2.index(a)
    model.indexed("dat://flips", dir)
    assert(check(g, model, "two flips by another engine") == 3)
  }

  test("hits read no manifest bytes; a commit costs one read of each manifest it flipped") {
    assume(Files.isDirectory(procFd), "descriptor identity needs /proc/self/fd")
    val dir = root.resolve("reads-a")
    write(dir, "a.json", "b", 1); write(dir, "b.json", "c", 2)
    val g = new Graft(spark, root.resolve("reads-state").toString)
    defineAll(g)
    val a = new DirArchive("dat://reads", dir.toString)
    g.index(a)
    val views = Seq("by-first", "count", "sums")
    views.foreach(v => (1 to 2).foreach(_ => g.listEntries(v)))
    // the entries of by-first and count; materialized sums reads its folds alone
    assert(g.snapshotFills == 3 && g.manifestByteReads == 3 && g.manifestPinsHeld == 3)
    val hits = g.snapshotHits
    (1 to 20).foreach(_ => views.foreach(v => g.getValue(v, "b")))
    assert(g.snapshotHits == hits + 60 && g.manifestByteReads == 3)
    write(dir, "a.json", "c", 3)
    g.index(a)
    assert(g.manifestByteReads == 3, "a commit reads its manifests as a writer")
    (1 to 3).foreach(_ => views.foreach(v => g.listEntries(v)))
    assert(g.manifestByteReads == 6 && g.manifestPinsHeld == 3)
    g.close()
    assert(g.manifestPinsHeld == 0)
    assert(g.getValue("count", "c") == Some(2.0))
    assert(g.manifestByteReads == 7 && g.manifestPinsHeld == 1, "a read after close pins again")
  }

  test("commits and reads hold at most two manifest descriptors per view; destroy holds none") {
    assume(Files.isDirectory(procFd), "descriptor identity needs /proc/self/fd")
    val dir = root.resolve("fds-a")
    write(dir, "a.json", "b", 1); write(dir, "b.json", "c", 2)
    val state = root.resolve("fds-state")
    val g = new Graft(spark, state.toString)
    defineAll(g)
    val a = new DirArchive("dat://fds", dir.toString)
    val manifests = Seq("by-first/entries", "count/entries", "sums/entries", "sums/folds")
      .map(d => state.resolve(d).resolve("_manifest.txt"))
    (1 to 50).foreach { i =>
      // every 10th cycle an index pass; the others flip each manifest to
      // a copy of itself, renamed over it as a commit renames
      if (i % 10 == 1) { write(dir, "a.json", "b", i); g.index(a) }
      else manifests.foreach { m =>
        val copy = Files.copy(m, m.resolveSibling("._manifest.copy"))
        Files.move(copy, m, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
      Seq("by-first", "count", "sums").foreach(v => (1 to 2).foreach(_ => g.getValue(v, "c")))
      val held = manifestDescriptors(state)
      assert(held.keySet == Set("by-first", "count", "sums") && held.values.forall(_ <= 2), s"cycle $i: $held")
    }
    assert(g.snapshotHits > 0)
    g.reset("count")
    assert(!manifestDescriptors(state).contains("count"))
    g.destroy()
    assert(manifestDescriptors(state).isEmpty && g.manifestPinsHeld == 0)
  }

  test("the first read of a generation runs the Spark read; the second fills") {
    val dir = root.resolve("first-a")
    write(dir, "a.json", "b", 1); write(dir, "b.json", "c", 2)
    val g = new Graft(spark, root.resolve("first-state").toString)
    defineAll(g)
    val arch = new DirArchive("dat://first", dir.toString)
    // an edit -> index -> one read loop never collects a whole view
    (1 to 3).foreach { i =>
      write(dir, "a.json", "b", i)
      g.index(arch)
      val viaSpark = jobsIn(g.get("sums", "b").limit(Graft.defaultDriverCollectMax + 1).collect())
      assert(jobsIn(assert(g.getValue("sums", "b") == Some(i.toDouble))) == viaSpark)
    }
    assert(g.snapshotFills == 0 && g.snapshotHits == 0 && g.snapshotRowsHeld == 0)
    assert(g.getValue("sums", "c") == Some(2.0))
    assert(g.snapshotFills == 1 && g.snapshotRowsHeld == 2)
    assert(g.getValue("sums", "b") == Some(3.0))
    assert(g.snapshotFills == 1 && g.snapshotHits == 1)
    // reset drops the view's snapshot along with its state
    g.reset("sums")
    assert(g.snapshotRowsHeld == 0)
    assert(g.getValue("sums", "b").isEmpty)
  }

  test("a hit runs no Spark job") {
    val dir = root.resolve("jobs-a")
    write(dir, "a.json", "b", 1); write(dir, "b.json", "c", 2); write(dir, "c.json", "b", 3)
    val g = new Graft(spark, root.resolve("jobs-state").toString)
    defineAll(g)
    g.index(new DirArchive("dat://jobs", dir.toString))
    Seq("by-first", "count", "sums").foreach(v => (1 to 2).foreach(_ => g.getValue(v, "b")))
    val (fills, hits) = (g.snapshotFills, g.snapshotHits)
    assert(fills == 3 && hits == 0)
    val jobs = jobsIn {
      assert(g.getValue("by-first", "b") == Some(Vector("dat://jobs/a.json", "dat://jobs/c.json")))
      assert(g.getValue("count", "b") == Some(2.0))
      assert(g.getValue("sums", "c") == Some(2.0))
      assert(g.listEntries("by-first", ListOpts(gt = Some(Seq("b")))) == Seq(Entry("c", "dat://jobs/b.json")))
      assert(g.listEntries("count", ListOpts(reverse = true, limit = Some(1))) == Seq(Entry("c", 1.0)))
    }
    assert(jobs == 0, s"$jobs Spark jobs ran on snapshot hits")
    assert(g.snapshotFills == fills && g.snapshotHits == hits + 5)
  }

  test("hits of one generation hand out the same parsed values") {
    val dir = root.resolve("shared-a")
    write(dir, "a.json", "b", 1); write(dir, "b.json", "c", 2); write(dir, "c.json", "b", 3)
    val g = new Graft(spark, root.resolve("shared-state").toString)
    defineAll(g)
    g.index(new DirArchive("dat://shared", dir.toString))
    Seq("by-first", "count", "sums").foreach(v => (1 to 2).foreach(_ => g.listEntries(v)))
    assert(g.snapshotFills == 3)
    def same(x: Any, y: Any): Boolean = x.asInstanceOf[AnyRef] eq y.asInstanceOf[AnyRef]
    val hits = g.snapshotHits
    val (m1, m2) = (g.getValue("by-first", "b").get, g.getValue("by-first", "b").get)
    assert(m1 == Vector("dat://shared/a.json", "dat://shared/c.json"))
    assert(same(m1, m2) && m1.asInstanceOf[Vector[Any]].zip(m2.asInstanceOf[Vector[Any]]).forall { case (x, y) => same(x, y) })
    Seq("count", "sums").foreach { v =>
      val (r1, r2) = (g.getValue(v, "b").get, g.getValue(v, "b").get)
      assert(r1 == r2 && same(r1, r2), v)
    }
    val (l1, l2) = (g.listEntries("by-first"), g.listEntries("by-first"))
    assert(l1.size == 3 && l1.zip(l2).forall { case (x, y) => same(x.key, y.key) && same(x.value, y.value) })
    assert(g.snapshotHits == hits + 8)
  }

  test("views with and without a folds dir serve hits; a folds dir without a manifest declines") {
    val dir = root.resolve("folds-a")
    write(dir, "a.json", "b", 1); write(dir, "b.json", "c", 2); write(dir, "c.json", "b", 3)
    val state = root.resolve("folds-state").toString
    val g = new Graft(spark, state)
    defineAll(g)
    g.index(new DirArchive("dat://folds", dir.toString))
    assert(!Files.exists(Paths.get(state, "by-first", "folds")) && !Files.exists(Paths.get(state, "count", "folds")))
    assert(Files.exists(Paths.get(state, "sums", "folds", "_manifest.txt")))
    Seq("by-first", "count", "sums").foreach(v => (1 to 2).foreach(_ => g.getValue(v, "b")))
    assert(g.snapshotFills == 3)
    val hits = g.snapshotHits
    val jobs = jobsIn {
      assert(g.getValue("by-first", "b") == Some(Vector("dat://folds/a.json", "dat://folds/c.json")))
      assert(g.getValue("count", "b") == Some(2.0))
      assert(g.getValue("sums", "b") == Some(4.0))
    }
    assert(jobs == 0 && g.snapshotHits == hits + 3)
    // a folds dir whose manifest is gone says nothing about when it
    // changed: its view reads through Spark, the others still hit
    Files.delete(Paths.get(state, "sums", "folds", "_manifest.txt"))
    (1 to 3).foreach(_ => assert(jobsIn(assert(g.getValue("sums", "c") == Some(2.0))) > 0))
    assert(g.getValue("count", "c") == Some(1.0))
    assert(g.snapshotFills == 3 && g.snapshotHits == hits + 4)
  }

  test("a materialized view's generation is its folds manifest alone") {
    val dir = root.resolve("fgen-a")
    write(dir, "a.json", "b", 1); write(dir, "b.json", "c", 2); write(dir, "c.json", "b", 3)
    val state = root.resolve("fgen-state").toString
    val a = new DirArchive("dat://fgen", dir.toString)
    val g = new Graft(spark, state)
    defineAll(g)
    g.index(a)
    val (entries, folds) = (Paths.get(state, "sums", "entries", "_manifest.txt"),
      Paths.get(state, "sums", "folds", "_manifest.txt"))
    def sumOfB(want: Double): Unit = assert(g.getValue("sums", "b") == Some(want))
    (1 to 2).foreach(_ => sumOfB(4.0))
    val fills = g.snapshotFills
    // another engine's compact flips the entries manifest, not the folds
    val g2 = new Graft(spark, state)
    defineAll(g2)
    val (e0, f0) = (Files.readAllBytes(entries), Files.readAllBytes(folds))
    g2.compact("sums")
    assert(!java.util.Arrays.equals(Files.readAllBytes(entries), e0))
    assert(java.util.Arrays.equals(Files.readAllBytes(folds), f0))
    val hits = g.snapshotHits
    assert(jobsIn(sumOfB(4.0)) == 0 && g.snapshotHits == hits + 1 && g.snapshotFills == fills,
      "an entries-only flip keeps the snapshot")
    // a folds flip replaces it: the first read runs Spark, the second fills
    write(dir, "a.json", "b", 5)
    g2.index(a)
    assert(jobsIn(sumOfB(8.0)) > 0)
    sumOfB(8.0)
    assert(g.snapshotFills == fills + 1, "a folds flip replaces the snapshot")
    // dropping the folds replaces it
    defineAll(new Graft(spark, state), sumsMaterialized = false)
    assert(!Files.exists(folds.getParent))
    assert(jobsIn(sumOfB(8.0)) > 0)
    sumOfB(8.0)
    assert(g.snapshotFills == fills + 2, "dropping the folds replaces the snapshot")
    // a folds dir without a manifest still declines
    defineAll(new Graft(spark, state))
    Files.delete(folds)
    val (h, f) = (g.snapshotHits, g.snapshotFills)
    (1 to 3).foreach(_ => assert(jobsIn(sumOfB(8.0)) > 0))
    assert(g.snapshotHits == h && g.snapshotFills == f, "a folds dir without a manifest declines")
  }

  test("an index pass that changed only files outside a view's glob keeps its snapshot") {
    val dir = root.resolve("skip-a")
    def note(text: String): Unit = {
      Files.write(dir.resolve("notes.txt"), text.getBytes(StandardCharsets.UTF_8))
      stamp += 1000
      Files.setLastModifiedTime(dir.resolve("notes.txt"), FileTime.fromMillis(stamp))
    }
    write(dir, "a.json", "b", 1); write(dir, "b.json", "c", 2); note("one")
    val g = new Graft(spark, root.resolve("skip-state").toString)
    defineAll(g)
    g.define("notes", ViewDef("/*.txt", MapFn((v, _) => Seq(v -> 1))))
    val a = new DirArchive("dat://skip", dir.toString)
    g.index(a)
    val views = Seq("by-first", "count", "sums")
    views.foreach(v => (1 to 2).foreach(_ => g.listEntries(v)))
    val fills = g.snapshotFills
    assert(fills == 3)
    note("two")
    g.index(a)
    val hits = g.snapshotHits
    // twice: a rewritten view would run the Spark read, then fill
    (1 to 2).foreach { _ =>
      assert(g.listEntries("by-first") == Seq(Entry("b", "dat://skip/a.json"), Entry("c", "dat://skip/b.json")))
      assert(g.getValue("count", "b") == Some(1.0) && g.getValue("sums", "c") == Some(2.0))
    }
    assert(g.snapshotFills == fills, "views the pass did not touch keep their snapshots")
    assert(g.snapshotHits == hits + 6)
    assert(g.listEntries("notes") == Seq(Entry("two", 1.0)))
  }

  test("snapshot slices equal the list DataFrame form for every range option") {
    val dir = root.resolve("slices-a")
    Seq("a" -> 1, "b" -> 2, "b" -> 3, "c" -> 4, "d" -> 5, "d" -> 6, "d" -> 7, "f" -> 8)
      .zipWithIndex.foreach { case ((k, v), i) => write(dir, f"f$i%02d.json", k, v) }
    val g = new Graft(spark, root.resolve("slices-state").toString)
    defineAll(g)
    g.index(new DirArchive("dat://slices", dir.toString))
    val bounds: Seq[ListOpts] = for {
      lo <- Seq(ListOpts(), ListOpts(gt = Some(Seq("b"))), ListOpts(gte = Some(Seq("b"))),
        ListOpts(gt = Some(Seq("a")), gte = Some(Seq("e"))))
      hi <- Seq(lo, lo.copy(lt = Some(Seq("d"))), lo.copy(lte = Some(Seq("d"))),
        lo.copy(lt = Some(Seq("zz")), lte = Some(Seq("c"))))
      limit <- Seq(None, Some(-1), Some(0), Some(2))
      reverse <- Seq(false, true)
    } yield hi.copy(limit = limit, reverse = reverse)
    // a map view (limit counts keys) and a reduced one (it counts rows)
    Seq("by-first", "count").foreach { v =>
      g.listEntries(v); g.listEntries(v)
      val hits = g.snapshotHits
      bounds.foreach { o =>
        val viaSpark = g.list(v, o).collect().toSeq.map(r =>
          Entry(Json.parse(r.getString(0)), Json.parse(r.getString(1))))
        assert(g.listEntries(v, o) == viaSpark, s"$v $o")
      }
      assert(g.snapshotHits == hits + bounds.size)
    }
  }

  test("a declarative map's values at one key read in value_json order on every read path") {
    val dir = root.resolve("multi-a")
    Files.createDirectories(dir)
    def put(name: String, body: String): Unit = { Files.write(dir.resolve(name), body.getBytes(StandardCharsets.UTF_8)); () }
    put("a.json", """{"first":"k","vs":[9,10,2]}""")
    put("b.json", """{"first":"k","vs":[30,4]}""")
    put("c.json", """{"first":"m","vs":[7,100]}""")
    val g = new Graft(spark, root.resolve("multi-state").toString)
    val map = MapDF(GraftEngineSpec.explodeVs(org.apache.spark.sql.types.LongType))
    g.define("vals", ViewDef("/*.json", map))
    g.define("replay", ViewDef("/*.json", map, GraftEngineSpec.joinFold))
    g.index(new DirArchive("dat://multi", dir.toString))
    // by file, then value_json: "10" < "2" < "9" and "30" < "4"
    val k = Vector(10.0, 2.0, 9.0, 30.0, 4.0)
    val all = k.map(Entry("k", _)) ++ Vector(100.0, 7.0).map(Entry("m", _))
    val cases = Seq(ListOpts() -> all, ListOpts(reverse = true) -> all.reverse,
      ListOpts(limit = Some(1)) -> all.take(5), ListOpts(reverse = true, limit = Some(1)) -> all.takeRight(2).reverse)
    // the DataFrame forms always read through Spark
    assert(g.get("vals", "k").collect().map(r => Json.parse(r.getString(1))).toVector == k)
    cases.foreach { case (o, want) =>
      assert(g.list("vals", o).collect().toSeq.map(r =>
        Entry(Json.parse(r.getString(0)), Json.parse(r.getString(1)))) == want, s"list $o")
    }
    // the driver forms: the first read runs through Spark, the second
    // fills the snapshot, and the rest are hits
    (1 to 2).foreach { pass =>
      assert(g.getValue("vals", "k") == Some(k), s"pass $pass: getValue")
      cases.foreach { case (o, want) => assert(g.listEntries("vals", o) == want, s"pass $pass: listEntries $o") }
    }
    assert(g.snapshotFills == 1 && g.snapshotHits == 8)
    assert(g.getValue("replay", "k") == Some(k.map(Json.render).mkString(",")))
  }

  test("a manifest-less state dir is re-read on every driver read") {
    // the shape of a streaming append sink writing straight into a
    // view's entries dir: no manifest says when it changed
    val g = new Graft(spark, root.resolve("sink-state").toString)
    g.define("tags", ViewDef("/*.json", MapFn((v, m) => Seq(first(v) -> m.url))))
    val out = root.resolve("sink-state/tags/entries").toString
    def append(name: String, key: String): Unit = {
      import spark.implicits._
      val files = Seq(("dat://sink", s"dat://sink/$name", s"/$name", s"""{"first":"$key"}""", 1L))
        .toDF("origin", "url", "pathname", "value", "fversion")
      g.streamEntries("tags", files).write.mode("append").partitionBy("ob").parquet(out)
    }
    append("a.json", "alpha")
    assert(g.getValue("tags", "alpha") == Some(Vector("dat://sink/a.json")))
    append("b.json", "alpha")
    assert(g.getValue("tags", "alpha") == Some(Vector("dat://sink/a.json", "dat://sink/b.json")))
    append("c.json", "beta")
    assert(g.listEntries("tags").map(_.key) == Seq("alpha", "alpha", "beta"))
    assert(g.snapshotFills == 0 && g.snapshotHits == 0)
  }

  test("readers racing an index pass see only the pre- or post-commit answer") {
    val dir = root.resolve("race-a")
    (1 to 6).foreach(i => write(dir, s"f$i.json", if (i % 2 == 0) "b" else "c", i))
    val g = new Graft(spark, root.resolve("race-state").toString)
    defineAll(g)
    val arch = new DirArchive("dat://race", dir.toString)
    g.index(arch)
    val model = new Model
    model.indexed("dat://race", dir)
    val pre = Seq("by-first", "count", "sums").map(v => v -> expected(model, v)).toMap
    write(dir, "f1.json", "b", 100); write(dir, "f7.json", "a", 7)
    model.indexed("dat://race", dir)
    val post = Seq("by-first", "count", "sums").map(v => v -> expected(model, v)).toMap
    assert(pre != post)

    @volatile var done = false
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Seq[Entry])]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val readers = (0 until 2).map { t =>
      val th = new Thread(() => {
        var last = false
        while (!last) {
          last = done
          try Seq("by-first", "count", "sums").foreach(v => seen.add(v -> g.listEntries(v)))
          catch { case e: Throwable => errors.add(e) }
          Thread.sleep(1)
        }
      })
      th.setName(s"snapshot-reader-$t")
      th.start()
      th
    }
    Thread.sleep(100)
    g.index(arch)
    done = true
    readers.foreach(_.join())
    assert(errors.isEmpty, s"reads failed: ${errors.asScala.headOption}")
    seen.asScala.foreach { case (v, got) =>
      assert(got == pre(v) || got == post(v), s"$v read a torn answer: $got")
    }
    Seq("by-first", "count", "sums").foreach(v => assert(g.listEntries(v) == post(v)))
  }

  // --- the Spark path's guards hold on top of snapshots -----------------

  test("lowering graft.driverCollect.maxRows below a filled view still fails the read") {
    val dir = root.resolve("cap-a")
    (1 to 5).foreach(i => write(dir, s"k$i.json", s"k$i", i))
    val g = new Graft(spark, root.resolve("cap-state").toString)
    defineAll(g)
    g.index(new DirArchive("dat://cap", dir.toString))
    (1 to 2).foreach(_ => assert(g.listEntries("by-first").size == 5))
    assert(g.snapshotFills == 1)
    spark.conf.set("graft.driverCollect.maxRows", "3")
    try {
      val e = intercept[IllegalStateException](g.listEntries("by-first"))
      assert(e.getMessage.contains("ListOpts(limit=") &&
        e.getMessage.contains("graft.driverCollect.maxRows"), e.getMessage)
      assert(g.listEntries("by-first", ListOpts(limit = Some(2))).size == 2)
      assert(g.getValue("by-first", "k1") == Some(Vector("dat://cap/k1.json")))
    } finally spark.conf.unset("graft.driverCollect.maxRows")
    assert(g.listEntries("by-first").size == 5)
  }

  test("a view whose footer row count exceeds the cap is never collected") {
    val dir = root.resolve("big-a")
    (1 to 5).foreach(i => write(dir, s"k$i.json", s"k$i", i))
    val g = new Graft(spark, root.resolve("big-state").toString)
    defineAll(g)
    g.index(new DirArchive("dat://big", dir.toString))
    spark.conf.set("graft.driverCollect.maxRows", "4")
    try {
      // the read runs exactly the Spark path's one collect
      val viaSpark = jobsIn(g.get("by-first", "k2").limit(5).collect())
      assert(jobsIn(assert(g.getValue("by-first", "k2") == Some(Vector("dat://big/k2.json")))) == viaSpark)
      intercept[IllegalStateException](g.listEntries("by-first"))
      assert(g.snapshotFills == 0 && g.snapshotDeclines == 1)
      // the decline holds for the generation: no footer pass, no fill
      (1 to 3).foreach(_ => assert(jobsIn(g.getValue("by-first", "k3")) == viaSpark))
      assert(g.snapshotFills == 0 && g.snapshotDeclines == 1)
    } finally spark.conf.unset("graft.driverCollect.maxRows")
  }

  test("a view of wide values is not filled under the row cap") {
    val dir = root.resolve("wide-a")
    val body = "x" * 20000
    (1 to 6).foreach(i => write(dir, s"w$i.json", s"w$i", i))
    val g = new Graft(spark, root.resolve("wide-state").toString)
    g.define("docs", ViewDef("/*.json", MapFn((v, _) => Seq(first(v) -> s"$body${first(v)}"))))
    g.define("small", ViewDef("/*.json", MapFn((v, _) => Seq(first(v) -> second(v)))))
    g.index(new DirArchive("dat://wide", dir.toString))
    // 6 rows fit a cap of 100, but not its byte budget (100 x 512 B)
    spark.conf.set("graft.driverCollect.maxRows", "100")
    try {
      (1 to 3).foreach(_ => assert(g.getValue("docs", "w2") == Some(Vector(body + "w2"))))
      assert(g.listEntries("docs").size == 6)
      assert(g.snapshotFills == 0 && g.snapshotDeclines == 1 && g.snapshotRowsHeld == 0)
      (1 to 2).foreach(_ => assert(g.getValue("small", "w2") == Some(Vector(2.0))))
      assert(g.snapshotFills == 1 && g.snapshotRowsHeld == 6)
    } finally spark.conf.unset("graft.driverCollect.maxRows")
  }

  test("the snapshot budget evicts the least recently read view") {
    val dir = root.resolve("lru-a")
    Seq("a", "a", "b", "c").zipWithIndex.foreach { case (k, i) => write(dir, s"f$i.json", k, i) }
    val g = new Graft(spark, root.resolve("lru-state").toString)
    defineAll(g)
    g.index(new DirArchive("dat://lru", dir.toString))
    // by-first holds 4 rows, count 3: both fit 7, not 6
    spark.conf.set("graft.driverCollect.maxRows", "6")
    def twice(v: String): Unit = { g.listEntries(v); g.listEntries(v) }
    try {
      twice("by-first"); twice("count")
      assert(g.snapshotFills == 2 && g.snapshotRowsHeld == 3)
      g.listEntries("count")
      assert(g.snapshotFills == 2, "count is held")
      twice("by-first")
      assert(g.snapshotFills == 3 && g.snapshotRowsHeld == 4, "filling count evicted by-first")
    } finally spark.conf.unset("graft.driverCollect.maxRows")
    twice("count"); g.listEntries("by-first"); g.listEntries("count")
    assert(g.snapshotFills == 4 && g.snapshotRowsHeld == 7, "under the default budget both are held")
  }

  test("the byte budget counts parsed entries and evicts the least recently read view") {
    val dir = root.resolve("bytes-a")
    val tail = "y" * 300
    Seq("a", "b", "c", "d").zipWithIndex.foreach { case (k, i) => write(dir, s"f$i.json", k, i) }
    val g = new Graft(spark, root.resolve("bytes-state").toString)
    g.define("wide1", ViewDef("/*.json", MapFn((v, _) => Seq(first(v) -> s"1$tail"))))
    g.define("wide2", ViewDef("/*.json", MapFn((v, _) => Seq(first(v) -> s"2$tail"))))
    g.index(new DirArchive("dat://bytes", dir.toString))
    // 8 rows fit a cap of 10; each view's parsed 300-char values fit its
    // 5,120-byte budget alone, not together
    spark.conf.set("graft.driverCollect.maxRows", "10")
    def twice(v: String): Unit = (1 to 2).foreach(_ => assert(g.listEntries(v).size == 4))
    try {
      twice("wide1")
      val one = g.snapshotBytesHeld
      assert(g.snapshotFills == 1 && one > 4 * 600 && one <= 5120, one)
      twice("wide2")
      assert(g.snapshotFills == 2 && g.snapshotRowsHeld == 4 && g.snapshotBytesHeld <= 5120,
        "filling wide2 evicted wide1")
      g.listEntries("wide1"); g.listEntries("wide1")
      assert(g.snapshotFills == 3 && g.snapshotRowsHeld == 4)
    } finally spark.conf.unset("graft.driverCollect.maxRows")
  }

  test("a snapshot's byte count bounds the heap its parsed rows hold") {
    import org.apache.spark.util.SizeEstimator
    val values: Seq[Any] = Seq("x" * 100, "\u00e9\u4e2d" * 50, 1.5, true, null,
      Vector(1.0, "two", Vector(3.0)), Vector.tabulate(100)(_.toDouble),
      Map("doc_id" -> 7.0, "lang" -> "en", "source" -> "web", "n_chars" -> 1200.0),
      (1 to 40).map(i => s"k$i" -> Vector(i.toDouble, s"v$i")).toMap)
    values.filter(_ != null).foreach { v =>
      val parsed = Json.parse(Json.render(v)).asInstanceOf[AnyRef]
      assert(ReadSnapshot.heapBytes(parsed) >= SizeEstimator.estimate(parsed), v)
    }
    // a map view's rows: one key per value, then one key of 100 values
    val rows = (values.zipWithIndex ++ (0 until 100).map(i => (s"m$i", values.size))).map { case (v, i) =>
      org.apache.spark.sql.Row(KeyCodec.encode(Seq(i.toDouble)), Json.render(i.toDouble), Json.render(v))
    }
    Seq(true, false).foreach { keyed =>
      val s = new ReadSnapshot(ReadGen("", None), rows, keyed)
      assert(s.bytes >= SizeEstimator.estimate(s), s"keyed=$keyed: ${s.bytes} < ${SizeEstimator.estimate(s)}")
    }
  }

  test("lowering graft.fold.maxValuesPerKey after a fill re-probes and fails") {
    val dir = root.resolve("fold-a")
    write(dir, "h1.json", "hot", 1); write(dir, "h2.json", "hot", 2); write(dir, "c1.json", "cool", 3)
    val g = new Graft(spark, root.resolve("fold-state").toString)
    g.define("folded", ViewDef("/*.json", MapFn((v, _) => Seq(first(v) -> 1)),
      Reduce.Fold((acc, _, _) => acc.map(_.asInstanceOf[Double] + 1).getOrElse(1.0))))
    g.index(new DirArchive("dat://fold", dir.toString))
    assert(g.getValue("folded", "hot") == Some(2.0)) // probes through Spark
    val probes = g.foldProbeRuns
    assert(g.getValue("folded", "cool") == Some(1.0)) // fills without a probe
    assert(g.getValue("folded", "hot") == Some(2.0))
    assert(g.snapshotFills == 1 && g.snapshotHits == 1 && g.foldProbeRuns == probes)
    spark.conf.set("graft.fold.maxValuesPerKey", "1")
    try {
      val e = intercept[Exception](g.getValue("folded", "hot"))
      assert(chain(e).exists(_.contains("Reduce.Assoc")), chain(e))
      assert(g.foldProbeRuns == probes + 1)
      assert(g.getValue("folded", "cool") == Some(1.0))
    } finally spark.conf.unset("graft.fold.maxValuesPerKey")
  }

  test("a corrupt Count or Sum fold partial still fails loudly") {
    val dir = root.resolve("corrupt-a")
    write(dir, "a.json", "k1", 3); write(dir, "b.json", "k1", 4); write(dir, "c.json", "k2", 5)
    val g = new Graft(spark, root.resolve("corrupt-state").toString)
    g.define("cnt", ViewDef(Seq("/*.json"), MapFn((v, _) => Seq(first(v) -> 1)),
      Some(Reduce.Count), materialize = true))
    g.define("sums", ViewDef(Seq("/*.json"), MapFn((v, _) => Seq(first(v) -> second(v))),
      Some(Reduce.Sum), materialize = true))
    g.index(new DirArchive("dat://corrupt", dir.toString))
    (1 to 2).foreach(_ =>
      assert(g.getValue("cnt", "k1") == Some(2.0) && g.getValue("sums", "k1") == Some(7.0)))
    assert(g.snapshotFills == 2)
    corruptFold(g, "cnt", "k1")
    corruptFold(g, "sums", "k1")
    Seq("cnt" -> "corrupt Count fold partial", "sums" -> "corrupt numeric fold partial").foreach {
      case (v, msg) =>
        val e = intercept[Exception](g.getValue(v, "k1"))
        assert(chain(e).exists(_.contains(msg)), chain(e))
        assert(chain(intercept[Exception](g.listEntries(v))).exists(_.contains(msg)))
    }
    // a healthy key of the corrupt state reads as it does without snapshots
    assert(g.getValue("cnt", "k2") == Some(1.0) && g.getValue("sums", "k2") == Some(5.0))
  }

  /** Commits a folds generation whose partial for `key` is garbage,
    * through the manifest, renamed over the old one as a commit does
    * (the state stays snapshot-eligible).
    */
  private def corruptFold(g: Graft, view: String, key: String): Unit = {
    val dir = Paths.get(g.stateRoot, view, "folds")
    val (ob, (current, _)) = g.loadManifest(dir.toString).get.head
    val bad = spark.read.option("basePath", dir.toString)
      .parquet(current.map(f => dir.resolve(f).toString): _*)
      .withColumn("value_json", when(col("key_json") === lit(s""""$key""""), lit("garbage"))
        .otherwise(col("value_json")))
      .drop("ob").coalesce(1).localCheckpoint(true)
    val tmp = root.resolve(s"corrupt-tmp-$view")
    bad.write.parquet(tmp.toString)
    val part = Files.list(tmp).iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    val name = s"ob=$ob/corrupt-${part.getFileName}"
    Files.move(part, dir.resolve(name))
    val manifest = Files.write(dir.resolve("._manifest.corrupt"),
      s"$ob\t$name\t${current.mkString(",")}".getBytes(StandardCharsets.UTF_8))
    Files.move(manifest, dir.resolve("_manifest.txt"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private val procFd = Paths.get("/proc/self/fd")

  /** This process's open descriptors whose file is a manifest under
    * `state` (unlinked or not), counted per view.
    */
  private def manifestDescriptors(state: Path): Map[String, Int] = {
    val prefix = state.toString + "/"
    val fds = Files.list(procFd)
    try fds.iterator().asScala
      .flatMap(fd => scala.util.Try(Files.readSymbolicLink(fd).toString).toOption)
      .filter(t => t.startsWith(prefix) && t.stripSuffix(" (deleted)").endsWith("/_manifest.txt"))
      .toSeq.groupBy(_.drop(prefix.length).takeWhile(_ != '/')).map { case (v, ts) => v -> ts.size }
    finally fds.close()
  }

  private def chain(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
      .map(x => Option(x.getMessage).getOrElse("")).toSeq

  /** Spark jobs started by this thread while `f` runs. */
  private def jobsIn(f: => Unit): Long = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${java.util.UUID.randomUUID()}"
    flush()
    sc.setJobGroup(group, "counted")
    try f finally sc.clearJobGroup()
    flush()
    Jobs.count(group)
  }

  /** Runs a marker job and waits until the listener has seen it: the bus
    * is FIFO, so every earlier job start has been delivered too.
    */
  private def flush(): Unit = {
    val mark = s"flush-${java.util.UUID.randomUUID()}"
    spark.sparkContext.setJobDescription(mark)
    try spark.range(1).count() finally spark.sparkContext.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 30000
    while (!Jobs.saw(mark) && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(Jobs.saw(mark), "listener bus did not deliver the marker job")
  }
}

object ReadSnapshotSpec extends Serializable {
  // map lambdas must not capture the (non-serializable) suite instance
  def first(value: String): Any = Json.parse(value).asInstanceOf[Map[String, Any]]("first")
  def second(value: String): Any = Json.parse(value).asInstanceOf[Map[String, Any]]("second")

  /** Job starts per job group, and the descriptions seen. */
  object Jobs extends SparkListener {
    private val groups = mutable.Map.empty[String, Long]
    private val descriptions = mutable.Set.empty[String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).foreach { p =>
        Option(p.getProperty("spark.job.description")).foreach(descriptions += _)
        Option(p.getProperty("spark.jobGroup.id")).foreach(g => groups(g) = groups.getOrElse(g, 0L) + 1)
      }
    }
    def count(group: String): Long = synchronized(groups.getOrElse(group, 0L))
    def saw(description: String): Boolean = synchronized(descriptions(description))
  }
}
