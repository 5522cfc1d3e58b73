package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
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
    val dirA = root.resolve("inv-a")
    val dirB = root.resolve("inv-b")
    write(dirA, "a1.json", "b", 1); write(dirA, "a2.json", "c", 2); write(dirA, "a3.json", "b", 3)
    write(dirB, "b1.json", "a", 10); write(dirB, "b2.json", "c", 20)
    val state = root.resolve("inv-state").toString
    val (a, b) = (new DirArchive("dat://a", dirA.toString), new DirArchive("dat://b", dirB.toString))
    val g = new Graft(spark, state)
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
    val g2 = new Graft(spark, state)
    defineAll(g2)
    write(dirA, "a2.json", "e", 7)
    g2.index(a)
    model.indexed("dat://a", dirA)
    assert(check(g, model, "second engine's commit") == 3)

    // define-time fold reconcile by other engines: a non-materializing
    // definition drops the folds, a materializing one rebuilds them
    val g3 = new Graft(spark, state)
    defineAll(g3, sumsMaterialized = false)
    assert(!Files.exists(Paths.get(state, "sums", "folds")))
    assert(check(g, model, "reconcile drops folds") == 1)
    write(dirA, "a5.json", "a", 8)
    g3.index(a)
    model.indexed("dat://a", dirA)
    assert(check(g, model, "index without folds") == 3)
    val g4 = new Graft(spark, state)
    defineAll(g4)
    assert(Files.exists(Paths.get(state, "sums", "folds")))
    assert(check(g, model, "reconcile refolds") == 1)
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
    * through the manifest (the state stays snapshot-eligible).
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
    Files.write(dir.resolve("_manifest.txt"),
      s"$ob\t$name\t${current.mkString(",")}".getBytes(StandardCharsets.UTF_8))
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
