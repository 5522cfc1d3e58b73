package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import graft.core._

/** End-to-end engine parity with the reference's own test suites
  * (/root/reference/test/view.js, /root/reference/test/compound-keys.js):
  * map + reduced views, get() multi-value ordering, list() full/range/
  * reverse/limit, compound keys, incremental re-index of changed files,
  * file-level index/unindex, and state management. Tests run in order —
  * later tests mutate the state earlier tests build.
  */
class GraftEngineSpec extends SparkSpec {

  private val nArch = 4
  private var root: Path = _
  private var db: Graft = _
  private var archives: Seq[DirArchive] = _
  private def aurl(i: Int) = s"dat://site-$i"

  private def writeJson(dir: Path, rel: String, fields: (String, Any)*): Unit = {
    val p = dir.resolve(rel.stripPrefix("/"))
    Files.createDirectories(p.getParent)
    val body = fields.map { case (k, v) => Json.renderString(k) + ":" + Json.render(v) }
      .mkString("{", ",", "}")
    Files.write(p, body.getBytes(StandardCharsets.UTF_8))
  }

  private def bumpMtime(dir: Path, rel: String, by: Long): Unit = {
    val p = dir.resolve(rel.stripPrefix("/"))
    Files.setLastModifiedTime(p, FileTime.fromMillis(
      Files.getLastModifiedTime(p).toMillis + by))
  }

  // map lambdas must not capture the (non-serializable) suite instance —
  // they use the companion's static helper instead
  import GraftEngineSpec.parseFirst

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-engine-spec")
    val archDirs = (0 until nArch).map { i =>
      val d = root.resolve(s"arch$i")
      writeJson(d, "/single.json", "first" -> s"first$i", "second" -> i)
      writeJson(d, "/multi/1.json", "first" -> s"first$i", "second" -> (i + 1) * 100)
      writeJson(d, "/multi/2.json", "first" -> s"first$i", "second" -> i)
      writeJson(d, "/multi/3.json", "first" -> s"first${i}b", "second" -> i)
      d
    }
    archives = (0 until nArch).map(i => new DirArchive(aurl(i), archDirs(i).toString))

    db = new Graft(spark, root.resolve("state").toString)
    db.define("single", ViewDef("/single.json",
      MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    db.define("single-reduced", ViewDef("/single.json",
      MapFn((_, m) => Seq(m.origin -> 1)),
      Reduce.Fold((acc, _, _) => acc.map(_.asInstanceOf[Double] + 1).getOrElse(1.0))))
    db.define("multi", ViewDef("/multi/*.json",
      MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    db.define("multi-reduced", ViewDef("/multi/*.json",
      MapFn((_, m) => Seq(m.origin -> 1)),
      Reduce.Count))
    db.define("compound", ViewDef("/multi/*.json",
      MapFn((v, m) => Seq(Seq(m.origin, parseFirst(v)) -> m.url))))
    db.define("compound-reduced", ViewDef("/multi/*.json",
      MapFn((v, m) => Seq(Seq(m.origin, parseFirst(v)) -> 1)),
      Reduce.Count))
    archives.foreach(a => db.index(a))
  }

  override def afterAll(): Unit = {
    // best-effort temp state cleanup; session is shared, leave it up
    try {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally walk.close()
    } catch { case _: Throwable => () }
    super.afterAll()
  }

  test("get(): map views return all values at key ordered by file; reduced return fold") {
    assert(db.getValue("single", "first0") == Some(Vector(aurl(0) + "/single.json")))
    assert(db.getValue("single", "first1") == Some(Vector(aurl(1) + "/single.json")))
    assert(db.getValue("single-reduced", aurl(0)) == Some(1.0))
    assert(db.getValue("multi", "first0") ==
      Some(Vector(aurl(0) + "/multi/1.json", aurl(0) + "/multi/2.json")))
    assert(db.getValue("multi-reduced", aurl(1)) == Some(3.0))
    assert(db.getValue("single", "nope") == None)
  }

  test("list(): full scan in key order") {
    val res = db.listEntries("single")
    assert(res.size == nArch)
    (0 until nArch).foreach { i =>
      assert(res(i) == Entry(s"first$i", aurl(i) + "/single.json"))
    }
    val multi = db.listEntries("multi")
    assert(multi.size == nArch * 3)
    (0 until nArch).foreach { i =>
      assert(multi(i * 3) == Entry(s"first$i", aurl(i) + "/multi/1.json"))
      assert(multi(i * 3 + 1) == Entry(s"first$i", aurl(i) + "/multi/2.json"))
      assert(multi(i * 3 + 2) == Entry(s"first${i}b", aurl(i) + "/multi/3.json"))
    }
    val mr = db.listEntries("multi-reduced")
    assert(mr.size == nArch && mr.forall(_.value == 3.0))
  }

  test("list(): gt/gte/lt/lte/reverse/limit") {
    assert(db.listEntries("single", ListOpts(gt = Some(Seq("first1"))))
      .map(_.key) == (2 until nArch).map(i => s"first$i"))
    assert(db.listEntries("single", ListOpts(gte = Some(Seq("first1"))))
      .map(_.key) == (1 until nArch).map(i => s"first$i"))
    assert(db.listEntries("single", ListOpts(lt = Some(Seq("first2"))))
      .map(_.key) == Seq("first0", "first1"))
    assert(db.listEntries("single", ListOpts(lte = Some(Seq("first2"))))
      .map(_.key) == Seq("first0", "first1", "first2"))
    assert(db.listEntries("single", ListOpts(reverse = true))
      .map(_.key) == (0 until nArch).reverse.map(i => s"first$i"))
    assert(db.listEntries("single", ListOpts(limit = Some(3)))
      .map(_.key) == Seq("first0", "first1", "first2"))
    // limit counts KEYS for map views; multi-values at a key all return
    // (reference lib/view.js:73-82)
    val lim = db.listEntries("multi", ListOpts(limit = Some(1)))
    assert(lim.size == 2 && lim.forall(_.key == "first0"))
    // reverse + limit = last keys
    assert(db.listEntries("single", ListOpts(limit = Some(2), reverse = true))
      .map(_.key) == Seq(s"first${nArch - 1}", s"first${nArch - 2}"))
  }

  test("reduced views: range + reverse + limit compose like map views") {
    val keys = db.listEntries("multi-reduced").map(_.key)
    assert(keys == (0 until nArch).map(aurl)) // origin keys, byte order
    assert(db.listEntries("multi-reduced", ListOpts(reverse = true, limit = Some(2)))
      .map(_.key) == Seq(aurl(nArch - 1), aurl(nArch - 2)))
    assert(db.listEntries("multi-reduced",
      ListOpts(gte = Some(Seq(aurl(1))), lte = Some(Seq(aurl(2)))))
      .map(e => (e.key, e.value)) == Seq(aurl(1) -> 3.0, aurl(2) -> 3.0))
  }

  test("compound keys: element-wise order, range scans, reduced counts") {
    assert(db.getValue("compound", Seq(aurl(0), "first0")) ==
      Some(Vector(aurl(0) + "/multi/1.json", aurl(0) + "/multi/2.json")))
    assert(db.getValue("compound-reduced", Seq(aurl(0), "first0")) == Some(2.0))
    assert(db.getValue("compound-reduced", Seq(aurl(0), "first0b")) == Some(1.0))

    val all = db.listEntries("compound")
    assert(all.size == nArch * 3)
    assert(all.map(_.key) == all.map(_.key).sortBy(k =>
      (k.asInstanceOf[Vector[Any]](0).toString, k.asInstanceOf[Vector[Any]](1).toString)))

    // range: everything strictly after [aurl(0), "first0"]
    val gt = db.listEntries("compound", ListOpts(gt = Some(Seq(aurl(0), "first0"))))
    assert(gt.size == nArch * 3 - 2)
    assert(gt.head.key == Vector(aurl(0), "first0b"))

    // prefix range trick: all keys of origin 1 = gte [o1] lt [o1, MAX]
    val o1 = db.listEntries("compound",
      ListOpts(gte = Some(Seq(aurl(1))), lt = Some(Seq(aurl(1), "￿"))))
    assert(o1.size == 3)
    assert(o1.forall(_.key.asInstanceOf[Vector[Any]](0) == aurl(1)))
  }

  test("incremental: re-index only changed files, with retraction") {
    // Rewrite single.json + multi/1.json of archive 0 with new keys and a
    // bumped mtime; leave other files untouched.
    val d = Paths.get(root.toString, "arch0")
    writeJson(d, "/single.json", "first" -> s"first$nArch", "second" -> 0)
    writeJson(d, "/multi/1.json", "first" -> s"first$nArch", "second" -> 100)
    bumpMtime(d, "/single.json", 60000)
    bumpMtime(d, "/multi/1.json", 60000)
    db.index(archives(0))

    // retracted: first0 no longer lists single.json or multi/1.json
    assert(db.getValue("single", "first0") == None)
    assert(db.getValue("single", s"first$nArch") == Some(Vector(aurl(0) + "/single.json")))
    assert(db.getValue("multi", "first0") == Some(Vector(aurl(0) + "/multi/2.json")))
    assert(db.getValue("multi", s"first$nArch") == Some(Vector(aurl(0) + "/multi/1.json")))
    // untouched files kept; counts stable
    assert(db.getValue("multi-reduced", aurl(0)) == Some(3.0))
    assert(db.getValue("single-reduced", aurl(0)) == Some(1.0))
    // other origins untouched
    assert(db.getValue("single", "first1") == Some(Vector(aurl(1) + "/single.json")))
  }

  test("indexFile/unindexFile: single-file add and retraction") {
    db.unindexFile(aurl(1), "/multi/3.json")
    assert(db.getValue("multi", "first1b") == None)
    assert(db.getValue("multi-reduced", aurl(1)) == Some(2.0))

    db.indexFile(archives(1), "/multi/3.json")
    assert(db.getValue("multi", "first1b") == Some(Vector(aurl(1) + "/multi/3.json")))
    assert(db.getValue("multi-reduced", aurl(1)) == Some(3.0))
  }

  test("unindex: drops an origin's contribution everywhere") {
    assert(db.isIndexed(aurl(2)))
    db.unindex(aurl(2))
    assert(!db.isIndexed(aurl(2)))
    assert(db.getValue("single", "first2") == None)
    assert(db.getValue("multi-reduced", aurl(2)) == None)
    assert(db.getValue("single", "first1").isDefined) // others intact
  }

  test("listIndexed/isIndexed reflect the catalog; catalog survives restart") {
    assert(db.listIndexed().toSet == Set(aurl(0), aurl(1), aurl(3)))
    val db2 = new Graft(spark, root.resolve("state").toString)
    assert(db2.listIndexed().toSet == Set(aurl(0), aurl(1), aurl(3)))
    assert(db2.isIndexed(aurl(1)) && !db2.isIndexed(aurl(2)))
  }

  test("reset clears a view's state; others unaffected") {
    db.reset("single")
    assert(db.listEntries("single").isEmpty)
    assert(db.listEntries("multi").nonEmpty)
  }

  test("Assoc reduce: partial-aggregating user fold; built-in Min/Max folds") {
    val db4 = new Graft(spark, root.resolve("state3").toString)
    db4.define("assoc-max", ViewDef(Seq("/multi/*.json"),
      MapFn((v, m) => Seq(m.origin -> Json.parse(v).asInstanceOf[Map[String, Any]]("second"))),
      Some(Reduce.Assoc((a, b) =>
        math.max(a.asInstanceOf[Double], b.asInstanceOf[Double])))))
    db4.define("min-second", ViewDef(Seq("/multi/*.json"),
      MapFn((v, m) => Seq(m.origin -> Json.parse(v).asInstanceOf[Map[String, Any]]("second"))),
      Some(Reduce.Min)))
    db4.define("max-second", ViewDef(Seq("/multi/*.json"),
      MapFn((v, m) => Seq(m.origin -> Json.parse(v).asInstanceOf[Map[String, Any]]("second"))),
      Some(Reduce.Max)))
    db4.index(archives(1))
    // archive 1 multi seconds: 200 (multi/1), 1 (multi/2), 1 (multi/3)
    assert(db4.getValue("assoc-max", aurl(1)) == Some(200.0))
    assert(db4.getValue("min-second", aurl(1)) == Some(1.0))
    assert(db4.getValue("max-second", aurl(1)) == Some(200.0))
  }

  test("late-defined view gets a FULL build on next index; current views stay incremental") {
    // reference semantics: per-view archiveVersionLevel (view.js:39)
    val db6 = new Graft(spark, root.resolve("state5").toString)
    db6.define("first-view", ViewDef("/single.json",
      MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    db6.index(archives(3))
    assert(db6.getValue("first-view", "first3").isDefined)

    // define a second view AFTER archive 3 was indexed; files unchanged
    db6.define("late-view", ViewDef("/multi/*.json",
      MapFn((_, m) => Seq(m.origin -> 1)), Reduce.Count))
    db6.index(archives(3))
    // the late view sees ALL existing files despite no fversion advance
    assert(db6.getValue("late-view", aurl(3)) == Some(3.0))
    // and the first view kept its state
    assert(db6.getValue("first-view", "first3").isDefined)

    // reset clears per-view versions: next index rebuilds from scratch
    db6.reset("late-view")
    assert(db6.listEntries("late-view").isEmpty)
    db6.index(archives(3))
    assert(db6.getValue("late-view", aurl(3)) == Some(3.0))
  }

  test("MapFn object values roundtrip as JSON; destroy() clears all state") {
    val db5 = new Graft(spark, root.resolve("state4").toString)
    db5.define("obj", ViewDef("/single.json",
      MapFn((v, m) => {
        val second = Json.parse(v).asInstanceOf[Map[String, Any]]("second")
        Seq(m.origin -> Map("n" -> second, "path" -> m.pathname))
      })))
    db5.index(archives(2))
    assert(db5.getValue("obj", aurl(2)) ==
      Some(Vector(Map("n" -> 2.0, "path" -> "/single.json"))))
    db5.destroy()
    assert(db5.listIndexed().isEmpty)
    assert(!Files.exists(root.resolve("state4")))
  }

  test("declarative MapDF views run the same pipeline") {
    val db3 = new Graft(spark, root.resolve("state2").toString)
    import org.apache.spark.sql.functions._
    db3.define("df-view", ViewDef(Seq("/multi/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("first", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("second", org.apache.spark.sql.types.LongType)))))
      GraftFunctions.emitEntry(parsed, Seq(col("j.first")), col("j.second"))
    }, None))
    db3.index(archives(1))
    val res = db3.listEntries("df-view")
    assert(res.map(_.key) == Seq("first1", "first1", "first1b"))
    assert(db3.getValue("df-view", "first1") == Some(Vector(200.0, 1.0)))
  }

  test("define() rejects ill-formed definitions with SchemaError (view-def.js:4-10)") {
    val dbv = new Graft(spark, root.resolve("state-val").toString)
    def rejects(f: => Unit): Unit = { intercept[SchemaError](f); () }
    val okMap = MapFn((_, m) => Seq(m.pathname -> 1))
    rejects(dbv.define("", ViewDef("/x.json", okMap)))
    rejects(dbv.define(null, ViewDef("/x.json", okMap)))
    rejects(dbv.define("v", ViewDef(Seq.empty[String], okMap, None)))
    rejects(dbv.define("v", ViewDef(Seq("  "), okMap, None)))
    rejects(dbv.define("v", ViewDef(Seq("/x.json", null), okMap, None)))
    rejects(dbv.define("v", ViewDef(Seq("/x.json"), null, None)))
    rejects(dbv.define("v", ViewDef(Seq("/x.json"), okMap, Some(null))))
    dbv.define("v", ViewDef("/x.json", okMap))
    rejects(dbv.define("v", ViewDef("/x.json", okMap))) // duplicate name
  }

  test("URL-string call forms: index/indexFile/unindexFile accept archive URLs") {
    val db7 = new Graft(spark, root.resolve("state-url").toString)
    db7.define("by-first", ViewDef("/multi/*.json",
      MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    intercept[SchemaError](db7.index("dat://never-seen"))
    intercept[SchemaError](db7.indexFile("dat://never-seen/multi/3.json"))
    db7.index(archives(1)) // registers the archive for URL resolution
    db7.unindexFile(aurl(1) + "/multi/3.json")
    assert(db7.getValue("by-first", "first1b") == None)
    db7.indexFile(aurl(1) + "/multi/3.json")
    assert(db7.getValue("by-first", "first1b") ==
      Some(Vector(aurl(1) + "/multi/3.json")))
    db7.index(aurl(1)) // string-form incremental pass is a no-op here
    assert(db7.getValue("by-first", "first1b").isDefined)
  }

  test("retraction to empty: unindexFile of an origin's only file clears its partition") {
    val db8 = new Graft(spark, root.resolve("state-empty").toString)
    db8.define("sv", ViewDef("/single.json",
      MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    db8.index(archives(3))
    assert(db8.getValue("sv", "first3").isDefined)
    // dynamic overwrite with an empty merge is a silent no-op — the engine
    // must delete the ob= partition explicitly for retraction to hold
    db8.unindexFile(aurl(3), "/single.json")
    assert(db8.listEntries("sv").isEmpty,
      "stale entries must not survive an all-entries retraction")
  }

  test("incremental: a NEW file with a backdated mtime still gets indexed") {
    val d = Files.createTempDirectory("graft-backdate")
    writeJson(d, "/a.json", "first" -> "one", "second" -> 1)
    val arch = new DirArchive("dat://backdate", d.toString)
    val db10 = new Graft(spark, root.resolve("state-backdate").toString)
    db10.define("sv", ViewDef("/*.json",
      MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    db10.index(arch)
    // mv/cp -p/tar land files with PRESERVED (old) mtimes: fversion <=
    // lastV, but the file is new to the index and must still be mapped
    writeJson(d, "/old.json", "first" -> "two", "second" -> 2)
    Files.setLastModifiedTime(d.resolve("old.json"), FileTime.fromMillis(
      Files.getLastModifiedTime(d.resolve("a.json")).toMillis - 60000))
    db10.index(arch)
    assert(db10.getValue("sv", "two") == Some(Vector("dat://backdate/old.json")))
    assert(db10.getValue("sv", "one") == Some(Vector("dat://backdate/a.json")))
  }

  test("contentHash fversion: rewrite with an UNCHANGED mtime is re-indexed") {
    val d = Files.createTempDirectory("graft-samemtime")
    writeJson(d, "/a.json", "first" -> "v1", "second" -> 1)
    val mtime = Files.getLastModifiedTime(d.resolve("a.json"))

    // control: the default mtime stamp can't see a same-granule rewrite
    val dbM = new Graft(spark, root.resolve("state-mtime-blind").toString)
    dbM.define("sv", ViewDef("/*.json", MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    dbM.index(new DirArchive("dat://samem", d.toString))
    // content-hash mode: the diff is on xxhash64(content), mtime-blind
    val dbH = new Graft(spark, root.resolve("state-hash").toString)
    dbH.define("sv", ViewDef("/*.json", MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    dbH.index(new DirArchive("dat://sameh", d.toString, contentHash = true))
    assert(dbH.getValue("sv", "v1").isDefined)

    writeJson(d, "/a.json", "first" -> "v2", "second" -> 2)
    Files.setLastModifiedTime(d.resolve("a.json"), mtime) // regress to the indexed granule

    dbM.index(new DirArchive("dat://samem", d.toString))
    assert(dbM.getValue("sv", "v1").isDefined && dbM.getValue("sv", "v2").isEmpty,
      "documented blind spot: mtime stamps treat a same-granule rewrite as unchanged")
    dbH.index(new DirArchive("dat://sameh", d.toString, contentHash = true))
    assert(dbH.getValue("sv", "v2") == Some(Vector("dat://sameh/a.json")),
      "content-hash diff must re-index the rewritten file")
    assert(dbH.getValue("sv", "v1").isEmpty, "old entries must be retracted")

    // unchanged content on a later pass stays put (idempotent diff)
    dbH.index(new DirArchive("dat://sameh", d.toString, contentHash = true))
    assert(dbH.getValue("sv", "v2") == Some(Vector("dat://sameh/a.json")))
  }

  test("switching contentHash back to mtime forces one full reprocess (lastV poisoning)") {
    val d = Files.createTempDirectory("graft-modeswitch")
    writeJson(d, "/a.json", "first" -> "h1", "second" -> 1)
    val dbS = new Graft(spark, root.resolve("state-modeswitch").toString)
    dbS.define("sv", ViewDef("/*.json", MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    dbS.index(new DirArchive("dat://switch", d.toString, contentHash = true))
    assert(dbS.getValue("sv", "h1").isDefined)

    // rewrite, then index in mtime mode: lastV is a 63-bit hash no mtime
    // exceeds, so without the mode-switch detection this change is
    // invisible forever
    writeJson(d, "/a.json", "first" -> "h2", "second" -> 2)
    bumpMtime(d, "/a.json", 60000)
    dbS.index(new DirArchive("dat://switch", d.toString))
    assert(dbS.getValue("sv", "h2").isDefined && dbS.getValue("sv", "h1").isEmpty,
      "mode switch must force a full reprocess instead of skipping every change")

    // the sidecar is gone and plain stamp mode works again afterwards
    writeJson(d, "/a.json", "first" -> "h3", "second" -> 3)
    bumpMtime(d, "/a.json", 120000)
    dbS.index(new DirArchive("dat://switch", d.toString))
    assert(dbS.getValue("sv", "h3").isDefined && dbS.getValue("sv", "h2").isEmpty)
  }

  test("define-time fold reconcile: folds build for entries indexed without materialize, and stale folds are dropped") {
    val d1 = Files.createTempDirectory("graft-rec-a")
    val d2 = Files.createTempDirectory("graft-rec-b")
    writeJson(d1, "/a.json", "first" -> "k", "second" -> 10)
    writeJson(d2, "/b.json", "first" -> "k", "second" -> 5)
    val stateDir = root.resolve("state-reconcile").toString
    val sumsDef = { mat: Boolean => ViewDef(Seq("/*.json"),
      MapFn((v, m) => {
        val rec = core.Json.parse(v).asInstanceOf[Map[String, Any]]
        Seq(rec("first") -> rec("second"))
      }), Some(Reduce.Sum), materialize = mat) }

    // process 1: NOT materialized — writes entries only
    val p1 = new Graft(spark, stateDir)
    p1.define("sums", sumsDef(false))
    p1.index(new DirArchive("dat://rec-a", d1.toString))
    p1.index(new DirArchive("dat://rec-b", d2.toString))
    assert(!Files.exists(root.resolve("state-reconcile/sums/folds")))

    // process 2 (same state, materialize = true): define() must refold
    // BOTH origins before any read — partial coverage would silently
    // drop an origin from every aggregate
    val p2 = new Graft(spark, stateDir)
    p2.define("sums", sumsDef(true))
    assert(Files.exists(root.resolve("state-reconcile/sums/folds")))
    assert(p2.getValue("sums", "k") == Some(15.0))

    // process 3 flips materialize back off: leftover folds are deleted at
    // define (this process's writes would let them go stale)
    val p3 = new Graft(spark, stateDir)
    p3.define("sums", sumsDef(false))
    assert(!Files.exists(root.resolve("state-reconcile/sums/folds")))
    assert(p3.getValue("sums", "k") == Some(15.0))
  }

  test("indexFile on a missing pathname is a no-op, never a retraction") {
    val d = Files.createTempDirectory("graft-idxmissing")
    writeJson(d, "/a.json", "first" -> "present", "second" -> 1)
    val dbI = new Graft(spark, root.resolve("state-idxmissing").toString)
    dbI.define("sv", ViewDef("/*.json", MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    val arch = new DirArchive("dat://idxmiss", d.toString)
    dbI.index(arch)
    assert(dbI.getValue("sv", "present").isDefined)

    // typo'd pathname: nothing to index, nothing retracted
    dbI.indexFile(arch, "/nope.json")
    assert(dbI.getValue("sv", "present").isDefined)

    // file deleted from disk then indexFile'd: the old Spark-side gate
    // no-op'd here; the driver-side glob must not regress that into a
    // silent retraction of the file's existing entries
    Files.delete(d.resolve("a.json"))
    dbI.indexFile(arch, "/a.json")
    assert(dbI.getValue("sv", "present").isDefined,
      "indexFile of a deleted file must no-op (unindexFile is the retraction API)")
  }

  test("reset() emits view-reset (index.js:113)") {
    val dbR = new Graft(spark, root.resolve("state-reset-event").toString)
    dbR.define("sv", ViewDef("/*.json", MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    val events = scala.collection.mutable.ArrayBuffer.empty[GraftEvent]
    dbR.addListener(e => events.synchronized { events += e })
    dbR.reset("sv")
    assert(events.synchronized(events.toList).contains(GraftEvent.ViewReset("sv")))
  }

  test("Reduce.Fold enforces its per-key cardinality cap with a clear failure") {
    val d = Files.createTempDirectory("graft-foldcap")
    (1 to 3).foreach(i => writeJson(d, s"/f$i.json", "first" -> "same-key", "second" -> i))
    val dbF = new Graft(spark, root.resolve("state-foldcap").toString)
    dbF.define("folded", ViewDef("/*.json",
      MapFn((v, m) => Seq(parseFirst(v) -> 1)),
      Reduce.Fold((acc, _, _) => acc.map(_.asInstanceOf[Double] + 1).getOrElse(1.0))))
    dbF.index(new DirArchive("dat://foldcap", d.toString))
    spark.conf.set("graft.fold.maxValuesPerKey", "2")
    try {
      val e = intercept[Exception](dbF.getValue("folded", "same-key"))
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("Reduce.Assoc")),
        s"failure must point at the Assoc alternative, got: ${chain(e)}")
    } finally spark.conf.unset("graft.fold.maxValuesPerKey")
    // under the default cap the fold still works
    assert(dbF.getValue("folded", "same-key") == Some(3.0))
  }

  test("open/open-failed lifecycle events (reference index.js:53-58)") {
    val events = scala.collection.mutable.ArrayBuffer.empty[GraftEvent]
    val dbO = new Graft(spark, root.resolve("state-open").toString,
      initialListeners = Seq(e => events.synchronized { events += e; () }))
    assert(events.synchronized(events.toList) == List(GraftEvent.Open),
      "constructor-passed listener must hear open exactly once")
    // subscribe-after-new still hears open (replay — the same contract
    // the reference's deferred open gives same-tick subscribers)
    var late = List.empty[GraftEvent]
    dbO.addListener(e => late = late :+ e)
    assert(late == List(GraftEvent.Open))
    // corrupt catalog: open-failed reaches the constructor listeners,
    // and the constructor still throws
    val badRoot = root.resolve("state-openfail")
    Files.createDirectories(badRoot)
    Files.write(badRoot.resolve("_catalog.json"),
      "{not json".getBytes(StandardCharsets.UTF_8))
    val failEvents = scala.collection.mutable.ArrayBuffer.empty[GraftEvent]
    intercept[Exception] {
      new Graft(spark, badRoot.toString,
        initialListeners = Seq(e => failEvents.synchronized { failEvents += e; () }))
    }
    val seen = failEvents.synchronized(failEvents.toList)
    assert(seen.size == 1 && seen.head.isInstanceOf[GraftEvent.OpenFailed],
      s"expected one open-failed, got $seen")
  }

  test("anymatch '!' negation: exclusions subtract from the matcher set (indexer.js:361)") {
    val d = Files.createTempDirectory("graft-negglob")
    writeJson(d, "/multi/1.json", "first" -> "a", "second" -> 1)
    writeJson(d, "/multi/2.json", "first" -> "b", "second" -> 2)
    writeJson(d, "/multi/3.json", "first" -> "c", "second" -> 3)
    writeJson(d, "/single.json", "first" -> "s", "second" -> 0)
    val dbN = new Graft(spark, root.resolve("state-negglob").toString)
    dbN.define("notthree", ViewDef(Seq("/multi/*.json", "!/multi/3.json"),
      MapFn((_, m) => Seq(m.pathname -> 1))))
    // all-negative set: everything not excluded (minimatch convention)
    dbN.define("allneg", ViewDef(Seq("!/multi/**"),
      MapFn((_, m) => Seq(m.pathname -> 1))))
    val arch = new DirArchive("dat://negglob", d.toString)
    dbN.index(arch)
    def keys(view: String): Set[String] =
      dbN.list(view).collect().map(r =>
        Json.parse(r.getAs[String]("key_json")).asInstanceOf[String]).toSet
    assert(keys("notthree") == Set("/multi/1.json", "/multi/2.json"))
    assert(keys("allneg") == Set("/single.json"))
    // driver-side matcher agrees with the distributed filter
    val vd = ViewDef(Seq("/multi/*.json", "!/multi/3.json"),
      MapFn((_, _) => Seq.empty))
    assert(vd.pathMatches("/multi/1.json") && !vd.pathMatches("/multi/3.json")
      && !vd.pathMatches("/single.json"))
    // bare "!" is rejected at define time
    intercept[SchemaError](dbN.define("bad", ViewDef(Seq("!"),
      MapFn((_, _) => Seq.empty))))
  }

  test("Fold cap probe runs once per state version, not once per read") {
    val d = Files.createTempDirectory("graft-foldprobe")
    (1 to 3).foreach(i => writeJson(d, s"/p$i.json", "first" -> s"k$i", "second" -> i))
    val dbP = new Graft(spark, root.resolve("state-foldprobe").toString)
    dbP.define("folded", ViewDef("/*.json",
      MapFn((v, m) => Seq(parseFirst(v) -> 1)),
      Reduce.Fold((acc, _, _) => acc.map(_.asInstanceOf[Double] + 1).getOrElse(1.0))))
    val arch = new DirArchive("dat://foldprobe", d.toString)
    dbP.index(arch)
    val base = dbP.foldProbeRuns
    dbP.getValue("folded", "k1")
    assert(dbP.foldProbeRuns == base + 1, "first Fold read must probe")
    dbP.getValue("folded", "k2")
    dbP.list("folded").collect()
    assert(dbP.foldProbeRuns == base + 1,
      "repeated reads of unchanged state must reuse the cached probe")
    // a state write invalidates: the next read probes exactly once more
    writeJson(d, "/p4.json", "first" -> "k4", "second" -> 4)
    dbP.index(arch)
    dbP.getValue("folded", "k1")
    dbP.getValue("folded", "k4")
    assert(dbP.foldProbeRuns == base + 2,
      "a state change must re-probe once, then cache again")
    // a TIGHTER cap cannot ride the old pass: probing resumes (and fails)
    spark.conf.set("graft.fold.maxValuesPerKey", "0")
    try intercept[Exception](dbP.getValue("folded", "k1"))
    finally spark.conf.unset("graft.fold.maxValuesPerKey")
    assert(dbP.foldProbeRuns == base + 3,
      "a lower cap than the cached pass must force a fresh probe")
  }

  test("listEntries/getValue are driver-OOM bounded; DataFrame forms stay unbounded") {
    val d = Files.createTempDirectory("graft-collectcap")
    (1 to 5).foreach(i => writeJson(d, s"/c$i.json", "first" -> s"k$i", "second" -> i))
    (1 to 5).foreach(i => writeJson(d, s"/m$i.json", "first" -> "multi", "second" -> i))
    val dbC = new Graft(spark, root.resolve("state-collectcap").toString)
    dbC.define("vals", ViewDef("/*.json",
      MapFn((v, m) => Seq(parseFirst(v) -> 1))))
    dbC.index(new DirArchive("dat://collectcap", d.toString))
    spark.conf.set("graft.driverCollect.maxRows", "3")
    try {
      val e = intercept[IllegalStateException](dbC.listEntries("vals"))
      assert(e.getMessage.contains("ListOpts(limit=") &&
        e.getMessage.contains("graft.driverCollect.maxRows"),
        s"failure must name the escape hatches, got: ${e.getMessage}")
      // a key-limited read under the cap works (limit counts KEYS)
      assert(dbC.listEntries("vals", ListOpts(limit = Some(2))).size >= 2)
      // a hostile multi-value key trips getValue too
      intercept[IllegalStateException](dbC.getValue("vals", "multi"))
      // healthy point reads are unaffected
      assert(dbC.getValue("vals", "k1") == Some(Vector(1.0)))
      // the DataFrame forms stay unbounded — that's Spark's job
      assert(dbC.list("vals").count() == 10L)
      assert(dbC.get("vals", "multi").count() == 5L)
    } finally spark.conf.unset("graft.driverCollect.maxRows")
    // under the default cap everything collects
    assert(dbC.listEntries("vals").size == 10)
  }

  test("Fold cap probe: over-cap key elsewhere does not doom filtered reads of healthy keys") {
    val d = Files.createTempDirectory("graft-foldpartial")
    // "hot" gets 3 values (over cap 2); "cool" gets 1 (healthy)
    (1 to 3).foreach(i => writeJson(d, s"/h$i.json", "first" -> "hot", "second" -> i))
    writeJson(d, "/c1.json", "first" -> "cool", "second" -> 9)
    val dbH = new Graft(spark, root.resolve("state-foldpartial").toString)
    dbH.define("folded", ViewDef("/*.json",
      MapFn((v, m) => Seq(parseFirst(v) -> 1)),
      Reduce.Fold((acc, _, _) => acc.map(_.asInstanceOf[Double] + 1).getOrElse(1.0))))
    dbH.index(new DirArchive("dat://foldpartial", d.toString))
    spark.conf.set("graft.fold.maxValuesPerKey", "2")
    try {
      // the full-state probe fails, but the per-kb fallback lets a point
      // read of the under-cap key through
      assert(dbH.getValue("folded", "cool") == Some(1.0))
      // the hostile key itself still fails loudly
      intercept[Exception](dbH.getValue("folded", "hot"))
      // and so does an unfiltered list (it aggregates the hostile key)
      intercept[Exception](dbH.list("folded").collect())
      // a filtered-read pass is NOT cached as a whole-view pass: the
      // next read must probe again (the cache would otherwise skip the
      // cap check for the hostile key)
      val runsBefore = dbH.foldProbeRuns
      assert(dbH.getValue("folded", "cool") == Some(1.0))
      assert(dbH.foldProbeRuns == runsBefore + 1,
        "a fallback pass must not populate the whole-view probe cache")
    } finally spark.conf.unset("graft.fold.maxValuesPerKey")
  }

  test("materialized reduce: write-time folds track incremental re-index and retraction") {
    val d1 = Files.createTempDirectory("graft-mat-a")
    val d2 = Files.createTempDirectory("graft-mat-b")
    writeJson(d1, "/a.json", "first" -> "k1", "second" -> 10)
    writeJson(d1, "/b.json", "first" -> "k1", "second" -> 5)
    writeJson(d2, "/c.json", "first" -> "k1", "second" -> 1)
    writeJson(d2, "/d.json", "first" -> "k2", "second" -> 7)
    val dbm = new Graft(spark, root.resolve("state-mat").toString)
    // Sum over "second" keyed by "first", pre-folded at write time
    dbm.define("sums", ViewDef(Seq("/*.json"),
      MapFn((v, m) => {
        val rec = core.Json.parse(v).asInstanceOf[Map[String, Any]]
        Seq(rec("first") -> rec("second"))
      }), Some(Reduce.Sum), materialize = true))
    val a1 = new DirArchive("dat://mat-a", d1.toString)
    val a2 = new DirArchive("dat://mat-b", d2.toString)
    dbm.index(a1); dbm.index(a2)
    // folds dir exists and serves reads (cross-origin partial merge: 10+5+1)
    assert(Files.exists(root.resolve("state-mat/sums/folds")))
    assert(dbm.getValue("sums", "k1") == Some(16.0))
    assert(dbm.getValue("sums", "k2") == Some(7.0))

    // incremental re-index refolds only the touched origin's partial
    writeJson(d1, "/b.json", "first" -> "k1", "second" -> 50)
    bumpMtime(d1, "/b.json", 60000)
    dbm.index(a1)
    assert(dbm.getValue("sums", "k1") == Some(61.0))

    // single-file retraction refolds
    dbm.unindexFile("dat://mat-b", "/c.json")
    assert(dbm.getValue("sums", "k1") == Some(60.0))
    // origin retraction drops its fold partition; remaining origin serves
    dbm.unindex("dat://mat-b")
    assert(dbm.getValue("sums", "k2").isEmpty)
    assert(dbm.getValue("sums", "k1") == Some(60.0))

    // list() over folds honors range + limit semantics
    writeJson(d1, "/e.json", "first" -> "k0", "second" -> 2)
    dbm.index(a1)
    assert(dbm.listEntries("sums").map(e => (e.key, e.value)) ==
      Seq(("k0", 2.0), ("k1", 60.0)))
    assert(dbm.listEntries("sums", ListOpts(gte = Some(Seq("k1")))).map(_.value) == Seq(60.0))

    // retract-to-empty removes the folds partition entirely
    dbm.unindex("dat://mat-a")
    assert(dbm.listEntries("sums").isEmpty)

    // define-time contract: Fold and reduce-less views can't materialize
    intercept[SchemaError](dbm.define("bad1", ViewDef(Seq("/*.json"),
      MapFn((_, m) => Seq("k" -> 1)), None, materialize = true)))
    intercept[SchemaError](dbm.define("bad2", ViewDef(Seq("/*.json"),
      MapFn((_, m) => Seq("k" -> 1)),
      Some(Reduce.Fold((acc, _, _) => acc.getOrElse(0))), materialize = true)))
  }

  test("corrupt Count fold partial fails loudly instead of silently undercounting") {
    val d = Files.createTempDirectory("graft-corrupt-arch")
    writeJson(d, "/a.json", "first" -> "k1")
    writeJson(d, "/b.json", "first" -> "k1")
    val g = new Graft(spark, root.resolve("state-corrupt").toString)
    g.define("cnt", ViewDef(Seq("/*.json"),
      MapFn((v, m) => Seq(parseFirst(v) -> 1)), Some(Reduce.Count),
      materialize = true))
    g.index(new DirArchive("dat://corrupt", d.toString))
    assert(g.getValue("cnt", "k1").contains(2))

    // corrupt the materialized partial on disk (a torn write / bad
    // writer): the read path must refuse, not cast-to-null-and-skip
    val foldsPath = root.resolve("state-corrupt/cnt/folds").toString
    val corrupted = spark.read.parquet(foldsPath)
      .withColumn("value_json", org.apache.spark.sql.functions.lit("garbage"))
      .localCheckpoint(true) // detach: Spark refuses to overwrite a read path
    corrupted.write.partitionBy("ob").mode("overwrite").parquet(foldsPath)
    spark.catalog.refreshByPath(foldsPath)
    val e = intercept[Exception](g.getValue("cnt", "k1"))
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("corrupt Count fold partial")),
      s"expected the loud corrupt-state error, got: ${chain(e)}")

    // same guard for the numeric (Sum/Min/Max) merge arm
    val d2 = Files.createTempDirectory("graft-corrupt-arch2")
    writeJson(d2, "/a.json", "first" -> "k1", "second" -> 3)
    val g2 = new Graft(spark, root.resolve("state-corrupt2").toString)
    g2.define("sums", ViewDef(Seq("/*.json"),
      MapFn((v, m) => {
        val rec = core.Json.parse(v).asInstanceOf[Map[String, Any]]
        Seq(rec("first") -> rec("second"))
      }), Some(Reduce.Sum), materialize = true))
    g2.index(new DirArchive("dat://corrupt2", d2.toString))
    assert(g2.getValue("sums", "k1").contains(3.0))
    val foldsPath2 = root.resolve("state-corrupt2/sums/folds").toString
    val corrupted2 = spark.read.parquet(foldsPath2)
      .withColumn("value_json", org.apache.spark.sql.functions.lit("not-a-number"))
      .localCheckpoint(true)
    corrupted2.write.partitionBy("ob").mode("overwrite").parquet(foldsPath2)
    spark.catalog.refreshByPath(foldsPath2)
    val e2 = intercept[Exception](g2.getValue("sums", "k1"))
    assert(chain(e2).exists(_.contains("corrupt numeric fold partial")),
      s"expected the loud corrupt-state error, got: ${chain(e2)}")
  }

  test("incremental index() retracts an origin whose matching files all disappeared") {
    val d = Files.createTempDirectory("graft-gone-arch")
    writeJson(d, "/single.json", "first" -> "gone", "second" -> 1)
    val arch = new DirArchive("dat://gone", d.toString)
    val db9 = new Graft(spark, root.resolve("state-gone").toString)
    db9.define("sv", ViewDef("/single.json",
      MapFn((v, m) => Seq(parseFirst(v) -> m.url))))
    db9.index(arch)
    assert(db9.getValue("sv", "gone").isDefined)
    Files.delete(d.resolve("single.json"))
    db9.index(arch)
    assert(db9.listEntries("sv").isEmpty)
  }

  test("a negative list limit means no limit (levelup's limit: -1) on map and reduced views") {
    val d = Files.createTempDirectory("graft-neglimit")
    Seq("a", "b", "b", "c").zipWithIndex.foreach { case (k, i) =>
      writeJson(d, s"/f$i.json", "first" -> k, "second" -> i) }
    val dbL = new Graft(spark, root.resolve("state-neglimit").toString)
    dbL.define("sv", ViewDef("/*.json", MapFn((v, m) => Seq(parseFirst(v) -> m.pathname))))
    dbL.define("cnt", ViewDef("/*.json", MapFn((v, _) => Seq(parseFirst(v) -> 1)), Reduce.Count))
    dbL.index(new DirArchive("dat://neglimit", d.toString))
    Seq("sv" -> 4, "cnt" -> 3).foreach { case (view, rows) =>
      Seq(false, true).foreach { rev =>
        val unlimited = ListOpts(reverse = rev)
        val negative = ListOpts(limit = Some(-1), reverse = rev)
        assert(dbL.list(view, negative).collect().toSeq == dbL.list(view, unlimited).collect().toSeq)
        assert(dbL.listEntries(view, negative) == dbL.listEntries(view, unlimited))
        assert(dbL.listEntries(view, negative).size == rows)
      }
    }
    // the same through a dir without a manifest, which reads through Spark
    Files.delete(root.resolve("state-neglimit/sv/entries/_manifest.txt"))
    assert(dbL.listEntries("sv", ListOpts(limit = Some(-1))).map(_.key) == Seq("a", "b", "b", "c"))
  }

  test("graft.driverCollect.maxRows=Int.MaxValue does not overflow into a negative limit") {
    val d = Files.createTempDirectory("graft-maxcap")
    writeJson(d, "/a.json", "first" -> "k", "second" -> 1)
    writeJson(d, "/b.json", "first" -> "k", "second" -> 2)
    val dbX = new Graft(spark, root.resolve("state-maxcap").toString)
    dbX.define("sv", ViewDef("/*.json", MapFn((v, m) => Seq(parseFirst(v) -> m.pathname))))
    dbX.define("cnt", ViewDef("/*.json", MapFn((v, _) => Seq(parseFirst(v) -> 1)), Reduce.Count))
    dbX.index(new DirArchive("dat://maxcap", d.toString))
    spark.conf.set("graft.driverCollect.maxRows", Int.MaxValue.toString)
    try {
      assert(dbX.getValue("sv", "k") == Some(Vector("/a.json", "/b.json")))
      assert(dbX.getValue("cnt", "k") == Some(2.0))
      assert(dbX.listEntries("sv").size == 2 && dbX.listEntries("cnt").size == 1)
      // and through Spark, for a dir without a manifest
      Files.delete(root.resolve("state-maxcap/sv/entries/_manifest.txt"))
      assert(dbX.getValue("sv", "k") == Some(Vector("/a.json", "/b.json")))
      assert(dbX.listEntries("sv", ListOpts(limit = Some(1))).size == 2)
    } finally spark.conf.unset("graft.driverCollect.maxRows")
  }
}

object GraftEngineSpec extends Serializable {
  def parseFirst(value: String): Any =
    core.Json.parse(value).asInstanceOf[Map[String, Any]]("first")
}
