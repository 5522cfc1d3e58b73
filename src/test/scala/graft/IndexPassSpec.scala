package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions.{array, col, explode, from_json}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.core._

/** The Spark jobs of a write: an incremental index pass works out its
  * change set once on the driver, so a 1-file edit costs a listing, the
  * change set, and one write per view (plus the refold of a materialized
  * view), each job named for its step; `indexFile`/`unindexFile` cost one
  * write per touched view plus its refold. Reads, snapshot fills and
  * `compact` name their jobs too. A write's plan has no sort or
  * exchange, and it leaves one data file per origin segment.
  */
class IndexPassSpec extends SparkSpec {
  import IndexPassSpec._

  private var root: Path = _
  private var stamp = System.currentTimeMillis() - 3600000L

  override def beforeAll(): Unit = {
    super.beforeAll()
    root = Files.createTempDirectory("graft-index-pass")
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

  private val viewNames = Seq("by-first", "by-url", "pairs", "tags", "count", "sums")
  private val materialized = Set("count")

  /** Three compat map views, a declarative one that emits two values
    * per file at one key, a materialized Count and a read-time Sum.
    */
  private def defineAll(g: Graft): Unit = {
    g.define("by-first", ViewDef("/*.json", MapFn((v, m) => Seq(first(v) -> m.url))))
    g.define("by-url", ViewDef("/*.json", MapFn((v, m) => Seq(m.url -> second(v)))))
    g.define("pairs", ViewDef("/*.json", MapFn((v, _) => Seq(Seq(first(v), second(v)) -> 1))))
    g.define("tags", ViewDef("/*.json", MapDF { files =>
      val j = from_json(col("value"), StructType(Seq(
        StructField("first", StringType), StructField("second", LongType))))
      val parsed = files.withColumn("j", j)
        .withColumn("v", explode(array(col("j.second"), col("j.second") + 10)))
      GraftFunctions.emitEntry(parsed, Seq(col("j.first")), col("v"))
    }))
    g.define("count", ViewDef(Seq("/*.json"), MapFn((v, _) => Seq(first(v) -> 1)),
      Some(Reduce.Count), materialize = true))
    g.define("sums", ViewDef("/*.json", MapFn((v, _) => Seq(first(v) -> second(v))), Reduce.Sum))
  }

  private def indexed(name: String, files: Int): (Graft, DirArchive, Path) = {
    val dir = root.resolve(name)
    (0 until files).foreach(i => write(dir, f"f$i%03d.json", s"k${i % 4}", i))
    val g = new Graft(spark, root.resolve(s"$name-state").toString)
    defineAll(g)
    val a = new DirArchive(s"dat://$name", dir.toString)
    g.index(a)
    (g, a, dir)
  }

  test("a 1-file incremental pass over V views runs at most V + 4 Spark jobs, each named for its step") {
    val (g, a, dir) = indexed("edit", 40)
    write(dir, "f007.json", "edited", 700)
    val jobs = jobsIn(g.index(a))
    val v = viewNames.size
    val steps = Set("listing", "change set") ++
      viewNames.map(n => s"write $n") ++ materialized.map(n => s"refold $n")
    val pass = s"graft index ${a.url}: "
    assert(jobs.size <= v + 4, s"${jobs.size} jobs for a 1-file edit over $v views: $jobs")
    assert(jobs.forall(_.startsWith(pass)), s"every job of the pass names it: $jobs")
    val byStep = jobs.map(_.stripPrefix(pass)).groupBy(identity).map { case (s, js) => s -> js.size }
    assert(byStep.keySet == steps, s"the pass's steps: $byStep")
    viewNames.foreach(n => assert(byStep(s"write $n") == 1, s"one write job for $n: $byStep"))
    assert(g.getValue("by-first", "edited") == Some(Vector(s"${a.url}/f007.json")))
    assert(g.getValue("count", "edited") == Some(1.0))
  }

  test("indexFile and unindexFile run one write job per touched view plus its refold") {
    val (g, a, dir) = indexed("file", 20)
    write(dir, "f003.json", "edited", 300)
    def perStep(jobs: Seq[String], call: String): Map[String, Int] = {
      assert(jobs.forall(_.startsWith(s"$call: ")), s"every job of $call names it: $jobs")
      jobs.map(_.stripPrefix(s"$call: ")).groupBy(identity).map { case (s, js) => s -> js.size }
    }
    // a refold is an aggregation and a write: one shuffle stage job plus
    // the write job
    val want = viewNames.map(n => s"write $n" -> 1).toMap ++
      materialized.map(n => s"refold $n" -> 2)
    val fileJobs = jobsIn(g.indexFile(a, "/f003.json"))
    assert(fileJobs.size == want.values.sum, s"indexFile: $fileJobs")
    assert(perStep(fileJobs, s"graft indexFile ${a.url}/f003.json") == want)
    assert(g.getValue("by-first", "edited") == Some(Vector(s"${a.url}/f003.json")))
    val unJobs = jobsIn(g.unindexFile(a.url, "/f003.json"))
    assert(unJobs.size == want.values.sum, s"unindexFile: $unJobs")
    assert(perStep(unJobs, s"graft unindexFile ${a.url}/f003.json") == want)
    assert(g.getValue("by-first", "edited").isEmpty && g.getValue("count", "edited").isEmpty)
  }

  test("reads through Spark, snapshot fills and compact name every job") {
    val (g, _, _) = indexed("read", 20)
    g.define("folded", ViewDef("/*.json", MapFn((v, _) => Seq(first(v) -> 1)),
      Reduce.Fold((acc, _, _) => acc.map(_.asInstanceOf[Double] + 1).getOrElse(1.0))))
    def only(jobs: Seq[String], desc: String): Unit =
      assert(jobs.nonEmpty && jobs.forall(_ == desc), s"every job is '$desc': $jobs")
    // the first driver read of a generation runs the Spark read, the
    // second fills the view's snapshot
    only(jobsIn(g.getValue("by-first", "k1")), "graft get by-first")
    only(jobsIn(g.getValue("by-first", "k1")), "graft fill by-first")
    only(jobsIn(g.listEntries("count", ListOpts(limit = Some(2)))), "graft list count")
    only(jobsIn(g.listEntries("count")), "graft fill count")
    only(jobsIn(g.listEntries("sums")), "graft list sums")
    // the DataFrame forms' eager jobs: a Fold's cap probe, a limited
    // map list's winning keys
    only(jobsIn(g.get("folded", "k1")), "graft get folded")
    only(jobsIn(g.list("pairs", ListOpts(limit = Some(2)))), "graft list pairs")
    only(jobsIn(g.compact("by-first")), "graft compact by-first")
  }

  test("index, indexFile and unindexFile writes plan no sort, window or exchange") {
    val (g, a, dir) = indexed("plans", 12)
    write(dir, "f004.json", "edited", 400)
    val plans = entryWritePlans {
      g.index(a)
      write(dir, "f005.json", "edited", 500)
      g.indexFile(a, "/f005.json")
      g.unindexFile(a.url, "/f006.json")
    }
    // one write per view for each of the three calls
    assert(plans.size == 3 * viewNames.size, s"${plans.size} entry writes")
    plans.foreach { p =>
      val nodes = Plans.collect(p) { case n => n.nodeName }
      assert(!nodes.exists(n => Seq("Sort", "Window", "Exchange").exists(n.contains)),
        s"an index write sorts or shuffles: $nodes")
    }
    assert(g.getValue("tags", "edited") == Some(Vector(400.0, 410.0, 500.0, 510.0)))
  }

  test("successive 1-file edits leave one data file per origin segment") {
    val (g, a, dir) = indexed("segments", 30)
    (1 to 5).foreach { i =>
      write(dir, f"f$i%03d.json", s"edit$i", i)
      g.index(a)
    }
    viewNames.foreach { n =>
      val segments = g.loadManifest(s"${g.stateRoot}/$n/entries").get
      assert(segments.size == 1 && segments.values.forall(_._1.size == 1),
        s"$n: current files per segment ${segments.map { case (ob, (cur, _)) => ob -> cur }}")
    }
    assert(g.getValue("tags", "edit5") == Some(Vector(15.0, 5.0)))
  }

  /** The executed plans of the view-entry writes that `f` runs (not the
    * refolds of folds state).
    */
  private def entryWritePlans(f: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.executedPlan match {
          case w @ DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
              if c.outputPath.toString.contains("/entries/") => plans.add(w)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { f; flush() } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** Descriptions of the Spark jobs started while `f` runs, in order
    * (all threads: the pass runs its view jobs on a pool).
    */
  private def jobsIn(f: => Unit): Seq[String] = {
    val from = flush()
    f
    val to = flush()
    Jobs.between(from, to)
  }

  /** Runs a marker (one or more jobs) and waits until the listener has
    * seen it (the bus is FIFO, so every earlier job start has been
    * delivered too); returns the marker.
    */
  private def flush(): String = {
    val mark = s"flush-${java.util.UUID.randomUUID()}"
    val sc = spark.sparkContext
    sc.setJobDescription(mark)
    try spark.range(1).count() finally sc.setJobDescription(null)
    val deadline = System.currentTimeMillis() + 30000
    while (!Jobs.saw(mark) && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(Jobs.saw(mark), "listener bus did not deliver the marker job")
    mark
  }
}

object IndexPassSpec extends Serializable {
  /** Plan traversal through adaptive plans and their query stages. */
  object Plans extends AdaptiveSparkPlanHelper

  // map lambdas must not capture the (non-serializable) suite instance
  def first(value: String): Any = Json.parse(value).asInstanceOf[Map[String, Any]]("first")
  def second(value: String): Any = Json.parse(value).asInstanceOf[Map[String, Any]]("second")

  /** The description of every job start, in order ("" when unset). */
  object Jobs extends SparkListener {
    private val started = mutable.ArrayBuffer.empty[String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      started += Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    }
    def saw(description: String): Boolean = synchronized(started.contains(description))
    /** The jobs started strictly between two marker jobs. */
    def between(from: String, to: String): Seq[String] = synchronized {
      started.slice(started.lastIndexOf(from) + 1, started.indexOf(to)).toList
    }
  }
}
