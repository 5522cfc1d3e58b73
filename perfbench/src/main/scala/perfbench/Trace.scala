package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch milliseconds with
  * sub-millisecond precision; `parent` is 0 for a root span, and every
  * span of one benchmark operation shares `op`.
  */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    startMs: Double, endMs: Double) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Spark work summed over a set of jobs. */
final case class Work(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
    busyS: Double = 0, waitS: Double = 0, inputBytes: Long = 0,
    inputRows: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
    outputBytes: Long = 0, failedTasks: Int = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    busyS + o.busyS, waitS + o.waitS, inputBytes + o.inputBytes,
    inputRows + o.inputRows, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, outputBytes + o.outputBytes,
    failedTasks + o.failedTasks)
}

/** Job-level record kept by [[Tracer]]. */
final case class JobRec(id: Int, startMs: Long, group: Option[String], stageIds: Seq[Int])

/** Records spans around the benchmark's calls into graft's public API
  * and, through a SparkListener it attaches itself, the Spark jobs,
  * stages and tasks those calls ran. Spans and events stay in memory
  * and are summarized and written out when the run ends.
  *
  * A job is attributed to a span in one of two ways: by the job group
  * the calling thread set when it opened the span, otherwise by the
  * innermost span open when the job started. A group counts only while
  * its span is open and no span inside it is, because pooled threads
  * inherit the group of whatever thread created them. Each client
  * thread keeps its own stack of open spans. graft's `index` runs one job per
  * view on its own thread pool, so those jobs carry no group and fall
  * to the second rule; with one writer, exactly one span is open then.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  // spans open on each client thread, innermost first
  private val open = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  private var nextId = 1L

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, Work]

  private var attached = false
  private val notes = mutable.Map.empty[Long, mutable.Map[String, Double]]

  /** Attach a measured fact (rows returned, bytes edited) to the
    * innermost open span.
    */
  def note(key: String, value: Double): Unit = synchronized {
    open.get.headOption.foreach(s => notes.getOrElseUpdate(s.id, mutable.Map.empty)(key) = value)
  }

  def noteOf(span: Span, key: String): Option[Double] =
    synchronized(notes.get(span.id).flatMap(_.get(key)))

  /** Start receiving Spark events. */
  def attach(): Unit = synchronized {
    if (!attached) { sc.addSparkListener(this); attached = true }
  }

  /** Deliver every queued event, then stop receiving them. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized { if (attached) { sc.removeSparkListener(this); attached = false } }
  }

  /** Run `body` inside a span named `name`, belonging to operation `op`. */
  def span[T](name: String, op: Long)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId - 1 }
    val parent = open.get.headOption.map(_.id).getOrElse(0L)
    val start = nowMs
    open.set(Span(id, name, parent, op, start, Double.NaN) :: open.get)
    sc.setJobGroup(groupPrefix + id, name, interruptOnCancel = false)
    try body
    finally {
      val end = nowMs
      open.set(open.get.tail)
      synchronized { spans += Span(id, name, parent, op, start, end) }
      if (parent != 0L) sc.setJobGroup(groupPrefix + parent, "", interruptOnCancel = false)
      else sc.clearJobGroup()
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += JobRec(e.jobId, e.time, group, e.stageIds)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val m = Option(e.taskMetrics)
    val submit = stageSubmitMs.getOrElse(e.stageId, info.launchTime)
    val w = Work(tasks = 1,
      busyS = m.map(_.executorRunTime / 1000.0).getOrElse(0.0),
      waitS = math.max(0L, info.launchTime - submit) / 1000.0,
      inputBytes = m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      inputRows = m.map(_.inputMetrics.recordsRead).getOrElse(0L),
      shuffleBytes = m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      spillBytes = m.map(x => x.diskBytesSpilled + x.memoryBytesSpilled).getOrElse(0L),
      outputBytes = m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      failedTasks = if (info.successful) 0 else 1)
    stageTasks(e.stageId) = stageTasks.getOrElse(e.stageId, Work()) + w
  }

  def allSpans: Seq[Span] = synchronized(spans.sortBy(_.startMs).toList)

  /** All jobs that started inside [fromMs, toMs]. */
  def jobsBetween(fromMs: Double, toMs: Double): Seq[JobRec] =
    synchronized(jobs.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toList)

  /** Jobs grouped by the span they are attributed to (0 = no span). */
  def jobsBySpan: Map[Long, Seq[JobRec]] = synchronized {
    Tracer.attribute(jobs.toList, spans.toList).groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
  }

  /** Spark work of the given jobs; stages that never ran (skipped,
    * because their shuffle output was reused) are not counted.
    */
  def work(js: Seq[JobRec]): Work = synchronized {
    js.foldLeft(Work()) { (acc, j) =>
      val ran = j.stageIds.filter(stageTasks.contains)
      acc + ran.map(stageTasks).foldLeft(Work(jobs = 1, stages = ran.size))(_ + _)
    }
  }

}

object Tracer {
  val groupPrefix = "perfbench-span-"

  /** Attribute each job to a span id (0 when no span covers it): a job
    * group naming a span that was open when the job started, with no
    * span inside it open, wins; otherwise the innermost span whose
    * interval holds the job's start.
    */
  def attribute(jobs: Seq[JobRec], spans: Seq[Span]): Seq[(JobRec, Long)] = {
    val byId = spans.map(s => s.id -> s).toMap
    def holds(s: Span, t: Long) = math.floor(s.startMs) <= t && t <= math.ceil(s.endMs)
    def ancestors(s: Span): List[Long] =
      if (s.parent == 0L || !byId.contains(s.parent)) Nil else s.parent :: ancestors(byId(s.parent))
    def depth(s: Span): Int = ancestors(s).size
    jobs.map { j =>
      val byGroup = j.group.filter(_.startsWith(groupPrefix))
        .flatMap(g => scala.util.Try(g.stripPrefix(groupPrefix).toLong).toOption)
        .flatMap(byId.get).filter(holds(_, j.startMs))
        .filterNot(g => spans.exists(s => holds(s, j.startMs) && ancestors(s).contains(g.id)))
      val byTime = spans.filter(holds(_, j.startMs))
        .sortBy(s => (depth(s), s.startMs)).lastOption
      j -> byGroup.orElse(byTime).map(_.id).getOrElse(0L)
    }
  }
}
