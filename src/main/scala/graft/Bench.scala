package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.tools.Session

/** Timing record of the query suite plus the engine's watch loop.
  *
  * Every arm runs once, untimed: its own warm-up (codegen, broadcast and
  * first-read costs), which otherwise lands on its first timed reading.
  * Then `SPARK_GRAFT_REPEATS` (default 3) timed passes go over the arm
  * list, in reverse order on every other pass, so drift across the run
  * falls on each arm from both sides. Within a pass the pure arms run
  * first, then the tail: the arms whose untimed run started a streaming
  * query. An arm's value is the median of its passes;
  * `target/bench_full.json` keeps every pass reading, p25/p75 and the
  * tail's names, and stdout gets the one-line JSON record.
  *
  *   SPARK_GRAFT_SF_DIR=<sf dir> sbt -batch "runMain graft.Bench"
  */
object Bench {

  /** One bench arm: `run` does the work once and returns the seconds it
    * measured.
    */
  private[graft] final case class Arm(name: String, run: () => Double)

  /** An arm's readings, one per timed pass (None: that pass failed).
    * `tail`: the arm started a streaming query in its untimed run.
    */
  private[graft] final case class Readings(name: String, passes: Seq[Option[Double]],
      tail: Boolean = false) {
    private val ok = passes.flatten.sorted
    /** Linearly interpolated quantile of the passes that ran; −1 when
      * every pass failed.
      */
    def q(p: Double): Double =
      if (ok.isEmpty) -1.0
      else {
        val x = p * (ok.size - 1)
        val lo = x.toInt
        ok(lo) + (ok(math.min(lo + 1, ok.size - 1)) - ok(lo)) * (x - lo)
      }
    def median: Double = q(0.5)
    def failed: Boolean = ok.isEmpty
    def flaky: Boolean = ok.nonEmpty && ok.size < passes.size
  }

  /** The arm order of timed pass `pass` (from 0): pure arms, then the
    * tail, both reversed on odd passes.
    */
  private[graft] def passOrder[A](pure: Seq[A], tail: Seq[A], pass: Int): Seq[A] =
    if (pass % 2 == 0) pure ++ tail else pure.reverse ++ tail.reverse

  /** Run every arm once untimed, then `repeats` timed passes. An arm
    * that starts a streaming query in its untimed run (`streamStarts`
    * moved across it) joins the tail, so its session churn cannot bleed
    * into the timing of a pure arm (r2 saw q23/q24/q27 inflate >2x right
    * after q20s_stream_window). A throw fails that pass of that arm only.
    */
  private[graft] def measure(arms: Seq[Arm], repeats: Int,
      streamStarts: () => Long): Seq[Readings] = {
    def attempt(a: Arm): Option[Double] =
      try Some(a.run())
      catch {
        case e: Throwable =>
          System.err.println(s"BENCH FAIL ${a.name}: ${e.getMessage}")
          None
      }
    val (tail, pure) = arms.partition { a =>
      val before = streamStarts()
      attempt(a)
      streamStarts() != before
    }
    val byArm = (0 until repeats)
      .flatMap(p => passOrder(pure, tail, p).map(a => a.name -> attempt(a)))
      .groupMap(_._1)(_._2)
    val inTail = tail.map(_.name).toSet
    arms.map(a => Readings(a.name, byArm.getOrElse(a.name, Nil), inTail(a.name)))
  }

  /** Timed passes per arm: `SPARK_GRAFT_REPEATS`, default 3. */
  private[graft] def repeats: Int = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt

  private[graft] def seconds(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** [[measure]] for the scale mains: named closures, each warmed once
    * and then timed over [[repeats]] interleaved passes; readings by name.
    */
  private[graft] def timeArms(arms: (String, () => Any)*): Map[String, Readings] =
    measure(arms.map { case (n, f) => Arm(n, () => seconds(f())) }, repeats, () => 0L)
      .map(r => r.name -> r).toMap

  /** Counts the streaming queries started on the session it listens to.
    * `onQueryStarted` runs inside `start()`, so an arm's starts are
    * counted by the time the arm returns.
    */
  private[graft] final class StreamStarts extends StreamingQueryListener {
    private val n = new java.util.concurrent.atomic.AtomicLong
    def count: Long = n.get
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      n.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def queryArm(spark: SparkSession, sfDir: String, q: queries.Q): Arm =
    Arm(q.name, () => {
      try seconds(q.run(spark, sfDir).count())
      // the count was this plan's one materialization and the next run
      // rebuilds it, so draining the pinned checkpoints here is safe
      // (Pinned contract) and keeps them out of the next arm's timing
      finally queries.Pinned.drain()
    })

  /** Watch-path latency: tick-to-VISIBLE time of a 1-file edit on an
    * indexed, watched origin, the reference's core interactive loop
    * (indexer.js:67). Each run indexes a fresh 10-file origin with
    * watch = true (pollInterval 200 ms, untimed), then times one edit:
    * the watcher tick detects the moved listing signature, the
    * incremental re-index maps the one changed file and commits each
    * view's state, and the value reads back through getValue. The
    * latency grows with the origin's size as well as with the fixed
    * per-job Spark overhead.
    */
  private def watchLatency(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions.{col, from_json}
    import org.apache.spark.sql.types._
    import graft.core._
    val watched = java.nio.file.Files.createTempDirectory("graft-bench-watch")
    val stateRoot = java.nio.file.Files.createTempDirectory("graft-bench-wstate")
    val schema = StructType(Seq(
      StructField("first", StringType), StructField("second", LongType)))
    val db = new Graft(spark, stateRoot.toString)
    db.define("bench-watch", ViewDef(Seq("/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"), schema))
      GraftFunctions.emitEntry(parsed, Seq(col("j.first")), col("j.second"))
    }, None))
    def write(name: String, key: String, v: Long): Unit = {
      val p = watched.resolve(name)
      val tmp = watched.resolve(name + "._tmp")
      java.nio.file.Files.write(tmp,
        s"""{"first":"$key","second":$v}""".getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // force the mtime strictly forward so the edit is detectable
      // within one clock millisecond (the StreamingSpec discipline)
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + 5))
    }
    try {
      (0 until 10).foreach(i => write(s"f$i.json", s"k$i", i.toLong))
      db.index(new DirArchive("dat://bench-watch", watched.toString),
        watch = true)
      val t0 = System.nanoTime()
      write("f3.json", "edit", 100L)
      val deadline = System.currentTimeMillis() + 60000
      // map views read back as Some(Vector(v)); snapshot-pinned state
      // commits mean a poll cannot race a merge's overwrite, so a throw
      // here is a real bug
      while (db.getValue("bench-watch", "edit") != Some(Vector(100.0))) {
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException("watch edit never became visible")
        Thread.sleep(20)
      }
      (System.nanoTime() - t0) / 1e9
    } finally {
      try db.close() catch { case _: Throwable => () }
      org.apache.commons.io.FileUtils.deleteQuietly(watched.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(stateRoot.toFile)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    Session.warmTables(spark, sfDir)
    // declaration order (deterministic). inv_* are correctness gates
    // that re-run the approximate queries they wrap: benching them would
    // double-count those operators' cost. SPARK_GRAFT_ONLY=q1,q2 benches
    // a subset while iterating.
    val arms = Session.only(
      SparkEntry.allQ.filterNot(_.name.startsWith("inv_")).map(queryArm(spark, sfDir, _)) :+
        Arm("watch_latency", () => watchLatency(spark)))(_.name)
    val starts = new StreamStarts
    spark.streams.addListener(starts)
    val rs = measure(arms, repeats, () => starts.count)
    System.err.println(s"BENCH tail: ${rs.filter(_.tail).map(_.name).mkString(",")}")
    def names(xs: Seq[Readings]) = xs.map("\"" + _.name + "\"").mkString("[", ",", "]")
    val perArm = rs.map { r =>
      val passes = r.passes.map(_.fold("null")(_.toString)).mkString("[", ",", "]")
      s""""${r.name}":{"median":${r.median},"p25":${r.q(0.25)},"p75":${r.q(0.75)},"passes":$passes}"""
    }.mkString("{", ",", "}")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench_full.json"),
        s"""{"total":${rs.filterNot(_.failed).map(_.median).sum},"queries":$perArm,"failed":${names(rs.filter(_.failed))},"flaky":${names(rs.filter(_.flaky))},"tail":${names(rs.filter(_.tail))},"sf":"$sfDir","repeats":$repeats,"cpus":${Session.cpus}}""".getBytes("UTF-8"))
    } catch { case _: Throwable => } // diagnostics only; never fail the bench
    println(renderRecordLine(rs, repeats, sfDir))
    spark.stop()
  }

  /** The ONE line of driver record. The harness that records it keeps
    * only the LAST ~2000 chars of output, and sbt appends a ~75-char
    * "[success]" trailer after us: a full-double-precision 70-query map
    * is >2300 chars and gets its front truncated, so the recorded JSON
    * never parses (r1-r3 all show parsed:null). Emit seconds at 3
    * significant digits (ms-level for sub-second queries) and, if the
    * line still exceeds the budget, fold the fastest queries into one
    * "fast_other" aggregate. Full precision goes to
    * target/bench_full.json.
    *
    * Budget priorities, highest first:
    *   1. failed/flaky name lists (capped at 12; _n carries the truth);
    *   2. the ~15 heaviest named arms: the fold is capped at size−15
    *      (an r11 run of 219 arms carried "queries":{} with every arm in
    *      fast_other, exactly when per-arm medians were needed);
    *   3. the other per-arm medians, cheapest folding first.
    * Only a pathological line (mass-failure name lists) falls through
    * the cap, because a parseable record beats the top-15 guarantee.
    *
    * FAILED arms are excluded from the queries map entirely (failed[]
    * names them: a −1.0 "timing" next to a positive baseline reads as a
    * dramatic improvement to any downstream comparison); FLAKY arms are
    * never folded, so their median stays resolvable next to their name.
    */
  private[graft] def renderRecordLine(rs: Seq[Readings], repeats: Int,
      sfDir: String, budget: Int = 1880): String = {
    def fmt(v: Double, decimals: Int): String = {
      val d = if (v >= 10) math.max(decimals - 2, 0)
              else if (v >= 1) math.max(decimals - 1, 0) else decimals
      BigDecimal(v).setScale(d, BigDecimal.RoundingMode.HALF_UP).toString
    }
    // capped at 12: in a mass-failure run (bad SF dir, broken build) an
    // uncapped 70-name list would push even the maximal-fold line past
    // the record window
    def capped(names: Seq[String]): String = {
      val shown = names.take(12).map("\"" + _ + "\"")
      (if (names.size > 12) shown :+ "\"...\"" else shown).mkString("[", ",", "]")
    }
    val failedNames = rs.filter(_.failed).map(_.name)
    val flakyNames = rs.filter(_.flaky).map(_.name)
    val opt = (if (failedNames.isEmpty) "" else s""","failed_n":${failedNames.size},"failed":${capped(failedNames)}""") +
      (if (flakyNames.isEmpty) "" else s""","flaky_n":${flakyNames.size},"flaky":${capped(flakyNames)}""")
    val tot = BigDecimal(rs.filterNot(_.failed).map(_.median).sum)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val pinned = rs.filter(_.flaky)
    val byCost = rs.filter(r => !r.failed && !r.flaky).sortBy(_.median)
    def line(nFold: Int, decimals: Int): String = {
      val (folded, kept) = byCost.splitAt(nFold)
      val qs = (kept ++ pinned).map(r => "\"" + r.name + "\":" + fmt(r.median, decimals))
        .mkString("{", ",", "}")
      val fold =
        if (folded.isEmpty) ""
        else s""","fast_other":{"n":${folded.size},"sum":${fmt(folded.map(_.median).sum, decimals)}}"""
      s"""{"metric":"total","value":$tot,"unit":"sec","queries":$qs$fold$opt,"sf":"$sfDir","repeats":$repeats}"""
    }
    // never fold the heaviest `keepNamed` arms (they sort last in byCost)
    val keepNamed = 15
    val maxFold = math.max(byCost.size - keepNamed, 0)
    def fits(folds: Range, decimals: Int) =
      folds.iterator.map(line(_, decimals)).find(_.length <= budget)
    fits(0 to maxFold, 3)
      .orElse(fits(0 to maxFold, 2))
      // pathological (mass-failure name lists): parseability wins
      .orElse(fits(maxFold to byCost.size, 2))
      .getOrElse(line(byCost.size, 2))
  }
}
