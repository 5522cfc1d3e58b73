package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic main for the streaming gates: runs one gate N times and
  * prints per-repeat wall time plus the engine's own durationMs
  * breakdown per micro-batch (queryPlanning / addBatch / walCommit …),
  * so harness overhead is attributable to a phase instead of guessed.
  * The r11 sweep this drove: addBatch dominated steady-state, and the
  * complete-mode MEMORY sink (all rows through the driver, then
  * re-scanned) was the removable cost — replaced by the foreachBatch
  * executor-side checkpoint in [[graft.queries.Events.runStream]].
  *
  *   SPARK_GRAFT_REPEATS=6 sbt "runMain graft.tools.StreamProfile q21s_stream_sessions"
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q21s_stream_sessions")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "8").toInt
    val spark = Session()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        println(s"  batch ${e.progress.batchId}: durations=${e.progress.durationMs} " +
          s"rows=${e.progress.numInputRows} stateOps=${e.progress.stateOperators.length}")
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val q = graft.SparkEntry.queries(name)
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      q(spark, sfDir).count()
      println(f"repeat $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
