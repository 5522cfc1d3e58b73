package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Fixed-overhead profiler for one query: counts Spark JOBS and sums
  * task time vs wall time, so a floor-bound arm (many small sequential
  * materialization jobs — the PERF_r13 scaling signature, 8 cores ≈ 32
  * cores) is attributable to job count instead of guessed. Wall ≫
  * task-time/cores ⇒ scheduling/barrier floors dominate; jobs × ~0.2 s
  * ≈ wall ⇒ the lever is fewer or overlapped barriers (guide §2.6),
  * not per-task work.
  *
  *   sbt "runMain graft.tools.JobCount pipeline_pretrain_compact"
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("pipeline_pretrain_compact")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session()
    Session.warmTables(spark, sfDir)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
      }
    })
    val q = graft.SparkEntry.queries(name)
    // warm run (codegen, file listing)
    try { q(spark, sfDir).count() } finally graft.queries.Pinned.drain()
    Thread.sleep(500)
    jobs.set(0); stages.set(0); taskMs.set(0L)
    val t0 = System.nanoTime()
    try { q(spark, sfDir).count() } finally graft.queries.Pinned.drain()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500) // let listener drain
    println(f"JOBCOUNT $name: wall=${wall}%.2f s jobs=${jobs.get} " +
      f"stages=${stages.get} taskTime=${taskMs.get / 1e3}%.1f s " +
      f"(ideal at ${Session.cpus} cores ≈ ${taskMs.get / 1e3 / Session.cpus}%.2f s)")
    spark.stop()
  }
}
