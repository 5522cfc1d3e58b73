package graft.tools

/** Dump plans of named queries to `<outDir>/<name>_<suffix>.txt` and
  * print the scan and exchange counts the PlanSpecs assert on.
  *
  * By default the query is EXECUTED and the dump is the final adaptive
  * plan, so AQE's runtime choices are the ones that ran: checkpoint-scan
  * inputs carry estimated stats, so the initial plan can show a
  * SortMergeJoin where the executed plan is an AQE-converted
  * BroadcastHashJoin over the real table size. `--before` dumps the
  * `explain("formatted")` plan instead, without running the query
  * (streaming arms execute at construction time by contract; their dump
  * describes the post-stream sink frame).
  *
  *   runMain graft.tools.ExecPlan [--before] <sfDir> <outDir> <suffix> q1,q2,...
  */
object ExecPlan {
  def main(args: Array[String]): Unit = {
    val before = args.headOption.contains("--before")
    val rest = if (before) args.tail else args
    require(rest.length == 4, "usage: ExecPlan [--before] <sfDir> <outDir> <suffix> q1,q2,...")
    val Array(sfDir, outDir, suffix, namesCsv) = rest
    val spark = Session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    namesCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan =
        if (before)
          df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        else {
          // collect() executes THIS df's QueryExecution (a noop write
          // would plan a separate one and leave this plan un-finalized);
          // gate results are bounded, so the driver fetch is trivial
          try df.collect() finally graft.queries.Pinned.drain()
          df.queryExecution.executedPlan.toString.split("\\+\\- == Initial Plan ==")(0)
        }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"), plan.getBytes("UTF-8"))
      def count(p: String => Boolean) = plan.linesIterator.count(p)
      println(s"PLAN WRITTEN $n (${plan.length} chars): documents scans " +
        count(l => l.contains("Scan parquet") && l.contains("documents")) +
        s", reused exchanges ${count(_.contains("ReusedExchange"))}" +
        s", broadcast exchanges ${count(_.contains("BroadcastExchange"))}" +
        s", shuffle exchanges ${count(_.contains("Exchange hashpartitioning"))}")
    }
    spark.stop()
  }
}
