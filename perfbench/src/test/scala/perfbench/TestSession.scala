package perfbench

import org.apache.spark.sql.SparkSession

/** One local session shared by the harness's specs. */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Engine.session(2)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def ctx(seconds: Int): RunCtx = new RunCtx(
    seed = 7, seconds = seconds,
    workDir = java.nio.file.Files.createTempDirectory("perfbench-spec"),
    cores = 2, tracer = None, startMs = System.currentTimeMillis())
}
