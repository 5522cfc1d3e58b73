package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.core.Entry

/** What one run knows about itself while it runs. `startMs` is when the
  * process started (epoch milliseconds).
  */
final class RunCtx(val seed: Long, val seconds: Int, val workDir: Path,
    val cores: Int, val tracer: Option[Tracer], val startMs: Long) {
  private var tried = 0L
  private val failures = mutable.ArrayBuffer.empty[String]
  def attempt(): Unit = synchronized(tried += 1)
  def fail(msg: String): Unit = synchronized(failures += msg)
  def attempted: Long = synchronized(tried)
  def failed: Long = synchronized(failures.size.toLong)
  def failureList: Seq[String] = synchronized(failures.toList)

  /** setup_s, read just before the first timed operation: the seconds
    * since the process started, with the set-up steps a workload repeats
    * to steady the reading counted once, at their median.
    */
  def setupS(repeated: Seq[Double]): Double =
    (System.currentTimeMillis() - startMs) / 1000.0 - repeated.sum + Stats.median(repeated)
}

/** A workload's readings: end-to-end metrics (untraced meaning),
  * per-layer metrics (traced runs only) and the full record.
  */
final case class RunResult(endToEnd: Seq[(String, Double)], layers: Map[String, Double],
    detail: collection.Map[String, Any])

/** Comparison of engine answers with the model's. */
object Answers {
  private def norm(v: Any): Any = v match {
    case e: Entry => (norm(e.key), norm(e.value))
    case s: Iterable[_] if !v.isInstanceOf[String] => s.map(norm).toVector
    case Some(x) => Some(norm(x))
    case n: java.lang.Number => n.doubleValue()
    case other => other
  }
  def same(a: Any, b: Any): Boolean = norm(a) == norm(b)
  def show(v: Any): String = {
    val s = norm(v).toString
    if (s.length > 200) s.take(200) + "..." else s
  }
}

/** Process-level readings. */
object Runtime {
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def memTotalKb(): Long = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Path.of("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
  }
}

/** Entry point of one benchmark run:
  *
  *   Main --workload <engine_read|pretrain_chain> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> --out <file>
  *
  * Writes the run record (metrics, checks, host, warm-up readings, and
  * spans when traced) as one JSON object to `--out`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val processStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = args("workload")
    val work = Files.createDirectories(Path.of(args("work")))
    val out = Path.of(args("out"))
    val cores = java.lang.Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = Engine.session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val processToSessionS = (System.currentTimeMillis() - processStart) / 1000.0
    val tracer = if (args.getOrElse("trace", "0") == "1") Some(new Tracer(spark.sparkContext)) else None
    val ctx = new RunCtx(args("seed").toLong, args("seconds").toInt, work, cores, tracer, processStart)
    val result =
      try workload match {
        case "engine_read" => new ReadLoop(spark, ctx,
          ReadSizes(origins = 2, files = 500, rounds = 3, warmBatch = 10, maxWarm = 4)).run()
        case "pretrain_chain" => new PretrainChain(spark, ctx,
          PretrainSizes(docs = 500, rounds = 3, passes = 3)).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } finally {
        spark.stop()
      }
    val rss = Runtime.peakRssMb()
    val record = Out.obj(
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "trace" -> tracer.isDefined,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "failures" -> ctx.failureList.take(20),
      "end_to_end" -> Out.obj((result.endToEnd :+ ("peak_rss_mb" -> rss)): _*),
      "per_layer" -> mutable.LinkedHashMap(Layers.all.map(m => m.name -> result.layers.getOrElse(m.name, 0.0)): _*),
      "detail" -> result.detail,
      "host" -> Out.obj(
        "nproc" -> cores, "mem_total_kb" -> Runtime.memTotalKb(),
        "jvm" -> System.getProperty("java.vm.version"),
        "spark" -> spark.version,
        "max_heap_mb" -> java.lang.Runtime.getRuntime.maxMemory / (1024 * 1024),
        "session_s" -> sessionS,
        "process_to_session_s" -> processToSessionS),
      "spans" -> tracer.map(_.allSpans.map(s => Out.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs))).getOrElse(Nil),
      "span_jobs" -> tracer.map(_.jobsBySpan.map { case (k, js) => k.toString -> js.map(_.id) }).getOrElse(Map.empty))
    Files.write(out, Out.render(record).getBytes(StandardCharsets.UTF_8))
  }
}
