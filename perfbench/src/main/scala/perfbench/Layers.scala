package perfbench

/** The per-layer metrics, by layer. Each is a per-call median over the
  * traced calls of a run; `spark.*` cover the timed window (jobs per
  * operation, busy share of the cores). A layer a workload never calls
  * reads 0 in that workload's traced run.
  */
object Layers {
  final case class Metric(name: String, unit: String, better: String)
  private def m(name: String, unit: String, better: String = "lower") = Metric(name, unit, better)

  val readKinds: Seq[String] = Seq("get.point", "get.multi", "get.fold", "list.range", "list.reduce")
  val arms: Seq[String] = Seq("pretrain_ingest", "pretrain_compact", "pretrain_e2e")

  val all: Seq[Metric] =
    Seq(m("archive.files_s", "s"), m("archive.files_n", "count")) ++
    Seq(m("index.wall_s", "s"), m("index.jobs", "count"), m("index.stages", "count"),
      m("index.tasks", "count"), m("index.task_busy_s", "s"), m("index.task_wait_s", "s"),
      m("index.input_bytes", "B"), m("index.shuffle_bytes", "B"), m("index.spill_bytes", "B"),
      m("index.output_bytes", "B"), m("index.write_amp", "ratio"), m("index.failed_tasks", "count")) ++
    readKinds.flatMap(k => Seq(m(s"$k.wall_s", "s"), m(s"$k.jobs", "count"),
      m(s"$k.tasks", "count"), m(s"$k.input_bytes", "B"), m(s"$k.read_amp", "ratio"))) ++
    Seq(m("state.bytes", "B"), m("state.files", "count"),
      m("state.files_per_origin_view", "count"), m("state.space_amp", "ratio")) ++
    arms.flatMap(a => Seq(m(s"$a.wall_s", "s"), m(s"$a.jobs", "count"), m(s"$a.stages", "count"),
      m(s"$a.tasks", "count"), m(s"$a.task_busy_s", "s"), m(s"$a.task_wait_s", "s"),
      m(s"$a.shuffle_bytes", "B"), m(s"$a.spill_bytes", "B"), m(s"$a.input_bytes", "B"),
      m(s"$a.core_util", "ratio", "higher"))) ++
    Seq(m("jvm.gc_s", "s"), m("spark.core_util", "ratio", "higher"), m("spark.jobs", "count"))

  private def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Per-call medians of the Spark work of every span named `kind`. */
  private def perCall(t: Tracer, kind: String, cores: Int): Map[String, Double] = {
    val bySpan = t.jobsBySpan
    val calls = t.allSpans.filter(_.name == kind).map(s => (s, t.work(bySpan.getOrElse(s.id, Nil))))
    def f(g: (Span, Work) => Double) = med(calls.map { case (s, w) => g(s, w) })
    Map(
      "wall_s" -> f((s, _) => s.wallS), "jobs" -> f((_, w) => w.jobs), "stages" -> f((_, w) => w.stages),
      "tasks" -> f((_, w) => w.tasks), "task_busy_s" -> f((_, w) => w.busyS),
      "task_wait_s" -> f((_, w) => w.waitS), "input_bytes" -> f((_, w) => w.inputBytes.toDouble),
      "shuffle_bytes" -> f((_, w) => w.shuffleBytes.toDouble),
      "spill_bytes" -> f((_, w) => w.spillBytes.toDouble),
      "output_bytes" -> f((_, w) => w.outputBytes.toDouble),
      "failed_tasks" -> f((_, w) => w.failedTasks),
      "write_amp" -> f((s, w) => w.outputBytes / math.max(1.0, t.noteOf(s, "edited_bytes").getOrElse(1.0))),
      "read_amp" -> f((s, w) => w.inputRows / math.max(1.0, t.noteOf(s, "rows_returned").getOrElse(1.0))),
      "core_util" -> f((s, w) => w.busyS / math.max(1e-9, s.wallS * cores)))
  }

  /** Runtime metrics over the timed window: every job that started in
    * it, against the window's wall time and its operation count.
    */
  private def runtime(t: Tracer, cores: Int, gcS: Double, window: (Double, Double),
      ops: Int): Map[String, Double] = {
    val js = t.jobsBetween(window._1, window._2)
    val wallS = (window._2 - window._1) / 1000.0
    Map("jvm.gc_s" -> gcS,
      "spark.core_util" -> (if (wallS > 0) t.work(js).busyS / (wallS * cores) else 0.0),
      "spark.jobs" -> js.size.toDouble / math.max(1, ops))
  }

  private def complete(got: Map[String, Double]): Map[String, Double] =
    all.map(x => x.name -> got.getOrElse(x.name, 0.0)).toMap

  def engine(t: Tracer, cores: Int, state: collection.Map[String, Any], gcS: Double,
      window: (Double, Double), ops: Int): Map[String, Double] = {
    def num(k: String) = state(k) match { case n: Long => n.toDouble; case d: Double => d; case i: Int => i.toDouble }
    val idx = perCall(t, "index", cores)
    val arch = perCall(t, "archive.files", cores)
    val reads = readKinds.flatMap { k =>
      val c = perCall(t, k, cores)
      Seq("wall_s", "jobs", "tasks", "input_bytes", "read_amp").map(f => s"$k.$f" -> c(f))
    }
    complete(
      Seq("wall_s", "jobs", "stages", "tasks", "task_busy_s", "task_wait_s", "input_bytes",
        "shuffle_bytes", "spill_bytes", "output_bytes", "write_amp", "failed_tasks")
        .map(f => s"index.$f" -> idx(f)).toMap ++
      Map("archive.files_s" -> arch("wall_s"),
        "archive.files_n" -> med(t.allSpans.filter(_.name == "archive.files").flatMap(t.noteOf(_, "files")))) ++
      reads ++
      Seq("bytes", "files", "files_per_origin_view", "space_amp").map(k => s"state.$k" -> num(k)) ++
      runtime(t, cores, gcS, window, ops))
  }

  def pretrain(t: Tracer, cores: Int, gcS: Double, window: (Double, Double), ops: Int): Map[String, Double] =
    complete(arms.flatMap { a =>
      val c = perCall(t, a, cores)
      Seq("wall_s", "jobs", "stages", "tasks", "task_busy_s", "task_wait_s",
        "shuffle_bytes", "spill_bytes", "input_bytes", "core_util").map(f => s"$a.$f" -> c(f))
    }.toMap ++ runtime(t, cores, gcS, window, ops))
}
