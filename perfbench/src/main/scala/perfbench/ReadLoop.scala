package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, length, sum}

import graft.core._

/** Sizes of the engine workload; reads warm up in batches of
  * `warmBatch` until a batch's median stops falling, at most `maxWarm`
  * batches.
  */
final case class ReadSizes(origins: Int, files: Int, rounds: Int,
    warmBatch: Int, maxWarm: Int)

object ReadLoop {
  /** Reader threads of the closed loop. */
  val Clients = 2

  /** The read mix: each client runs cycles of these ten reads in a
    * seeded order, so every run reads exactly this mix.
    */
  val Cycle: Seq[String] = Seq.fill(3)("get.point") ++ Seq.fill(2)("get.multi") ++
    Seq("get.fold") ++ Seq.fill(3)("list.range") ++ Seq("list.reduce")
  val Mix: Seq[(String, Double)] =
    Cycle.distinct.map(k => k -> Cycle.count(_ == k).toDouble / Cycle.size)

  /** Reported tail. The rarest kinds (a tenth of the mix) get under
    * twenty readings a run, too few for a higher percentile to hold
    * still from run to run.
    */
  val TailPercentile = 75.0

  /** The mix-weighted mean of a per-kind statistic. Pooling the kinds
    * into one sample would put its median on the edge between the fast
    * half of the mix (point and multi-value gets) and the slow half, so
    * that a few more slow reads in a run would move it a whole cluster.
    */
  def mixWeighted(byKind: Map[String, Seq[Double]], stat: Seq[Double] => Double): Double =
    Mix.map { case (k, w) => w * byKind.get(k).filter(_.nonEmpty).map(stat).getOrElse(Double.NaN) }.sum
}

/** `engine_read`: a closed loop of [[ReadLoop.Clients]] reader threads
  * over an indexed, watched-state archive, with no writes while timing.
  *
  * Set-up builds the archive and indexes every origin from scratch
  * (`rounds` times, in fresh directories; setup_s counts them once, at
  * their median), then
  * applies one 1-file incremental edit per origin and confirms it
  * through all five read kinds: the state a watched view is in. The
  * timed reads are point, multi-value and fold `get`s, and compound
  * range (limit 20, half reversed) and read-time-reduce `list`s, in the
  * [[ReadLoop.Cycle]] mix with keys drawn from the seed; every answer is
  * checked against the model. p50_s and tail_s are mix-weighted means of
  * the per-kind median and p75.
  *
  * `plant` edits the model after set-up; the harness's tests use it to
  * plant wrong expectations and check that they are caught and counted.
  */
final class ReadLoop(spark: SparkSession, ctx: RunCtx, sizes: ReadSizes,
    plant: Model => Unit = _ => ()) {
  import Engine._
  import ReadLoop._

  private val clock = new Clock
  private val edits = new SplittableRandom(ctx.seed * 31 + 7)
  private var db: Graft = _
  private var archives: Seq[DirArchive] = Nil
  private var model: Model = _
  private var root: Path = _
  private var ids: Vector[Long] = Vector.empty

  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def sample(kind: String, v: Double): Unit =
    synchronized(samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += v)

  /** Builds the archive and indexes it from scratch in a fresh directory;
    * returns (whole set-up seconds, index seconds).
    */
  private def setUpRound(r: Int): (Double, Double) = {
    val t0 = System.nanoTime()
    val dir = Files.createDirectories(ctx.workDir.resolve(s"round-$r"))
    val (as, m) = generate(ctx.seed, dir.resolve("archives"), sizes.origins, sizes.files, clock)
    val g = new Graft(spark, dir.resolve("state").toString)
    define(g)
    val ti = System.nanoTime()
    as.foreach(a => g.index(a))
    val t1 = System.nanoTime()
    if (db != null) { db.close(); deleteTree(root) }
    db = g; archives = as; model = m; root = dir
    ((t1 - t0) / 1e9, (t1 - ti) / 1e9)
  }

  /** Rewrites one seeded file of origin `o` with a new language and size;
    * returns the file URL, the old and new document, and the bytes written.
    */
  private def rewrite(o: Int): (String, Doc, Doc, Long) = {
    val pre = originUrl(o) + "/"
    val existing = model.files.rangeFrom(pre).keysIterator.takeWhile(_.startsWith(pre)).toVector
    val url = existing(edits.nextInt(existing.size))
    val old = model.files(url)
    val lang = Langs.filterNot(_ == old.lang)(edits.nextInt(Langs.size - 1))
    val d = old.copy(lang = lang, nChars = 50L + edits.nextInt(4950))
    val bytes = writeFile(Path.of(archives(o).rootPath), url.stripPrefix(originUrl(o)), d.json, clock.next())
    model.files(url) = d
    (url, old, d, bytes)
  }

  /** One read: runs it (in a span when traced), records its latency
    * under `kind`, and compares the answer with the model's.
    */
  private def read[T](kind: String, key: Any, op: Long, expect: T)(
      call: => T, rows: T => Int): Option[String] = {
    val t0 = System.nanoTime()
    val got = ctx.tracer match {
      case Some(t) => t.span(kind, op) { val g = call; t.note("rows_returned", rows(g)); g }
      case None => call
    }
    sample(kind, (System.nanoTime() - t0) / 1e9)
    if (Answers.same(got, expect)) None
    else Some(s"$kind $key: got ${Answers.show(got)}, expected ${Answers.show(expect)}")
  }

  private def size(o: Option[Any]): Int = o match {
    case Some(v: Vector[_]) => v.size
    case Some(_) => 1
    case None => 0
  }

  /** `list("by-size")` over one language from (n, id), 20 keys. */
  private def range(lang: String, n: Long, id: Long, reverse: Boolean, op: Long): Option[String] = {
    val opts =
      if (reverse) ListOpts(gte = Some(Seq(lang)), lte = Some(Seq(lang, n, id)), limit = Some(20), reverse = true)
      else ListOpts(gte = Some(Seq(lang, n, id)), lt = Some(Seq(lang, 1e9)), limit = Some(20))
    read("list.range", Seq(lang, n, id), op, model.sizeRange(lang, (n, id), reverse, 20))(
      db.listEntries("by-size", opts), (_: Seq[Entry]).size)
  }

  /** The set-up edit of origin `o`: rewrite, index, then confirm through
    * all five read kinds that the new entry shows and the old one is
    * retracted (the retracted key would head the reverse range scan).
    * Returns the edit → confirmation seconds.
    */
  private def edit(o: Int, op: Long): Double = {
    ctx.attempt()
    val (url, b, a, bytes) = rewrite(o)
    def body(): Seq[String] = {
      ctx.tracer match {
        case Some(t) => t.span("index", op) { t.note("edited_bytes", bytes.toDouble); db.index(archives(o)) }
        case None => db.index(archives(o))
      }
      Seq(
        read("get.point", a.id, op, model.byId(a.id))(db.getValue("by-id", a.id), size),
        range(b.lang, b.nChars, b.id, reverse = true, op),
        read("get.fold", a.lang, op, model.langCount(a.lang))(db.getValue("lang-count", a.lang), size),
        read("get.multi", a.lang, op, model.byLang(a.lang))(db.getValue("by-lang", a.lang), size),
        read("list.reduce", "all", op, model.langChars)(db.listEntries("lang-chars"), (_: Seq[Entry]).size)
      ).flatten
    }
    val t0 = System.nanoTime()
    val errs = ctx.tracer.fold(body())(_.span("edit", op)(body()))
    val s = (System.nanoTime() - t0) / 1e9
    ctx.tracer.foreach { t =>
      t.span("archive.files", op) {
        val r = archives(o).files(spark).agg(count("*"), sum(length(col("value")))).head()
        t.note("files", r.getLong(0).toDouble)
      }
    }
    if (errs.nonEmpty) ctx.fail(s"edit of $url: ${errs.mkString("; ")}")
    s
  }

  /** The client's next read kind: cycles of the mix, each shuffled. */
  private final class Schedule(rng: SplittableRandom) {
    private var left: List[String] = Nil
    def next(): String = {
      if (left.isEmpty) left = new scala.util.Random(rng.nextLong()).shuffle(Cycle).toList
      val k = left.head; left = left.tail; k
    }
  }

  /** One seeded read of kind `kind`; failures are counted, not thrown. */
  private def readOnce(kind: String, rng: SplittableRandom, op: Long): Unit = {
    ctx.attempt()
    val lang = Langs(rng.nextInt(Langs.size))
    try {
      val err = kind match {
        case "get.point" =>
          val id = ids(rng.nextInt(ids.size))
          read(kind, id, op, model.byId(id))(db.getValue("by-id", id), size)
        case "get.multi" => read(kind, lang, op, model.byLang(lang))(db.getValue("by-lang", lang), size)
        case "get.fold" => read(kind, lang, op, model.langCount(lang))(db.getValue("lang-count", lang), size)
        case "list.range" =>
          val reverse = rng.nextBoolean()
          range(lang, 50L + rng.nextInt(4950), if (reverse) Long.MaxValue else 0L, reverse, op)
        case _ => read("list.reduce", "all", op, model.langChars)(db.listEntries("lang-chars"), (_: Seq[Entry]).size)
      }
      err.foreach(ctx.fail)
    } catch {
      case e: Exception => ctx.fail(s"$kind read $op: $e")
    }
  }

  private def all(kinds: String => Boolean): Seq[Double] =
    synchronized(samples.filter(x => kinds(x._1)).values.flatten.toList)
  private def byKind: Map[String, Seq[Double]] =
    synchronized(samples.map { case (k, v) => k -> v.toList }.toMap)

  def run(): RunResult = {
    // the first round also warms class loading and code generation; the
    // median over rounds keeps that cold reading out of index_build_s
    val rounds = (0 until sizes.rounds).map(setUpRound)
    val indexBuildS = Stats.median(rounds.map(_._2))
    ctx.tracer.foreach(_.attach())
    val editS = archives.indices.map(o => edit(o, -1L - o))
    plant(model)
    ids = model.files.valuesIterator.map(_.id).toVector

    // warm-up: batches of reads while each batch's median is 5% below
    // the one before, up to the cap
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmRng = new SplittableRandom(ctx.seed * 131 + 1)
    val warmKinds = new Schedule(warmRng)
    def falling = warm.size < 2 || warm.last < 0.95 * warm(warm.size - 2)
    var op = 0L
    while (warm.size < sizes.maxWarm && falling) {
      synchronized(samples.clear())
      (1 to sizes.warmBatch).foreach { _ => op += 1; readOnce(warmKinds.next(), warmRng, op) }
      warm += mixWeighted(byKind, Stats.median)
    }
    synchronized(samples.clear())

    val setupS = ctx.setupS(rounds.map(_._1))
    val gc0 = Runtime.gcSeconds()
    val nextOp = new java.util.concurrent.atomic.AtomicLong(op)
    val t0 = System.nanoTime()
    val t0Ms = ctx.tracer.map(_.nowMs)
    val deadline = t0 + ctx.seconds * 1000000000L
    val clients = (0 until Clients).map { c =>
      val rng = new SplittableRandom(ctx.seed * 1009 + c)
      val kinds = new Schedule(rng)
      val th = new Thread(() =>
        while (System.nanoTime() < deadline) readOnce(kinds.next(), rng, nextOp.incrementAndGet()))
      th.setName(s"perfbench-client-$c")
      th.start()
      th
    }
    clients.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val window = t0Ms.map(s => (s, ctx.tracer.get.nowMs))
    val gcS = Runtime.gcSeconds() - gc0
    ctx.tracer.foreach(_.detach())

    val reads = all(_ => true)
    def pct(xs: Seq[Double], p: Double) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs, p / 100)
    val getS = all(_.startsWith("get."))
    val listS = all(_.startsWith("list."))
    val state = stateWalk()
    val detail = Out.obj(
      "sizes" -> Out.obj("origins" -> sizes.origins, "files_per_origin" -> sizes.files,
        "views" -> Views.size, "setup_rounds" -> sizes.rounds, "clients" -> Clients),
      "setup_rounds_s" -> rounds.map(_._1), "index_build_rounds_s" -> rounds.map(_._2),
      "index_build_s" -> indexBuildS,
      "setup_edit_visible_s" -> editS,
      "warmup_batch_p50_s" -> warm.toSeq, "warmup_batch" -> sizes.warmBatch,
      "reads" -> reads.size,
      // pooled over their kinds, each tail at the highest percentile
      // that leaves ten readings above it
      "get_p50_s" -> pct(getS, 50), "get_tail_s" -> pct(getS, Stats.tailPercentile(getS.size)),
      "get_tail_percentile" -> Stats.tailPercentile(getS.size),
      "list_p50_s" -> pct(listS, 50), "list_tail_s" -> pct(listS, Stats.tailPercentile(listS.size)),
      "list_tail_percentile" -> Stats.tailPercentile(listS.size),
      "reads_per_s" -> reads.size / wallS,
      "by_kind" -> Out.obj(Mix.map(_._1).map { k =>
        val xs = all(_ == k)
        k -> Out.obj("n" -> xs.size, "p50_s" -> pct(xs, 50), "tail_s" -> pct(xs, TailPercentile))
      }: _*),
      "timed_wall_s" -> wallS, "jvm_gc_s" -> gcS,
      "state" -> state)
    val endToEnd = Seq("setup_s" -> setupS,
      "p50_s" -> mixWeighted(byKind, Stats.median),
      "tail_s" -> mixWeighted(byKind, xs => Stats.quantile(xs, TailPercentile / 100)))
    val layers = ctx.tracer.map(t => Layers.engine(t, ctx.cores, state, gcS, window.get, reads.size))
      .getOrElse(Map.empty)
    try db.close() finally deleteTree(root)
    RunResult(endToEnd, layers, detail)
  }

  /** Walks the view state at run end: bytes, files, and files per
    * (origin, view) partition, against the live archive's bytes.
    */
  private def stateWalk(): collection.Map[String, Any] = {
    val stateDir = root.resolve("state")
    val (bytes, files) = treeBytes(stateDir)
    val archiveBytes = archives.map(a => treeBytes(Path.of(a.rootPath))._1).sum
    val parts = Views.flatMap { v =>
      val d = stateDir.resolve(v).resolve("entries")
      if (!Files.isDirectory(d)) Nil
      else {
        val s = Files.list(d)
        try s.toArray.map(_.asInstanceOf[Path]).filter(_.getFileName.toString.startsWith("ob="))
          .map(p => treeBytes(p)._2.toDouble).toSeq
        finally s.close()
      }
    }
    Out.obj("bytes" -> bytes, "files" -> files,
      "files_per_origin_view" -> (if (parts.isEmpty) 0.0 else parts.sum / parts.size),
      "space_amp" -> bytes.toDouble / math.max(1L, archiveBytes),
      "archive_bytes" -> archiveBytes)
  }
}
