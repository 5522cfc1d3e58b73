package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Sizes of the pretrain workload: documents per table, set-up rounds,
  * and the fewest timed passes a run makes.
  */
final case class PretrainSizes(docs: Int, rounds: Int, passes: Int)

/** `pretrain_chain`: a batch workload, one job at a time. Each pass runs
  * `pipeline_pretrain_ingest` → `_compact` → `_e2e` through
  * `SparkEntry.queries` over a seeded `documents` table and collects each
  * result in full. The first, cold pass is set-up: it is verified (the
  * monotone ingest ⊆ compact rule here; the `_compact` and `_e2e` oracles
  * in DuckDB after the run) and every timed pass must hash to the same
  * content. Passes are timed until `seconds` is over, and at least
  * `passes` of them.
  */
final class PretrainChain(spark: SparkSession, ctx: RunCtx, sizes: PretrainSizes) {
  import PretrainChain._

  private val dataDir = ctx.workDir.resolve("data")
  private val verified = mutable.Map.empty[String, String]

  /** Writes the seeded documents table into a fresh `data/`, as the
    * single `documents.parquet` file the arms (ingest reads it as a
    * stream filtered by that file name) expect.
    */
  private def setUpRound(): Double = {
    val t0 = System.nanoTime()
    Engine.deleteTree(dataDir)
    val rows = documents(ctx.seed, sizes.docs)
    val staged = ctx.workDir.resolve("staged")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.parquet(staged.toString)
    Files.createDirectories(dataDir)
    val part = Files.list(staged)
    try Files.move(part.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get,
      dataDir.resolve("documents.parquet"))
    finally part.close()
    Engine.deleteTree(staged)
    (System.nanoTime() - t0) / 1e9
  }

  /** One chain pass: per arm (seconds, rows). */
  private def pass(op: Long, tracer: Option[Tracer]): Seq[(String, Double, Seq[Row])] = {
    def one(arm: String): (String, Double, Seq[Row]) = {
      val t0 = System.nanoTime()
      val run = () => graft.SparkEntry.queries("pipeline_" + arm)(spark, dataDir.toString).collect().toSeq
      val rows = tracer.fold(run())(_.span(arm, op)(run()))
      (arm, (System.nanoTime() - t0) / 1e9, rows)
    }
    tracer.fold(Layers.arms.map(one))(_.span("pass", op)(Layers.arms.map(one)))
  }

  /** The cold pass's checks that run in-process. Writes the `_compact`
    * and `_e2e` outputs to `check/`, laid out for `tools/check.py`: one
    * parquet directory per query, `oracle_sql.json` and `queries.json`.
    */
  private def verify(p: Seq[(String, Double, Seq[Row])]): Unit = {
    val byArm = p.map(x => x._1 -> x._3).toMap
    p.foreach { case (arm, _, rows) => verified(arm) = hash(rows) }
    val ingest = byArm("pretrain_ingest").map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("stage")).toMap
    val compact = byArm("pretrain_compact").map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("stage")).toMap
    monotoneViolations(ingest, compact).foreach(ctx.fail)
    val checkDir = Files.createDirectories(ctx.workDir.resolve("check"))
    val names = Seq("pretrain_compact", "pretrain_e2e").map { arm =>
      val rows = byArm(arm)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema).coalesce(1)
        .write.parquet(checkDir.resolve("pipeline_" + arm).toString)
      "pipeline_" + arm
    }
    val sql = mutable.LinkedHashMap(names.map(n => n -> graft.SparkEntry.oracleSql(n)): _*)
    Files.write(checkDir.resolve("oracle_sql.json"), Out.render(sql).getBytes(StandardCharsets.UTF_8))
    Files.write(checkDir.resolve("queries.json"), Out.render(names).getBytes(StandardCharsets.UTF_8))
  }

  private def checkSame(p: Seq[(String, Double, Seq[Row])], op: Long): Boolean = {
    val bad = p.filter { case (arm, _, rows) => hash(rows) != verified(arm) }
    bad.foreach { case (arm, _, _) => ctx.fail(s"pass $op: $arm content differs from the verified pass") }
    bad.isEmpty
  }

  def run(): RunResult = {
    val rounds = (0 until sizes.rounds).map(_ => setUpRound())

    // the cold pass is the warm-up and the verified pass; setup_s holds it
    def total(p: Seq[(String, Double, Seq[Row])]) = p.map(_._2).sum
    var op = 1L
    ctx.attempt()
    val cold = pass(op, None)
    verify(cold)
    val coldS = total(cold)

    val setupS = ctx.setupS(rounds)
    val gc0 = Runtime.gcSeconds()
    val timed = mutable.ArrayBuffer.empty[Seq[(String, Double, Seq[Row])]]
    ctx.tracer.foreach(_.attach())
    val t0 = System.nanoTime()
    val t0Ms = ctx.tracer.map(_.nowMs)
    val deadline = t0 + ctx.seconds * 1000000000L
    while (op <= sizes.passes || System.nanoTime() < deadline) { // op 1 was the cold pass
      op += 1
      ctx.attempt()
      val p = try Some(pass(op, ctx.tracer)) catch {
        case e: Exception => ctx.fail(s"pass $op: $e"); None
      }
      p.filter(checkSame(_, op)).foreach(timed += _)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val window = t0Ms.map(s => (s, ctx.tracer.get.nowMs))
    ctx.tracer.foreach(_.detach())
    val gcS = Runtime.gcSeconds() - gc0

    val chain = timed.map(total).toSeq
    def arm(a: String) = timed.map(_.find(_._1 == a).get._2).toSeq
    def pct(xs: Seq[Double], q: Double) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs, q)
    val detail = Out.obj(
      "sizes" -> Out.obj("documents" -> sizes.docs, "setup_rounds" -> sizes.rounds,
        "min_passes" -> sizes.passes),
      "setup_rounds_s" -> rounds,
      "cold_pass_s" -> coldS,
      "cold_pass_arms_s" -> Out.obj(cold.map(x => x._1 + "_s" -> x._2): _*),
      "passes" -> chain.size, "chain_pass_s" -> chain,
      "pretrain_ingest_s" -> pct(arm("pretrain_ingest"), 0.5),
      "pretrain_compact_s" -> pct(arm("pretrain_compact"), 0.5),
      "pretrain_e2e_s" -> pct(arm("pretrain_e2e"), 0.5),
      "rows" -> Out.obj(cold.map(x => x._1 -> x._3.size): _*),
      "timed_wall_s" -> wallS, "jvm_gc_s" -> gcS)
    val endToEnd = Seq("setup_s" -> setupS,
      "p50_s" -> pct(chain, 0.5), "tail_s" -> pct(chain, TailPercentile / 100))
    val layers = ctx.tracer.map(t => Layers.pretrain(t, ctx.cores, gcS, window.get, timed.size))
      .getOrElse(Map.empty)
    RunResult(endToEnd, layers, detail)
  }
}

object PretrainChain {
  /** Reported tail over a run's few passes: no percentile leaves ten
    * passes above it, and the slowest of three would be one reading.
    */
  val TailPercentile = 75.0

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  // the vocabulary, language mix and planted duplicate rates of the
  // repository's sf generator: 30 words, en twice as likely as each other
  // language, ~0.2% exact duplicates and ~0.5% near-duplicates
  private val Vocab = Vector("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the", "row",
    "agg", "key", "query", "a", "scan", "batch")
  private val Langs = Vector("en", "en", "de", "es", "fr", "zh")

  def documents(seed: Long, n: Int): Seq[Row] = {
    val rng = new java.util.SplittableRandom(seed)
    val texts = Array.fill(n) {
      Seq.fill(8 + rng.nextInt(62))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
    }
    (0 until math.max(1, n / 500)).foreach(_ => texts(rng.nextInt(n)) = texts(rng.nextInt(n)))
    (0 until math.max(1, n / 200)).foreach { _ =>
      val a = rng.nextInt(n); texts(rng.nextInt(n)) = texts(a) + " dup"
    }
    (0 until n).map(i => Row(i.toLong, texts(i), Langs(rng.nextInt(Langs.size)),
      s"src${rng.nextInt(20)}", texts(i).length.toLong))
  }

  /** `inv_pretrain_ingest_compact_monotone` over collected outputs: a doc
    * the ingest pass dropped must not reach mixture/kept in compaction,
    * and both passes must cover the same increment docs.
    */
  def monotoneViolations(ingest: Map[Long, String], compact: Map[Long, String]): Seq[String] = {
    val dropped = Set("benchmark", "quality", "url", "exact", "neardup", "contaminated")
    val bad = ingest.toSeq.sortBy(_._1).collect {
      case (id, s) if dropped(s) && compact.get(id).exists(Set("mixture", "kept")) =>
        s"doc $id: ingest dropped it as $s but compaction kept it as ${compact(id)}"
    }
    val cover = if (ingest.keySet == compact.keySet) Nil
      else Seq(s"ingest covers ${ingest.size} docs, compaction ${compact.size}")
    (bad ++ cover).take(20)
  }

  def hash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes(StandardCharsets.UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }
}
