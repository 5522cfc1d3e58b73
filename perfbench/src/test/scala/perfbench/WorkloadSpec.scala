package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Entry

class WorkloadSpec extends AnyFunSuite {
  private val small = ReadSizes(origins = 2, files = 20, rounds = 2, warmBatch = 3, maxWarm = 1)

  private def positive(r: RunResult) =
    r.endToEnd.foreach { case (k, v) => assert(v > 0 && !v.isNaN, s"$k = $v") }

  test("the model predicts order, folds and ranges the way the views define them") {
    val m = new Model
    m.files("dat://origin-0/doc-000001.json") = Doc(11, "en", "src1", 300)
    m.files("dat://origin-0/doc-000000.json") = Doc(10, "en", "src1", 200)
    m.files("dat://origin-1/doc-000000.json") = Doc(20, "de", "src2", 200)
    assert(m.byLang("en") == Some(Vector(10.0, 11.0)))
    assert(m.langCount("de") == Some(1.0))
    assert(m.langCount("fr").isEmpty)
    assert(m.langChars == Seq(Entry("de", 200.0), Entry("en", 500.0)))
    assert(m.sizeRange("en", (300, 11), reverse = true, 20) ==
      Seq(Entry(Vector("en", 300.0, 11.0), 11.0), Entry(Vector("en", 200.0, 10.0), 10.0)))
    assert(m.sizeRange("en", (250, 0), reverse = false, 1) ==
      Seq(Entry(Vector("en", 300.0, 11.0), 11.0)))
    assert(Answers.same(Some(Vector(300L)), m.byId(11)))
    assert(!Answers.same(Some(Vector(301L)), m.byId(11)))
  }

  test("engine_read at a small size runs correct edits and reads") {
    val ctx = TestSession.ctx(seconds = 2)
    val r = new ReadLoop(TestSession.spark, ctx, small).run()
    assert(ctx.attempted >= 1 && ctx.failed == 0, ctx.failureList.mkString("; "))
    positive(r)
  }

  test("engine_read catches and counts a planted wrong answer") {
    val ctx = TestSession.ctx(seconds = 2)
    // one language's documents move to another in the model only: every
    // read that touches either language must fail, and no other
    new ReadLoop(TestSession.spark, ctx, small,
      plant = m => m.files.mapValuesInPlace((_, d) => if (d.lang == "en") d.copy(lang = "de") else d)).run()
    val failures = ctx.failureList
    assert(ctx.attempted > 10)
    assert(failures.nonEmpty && ctx.failed < ctx.attempted, failures.mkString("; "))
    assert(failures.forall(f => f.contains("en") || f.contains("de")), failures.mkString("; "))
  }

  test("engine_read traced: spans carry the index jobs and the per-layer metrics") {
    val t = new Tracer(TestSession.spark.sparkContext)
    val base = TestSession.ctx(seconds = 2)
    val ctx = new RunCtx(base.seed, base.seconds, base.workDir, base.cores, Some(t), base.startMs)
    val r = new ReadLoop(TestSession.spark, ctx, small).run()
    assert(ctx.failed == 0, ctx.failureList.mkString("; "))
    assert(t.allSpans.exists(_.name == "index"))
    assert(r.layers("index.jobs") > 0 && r.layers("index.wall_s") > 0)
    assert(r.layers("get.point.wall_s") > 0 && r.layers("state.files") > 0)
    assert(Layers.all.forall(m => r.layers.contains(m.name)))
  }

  test("pretrain_chain at a small size passes its in-process checks") {
    val ctx = TestSession.ctx(seconds = 1)
    val r = new PretrainChain(TestSession.spark, ctx,
      PretrainSizes(docs = 200, rounds = 2, passes = 2)).run()
    assert(ctx.attempted >= 3 && ctx.failed == 0, ctx.failureList.mkString("; "))
    positive(r)
    val check = ctx.workDir.resolve("check")
    Seq("oracle_sql.json", "queries.json", "pipeline_pretrain_compact", "pipeline_pretrain_e2e")
      .foreach(f => assert(java.nio.file.Files.exists(check.resolve(f)), f))
  }

  test("the monotone ingest/compaction rule flags a planted violation") {
    val ingest = Map(1L -> "quality", 2L -> "kept", 3L -> "url")
    assert(PretrainChain.monotoneViolations(ingest, Map(1L -> "quality", 2L -> "kept", 3L -> "mixture")).size == 1)
    assert(PretrainChain.monotoneViolations(ingest, Map(1L -> "quality", 2L -> "mixture", 3L -> "url")).isEmpty)
    assert(PretrainChain.monotoneViolations(ingest, Map(1L -> "quality")).nonEmpty)
  }

  test("documents are a function of the seed") {
    assert(PretrainChain.documents(5, 300) == PretrainChain.documents(5, 300))
    assert(PretrainChain.documents(5, 300) != PretrainChain.documents(6, 300))
  }
}
