package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {
  private def span(id: Long, parent: Long, start: Double, end: Double) =
    Span(id, s"s$id", parent, 1, start, end)
  private def job(id: Int, at: Long, group: Option[Long] = None) =
    JobRec(id, at, group.map(g => Tracer.groupPrefix + g), Nil)

  // op [100, 200] holds index [110, 150] and a read [160, 190]
  private val spans = Seq(span(1, 0, 100, 200), span(2, 1, 110, 150), span(3, 1, 160, 190))
  private def attributed(j: JobRec) = Tracer.attribute(Seq(j), spans).head._2

  test("a job without a group goes to the innermost span open when it started") {
    assert(attributed(job(1, 120)) == 2)
    assert(attributed(job(2, 170)) == 3)
    assert(attributed(job(3, 155)) == 1)
    assert(attributed(job(4, 250)) == 0)
  }

  test("a job group names its span while that span is the innermost open one") {
    assert(attributed(job(1, 120, Some(2))) == 2)
    // a pooled thread carrying the group of a span that has closed
    assert(attributed(job(2, 170, Some(2))) == 3)
    // a pooled thread carrying the outer group while an inner span is open
    assert(attributed(job(3, 120, Some(1))) == 2)
    // a group naming no span of this run
    assert(attributed(job(4, 120, Some(99))) == 2)
  }

  test("live: jobs from the caller and from a pool thread land in their spans") {
    val spark = TestSession.spark
    val t = new Tracer(spark.sparkContext)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
    try {
      t.attach()
      t.span("op", 1) {
        t.span("caller", 1)(spark.range(10).count())
        t.span("pooled", 1) {
          pool.submit(new java.util.concurrent.Callable[Long] {
            def call(): Long = spark.range(20).count()
          }).get()
        }
      }
      spark.range(5).count() // outside every span
      t.detach()
      val byName = t.allSpans.map(s => s.name -> s.id).toMap
      val bySpan = t.jobsBySpan
      assert(bySpan.getOrElse(byName("caller"), Nil).nonEmpty)
      assert(bySpan.getOrElse(byName("pooled"), Nil).nonEmpty)
      assert(bySpan.getOrElse(byName("op"), Nil).isEmpty)
      assert(bySpan.getOrElse(0L, Nil).nonEmpty)
      val w = t.work(bySpan(byName("caller")))
      assert(w.jobs >= 1 && w.tasks >= 1 && w.busyS >= 0)
    } finally pool.shutdown()
  }
}
