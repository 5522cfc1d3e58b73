package graft

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The bench loop and its one line of driver record. The recording
  * harness keeps only the last ~2000 chars of stdout, so the line must
  * fit the budget, name the heaviest arms, and account for every failed
  * and flaky arm. A "suspect" below is an arm with one slow pass (the
  * reading the old rerun ladder re-measured and replaced by its best
  * rerun): its record value must be its median. The tail of a pass is
  * the arms whose untimed run started a streaming query.
  */
class BenchReportSpec extends SparkSpec {

  private val budget = 1880

  private def arm(name: String, passes: Option[Double]*) = Bench.Readings(name, passes)

  private def results(n: Int): Seq[Bench.Readings] =
    (1 to n).map { i =>
      val v = 0.1 + (i % 37) * 0.13
      arm(s"query_arm_name_number_$i", Some(v), Some(v), Some(v))
    }

  /** `rs` with its n heaviest arms as suspects: one pass (the k-th
    * suspect's pass k % 3) three times slower than the others.
    */
  private def withSuspects(rs: Seq[Bench.Readings], n: Int): Seq[Bench.Readings] = {
    val k = rs.sortBy(-_.median).take(n).map(_.name).zipWithIndex.toMap
    rs.map(r => k.get(r.name).fold(r)(i =>
      r.copy(passes = r.passes.updated(i % 3, r.passes(i % 3).map(_ * 3)))))
  }

  private def suspect(r: Bench.Readings) = r.passes.distinct.size > 1

  private def parse(line: String): JValue = JsonMethods.parse(line)

  private def named(j: JValue): Map[String, Double] = {
    val JObject(qs) = j \ "queries"
    qs.map {
      case (k, JDouble(v)) => k -> v
      case (k, JDecimal(v)) => k -> v.toDouble
      case (k, JInt(v)) => k -> v.toDouble
      case (k, v) => fail(s"$k: $v")
    }.toMap
  }

  /** The r12 contract: the heaviest named arms survive ANY fold
    * pressure — a record with "queries":{} (the r11 driver run) is a
    * regression.
    */
  private def assertHeavyArmsNamed(j: JValue, rs: Seq[Bench.Readings],
      atLeast: Int = 15): Unit = {
    val qs = named(j)
    assert(qs.size >= atLeast, s"only ${qs.size} named arms survived the fold")
    val heaviest = rs.filterNot(_.failed).sortBy(-_.median).take(atLeast).map(_.name).toSet
    assert(heaviest.subsetOf(qs.keySet),
      s"heaviest arms folded away: ${(heaviest -- qs.keySet).take(3)}")
  }

  test("r10 shape: 198 arms + 26 suspects — accounted, heavy arms named") {
    val rs = withSuspects(results(198), 26)
    val line = Bench.renderRecordLine(rs, 3, "/x/sf0.1")
    assert(line.length <= budget, s"line ${line.length} chars exceeds budget")
    val j = parse(line)
    assertHeavyArmsNamed(j, rs)
    // every arm is named or counted in fast_other, and a named suspect
    // carries its median: the slow pass moves neither it nor the record
    val qs = named(j)
    val JInt(folded) = j \ "fast_other" \ "n"
    assert(qs.size + folded.toInt == rs.size)
    val sus = rs.filter(suspect)
    assert(sus.size == 26 && sus.forall(r => qs.contains(r.name)))
    sus.foreach { r =>
      assert(math.abs(qs(r.name) - r.median) < 0.001 && r.median < r.passes.flatten.max,
        s"${r.name}: ${qs(r.name)} vs median ${r.median}")
    }
    val JObject(top) = j
    assert(!top.exists(_._1.startsWith("suspect")) && !top.exists(_._1 == "drift_n"))
  }

  test("pathological: 60 suspects still parse; unresolved entries survive") {
    // the 20 suspects whose first pass was slow also failed their second
    // (flaky, unresolved); the rest read one slow pass
    val rs = withSuspects(results(198), 60).map { r =>
      if (r.passes(0) != r.passes(1) && r.passes(0) != r.passes(2)) r.copy(passes = r.passes.updated(1, None))
      else r
    }
    val line = Bench.renderRecordLine(rs, 3, "/x/sf0.1")
    assert(line.length <= budget, s"line ${line.length} chars exceeds budget")
    val j = parse(line)
    assertHeavyArmsNamed(j, rs)
    val JInt(flakyN) = j \ "flaky_n"
    assert(flakyN == 20)
    // a flaky arm is never folded: its median stays next to its name
    val qs = named(j)
    rs.filter(_.flaky).foreach(r => assert(qs.contains(r.name), r.name))
  }

  test("failed rows are named in failed[] but absent from the queries map") {
    val rs = results(30) :+ arm("watch_latency", None, None, None)
    val line = Bench.renderRecordLine(rs, 3, "/x/sf0.1")
    val j = parse(line)
    val JArray(failed) = j \ "failed"
    assert(failed.contains(JString("watch_latency")))
    assert(!named(j).contains("watch_latency"),
      "a failed arm must not carry a -1.0 'timing' in the queries map")
    val JInt(fn) = j \ "failed_n"
    assert(fn == 1)
  }

  test("flaky rows stay pinned (resolvable) in the queries map") {
    val rs = results(120) :+ arm("flaky_one", Some(2.5), None, Some(2.5))
    val line = Bench.renderRecordLine(rs, 3, "/x/sf0.1")
    assert(line.length <= budget)
    val j = parse(line)
    assert(named(j).get("flaky_one").contains(2.5))
    val JArray(flaky) = j \ "flaky"
    assert(flaky.contains(JString("flaky_one")))
  }

  test("every arm warms once, then timed passes alternate order; pure arms precede the tail") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    var starts = 0L
    def rec(n: String) = Bench.Arm(n, () => { calls += n; 1.0 })
    def streaming(n: String) = Bench.Arm(n, () => { calls += n; starts += 1; 1.0 })
    val rs = Bench.measure(Seq(rec("p1"), rec("p2"), rec("p3"), streaming("t1"), streaming("t2")),
      3, () => starts)
    val warm = Seq("p1", "p2", "p3", "t1", "t2")
    val fwd = warm
    val rev = Seq("p3", "p2", "p1", "t2", "t1")
    assert(calls.toSeq == warm ++ fwd ++ rev ++ fwd)
    assert(rs.map(_.name) == warm)
    assert(rs.forall(_.passes == Seq(Some(1.0), Some(1.0), Some(1.0))),
      "the untimed warm-up must not be a reading")
  }

  test("an arm whose warm run starts a stream runs after every pure arm in every pass") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    var starts = 0L
    var warmed = false
    def rec(n: String) = Bench.Arm(n, () => { calls += n; 1.0 })
    // reports a start in its warm run only: the warm pass alone decides
    val s = Bench.Arm("s", () => {
      calls += "s"
      if (!warmed) { warmed = true; starts += 1 }
      1.0
    })
    val rs = Bench.measure(Seq(rec("a"), s, rec("b"), rec("c")), 4, () => starts)
    val fwd = Seq("a", "b", "c", "s")
    val rev = Seq("c", "b", "a", "s")
    assert(calls.toSeq == Seq("a", "s", "b", "c") ++ fwd ++ rev ++ fwd ++ rev)
    assert(rs.map(_.name) == Seq("a", "s", "b", "c"))
    assert(rs.filter(_.tail).map(_.name) == Seq("s"))
  }

  test("the stream listener puts an arm that starts a MemoryStream query in the tail") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val streams = new Bench.StreamStarts
    spark.streams.addListener(streams)
    try {
      val streamArm = Bench.Arm("tiny_stream", () => {
        val input = MemoryStream[Int]
        input.addData(1, 2, 3)
        val q = input.toDF().writeStream.format("noop").start()
        try q.processAllAvailable() finally q.stop()
        0.0
      })
      val pureArm = Bench.Arm("batch", () => { spark.range(3).count(); 0.0 })
      val rs = Bench.measure(Seq(streamArm, pureArm), 1, () => streams.count)
      assert(rs.map(r => r.name -> r.tail) == Seq("tiny_stream" -> true, "batch" -> false))
    } finally spark.streams.removeListener(streams)
  }

  test("an arm's median, p25 and p75 come from its per-pass readings") {
    val four = arm("four", Some(3.0), Some(1.0), Some(2.0), Some(10.0))
    assert(four.median == 2.5 && four.q(0.25) == 1.75 && four.q(0.75) == 4.75)
    // three passes, the first one slow (per-arm warm-up that leaked):
    // the record carries the middle reading, not the fastest
    val three = arm("three", Some(9.0), Some(2.0), Some(1.0))
    assert(three.median == 2.0 && three.q(0.25) == 1.5 && three.q(0.75) == 5.5)
    val qs = named(parse(Bench.renderRecordLine(Seq(four, three), 4, "/x/sf0.1")))
    assert(qs == Map("four" -> 2.5, "three" -> 2.0))
    // a failed pass is left out of the quantiles
    val holed = arm("holed", Some(4.0), None, Some(2.0))
    assert(holed.median == 3.0 && holed.flaky && !holed.failed)
  }

  test("an arm that fails in some passes is flaky; one that fails in all is failed") {
    var n = 0
    val sometimes = Bench.Arm("sometimes", () => {
      n += 1
      if (n % 2 == 0) throw new RuntimeException("every other run") else 0.5
    })
    val always = Bench.Arm("always", () => throw new RuntimeException("never runs"))
    val steady = Bench.Arm("steady", () => 0.25)
    val rs = Bench.measure(Seq(sometimes, steady, always), 3, () => 0L)
    val byName = rs.map(r => r.name -> r).toMap
    // run 1 is the warm-up; the timed passes are runs 2, 3, 4
    assert(byName("sometimes").passes == Seq(None, Some(0.5), None))
    assert(byName("sometimes").flaky && !byName("sometimes").failed)
    assert(byName("always").failed && !byName("always").flaky)
    assert(!byName("steady").flaky && !byName("steady").failed)
    val j = parse(Bench.renderRecordLine(rs, 3, "/x/sf0.1"))
    val JArray(flaky) = j \ "flaky"
    val JArray(failed) = j \ "failed"
    assert(flaky == List(JString("sometimes")) && failed == List(JString("always")))
    assert(named(j) == Map("sometimes" -> 0.5, "steady" -> 0.25))
  }
}
