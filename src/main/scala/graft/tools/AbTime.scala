package graft.tools

/** Interleaved A/B timing for one query under two conf values — the
  * instrument for adjudicating small deltas on a noisy host. It is
  * Bench's loop over two arms: both warm once, then the timed passes
  * alternate their order (AB, BA, AB, ...) inside one session, so a
  * contention window inflates both sides equally, a within-pair ordering
  * effect cancels, and the PAIRWISE deltas stay meaningful where two
  * separate bench runs minutes apart do not (r14: the same arm swung
  * ±25% between adjacent subset runs).
  *
  *   SPARK_GRAFT_REPEATS=6 sbt "runMain graft.tools.AbTime \
  *     pipeline_pretrain_compact spark.graft.compactUnion lazy mat"
  */
object AbTime {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: AbTime <query> <confKey> <valA> <valB>")
    val Array(name, key, va, vb) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val n = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "6").toInt
    val spark = Session()
    Session.warmTables(spark, sfDir)
    val q = graft.SparkEntry.queries(name)
    def arm(side: String, v: String) = graft.Bench.Arm(s"$side $key=$v", () => {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      try { q(spark, sfDir).count(); (System.nanoTime() - t0) / 1e9 }
      finally graft.queries.Pinned.drain()
    })
    val Seq(a, b) = graft.Bench.measure(Seq(arm("A", va), arm("B", vb)), n, () => 0L)
    val pairs = a.passes.zip(b.passes).zipWithIndex.collect {
      case ((Some(x), Some(y)), i) => (x, y, i)
    }
    pairs.foreach { case (x, y, i) =>
      println(f"pass ${i + 1} (${if (i % 2 == 0) "AB" else "BA"}): ${a.name} $x%.3f s | " +
        f"${b.name} $y%.3f s | delta ${y - x}%+.3f")
    }
    println(f"MEDIANS $name: $va=${a.median}%.3f $vb=${b.median}%.3f " +
      f"(A wins ${pairs.count { case (x, y, _) => x < y }}/${pairs.size} pairs)")
    spark.stop()
  }
}
