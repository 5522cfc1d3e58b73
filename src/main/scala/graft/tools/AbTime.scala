package graft.tools

import org.apache.spark.sql.SparkSession

/** Interleaved A/B timing for one query under two conf values — the
  * instrument for adjudicating small deltas on a noisy host: variants
  * alternate inside one session in pairs whose order alternates too
  * (AB, BA, AB, ...), so a contention window inflates both sides equally,
  * a within-pair ordering effect cancels, and the PAIRWISE deltas stay
  * meaningful where two separate bench runs minutes apart do not (r14:
  * the same arm swung ±25% between adjacent subset runs).
  *
  *   SPARK_GRAFT_REPEATS=6 sbt "runMain graft.tools.AbTime \
  *     pipeline_pretrain_compact spark.graft.compactUnion lazy mat"
  */
object AbTime {
  def main(args: Array[String]): Unit = {
    require(args.length == 4, "usage: AbTime <query> <confKey> <valA> <valB>")
    val Array(name, key, va, vb) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val n = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "6").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.core.Tables.names.foreach { t =>
      try {
        (if (t == "events") graft.core.Tables.events(spark, sfDir)
         else graft.core.Tables(spark, sfDir, t)).count()
      } catch { case _: Throwable => }
    }
    val q = graft.SparkEntry.queries(name)
    def time(v: String): Double = {
      spark.conf.set(key, v)
      val t0 = System.nanoTime()
      try { q(spark, sfDir).count() } finally graft.queries.Pinned.drain()
      (System.nanoTime() - t0) / 1e9
    }
    // warm both once (codegen/broadcast warmup lands on neither side)
    time(va); time(vb)
    val as = scala.collection.mutable.ArrayBuffer.empty[Double]
    val bs = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to n).foreach { i =>
      // odd pairs run A first, even pairs B first: drift within a pair
      // (JIT, caches) lands on each side equally often
      val aFirst = i % 2 == 1
      val first = time(if (aFirst) va else vb)
      val second = time(if (aFirst) vb else va)
      val (a, b) = if (aFirst) (first, second) else (second, first)
      as += a; bs += b
      val order = if (aFirst) "AB" else "BA"
      println(f"pair $i ($order): $key=$va ${a}%.3f s | $key=$vb ${b}%.3f s | delta ${b - a}%+.3f")
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val wins = as.zip(bs).count { case (a, b) => a < b }
    println(f"MEDIANS $name: $va=${med(as.toSeq)}%.3f $vb=${med(bs.toSeq)}%.3f " +
      f"(A wins $wins/${as.size} pairs)")
    spark.stop()
  }
}
