package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling measurement for the incremental-dedup family (SURVEY §2
  * C30/C30b): hold the BATCH fixed, grow the CORPUS 4x, and measure how
  * each path's per-increment wall time grows. The 100 TB claim under
  * test: per-increment cost must be driven by the batch plus at most a
  * corpus-digest SCAN — never a corpus re-shuffle per increment.
  *
  *   - full      = re-running exact dedup over corpus+batch (what the
  *                 incremental ops exist to avoid): shuffles the whole
  *                 digest stream every increment, grows ~linearly with
  *                 the corpus and pays the shuffle+sort constant.
  *   - anti      = incrementalExact: the corpus contributes one pruned
  *                 digest-column scan into an anti-join.
  *   - bloom     = incrementalExactBloom with the filter PRE-BUILT
  *                 (outside the timed window — at scale it persists
  *                 beside the corpus and is built when the corpus is
  *                 written, not per increment): the corpus contributes
  *                 one scan streamed through a broadcast semi-join,
  *                 zero exchange.
  *
  * Deterministic workload (hash-derived words, no RNG): 10% of the batch
  * duplicates corpus documents, 5% duplicates within the batch — a
  * mostly-new increment, the bloom path's design point. Corpora are
  * materialized outside the timed window. Numbers land in SURVEY §11.
  */
object IncrScale {

  /** ~12-word unique text per id under `tag` (corpus/batch texts must
    * not collide accidentally — the tag namespaces them). A pure
    * function of (tag, n) so duplicate texts are reconstructible from
    * any derived id column.
    */
  private def text(tag: String, n: org.apache.spark.sql.Column) =
    concat_ws(" ", lit(tag), n.cast("string"),
      concat_ws(" ", transform(sequence(lit(0), lit(9)),
        i => concat(lit("w"),
          pmod(xxhash64(lit(tag), n, i), lit(50000)).cast("string")))))

  private def corpusDf(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"), text("c", col("id")).as("text"))

  /** Batch of b docs over ids [base, base+b): id % 10 == 0 copies corpus
    * doc (id * 7 mod corpusN) — cross-increment dups; id % 20 == 1
    * copies batch doc id - 4's text — batch-internal dups (the TARGET
    * must be a plain-new row: (id-4) % 20 == 17, so it holds
    * text("b", id+base-4); copying id-1 would silently copy a corpus
    * text and leave the batch-internal collapse stage unexercised);
    * the rest are new.
    */
  private def batchDf(spark: SparkSession, b: Long, base: Long, corpusN: Long): DataFrame =
    spark.range(b).select((col("id") + base).as("doc_id"),
      when(col("id") % 10 === 0, text("c", pmod(col("id") * 7, lit(corpusN))))
        .when(col("id") % 20 === 1 && col("id") >= 4,
          text("b", (col("id") + base) - 4))
        .otherwise(text("b", col("id") + base)).as("text"))

  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_INCR_CORPUS", "400000").toLong
    val bSize = sys.env.getOrElse("SPARK_GRAFT_INCR_BATCH", "100000").toLong
    val spark = graft.tools.Session()
    val c1 = corpusDf(spark, small).localCheckpoint(true)
    val c4 = corpusDf(spark, small * 4).localCheckpoint(true)
    val batch1 = batchDf(spark, bSize, small * 10, small).localCheckpoint(true)
    val batch4 = batchDf(spark, bSize, small * 10, small * 4).localCheckpoint(true)
    // pre-built corpus-side state (NOT timed): the bloom persists beside
    // the corpus at scale; building it here also warms JIT/codegen paths
    val bloom1 = queries.Dedup.corpusBloom(c1)
    val bloom4 = queries.Dedup.corpusBloom(c4)
    def full(c: DataFrame, b: DataFrame): Long =
      c.unionByName(b)
        .groupBy(graft.queries.Curation.normDigest)
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
        .count()
    // wall time at this scale is fixed-overhead-bound; the quantity that
    // extrapolates to 100 TB is SHUFFLE VOLUME — what each path moves
    // over the wire per increment as the corpus grows. A listener sums
    // shuffle-write bytes across stages; the bus is async, so it is
    // drained DETERMINISTICALLY (listenerBus.waitUntilEmpty via
    // reflection — the API is private[spark]) before each read: fixed
    // sleeps under-drain on a loaded host and attribute late stages to
    // the wrong measurement (measurement harness, not product code).
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    })
    def drainBus(): Unit =
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus")
          .invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable => Thread.sleep(2000) } // reflective API moved: settle
    def measureShuffle(f: => Long): Long = {
      drainBus(); shuffleBytes.set(0L)
      f
      drainBus()
      shuffleBytes.get()
    }
    // the partitioned-index state is likewise corpus-side and pre-built
    // (persisted beside the corpus at scale, rebuilt when the corpus is
    // rewritten) — localCheckpointed so the timed probe never re-builds
    val idx1 = queries.Dedup.corpusBloomIndex(c1, nBuckets = 64).localCheckpoint(true)
    val idx4 = queries.Dedup.corpusBloomIndex(c4, nBuckets = 64).localCheckpoint(true)
    val paths: Seq[(String, (DataFrame, DataFrame, org.apache.spark.util.sketch.BloomFilter, DataFrame) => Long)] = Seq(
      ("full", (c, b, _, _) => full(c, b)),
      ("anti", (c, b, _, _) => queries.Dedup.incrementalExact(b, c).count()),
      ("bloom", (c, b, f, _) => queries.Dedup.incrementalExactBloom(b, c, f).count()),
      ("bloomIdx", (c, b, _, i) => queries.Dedup.incrementalExactBloomIndexed(b, c, i).count()))
    val rows = collection.concurrent.TrieMap[String, Long]()
    val rs = Bench.timeArms(paths.flatMap { case (name, run) => Seq(
      s"$name 1x" -> (() => rows(s"$name 1x") = run(c1, batch1, bloom1, idx1)),
      s"$name 4x" -> (() => rows(s"$name 4x") = run(c4, batch4, bloom4, idx4)))
    }: _*)
    paths.foreach { case (name, run) =>
      val (r1, t1) = (rows(s"$name 1x"), rs(s"$name 1x").median)
      val (r4, t4) = (rows(s"$name 4x"), rs(s"$name 4x").median)
      val s1 = measureShuffle(run(c1, batch1, bloom1, idx1))
      val s4 = measureShuffle(run(c4, batch4, bloom4, idx4))
      println(f"[incrscale] $name: corpus $small%d -> $r1 rows in $t1%.2f s (${s1 / 1024}%d KiB shuffled); " +
        f"corpus ${small * 4}%d -> $r4 rows in $t4%.2f s (${s4 / 1024}%d KiB shuffled); " +
        f"4x corpus = ${t4 / t1}%.2f x time, ${s4.toDouble / math.max(1L, s1)}%.2f x shuffle (median of ${Bench.repeats}, batch $bSize%d fixed)")
    }
    Seq(c1, c4, batch1, batch4, idx1, idx4).foreach(_.unpersist())
    spark.stop()
  }
}
