package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling measurement for the similarity-dedup kernels: run the exact
  * prefix-filtered AllPairs join (and the MinHash-LSH path) on synthetic
  * corpora at two sizes (4x apart) and report the wall-time ratio. The
  * 100 TB claim for these operators is that candidate generation is
  * bucketed, never all-pairs — so 4x the documents must cost ~4-6x
  * (shuffle + sort log factors), NOT 16x. The corpus is adversarial on
  * purpose: every document is ~1/4 stop-words (high-document-frequency
  * grams that would blow up a naive inverted index), and 10% of
  * documents are planted near-duplicates so the verify stage has real
  * work. Deterministic (hash-derived words, no RNG state) so reruns and
  * machines agree on the workload. Numbers land in SURVEY §11.
  */
object DedupScale {

  /** n docs of 40 words from a 500-word vocab, every 4th word one of 5
    * stop-words; docs with id % 10 == 9 are a copy of id - 9's text with
    * two words edited. Word 0 touches 1 trigram and word 20 touches 3,
    * so each side keeps 4 unique grams: |∩| = 34, |∪| = 42, jacc =
    * 0.8095 — the planted pairs clear tau = 0.8 by design margin ~0.01,
    * so DO NOT edit a third word or raise tau without redoing this
    * arithmetic (a third edit drops jacc to ~0.65 and the verify stage
    * silently loses all planted work).
    */
  private def corpus(spark: SparkSession, n: Long): DataFrame = {
    val stopSql = queries.Curation.stopwordsSql
    val nStop = queries.Curation.stopwords.size
    val base = spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", expr(
        s"""transform(sequence(0, 39), i ->
          |  CASE WHEN i % 4 = 3
          |    THEN element_at(array($stopSql), int(pmod(xxhash64(id, i), $nStop)) + 1)
          |    ELSE concat('w', pmod(xxhash64(id * 41 + i), 500))
          |  END)""".stripMargin)).as("text"))
    // planted near-dups: id % 10 == 9 re-derives id-9's words, editing
    // positions 0 and 20 — jacc 34/42 = 0.8095 (see scaladoc arithmetic)
    base.withColumn("text", when(col("doc_id") % 10 === 9, concat_ws(" ", expr(
      s"""transform(sequence(0, 39), i ->
        |  CASE WHEN i = 0 OR i = 20 THEN concat('edit', doc_id)
        |  WHEN i % 4 = 3
        |    THEN element_at(array($stopSql), int(pmod(xxhash64(doc_id - 9, i), $nStop)) + 1)
        |  ELSE concat('w', pmod(xxhash64((doc_id - 9) * 41 + i), 500))
        |  END)""".stripMargin))).otherwise(col("text")))
  }

  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_DEDUP_SMALL", "25000").toLong
    val spark = graft.tools.Session()
    // corpora are materialized ONCE, OUTSIDE the timed window (synthesis
    // is O(n) and would dilute a super-linear kernel toward 4x — the very
    // claim being tested), and shared by both kernels
    val d1 = corpus(spark, small).localCheckpoint(true)
    val d4 = corpus(spark, small * 4).localCheckpoint(true)
    val kernels = Seq(
      "allpairs" -> ((d: DataFrame) => queries.Dedup.ngramJaccardPairs(d, 4, 5).count()),
      "minhash" -> ((d: DataFrame) => queries.Dedup.minhashLshPairs(d, 4, 5).count()))
    // Bench.measure warms every arm once (JIT/codegen off the 1x
    // denominator) and interleaves the timed passes
    val pairs = collection.concurrent.TrieMap[String, Long]()
    val rs = Bench.timeArms((for ((name, run) <- kernels; (tag, d) <- Seq("1x" -> d1, "4x" -> d4))
      yield s"$name $tag" -> (() => pairs(s"$name $tag") = run(d))): _*)
    kernels.foreach { case (name, _) =>
      val (t1, t4) = (rs(s"$name 1x").median, rs(s"$name 4x").median)
      println(f"[dedupscale] $name: $small%d docs -> ${pairs(s"$name 1x")} pairs in $t1%.1f s; " +
        f"${small * 4}%d docs -> ${pairs(s"$name 4x")} pairs in $t4%.1f s; 4x data = ${t4 / t1}%.1f x time " +
        f"(median of ${Bench.repeats})")
    }
    Seq(d1, d4).foreach(_.unpersist())
    spark.stop()
  }
}
