package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.Tokenizer

/** r6 verdict #3: the shipped BPE trainer maintains pair counts by
  * DELTA (only words containing the merged pair are recounted), while
  * the naive loop re-explodes the whole vocabulary every iteration.
  * Two contracts:
  *
  *  1. EQUALITY — the incremental trainer's merge sequence equals the
  *     reference sequence row-for-row at k=100 (same argmax tie-break,
  *     same rewrite, exact integer delta folding). The reference is
  *     [[BpeIncrementalSpec.driverTrain]], an in-memory stand-in for
  *     the naive loop that one test anchors to the naive Spark loop at
  *     k=20, so "the naive loop" in the test names means either.
  *  2. FLAT ITERATIONS — per-iteration shuffle volume depends on the
  *     touched sliver + the bounded pair-TYPE table only. Map-side
  *     combine makes even the naive recount flat in vocabulary SIZE
  *     (partials emit per-partition pair types, not words), so the
  *     scale axis that separates the two is the MAP PARTITION COUNT:
  *     the naive loop shuffles P x |types| partial rows per iteration
  *     (every map partition re-emits its pair types), while the
  *     incremental loop's per-iteration shuffle is the already-global
  *     pair table + the touched sliver's partials — independent of
  *     both vocab size and P. Growing the corpus 8x the way a cluster
  *     does (8x partitions at fixed rows/partition) must leave the
  *     incremental per-merge shuffle ~flat while the naive loop's
  *     grows with P. MEASURED via shuffle-write records.
  */
class BpeIncrementalSpec extends SparkSpec {

  private def vocabDF(words: Seq[(String, Long)], parts: Int = 2): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(words, parts).toDF("t", "freq")
  }

  /** Deterministic word soup (LCG): `n` words, length 3..10, over the
    * 8-letter alphabet a..h — rich enough pair structure to sustain
    * 100+ merges once merged symbols start forming new pairs.
    */
  private def soup(n: Int, seed: Long): Seq[(String, Long)] = {
    var x = seed
    def nxt(m: Int): Int = { x = x * 6364136223846793005L + 1442695040888963407L; (((x >>> 33) % m) + m).toInt % m }
    (0 until n).map { _ =>
      val len = 3 + nxt(8)
      val w = (0 until len).map(_ => ('a' + nxt(8)).toChar).mkString
      (w, 1L + nxt(5))
    }.distinct
  }

  /** Two-letter soup: merged symbols keep colliding and re-pairing,
    * which exercises self-pairs and overlapping runs ("aaa").
    */
  private def abSoup(n: Int, seed: Long): Seq[(String, Long)] = {
    var x = seed
    def nxt(m: Int): Int = { x = x * 6364136223846793005L + 1442695040888963407L; (((x >>> 33) % m) + m).toInt % m }
    (0 until n).map { _ =>
      val len = 3 + nxt(9)
      ((0 until len).map(_ => ('a' + nxt(2)).toChar).mkString, 1L + nxt(4))
    }.distinct
  }

  test("the driver reference trainer equals the naive Spark loop at k=20") {
    for (words <- Seq(soup(60, 42L), abSoup(40, 99L))) {
      val naive = Tokenizer.bpeTrainFromVocabNaive(vocabDF(words), 20)
      assert(naive.size == 20)
      assert(BpeIncrementalSpec.driverTrain(words, 20) == naive)
    }
  }

  test("incremental trainer equals the naive loop row-for-row at k=100") {
    for (seed <- Seq(42L, 1234L)) {
      val words = soup(60, seed)
      val inc = Tokenizer.bpeTrainFromVocab(vocabDF(words), 100)
      val naive = BpeIncrementalSpec.driverTrain(words, 100)
      assert(inc.size == naive.size, s"seed=$seed lengths: inc=${inc.size} naive=${naive.size}")
      inc.zip(naive).foreach { case (i, n) =>
        assert(i == n, s"seed=$seed merge diverged at step ${i._1}: inc=$i naive=$n")
      }
      assert(inc.size == 100, s"seed=$seed: corpus should sustain 100 merges, got ${inc.size}")
    }
  }

  /** A merge can CREATE the next argmax: ranked pairs are (a,b):100,
    * (c,a):100, (d,e):90, (f,g):80, and merging (a,b) creates (c,ab)
    * with count 100, which greedy picks before (d,e). Any trainer that
    * commits several pre-ranked pairs per round without re-counting
    * emits (d,e) second; the delta loop must pick the created pair.
    */
  test("incremental trainer picks a merge-created pair that preempts the ranking") {
    val words = Seq(("cab", 100L), ("de", 90L), ("fg", 80L))
    val inc = Tokenizer.bpeTrainFromVocab(vocabDF(words), 4)
    val naive = BpeIncrementalSpec.driverTrain(words, 4)
    assert(inc == naive, s"incremental=$inc naive=$naive")
    assert(inc.take(2).map(t => (t._2, t._3)) == Seq(("a", "b"), ("c", "ab")),
      s"greedy must pick the created pair second: $inc")
  }

  /** Self-pairs and overlapping runs (the "aaa" -> ["aa","a"] greedy
    * rule) through the delta fold: a two-letter alphabet forces merged
    * symbols to keep colliding and re-pairing.
    */
  test("incremental trainer handles self-pairs and overlap runs identically") {
    val words = abSoup(40, 99L)
    val inc = Tokenizer.bpeTrainFromVocab(vocabDF(words), 60)
    val naive = BpeIncrementalSpec.driverTrain(words, 60)
    assert(inc == naive,
      s"diverged: ${inc.zip(naive).collectFirst { case (i, n) if i != n => s"$i vs $n" }}")
  }

  // ---- flat-iteration measurement ------------------------------------

  private val records = new java.util.concurrent.atomic.AtomicLong
  private val listener = new org.apache.spark.scheduler.SparkListener {
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      records.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
  }
  private def drainBus(): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus")
        .invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch { case _: Throwable => Thread.sleep(2000) }
  private def measure(f: => Unit): Long = {
    drainBus(); records.set(0L); f; drainBus(); records.get()
  }

  /** One high-frequency planted word drives every merge (touched sliver
    * = 1 word/iteration); filler words draw from the DISJOINT alphabet
    * m..t, so their pair-type table is bounded (~64 types) at any
    * filler count and none of their pair counts can out-vote the
    * planted pairs.
    */
  private def planted(filler: Int): Seq[(String, Long)] = {
    var x = 7L
    def nxt(m: Int): Int = { x = x * 6364136223846793005L + 1442695040888963407L; (((x >>> 33) % m) + m).toInt % m }
    val fillers = (0 until filler).map { _ =>
      val len = 3 + nxt(8)
      ((0 until len).map(_ => ('m' + nxt(8)).toChar).mkString, 1L)
    }
    (("abcdefgh", 1000000L) +: fillers).distinct
  }

  test("per-merge shuffle is flat under 8x corpus growth for the incremental trainer, grows with partitions for the naive loop") {
    // cluster-shaped growth: 8x the words at fixed rows/partition
    val small = vocabDF(planted(2000), parts = 2)
    val big = vocabDF(planted(16000), parts = 16)
    spark.sparkContext.addSparkListener(listener)
    try {
      // k=7 minus k=1 isolates six merge iterations (the k=1 run pays
      // the identical init + first merge)
      def diff(train: (DataFrame, Int) => Seq[_], wf: DataFrame): Long = {
        val one = measure { train(wf, 1) }
        val seven = measure { train(wf, 7) }
        seven - one
      }
      val incSmall = diff(Tokenizer.bpeTrainFromVocab, small)
      val incBig = diff(Tokenizer.bpeTrainFromVocab, big)
      val naiveSmall = diff(Tokenizer.bpeTrainFromVocabNaive, small)
      val naiveBig = diff(Tokenizer.bpeTrainFromVocabNaive, big)
      // incremental: global pair table + touched sliver (1 word) —
      // 8x corpus/partitions must not move it beyond noise
      assert(incBig <= incSmall * 2 + 256,
        s"incremental per-merge shuffle grew with corpus: $incSmall -> $incBig")
      // naive: every map partition re-emits its pair-type partials
      // each iteration — 8x the partitions must show up
      assert(naiveBig >= naiveSmall * 3,
        s"naive loop should scale with partitions: $naiveSmall -> $naiveBig")
      assert(incBig * 3 < naiveBig,
        s"incremental ($incBig) should shuffle far less than naive ($naiveBig) on the big corpus")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}

object BpeIncrementalSpec {

  /** In-memory BPE trainer over a (word, freq) vocabulary: the
    * reference of the equality tests. Same argmax order as the Spark
    * trainers (cnt desc, a, b) and the same greedy left-to-right merge
    * rewrite as `Tokenizer.mergePair`.
    */
  def driverTrain(words: Seq[(String, Long)], k: Int): Seq[(Int, String, String, Long)] = {
    var vocab = words.map { case (t, f) => (t.map(_.toString).toVector, f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var done = false
    while (!done && merges.size < k) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      for ((syms, f) <- vocab; i <- 0 until syms.size - 1) counts((syms(i), syms(i + 1))) += f
      if (counts.isEmpty) done = true
      else {
        val ((a, b), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((merges.size, a, b, cnt))
        vocab = vocab.map { case (syms, f) => (merge(syms, a, b), f) }
      }
    }
    merges.toSeq
  }

  /** `Tokenizer.mergePair`'s fold: a pending `a` joins a following `b`;
    * otherwise it is emitted as is.
    */
  private def merge(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var pend = false
    syms.foreach { x =>
      if (pend && x == b) { out += a + b; pend = false }
      else if (pend && x == a) out += a
      else if (pend) { out += a; out += x; pend = false }
      else if (x == a) pend = true
      else out += x
    }
    if (pend) out += a
    out.result()
  }
}
