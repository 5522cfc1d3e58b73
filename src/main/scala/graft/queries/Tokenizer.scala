package graft.queries

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Tokenizer operators over the `documents` table: the corpus-scale
  * steps of building a subword tokenizer for an LLM data pipeline —
  * heavy hitters, BPE merge TRAINING, and BPE ENCODE (inference,
  * `text_bpe_encode`/[[bpeEncodeDocs]]: apply the trained tokenizer to
  * every document — per-distinct-word kernel, never per-occurrence).
  *
  *  1. HEAVY HITTERS (`text_vocab_topk_approx`): the bounded-memory form
  *     of C14's exact vocabulary count. The exact form shuffles one row
  *     per DISTINCT word — at 100 TB the long tail of typos/URLs/ids
  *     makes that billions of rows moving for a top-k answer. Here each
  *     input partition runs a Misra-Gries summary with M counters
  *     (mapPartitions, O(M) memory regardless of partition size), and
  *     the per-partition summaries merge RELATIONALLY: shuffle volume is
  *     #partitions x M rows, independent of vocabulary size. Mergeable
  *     deterministic bounds come with the summary (Agarwal et al.,
  *     "Mergeable Summaries", PODS'12):
  *       lower(w) = sum over partitions of est_p(w)      <= true(w)
  *       upper(w) = lower(w) + D,  D = sum of d_p        >= true(w)
  *     where d_p counts partition p's Misra-Gries decrement rounds
  *     (d_p <= N_p/(M+1)), because a word absent from p's summary has
  *     true_p(w) <= d_p and a present one has true_p(w) <= est_p + d_p.
  *     Contrapositive: true(w) > D  =>  w appears in the merged
  *     candidate set. `inv_heavy_hitters_bounded` drives both facts
  *     through the driver gate against the exact counts.
  *
  *  2. BPE MERGE TRAINING (`Tokenizer.bpeTrain` + `text_bpe_pairs` /
  *     `text_bpe_merges`): byte-pair-encoding merge learning in the
  *     shape that scales — the corpus is touched ONCE to build the
  *     (word, freq) vocabulary table (the same partial-aggregated scan
  *     as C14), then every merge iteration runs over that bounded table
  *     only: count adjacent symbol pairs weighted by freq, take the
  *     global argmax (cnt desc, pair asc — deterministic), rewrite the
  *     symbol arrays, fold the pair-count delta, repeat. Each merge
  *     runs about three jobs over vocab-sized data (the argmax collect,
  *     the vocab checkpoint, the pair-table checkpoint), never a corpus
  *     scan. `text_bpe_pairs` (iteration 0's pair
  *     count) is oracle-gated in DuckDB; the merge LOOP is pinned by
  *     BpeSpec on a corpus with hand-computable merges and registered
  *     as the rows-only `text_bpe_merges`.
  *
  * Tokens are restricted to `[a-z]+` in both engines (lowercase ASCII
  * words) so substring/length semantics can never diverge on code-point
  * vs grapheme counting between Spark and DuckDB.
  */
object Tokenizer {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  import Curation.words

  /** Misra-Gries summary size per partition (counters). The merged
    * upper-lower gap is D = sum d_p <= N/(M+1): at gate scale (~5e5
    * words over 32 partitions) the bound is tight enough that the true
    * top-20 words (Zipf head) all clear it comfortably.
    */
  val MgCounters = 1024

  /** Per-partition Misra-Gries over the exploded word stream.
    * Emits the M surviving (word, est) rows per partition plus ONE
    * sentinel row (null, d_p) carrying the partition's decrement count.
    * Deterministic for a fixed file layout: parquet splits and in-file
    * row order are stable, and the algorithm is sequential per
    * partition.
    */
  private[graft] def mgSummaries(wordsDs: DataFrame, m: Int): DataFrame = {
    val s = wordsDs.sparkSession
    import s.implicits._
    wordsDs.select(col("w")).as[String].mapPartitions { it =>
      val counts = mutable.HashMap.empty[String, Long]
      var d = 0L
      it.foreach { w =>
        counts.get(w) match {
          case Some(c) => counts.update(w, c + 1)
          case None if counts.size < m => counts.update(w, 1L)
          case None =>
            // decrement-all round: the new word and every counter lose 1
            // (the new word's 1 cancels to absence). Amortized O(1)/token:
            // each round removes >= m+1 total count, and total count only
            // grows 1 per token.
            d += 1
            val dead = mutable.ArrayBuffer.empty[String]
            counts.foreach { case (k, c) =>
              if (c == 1L) dead += k else counts.update(k, c - 1)
            }
            dead.foreach(counts.remove)
        }
      }
      counts.iterator.map { case (w, est) => (w, est) } ++
        Iterator((null: String, d))
    }.toDF("w", "n")
  }

  /** Merged heavy-hitter table: (word, cnt_lo, cnt_hi) for the top-k
    * candidates by deterministic (cnt_lo desc, word asc) order. cnt_lo
    * <= true count <= cnt_hi always; any word with true count > (the
    * shared cnt_hi - cnt_lo gap) is guaranteed to be a candidate.
    */
  def approxVocabTopK(s: SparkSession, dir: String, k: Int, m: Int = MgCounters): DataFrame =
    approxTopKFromWords(
      docs(s, dir).select(explode(words).as("w")).where(col("w") =!= ""), k, m)

  /** The summary-merge pipeline over an explicit word column — also the
    * unit TokenizerSpec measures shuffle volume on.
    */
  private[graft] def approxTopKFromWords(w: DataFrame, k: Int, m: Int): DataFrame =
    mgMerged(mgSummariesCk(w, m))
      .select(col("w").as("word"), col("cnt_lo"), col("cnt_hi"))
      .orderBy(col("cnt_lo").desc, col("word"))
      .limit(k)

  /** Checkpointed per-partition summaries: two consumers (D + the
    * candidate merge) read them, so the corpus scan must run ONCE; the
    * table is tiny (#partitions x (M+1) rows) and its blocks free with
    * the plan reference (ContextCleaner).
    */
  private def mgSummariesCk(w: DataFrame, m: Int): DataFrame =
    mgSummaries(w, m).localCheckpoint(true)

  /** The merged candidate table over ALL candidates — (w, cnt_lo,
    * cnt_hi) with the mergeable-summaries bounds. ONE definition of the
    * bound math, shared by the shipped operator and the gate so they
    * can never drift. D is a one-row broadcast; the merge shuffles only
    * #partitions x M summary rows, never the vocabulary; the operator's
    * final top-k is TakeOrdered (per-partition heads to the driver),
    * not a global sort exchange.
    */
  private def mgMerged(summaries: DataFrame): DataFrame = {
    val dTotal = summaries.where(col("w").isNull).agg(sum(col("n")).as("d"))
    summaries.where(col("w").isNotNull)
      .groupBy(col("w")).agg(sum(col("n")).as("cnt_lo"))
      .crossJoin(broadcast(dTotal))
      .select(col("w"), col("cnt_lo"),
        (col("cnt_lo") + coalesce(col("d"), lit(0L))).as("cnt_hi"))
  }

  /** Violations of the Misra-Gries merge guarantees vs the EXACT counts
    * (recomputed at gate time — gate scale pays the exact shuffle so
    * production scale doesn't have to):
    *   (a) a reported candidate whose exact count falls outside
    *       [cnt_lo, cnt_hi];
    *   (b) a word with exact count > D missing from the candidate set.
    * Both are theorems of the summary construction, so the violation
    * set is empty for any correct implementation.
    */
  def heavyHitterViolations(s: SparkSession, dir: String): DataFrame = {
    val w = docs(s, dir).select(explode(words).as("w")).where(col("w") =!= "")
    val summaries = mgSummariesCk(w, MgCounters)
    val candidates = mgMerged(summaries)
    val dRow = summaries.where(col("w").isNull).agg(sum(col("n")).as("d"))
    val exact = w.groupBy(col("w")).agg(count(lit(1)).as("exact"))
    val boundViol = candidates.join(exact, Seq("w"))
      .where(col("exact") < col("cnt_lo") || col("exact") > col("cnt_hi"))
      .select(col("w").as("word"), col("exact"))
    val missedViol = exact.crossJoin(broadcast(dRow))
      .where(col("exact") > coalesce(col("d"), lit(0L)))
      .join(candidates.select(col("w")), Seq("w"), "left_anti")
      .select(col("w").as("word"), col("exact"))
    Invariants.releasing(summaries)(
      boundViol.unionByName(missedViol).orderBy(col("word")))
  }

  /** The bounded (word, freq) vocabulary table BPE trains on: lowercase
    * ASCII words only (engine-divergence-proof), aggregated once at
    * corpus scale.
    */
  private[graft] def wordFreq(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(explode(words).as("t"))
      .where(col("t").rlike("^[a-z]+$"))
      .groupBy(col("t")).agg(count(lit(1)).as("freq"))

  /** One BPE iteration's pair table over symbol arrays: adjacent symbol
    * pairs weighted by word frequency.
    */
  private def pairCounts(vocab: DataFrame): DataFrame =
    vocab.where(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(syms) - 2), i -> named_struct('a', syms[i], 'b', syms[i+1]))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("cnt"))

  /** Learn `k` BPE merges from the corpus. Returns the merge table
    * (step, left, right, cnt) in learned order. The corpus is scanned
    * exactly once (wordFreq); every merge then runs the delta-maintained
    * loop of [[bpeTrainFromVocab]] over the bounded vocab table — the
    * standard trainer shape (Sennrich et al. 2016), distributed.
    * Deterministic: argmax ties break (cnt desc, a asc, b asc).
    */
  def bpeTrain(s: SparkSession, dir: String, k: Int): Seq[(Int, String, String, Long)] =
    bpeTrainFromVocab(wordFreq(s, dir), k)

  /** The merge loop over an explicit (t, freq) vocabulary table — the
    * one trainer every caller runs ([[bpeTrain]], [[bpeEncodeDocs]],
    * [[bpeEncodeViolations]]) and the unit BpeSpec drives with
    * hand-computable corpora.
    *
    * INCREMENTAL pair maintenance (r6 verdict #3, Sennrich's fast
    * trainer distributed): the naive loop recounts EVERY word's pairs
    * each iteration — correct, but a real tokenizer learns ~30k merges
    * and each recount explodes the whole vocab's symbol stream. Here
    * the pair table updates by DELTA: merging (a,b) only changes the
    * pair multiset of words that CONTAIN (a,b) adjacent, so each
    * iteration recounts pairs for the touched sliver before and after
    * its rewrite and folds `pc + after - before` — all neighbor
    * bookkeeping ((x,a) losses, (x,ab) gains, overlapping-run
    * subtleties) falls out of the exact recount-diff, with no hand
    * accounting to get wrong. Per-iteration shuffle volume is
    * O(touched pairs) + O(|pc|) (the pair-TYPE table — bounded by
    * alphabet²+merges, independent of word count); the untouched
    * vocab is only re-projected from cache, never re-exploded.
    * BpeIncrementalSpec proves k=100 sequence equality with the naive
    * loop and MEASURES the flat per-iteration shuffle.
    *
    * Two shapes that matter over 30k-merge-scale iteration counts:
    *  - the vocab rewrite is a single CASE projection (touched words
    *    rewrite, the rest pass through), NOT untouched ∪ rewritten —
    *    a per-iteration union doubles the partition count every step
    *    (union concatenates partitions and localCheckpoint preserves
    *    them), which is 2^k empty tasks by merge k;
    *  - localCheckpoint (eager), not persist: a lineage-keeping cache
    *    stacks k mergePair fold layers into one logical plan, so
    *    analysis cost grows per iteration. Checkpointing truncates to
    *    a LogicalRDD: constant plan size and constant partitioning.
    * Remaining design limit, documented: the CASE projection still
    * re-materializes the full vocab cache each iteration (memory
    * bandwidth, no shuffle); a production 30k-merge run would overlay
    * touched words on a static base instead.
    */
  private[graft] def bpeTrainFromVocab(wf: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    var vocab = wf
      .select(split(col("t"), "").as("syms"), col("freq"))
      .localCheckpoint(true)
    var pc = pairCounts(vocab).localCheckpoint(true)
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 0
    while (step < k) {
      val top = pc.orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) { step = k }
      else {
        val r = top(0)
        val (a, b) = (r.getString(0), r.getString(1))
        merges += ((merges.size, a, b, r.getLong(2)))
        val hasPair = expr(
          s"""size(syms) >= 2 AND exists(sequence(0, size(syms) - 2),
             |  i -> syms[i] = ${sqlLit(a)} AND syms[i+1] = ${sqlLit(b)})""".stripMargin)
        val touched = vocab.where(hasPair)
        // plan, not a materialized frame: the touched sliver is tiny and
        // cached upstream, so computing the fold twice (delta + rewrite)
        // is cheaper than a third checkpoint job per iteration
        val rewritten = touched.select(mergePair(a, b), col("freq"))
        val nextVocab = vocab
          .select(when(hasPair, mergePair(a, b)).otherwise(col("syms")).as("syms"), col("freq"))
          .localCheckpoint(true)
        val nextPc = pc
          .unionByName(pairCounts(touched).select(col("a"), col("b"), (-col("cnt")).as("cnt")))
          .unionByName(pairCounts(rewritten))
          .groupBy(col("a"), col("b")).agg(sum(col("cnt")).as("cnt"))
          .where(col("cnt") > 0)
          .localCheckpoint(true)
        Seq(vocab, pc).foreach(_.unpersist())
        vocab = nextVocab
        pc = nextPc
        step += 1
      }
    }
    vocab.unpersist()
    pc.unpersist()
    merges.toSeq
  }

  /** The pre-r7 full-recount loop — kept as BpeIncrementalSpec's
    * equality witness for the incremental trainer (identical argmax
    * tie-break, identical rewrite).
    */
  private[graft] def bpeTrainFromVocabNaive(wf: DataFrame, k: Int): Seq[(Int, String, String, Long)] = {
    var vocab = wf
      .select(split(col("t"), "").as("syms"), col("freq"))
      .localCheckpoint(true) // truncate lineage: k mergePair layers
    val merges = mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var step = 0
    while (step < k) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (top.isEmpty) { step = k }
      else {
        val r = top(0)
        val (a, b) = (r.getString(0), r.getString(1))
        merges += ((merges.size, a, b, r.getLong(2)))
        val next = vocab.select(mergePair(a, b), col("freq")).localCheckpoint(true)
        vocab.unpersist()
        vocab = next
        step += 1
      }
    }
    vocab.unpersist()
    merges.toSeq
  }

  /** Gate-side replay of the emitted merge SEQUENCE (r6 verdict #4):
    * for each step i, recompute the pair-count argmax over the
    * vocabulary rewritten by the EMITTED merges 0..i-1 and emit a
    * violation row when it disagrees with the emitted merge i (or when
    * one side stops early). Rewriting with the emitted prefix — not the
    * replay's own argmax — keeps every step independently checked
    * against the sequence the driver gates, with no cascade after a
    * first divergence. The recount here is the NAIVE full pair count,
    * so this is an independent witness for the shipped incremental
    * trainer's delta folding. Violations `WHERE 1=0` in DuckDB terms.
    * Driver collects are bounded: k argmax rows + the k-row emitted
    * table.
    */
  def bpeMergeReplayViolations(s: SparkSession, dir: String, k: Int): DataFrame = {
    import s.implicits._
    val emitted = graft.SparkEntry.queries("text_bpe_merges")(s, dir)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3)))
    var vocab = wordFreq(s, dir)
      .select(split(col("t"), "").as("syms"), col("freq"))
      .localCheckpoint(true)
    val viols = mutable.ArrayBuffer.empty[(Int, String, String)]
    var step = 0
    var done = false
    while (step < k && !done) {
      val top = pairCounts(vocab)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      val replay = top.headOption.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val emit = emitted.lift(step)
      (emit, replay) match {
        case (None, None) => done = true
        case (Some((a, b, c)), rep) =>
          if (!rep.contains((a, b, c)))
            viols += ((step, s"$a $b $c",
              rep.map { case (ra, rb, rc) => s"$ra $rb $rc" }.orNull))
          val next = vocab.select(mergePair(a, b), col("freq")).localCheckpoint(true)
          vocab.unpersist()
          vocab = next
          step += 1
        case (None, Some((ra, rb, rc))) =>
          viols += ((step, null, s"$ra $rb $rc"))
          done = true
      }
    }
    vocab.unpersist()
    viols.toSeq.toDF("step", "emitted", "replayed").orderBy(col("step"))
  }

  /** C36c: corpus BPE ENCODE — tokenizer INFERENCE at corpus scale, the
    * missing half of the train→encode story (C36b learns the merges;
    * this applies them to every document). In a real pretraining
    * pipeline this is the single largest compute step: tokenize 100 TB
    * with the trained tokenizer.
    *
    * Scale shape: the corpus is scanned ONCE into per-doc word counts
    * (`perDoc`, partial-aggregated map-side, then materialized — three
    * consumers derive from it and a recompute would be a corpus
    * re-scan). The global vocabulary folds out of `perDoc` (never a
    * second scan), the merge table trains on it (k bounded iterations,
    * [[bpeTrainFromVocab]]), and — the point — the expensive per-word
    * merge loop (`Kernels.bpeEncode`) runs once per DISTINCT word over
    * the bounded vocab table, NOT once per corpus token occurrence.
    * Token counts then join back to `perDoc` on the word (shuffle join,
    * un-hinted: a 100 TB vocabulary outgrows any driver broadcast — the
    * text_tfidf stance) and per-doc sums finish map-side-combinable.
    *
    * Output per doc: kept-word occurrences (`n_words`), BPE token count
    * (`n_bpe_tokens`), and FERTILITY in integer basis points
    * (tokens-per-word × 10⁴, `DIV`-exact) — the metric tokenizer
    * evaluations report (higher fertility = worse compression). Docs
    * whose every word fails the `[a-z]+` filter have no kept words and
    * drop, like C38's unscoreable docs.
    *
    * Rows-only for the driver (the merge table is data-derived and
    * iterative — same class as text_bpe_merges);
    * `inv_bpe_encode_canonical` drives the encoder's three correctness
    * properties through the gate and BpeEncodeSpec pins hand-computed
    * encodings + kernel ≡ sequential-mergePair-replay equality.
    *
    * The returned frame derives LAZILY from the two pinned
    * localCheckpoints; they register with [[Pinned]] and release at the
    * consumer's drain (r8 advice — they used to leak for the session).
    */
  def bpeEncodeDocs(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val (perDoc, wf) = perDocVocab(s, dir)
    val merges = bpeTrainFromVocab(wf, k).map { case (_, a, b, _) => (a, b) }
    bpeEncodeFinish(perDoc, wf, merges)
  }

  /** The shared perDoc/vocab scaffold of the encode queries: one corpus
    * scan into per-doc word counts, the global vocabulary folded from
    * it. Both checkpointed (multiple consumers) and Pinned-tracked.
    */
  private def perDocVocab(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val perDoc = Pinned.track(
      docs(s, dir).select(col("doc_id"), explode(words).as("t"))
        .where(col("t").rlike("^[a-z]+$"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true))
    val wf = Pinned.track(
      perDoc.groupBy(col("t")).agg(sum(col("cnt")).as("freq"))
        .localCheckpoint(true))
    (perDoc, wf)
  }

  /** The encode+rollup half of C36c, from an explicit merge sequence —
    * shared by the fresh-train and loaded-artifact paths so the parity
    * gate compares the SAME downstream plan under two merge sources.
    */
  private def bpeEncodeFinish(perDoc: DataFrame, wf: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val enc = bpeEncodeTable(wf, merges)
      .select(col("t"), size(col("toks")).cast("long").as("n_toks"))
    perDoc.join(enc, "t")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_toks")).as("n_bpe_tokens"))
      .withColumn("fertility_bp", expr("n_bpe_tokens * 10000L DIV n_words"))
      .orderBy(col("doc_id"))
  }

  // --------------------------------------------- r9 persisted artifacts

  /** Tokenizer artifact root for this corpus — fingerprint-keyed like
    * the ANN index artifacts (a regenerated corpus can never serve a
    * stale tokenizer).
    */
  private def tokRoot(s: SparkSession, dir: String): String =
    s"target/tokenizer/${Artifact.corpusKey(s, dir, "documents")}"

  /** Persisted BPE merge table — the deployment shape the C8g probe
    * path gave the ANN family: train ONCE per corpus, serialize the
    * merges, and every subsequent encode (the step that touches all
    * 100 TB) loads the bounded artifact instead of re-running the
    * k-iteration trainer. First call publishes atomically
    * (Artifact.publish); the TSV is line-per-merge `step a b cnt` —
    * symbols contain no whitespace (wordFreq admits [a-z]+ only; the
    * trainer only concatenates).
    */
  private[graft] def bpeMergesArtifact(s: SparkSession, dir: String,
      k: Int): Seq[(Int, String, String, Long)] = {
    val root = java.nio.file.Paths.get(s"${tokRoot(s, dir)}/bpe_k$k")
    Artifact.publish(root) { tmp =>
      val m = bpeTrain(s, dir, k)
      java.nio.file.Files.writeString(tmp.resolve("merges.tsv"),
        m.map { case (i, a, b, c) => s"$i\t$a\t$b\t$c" }.mkString("\n"))
    }
    val txt = java.nio.file.Files.readString(root.resolve("merges.tsv"))
    if (txt.isEmpty) Seq.empty
    else txt.split("\n").toSeq.map { ln =>
      val Array(i, a, b, c) = ln.split("\t", -1)
      (i.toInt, a, b, c.toLong)
    }
  }

  /** Persisted unigram model — pieces + float costs. Doubles serialize
    * via toString (shortest round-trip representation: parseDouble
    * recovers the exact bits), so the loaded model is bit-identical to
    * the trained one and the parity gate can demand EXACT agreement.
    */
  private[graft] def unigramModelArtifact(s: SparkSession, dir: String): Map[String, Double] = {
    val root = java.nio.file.Paths.get(s"${tokRoot(s, dir)}/unigram")
    Artifact.publish(root) { tmp =>
      val wf = wordFreq(s, dir).localCheckpoint(true)
      val (model, _) =
        try unigramTrain(wf) finally wf.unpersist(blocking = false)
      java.nio.file.Files.writeString(tmp.resolve("model.tsv"),
        model.toSeq.sortBy(_._1)
          .map { case (p, c) => s"$p\t$c" }.mkString("\n"))
    }
    java.nio.file.Files.readString(root.resolve("model.tsv")).split("\n")
      .map { ln => val Array(p, c) = ln.split("\t", -1); p -> c.toDouble }
      .toMap
  }

  /** C36c probe path: encode the corpus from the LOADED merge artifact
    * — the per-batch cost a serving pipeline pays (no trainer
    * iterations, no argmax jobs; one corpus scan + the bounded encode
    * kernel over distinct words).
    */
  def bpeEncodeDocsFromArtifact(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val merges = bpeMergesArtifact(s, dir, k).map { case (_, a, b, _) => (a, b) }
    val (perDoc, wf) = perDocVocab(s, dir)
    bpeEncodeFinish(perDoc, wf, merges)
  }

  /** C36d probe path: encode from the loaded unigram model artifact. */
  def unigramEncodeDocsFromArtifact(s: SparkSession, dir: String): DataFrame = {
    val model = unigramModelArtifact(s, dir)
    val (perDoc, wf) = perDocVocab(s, dir)
    unigramEncodeFinish(perDoc, wf, model)
  }

  /** Encode every word of a (t, …) vocabulary table with a learned
    * merge sequence → adds `toks` (ARRAY<STRING>). The kernel runs once
    * per row, so callers pass DISTINCT words. */
  private[graft] def bpeEncodeTable(wf: DataFrame, merges: Seq[(String, String)]): DataFrame =
    wf.withColumn("toks", graft.functions.Kernels.bpeEncode(merges)(col("t")))

  /** Gate-side check of the three properties a correct BPE encoding
    * guarantees by construction, over every distinct corpus word
    * (violations `WHERE 1=0` in DuckDB terms):
    *
    *  - ROUNDTRIP: the tokens concatenate back to the word (encoding
    *    never loses or invents characters);
    *  - CANONICAL: no adjacent token pair is a learned merge — if one
    *    remained, application stopped early (this is the property that
    *    breaks when rank-priority application is implemented wrong);
    *  - CLOSURE: every multi-char token is some merge's output (the
    *    encoder can only emit source chars and learned symbols).
    *
    * Trains its own merge table from the same corpus with the same
    * trainer as [[bpeEncodeDocs]] (the bpeMergeReplayViolations stance:
    * the gate recomputes what it checks against rather than trusting
    * the operator's intermediate frames).
    */
  def bpeEncodeViolations(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val wf = wordFreq(s, dir).localCheckpoint(true)
    val merges = bpeTrainFromVocab(wf, k).map { case (_, a, b, _) => (a, b) }
    val enc = bpeEncodeTable(wf, merges)
    // ' ' cannot occur in [a-z]+ tokens, so the joined pair key is
    // collision-free; both literal arrays are bounded by k
    val pairKeys =
      if (merges.isEmpty) typedLit(Array.empty[String])
      else array(merges.map { case (a, b) => lit(a + " " + b) }: _*)
    val outKeys =
      if (merges.isEmpty) typedLit(Array.empty[String])
      else array(merges.map { case (a, b) => lit(a + b) }: _*)
    val tokPairs = transform(
      sequence(lit(0), size(col("toks")) - 2),
      i => concat(col("toks").getItem(i), lit(" "), col("toks").getItem(i + 1)))
    val badRoundtrip = array_join(col("toks"), "") =!= col("t")
    // same size >= 2 guard as the trainer's pairCounts: sequence(0, -1)
    // walks a negative-step range and would index toks[-1]
    val badCanonical = when(size(col("toks")) >= 2,
      exists(tokPairs, p => array_contains(pairKeys, p))).otherwise(lit(false))
    val badClosure =
      exists(col("toks"), x => length(x) > 1 && !array_contains(outKeys, x))
    Invariants.releasing(wf)(
      enc.select(col("t"), badRoundtrip.as("bad_roundtrip"),
          badCanonical.as("bad_canonical"), badClosure.as("bad_closure"))
        .where(col("bad_roundtrip") || col("bad_canonical") || col("bad_closure"))
        .orderBy(col("t")))
  }

  /** Left-to-right single-pass merge of adjacent (a, b) into ab over
    * `syms` — the BPE application rule (greedy, non-overlapping: "aaa"
    * under (a,a) becomes ["aa","a"]) — as an aggregate() fold, so the
    * whole rewrite stays inside Tungsten (no UDF). acc = (out array,
    * pend flag); pend means the previous symbol was an unconsumed `a`.
    * When a == b the pend/x=b arm must win, which the CASE order
    * guarantees. Every trainer rewrites with it, and BpeEncodeSpec
    * replays it as the encode kernel's witness.
    */
  private[graft] def mergePair(a: String, b: String): Column = {
    def st(out: String, pend: String) = s"named_struct('out', $out, 'pend', $pend)"
    expr(s"""
      aggregate(
        syms,
        ${st("CAST(array() AS ARRAY<STRING>)", "false")},
        (acc, x) -> CASE
          WHEN acc.pend AND x = ${sqlLit(b)}
            THEN ${st(s"concat(acc.out, array(${sqlLit(a + b)}))", "false")}
          WHEN acc.pend AND x = ${sqlLit(a)}
            THEN ${st(s"concat(acc.out, array(${sqlLit(a)}))", "true")}
          WHEN acc.pend
            THEN ${st(s"concat(acc.out, array(${sqlLit(a)}, x))", "false")}
          WHEN x = ${sqlLit(a)} THEN ${st("acc.out", "true")}
          ELSE ${st("concat(acc.out, array(x))", "false")} END,
        acc -> CASE WHEN acc.pend THEN concat(acc.out, array(${sqlLit(a)}))
                    ELSE acc.out END)
    """).as("syms")
  }

  private def sqlLit(s: String): String = "'" + s.replace("'", "''") + "'"

  // ------------------------------------------------------- C36d unigram

  /** Unigram-LM tokenizer (SentencePiece, Kudo 2018), the Viterbi-EM
    * (hard-EM) variant, distributed in the same shape as the BPE
    * family: the corpus is scanned ONCE into the bounded (word, freq)
    * vocab table; seeding, every EM iteration, and the final encode run
    * over DISTINCT words only, with the bounded model (≤ UniSeedK
    * multi-char pieces + the charset — operator contract, like C36b's
    * k) riding in kernel closures.
    *
    * Per iteration: E-step = Viterbi segmentation of each word under
    * the current piece costs ([[graft.functions.Kernels.unigramViterbi]],
    * JIT kernel); M-step = exact MLE over the pieces the segmentations
    * USED (one map-side-combinable groupBy over the exploded pieces —
    * the only shuffle, bounded by model size; unused pieces drop, which
    * is the natural pruning step). Hard EM is alternating maximization
    * of the joint objective J(s, θ) = Σ_w freq_w · ln p_θ(s_w), so
    *
    *   J_{t+1} = J(s_{t+1}, θ_{t+1}) ≥ J(s_t, θ_{t+1}) ≥ J(s_t, θ_t) = J_t
    *
    * — a THEOREM the driver gate checks (`inv_unigram_model`): the
    * E-step maximizes over segmentations, the M-step's MLE maximizes
    * over θ. J_t itself costs nothing extra: J = −Σ_p cnt_p · cost_t(p)
    * over the same usage counts the M-step aggregates.
    *
    * Feasibility invariant: every word stays segmentable because its
    * own current segmentation's pieces are, by construction, used —
    * hence retained by the M-step. The kernel THROWS on a gap.
    */
  private val UniSeedK = 300
  private val UniMaxLen = 6
  private val UniIters = 3

  /** Seed piece counts: every substring occurrence (length 1..UniMaxLen)
    * of every distinct word, weighted by word frequency — one codegen'd
    * explode over the vocab table, partial-aggregated.
    */
  private[graft] def unigramSeedCounts(wf: DataFrame): DataFrame =
    wf.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(0, length(t) - 1),
           |  i -> transform(sequence(1, least($UniMaxLen, length(t) - i)),
           |       l -> substring(t, i + 1, l))))""".stripMargin)).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))

  private def mleCosts(counts: Seq[(String, Long)]): Map[String, Double] = {
    val total = counts.iterator.map(_._2).sum.toDouble
    counts.iterator.map { case (p, c) => p -> (math.log(total) - math.log(c.toDouble)) }.toMap
  }

  /** Train the unigram model. Returns (final piece costs, the J
    * sequence J_0..J_ITERS — each from the usage counts of the E-step
    * under that iteration's model). Driver collects are bounded: the
    * top-K multi-char seed (TakeOrdered), the charset, and per
    * iteration the ≤ model-size usage-count table.
    */
  private[graft] def unigramTrain(wf: DataFrame): (Map[String, Double], Seq[Double]) = {
    val seed = unigramSeedCounts(wf).localCheckpoint(true)
    try {
      val multi = seed.where(length(col("p")) > 1)
        .orderBy(col("cnt").desc, col("p")).limit(UniSeedK).collect()
      val chars = seed.where(length(col("p")) === 1).collect()
      var model = mleCosts((chars ++ multi).map(r => r.getString(0) -> r.getLong(1)).toSeq)
      val js = scala.collection.mutable.ArrayBuffer.empty[Double]
      for (_ <- 0 to UniIters) {
        val cur = model
        val counts = wf
          .withColumn("vit", graft.functions.Kernels.unigramViterbi(cur, UniMaxLen)(col("t")))
          .select(col("freq"), explode(col("vit._1")).as("p"))
          .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        js += -counts.iterator.map { case (p, c) => c * cur(p) }.sum
        model = mleCosts(counts)
      }
      // js has ITERS+1 entries: the model after the last M-step is
      // returned but its J (a further E-step) belongs to the next round
      (model, js.toSeq)
    } finally seed.unpersist(blocking = false)
  }

  /** C36d gate query: encode the corpus with the trained unigram model —
    * per-doc word/piece counts + fertility, the same integer-bp metric
    * shape as C36c (the two tokenizers' fertilities are directly
    * comparable).
    */
  def unigramEncodeDocs(s: SparkSession, dir: String): DataFrame = {
    val (perDoc, wf) = perDocVocab(s, dir)
    val (model, _) = unigramTrain(wf)
    unigramEncodeFinish(perDoc, wf, model)
  }

  /** The encode+rollup half of C36d from an explicit model —
    * [[bpeEncodeFinish]]'s stance for the unigram family.
    */
  private def unigramEncodeFinish(perDoc: DataFrame, wf: DataFrame,
      model: Map[String, Double]): DataFrame = {
    val enc = wf
      .withColumn("vit", graft.functions.Kernels.unigramViterbi(model, UniMaxLen)(col("t")))
      .select(col("t"), size(col("vit._1")).cast("long").as("n_pieces"))
    perDoc.join(enc, "t")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_pieces")).as("n_unigram_tokens"))
      .withColumn("fertility_bp", expr("n_unigram_tokens * 10000L DIV n_words"))
      .orderBy(col("doc_id"))
  }

  /** Driver gate for C36d (violations `WHERE 1=0`): the hard-EM
    * monotonicity theorem over the J sequence (1e-6 relative
    * tolerance for float summation), and per distinct word under the
    * FINAL model: ROUNDTRIP (pieces concatenate back to the word),
    * CLOSURE (every piece is in the model — the model is bounded, so
    * it rides as a literal array), and VITERBI OPTIMALITY (cost ≤ any
    * successful greedy-longest-match cost, the independent witness
    * kernel).
    */
  def unigramViolations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wf = wordFreq(s, dir).localCheckpoint(true)
    Invariants.releasing(wf) {
      val (model, js) = unigramTrain(wf)
      val mono = js.sliding(2).zipWithIndex.collect {
        case (Seq(a, b), i) if b < a - 1e-6 * math.abs(a) - 1e-9 =>
          ("monotone", s"J$i=$a J${i + 1}=$b")
      }.toSeq.toDF("kind", "w")
      val enc = wf
        .withColumn("vit", graft.functions.Kernels.unigramViterbi(model, UniMaxLen)(col("t")))
        .withColumn("greedy",
          graft.functions.Kernels.unigramGreedyCost(model, UniMaxLen)(col("t")))
      val pieceLit = array(model.keys.toSeq.sorted.map(lit): _*)
      val perWord = enc.select(col("t").as("w"),
          when(concat_ws("", col("vit._1")) =!= col("t"), lit("roundtrip"))
            .when(size(array_except(col("vit._1"), pieceLit)) > 0, lit("closure"))
            .when(col("greedy").isNotNull && col("vit._2") > col("greedy") + lit(1e-9),
              lit("optimality")).as("kind"))
        .where(col("kind").isNotNull)
        .select(col("kind"), col("w"))
      mono.unionByName(perWord).orderBy(col("kind"), col("w"))
    }
  }

  def all: Seq[Q] = Seq(

    // C36: first BPE iteration's pair counts, oracle-gated — the
    // corpus-scale step of merge training (everything after it runs on
    // the bounded vocab table; see bpeTrain).
    Q("text_bpe_pairs",
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents),
        |f AS (SELECT t, count(*) AS freq FROM w
        |      WHERE regexp_full_match(t, '[a-z]+') GROUP BY t),
        |p AS (SELECT substring(t, CAST(i AS INT), 2) AS pair, freq
        |      FROM f, unnest(range(1, length(t))) AS r(i)
        |      WHERE length(t) >= 2)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt
        |FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin) { (s, dir) =>
      wordFreq(s, dir).where(length(col("t")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, length(t) - 1), i -> substring(t, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20)
    },

    // C36b: the learned merge sequence (first 10 merges). Iterative
    // argmax-then-rewrite is not restatable in one SQL query — rows-only
    // for the driver; BpeSpec pins the sequence on a hand-computable
    // corpus and step 0 must agree with text_bpe_pairs' gated argmax
    // (also spec-asserted).
    Q.noOracle("text_bpe_merges") { (s, dir) =>
      val m = bpeTrain(s, dir, 10)
      val sess = s
      import sess.implicits._
      m.toDF("step", "left", "right", "cnt")
        .select(col("step").cast("int"), col("left"), col("right"), col("cnt"))
        .orderBy(col("step"))
    },

    // C36c: corpus BPE encode — tokenizer inference (see bpeEncodeDocs
    // scaladoc). Rows-only like the merge table it applies;
    // inv_bpe_encode_canonical gates the encoder's correctness
    // properties, BpeEncodeSpec pins hand-computed encodings.
    Q.noOracle("text_bpe_encode") { (s, dir) =>
      bpeEncodeDocs(s, dir, 10)
    },

    // C36d: unigram-LM tokenizer encode (see unigramTrain scaladoc).
    // Rows-only like its BPE sibling (iterative float Viterbi-EM isn't
    // one SQL query); inv_unigram_model drives the hard-EM monotone
    // theorem + the three encoder properties through the gate,
    // UnigramSpec pins hand-computed seeds/segmentations.
    Q.noOracle("text_unigram_encode") { (s, dir) =>
      unigramEncodeDocs(s, dir)
    },

    Q("inv_unigram_model",
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS w
        |FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      unigramViolations(s, dir)
    },

    // C14b: bounded-memory heavy hitters (see scaladoc above). Rows-only
    // for the driver — Misra-Gries summaries aren't restatable in SQL —
    // with inv_heavy_hitters_bounded driving the merge guarantees
    // through the gate against exact counts.
    Q.noOracle("text_vocab_topk_approx") { (s, dir) =>
      approxVocabTopK(s, dir, 20)
    },

    // C36e (r9): encode from the PERSISTED tokenizer artifact — the
    // C8g probe stance for the tokenizer family (train once per corpus,
    // serialize merges/model, tokenize 100 TB from the loaded
    // artifact). First call publishes the artifact atomically;
    // steady-state cost is one corpus scan + the bounded encode kernel,
    // no trainer jobs. Rows-only like their fresh-train twins;
    // inv_tokenizer_artifact_parity pins loaded ≡ fresh exactly.
    Q.noOracle("text_bpe_encode_probe") { (s, dir) =>
      bpeEncodeDocsFromArtifact(s, dir, 10)
    },

    Q.noOracle("text_unigram_encode_probe") { (s, dir) =>
      unigramEncodeDocsFromArtifact(s, dir)
    },

    // The artifact must serve EXACTLY what a fresh train would (both
    // trainers are deterministic and doubles round-trip through the
    // TSV bit-exactly, so the demand is equality, not tolerance):
    // symmetric difference of the loaded-path and fresh-path encodes,
    // both families — a stale artifact, a lossy serialization, or a
    // fingerprint collision all land here.
    Q("inv_tokenizer_artifact_parity",
      """SELECT CAST(NULL AS VARCHAR) AS tok, CAST(NULL AS BIGINT) AS doc_id
        |FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      def diff(tok: String, fresh: DataFrame, loaded: DataFrame): DataFrame = {
        val a = fresh.localCheckpoint(true)
        val b = loaded.localCheckpoint(true)
        Invariants.releasing(a, b)(
          a.except(b).unionAll(b.except(a))
            .select(lit(tok).as("tok"), col("doc_id")).distinct())
      }
      diff("bpe", bpeEncodeDocs(s, dir, 10), bpeEncodeDocsFromArtifact(s, dir, 10))
        .unionByName(
          diff("unigram", unigramEncodeDocs(s, dir), unigramEncodeDocsFromArtifact(s, dir)))
        .orderBy(col("tok"), col("doc_id"))
    })
}
