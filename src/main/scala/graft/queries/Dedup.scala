package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.Tables

/** Deduplication suite — SURVEY.md §2.C1-C6, the operators a training-data
  * pipeline runs before anything else.
  *
  * Scale notes (100 TB):
  *   - Exact dedup is one hash-shuffle on a 32 B binary digest of the
  *     normalized text (unhex(sha2) — map-side partial agg first), never
  *     on the text itself.
  *   - N-gram Jaccard mines candidates through a PREFIX-FILTERED
  *     inverted-index join (AllPairs/PPJoin): under a global
  *     rarest-first gram order, two docs with jaccard >= tau must share
  *     a gram inside each one's first floor((1-tau)*|g|)+1 grams, so
  *     only those are indexed. High-document-frequency (stop-word)
  *     grams fall outside every prefix — no posting list ever goes
  *     quadratic, exactness preserved (survivors are re-verified on the
  *     full gram sets).
  *   - MinHash/LSH replaces the exact inverted index when even gram
  *     joins are too wide: 128 permutations → 32 bands × 4 rows; only
  *     band-equal pairs meet, then exact Jaccard verifies survivors.
  *     Band keys are (band#, 4 hashes) — uniformly distributed, skew-free.
  *   - SimHash candidates join on any of 4 16-bit blocks (pigeonhole:
  *     hamming ≤ 3 ⇒ at least one block equal), then exact popcount
  *     verification.
  *   - Embedding near-dup keeps the exact all-pairs form as the oracle
  *     baseline; at scale the candidate set comes from Ann.scala's
  *     hyperplane-LSH buckets with the same cosine verification.
  */
object Dedup {

  import Curation.{normDigest, normText, words}

  private val ccLock = new Object

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")


  /** Distinct word 3-grams of a document, as one array column
    * (JIT kernel — the interpreted HOF chain was the sf0.1 bottleneck).
    */
  private def gramsOf(words: Column): Column =
    graft.functions.Kernels.grams3(words)

  /** (doc_id, gs) distinct-3-gram sets of a (doc_id, text) frame — the
    * LAZY builder behind every miner. private[queries] (r14) so the
    * pretrain compaction can build the INCREMENT side's gram sets fresh
    * while reusing the cascade's already-materialized corpus gram sets
    * (VERDICT #1 — one gram-kernel pass feeds both exact miners).
    */
  private[graft] def gramSets(d: DataFrame): DataFrame =
    d.select(col("doc_id"), words.as("ws"))
      .where(size(col("ws")) >= 3)
      .select(col("doc_id"), gramsOf(col("ws")).as("gs"))

  /** [[gramSets]] MATERIALIZED (eager, Pinned-tracked): every miner
    * references its gram sets 2-4× (df-count build, prefix window, both
    * verify sides) and none of those branches canonicalize to a reusable
    * exchange — measured r13: the composed pretrain/compact plans re-ran
    * the FULL upstream lineage per branch (400 parquet scans / 1258
    * Exchanges in pipeline_pretrain_compact's before-plan, plans/r13).
    * One gram-kernel pass; every consumer reads the materialization.
    * Guide §2.4 (remove shuffles/passes outright) — lives one query run
    * (Pinned contract, drained by Verify/Bench). r14: the gram arrays
    * are corpus-FAT (≈3× text bytes), so the materialization is
    * [[Pinned.fat]] (lineage-retaining persist) rather than
    * localCheckpoint — VERDICT #1's fault-tolerance hole.
    */
  private def gramSetsCkpt(d: DataFrame): DataFrame = Pinned.fat(gramSets(d))

  /** Exact 3-gram Jaccard for a candidate pair set (a_id, b_id): joins
    * the gram sets back per side and keeps |∩|/|∪| >= tau.
    */
  private def verifyJaccard(cands: DataFrame, d: DataFrame, tau: Double): DataFrame =
    verifyJaccardOn(cands, gramSetsCkpt(d), tau)

  /** [[verifyJaccard]] over an already-built (doc_id, gs) gram-set frame
    * — the miners pass their checkpointed [[gramSetsCkpt]] so the gram
    * kernel never re-runs for verification.
    */
  private def verifyJaccardOn(cands: DataFrame, gsets: DataFrame, tau: Double): DataFrame =
    Similar.verify(cands, gsets, "doc_id", ("gs", "ga", "gb"))(Similar.jaccard(tau))

  /** Exact n-gram Jaccard near-dup pairs over any (doc_id, text)
    * DataFrame at rational threshold tau = tauNum/tauDen — the prefix-
    * filtered inverted-index join (AllPairs/PPJoin). All threshold
    * arithmetic is INTEGER (prefix length p = c - ceil(tauNum·c/tauDen)
    * + 1, length filter tauDen·min ≥ tauNum·max): float forms of tau
    * shave the prefix at divisibility boundaries and silently drop
    * pairs. Candidates are re-verified on full gram sets, so the result
    * is exactly the pairs with jaccard ≥ tau (property-specd in
    * DedupAnnSpec against brute force on random corpora).
    *
    * DRAIN OBLIGATION (r13 advice): the default `materialize = true`
    * eagerly materializes the gram-set frame at CONSTRUCTION time and
    * registers it with [[Pinned]] — the caller (or its harness) must
    * call `Pinned.drain()` after its one consuming action, or the
    * blocks outlive the query (Verify/Bench/SparkSpec all drain). A
    * returned plan must not be re-executed after drain. Callers without
    * a draining harness should pass `materialize = false`.
    */
  def ngramJaccardPairs(d: DataFrame, tauNum: Int, tauDen: Int): DataFrame =
    ngramJaccardPairs(d, tauNum, tauDen, materialize = true)

  /** r13 OPT (guide §2.4): with `materialize` on (the default), gram
    * sets checkpoint once (see gramSetsCkpt) and the prefix sliver
    * checkpoints once — before, each self-join side re-ran gram explode
    * + df-count join + window, and each verify side re-ran the gram
    * kernel, so one miner call executed its input lineage ~5×; on the
    * composed compact/e2e arms that lineage was itself the full cascade
    * (35.5 s → 8.7 s measured at sf0.1). Both slivers are slim and
    * release at the consumer's Pinned.drain. `materialize = false` is
    * for single-consumption callers over RAW parquet scans
    * (dedup_ngram_jaccard, dedup_pairs_exact): there a re-scan is
    * cheaper than serializing the gram arrays into block storage, and
    * the ckpt barrier was a measured +0.8-1.0 s pure regression.
    */
  def ngramJaccardPairs(d: DataFrame, tauNum: Int, tauDen: Int,
      materialize: Boolean): DataFrame =
    if (materialize)
      ngramJaccardPairsOnGsets(gramSetsCkpt(d), tauNum, tauDen)
    else
      ngramJaccardPairsOnGsets(gramSets(d), tauNum, tauDen,
        materializePrefix = false)

  /** The AllPairs/PPJoin mining + exact verification over an
    * already-built (doc_id, gs) gram-set frame — factored (r14) so the
    * pretrain compaction's second miner can feed a gram-set frame
    * ASSEMBLED from the cascade's materialized corpus gram sets plus a
    * fresh increment pass (VERDICT #1). The df-count/prefix sliver is
    * rebuilt per call — the prefix filter's global gram df is a
    * property of THIS miner's input set, never shareable across inputs.
    */
  private[graft] def ngramJaccardPairsOnGsets(gsets: DataFrame,
      tauNum: Int, tauDen: Int, materializePrefix: Boolean = true,
      gen: Similar.Candidates = Similar.buckets): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen, "tau in (0, 1]")
    val tau = tauNum.toDouble / tauDen
    val g = gsets.select(col("doc_id"), size(col("gs")).as("c"), explode(col("gs")).as("g"))
    val gdf = g.groupBy(col("g")).agg(count(lit(1)).as("gdf"))
    val prefix0 = g.join(gdf, "g")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("gdf"), col("g"))))
      .where(expr(s"rn <= c - (($tauNum * c + $tauDen - 1) div $tauDen) + 1"))
      .select(col("doc_id"), col("c"), col("g"))
    val prefix =
      if (materializePrefix) Pinned.track(prefix0.localCheckpoint(true))
      else prefix0
    // length filter: jaccard >= tau needs tauDen·min(c) >= tauNum·max(c)
    val cands = gen(Similar.Keyed(prefix, "doc_id", Seq("g"),
      filter = Some(expr(s"$tauDen * least(a.c, b.c) >= $tauNum * greatest(a.c, b.c)"))))
    verifyJaccardOn(cands, gsets, tau)
  }

  /** (doc_id, bk) MinHash(128) 32×4 band keys of a (doc_id, text) frame
    * — the ONE banding behind [[minhashLshPairs]] and the incremental
    * form (C33), so the two can never disagree on signature or banding
    * layout. At scale this IS the persistable signature index: write it
    * partitioned/bucketed by bk once, probe it per increment.
    */
  def bandedMinhashKeys(d: DataFrame): DataFrame =
    bandedMinhash(gramSets(d), graft.functions.Kernels.minhash128)

  /** [[bandedMinhashKeys]] with the SQL-restatable integer sketch
    * (Kernels.minhashInt128 over the hashCp gram hash): the same 32×4
    * band layout, every slot integer-decidable by DuckDB, so the stream
    * near-dup arms (D19/D32) restate the ingest filter's whole decision
    * (signature, banding, candidates, exact verify) via [[minhashIntCtes]].
    */
  def bandedMinhashIntKeys(d: DataFrame): DataFrame =
    bandedMinhash(gramSets(d), graft.functions.Kernels.minhashInt128)

  /** (doc_id, bk) band keys of a (doc_id, gs) gram-set frame under a
    * 128-slot MinHash `kernel` — the signature is its own projection, so
    * the kernel runs once per row, not once per band.
    */
  private def bandedMinhash(gsets: DataFrame, kernel: Column => Column): DataFrame =
    gsets.select(col("doc_id"), kernel(col("gs")).as("sig"))
      .select(col("doc_id"), Similar.minhashBands(col("sig")))

  /** The ONE DuckDB restatement of the integer MinHash machinery —
    * word 3-grams, the hashCp codepoint polynomial, 128 affine
    * permutations, 32×4 band keys, per-doc gram counts — spliced into
    * every oracle that bands (C4e, D19, D32) so the SQL twins cannot
    * drift from each other. Yields CTEs `grams(doc_id, g)`,
    * `bands(doc_id, band, bk)` and `cnt(doc_id, c)` over `documents`.
    */
  private[queries] val minhashIntCtes: String =
    """docs_ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
      |grams AS (
      |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM w a
      |  JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      |  JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
      |gh AS (SELECT doc_id,
      |         list_reduce(list_transform(range(1, length(g) + 1),
      |             i -> CAST(ord(substr(g, i, 1)) AS BIGINT)),
      |           (h, c) -> (h * 31 + c) % 2147483647) AS h
      |       FROM grams),
      |mh AS (SELECT doc_id, p.i,
      |         min((gh.h * (2 * p.i + 1) + 40503 * p.i) % 2147483647) AS mv
      |       FROM gh, range(0, 128) p(i)
      |       GROUP BY doc_id, p.i),
      |bands AS (SELECT doc_id, i // 4 AS band,
      |            string_agg(mv::VARCHAR, ':' ORDER BY i) AS bk
      |          FROM mh GROUP BY doc_id, i // 4),
      |cnt AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id)""".stripMargin

  /** Batch-vs-corpus candidate pairs (a_id = batch doc, b_id = corpus
    * doc): the corpus signature scan streams through a BROADCAST join on
    * the batch's band keys — zero corpus exchange, the C30b trade at
    * near-dup grain. `corpusB` must be (c_id, bk), `batchB` (doc_id, bk)
    * from [[bandedMinhashKeys]]. private[graft] so PlanSpec can assert
    * the hint placement on this exact subplan (the C33 query
    * materializes its stages, which detaches them from the final plan).
    */
  private[graft] def crossBandCands(corpusB: DataFrame, batchB: DataFrame): DataFrame =
    Similar.probe(corpusB, batchB.select(col("doc_id").as("b_id"), col("bk")), "bk")
      .select(col("b_id").as("a_id"), col("c_id").as("b_id"))
      .distinct()

  /** The banding's design range: capture probability at jaccard j is
    * 1-(1-j^4)^32 — ~0.9998 at j=0.7 but only ~0.87 at j=0.5, which
    * would silently drop qualifying pairs (ngramJaccardPairs is the
    * exact-at-any-tau alternative).
    */
  private def requireBandingRange(tauNum: Int, tauDen: Int): Unit = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen, "tau in (0, 1]")
    require(tauNum * 10 >= tauDen * 7,
      "the 32x4 minhash banding needs tau >= 0.7 to keep capture " +
        "probability ~1; use ngramJaccardPairs for lower thresholds")
  }

  /** MinHash(128) + 32×4 LSH banding near-dup pairs at rational threshold
    * tau = tauNum/tauDen — the approximate counterpart of
    * [[ngramJaccardPairs]] (same output contract; candidates meet only
    * inside a (band, 4-hash) bucket, then exact Jaccard verifies).
    */
  def minhashLshPairs(d: DataFrame, tauNum: Int, tauDen: Int,
      gen: Similar.Candidates = Similar.buckets): DataFrame = {
    requireBandingRange(tauNum, tauDen)
    minhashPairs(gramSetsCkpt(d), graft.functions.Kernels.minhash128,
      tauNum.toDouble / tauDen, gen)
  }

  /** [[minhashLshPairs]] under the integer sketch at tau = 0.8 — C4e. */
  private[graft] def minhashIntPairs(d: DataFrame,
      gen: Similar.Candidates = Similar.buckets): DataFrame =
    minhashPairs(gramSetsCkpt(d), graft.functions.Kernels.minhashInt128, 0.8, gen)

  /** r13 OPT: one gram-kernel pass feeds signature banding AND exact
    * verification, and the banded sliver checkpoints so the 128-slot
    * kernel runs once, not once per self-join side.
    */
  private def minhashPairs(gsets: DataFrame, kernel: Column => Column, tau: Double,
      gen: Similar.Candidates): DataFrame = {
    val banded = Pinned.track(bandedMinhash(gsets, kernel).localCheckpoint(true))
    verifyJaccardOn(gen(Similar.Keyed(banded, "doc_id", Seq("bk"))), gsets, tau)
  }

  /** Connected components over an arbitrary near-dup pair source —
    * accepts ANY DataFrame with (a_id, b_id) columns (ngram, minhash,
    * simhash, or embedding pairs all feed it), returns (id, label) with
    * label = min node id of the component.
    *
    * Min-label propagation plus POINTER DOUBLING (each round a node also
    * jumps through its current label's label), so convergence is
    * O(log diameter) rounds, not O(diameter). Iterative state goes
    * through reliable `checkpoint()` when a checkpoint dir is set
    * (fault-tolerant at 1000 executors — localCheckpoint state dies with
    * an executor), else localCheckpoint. The convergence test reads the
    * materialized checkpoint (no lineage re-run). Throws rather than
    * silently returning split clusters if maxRounds is hit.
    *
    * SMALL-GRAPH FAST PATH: near-dup edge sets are post-verification
    * output — orders of magnitude smaller than the corpus that produced
    * them — and routinely fit on the driver even when the corpus is
    * 100 TB. At or below `smallGraphThreshold` directed edges (default
    * 100k ≈ 1.6 MB collected; same bounded-driver-work justification as
    * [[Ann.ivfBuild]]'s sample training), the materialized edge list
    * collects once and a driver union-find labels it — identical
    * min-label semantics, none of the per-round join/checkpoint fixed
    * cost that dominates small inputs. Above the threshold the
    * distributed iteration runs unchanged (specs pin both paths to the
    * same result).
    */
  def connectedComponents(
      pairs: DataFrame, maxRounds: Int = 30,
      smallGraphThreshold: Long = 100000L): DataFrame =
    components(pairs, maxRounds, smallGraphThreshold).labels

  /** [[connectedComponents]]'s labels, and whether its small-graph path
    * built them: then they label at most `smallGraphThreshold` nodes, a
    * size bound a broadcast of them (or of a subset) can rely on.
    */
  final case class Components(labels: DataFrame, small: Boolean)

  /** [[connectedComponents]], telling which path ran (see [[Components]]). */
  def components(
      pairs: DataFrame, maxRounds: Int = 30,
      smallGraphThreshold: Long = 100000L): Components = ccLock.synchronized {
    val s = pairs.sparkSession
    // reliable checkpoints go to a PER-RUN subdir that is deleted before
    // returning (Spark never garbage-collects reliable checkpoint files
    // on its own — repeated runs would grow the dir without bound); the
    // final labels move to a localCheckpoint first so the result does
    // not depend on the deleted files. ccLock serializes runs because
    // setCheckpointDir is SparkContext-global: an overlapping run would
    // read the first run's subdir as its base, nest under it, and lose
    // its files to the first run's cleanup.
    val baseDir = s.sparkContext.getCheckpointDir
    val runDir = baseDir.map(_ + "/cc-" + java.util.UUID.randomUUID().toString)
    runDir.foreach(s.sparkContext.setCheckpointDir)
    def ckpt(df: DataFrame): DataFrame =
      if (runDir.isDefined) {
        // Dataset.checkpoint(eager=true) on the reliable path runs TWO
        // jobs — the eager count, then ReliableCheckpointRDD's write
        // job — and the write job RECOMPUTES an uncached plan from
        // scratch. Persist first so the count populates the cache and
        // the write job reads blocks instead of re-running the upstream
        // plan (for the edge list that plan is the whole pair mining);
        // the cache is dropped as soon as the checkpoint files exist.
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try df.checkpoint(true) finally df.unpersist(false)
      } else df.localCheckpoint(true)
    def cleanup(): Unit = {
      baseDir.foreach(s.sparkContext.setCheckpointDir)
      runDir.foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(p, true); ()
      }
    }
    try {
    val p = pairs.select(col("a_id"), col("b_id"))
    // ONE pass over the pair source builds both edge directions: a
    // self-union would embed the (expensive, unmaterialized) mining
    // plan twice in one tree — the two branches do not canonicalize to
    // a shared exchange — and together with an unpersisted eager
    // checkpoint that executed mining up to 4× per call. explode keeps
    // mining in the plan exactly once; ckpt's persist-before-checkpoint
    // keeps it to exactly one execution (CCMiningOnceSpec pins this).
    val edges = ckpt(p.select(explode(array(
        struct(col("a_id"), col("b_id")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id")))).as("e"))
      .select(col("e.a_id").as("a_id"), col("e.b_id").as("b_id")))
    // the count and (on the fast path) the collect both read the
    // materialized checkpoint — pair mining ran exactly once
    if (edges.count() <= smallGraphThreshold) {
      val rows = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      // ITERATIVE find: union-to-min has no rank balancing, so an
      // adversarial edge order builds parent chains ~n/2 deep — a
      // recursive find would blow the driver stack at the 100k-edge
      // threshold (50k frames > default JVM stack)
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElseUpdate(root, root) != root) root = parent(root)
        var cur = x
        while (cur != root) { val nxt = parent(cur); parent(cur) = root; cur = nxt }
        root
      }
      // union-to-min keeps every root the minimum id of its component —
      // the same label contract the iteration below converges to
      rows.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val out = parent.keys.toSeq.map(x => (x, find(x)))
      import s.implicits._
      Components(out.toDF("id", "label"), small = true)
    } else {
    var labels = edges.select(col("a_id").as("id")).distinct()
      .select(col("id"), col("id").as("label"))
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"connectedComponents: no fixpoint after $maxRounds rounds " +
            "(component diameter too large?) — refusing to emit split clusters")
      val nbrMin = edges
        .join(labels.select(col("id").as("b_id"), col("label")), "b_id")
        .groupBy(col("a_id").as("id")).agg(min(col("label")).as("nbr"))
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("l1"))
      // pointer doubling: follow one hop through the label forest
      val next = ckpt(stepped
        .join(labels.select(col("id").as("l1"), col("label").as("l2")), Seq("l1"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("l1"), coalesce(col("l2"), col("l1"))).as("label"))
        .select(col("id"), col("label"),
          (col("label") =!= col("old")).cast("long").as("chg")))
      changed = next.agg(coalesce(sum(col("chg")), lit(0L))).head().getLong(0)
      labels = next.select(col("id"), col("label"))
      rounds += 1
    }
    // detach the result from the per-run checkpoint files before they
    // are deleted; the labels table is |nodes| × 2 longs — small.
    // Tracked: the caller's returned plan reads it lazily, the
    // consumer's Pinned.drain releases it after materialization
    Components(Pinned.track(labels.localCheckpoint(true)), small = false)
    }
    } finally cleanup()
  }

  /** Connected components by PLAIN min-label propagation to fixpoint —
    * the INDEPENDENT witness behind `inv_cascade_cc_parity`: the same
    * (id, label = component-min id) contract as [[connectedComponents]]
    * with none of its machinery (no pointer doubling, no union-find
    * fast path, no reliable-checkpoint plumbing), so a defect in either
    * implementation cannot hide in the other. O(component diameter)
    * rounds — fine for a parity gate over near-dup cluster graphs
    * (dense, shallow), wrong as the production operator; it refuses a
    * non-fixpoint like the production loop rather than emit split
    * clusters. Callers should pass MATERIALIZED pairs (the gate
    * checkpoints once and feeds both implementations) so mining isn't
    * re-run per round.
    */
  private[graft] def ccMinPropagation(pairs: DataFrame, maxRounds: Int = 100): DataFrame = {
    val edges = Pinned.track(pairs.select(explode(array(
        struct(col("a_id").as("u"), col("b_id").as("v")),
        struct(col("b_id").as("u"), col("a_id").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint(true))
    var kept = edges.select(col("u").as("id")).distinct()
      .select(col("id"), col("id").as("label"), lit(0L).as("chg"))
      .localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      if (rounds >= maxRounds)
        throw new IllegalStateException(
          s"ccMinPropagation: no fixpoint after $maxRounds rounds " +
            "(component diameter too large?) — refusing to emit split clusters")
      val labels = kept.select(col("id"), col("label"))
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("label")), "v")
        .groupBy(col("u").as("id")).agg(min(col("label")).as("nbr"))
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        .select(col("id"), col("label"),
          (col("label") =!= col("old")).cast("long").as("chg"))
        .localCheckpoint(true)
      changed = next.agg(coalesce(sum(col("chg")), lit(0L))).head().getLong(0)
      kept.unpersist(blocking = false)
      kept = next
      rounds += 1
    }
    Pinned.track(kept)
    kept.select(col("id"), col("label"))
  }

  /** Default the reliable-checkpoint dir ONLY in local mode: on a
    * cluster the driver's /tmp is not a shared filesystem, so reliable
    * checkpoint partitions written by executors would be unreadable —
    * there the deployment must configure a shared dir (else
    * [[connectedComponents]] falls back to localCheckpoint). Shared by
    * every query that feeds pairs into CC.
    */
  private[queries] def ensureLocalCkptDir(s: SparkSession): Unit =
    if (s.sparkContext.isLocal && s.sparkContext.getCheckpointDir.isEmpty)
      s.sparkContext.setCheckpointDir(
        sys.props("java.io.tmpdir") + "/graft-ckpt")

  /** The cascade's per-doc stage verdict frame — (doc_id, stage ∈
    * url/exact/neardup/kept) — factored from `pipeline_dedup_cascade`
    * (which orders and ships it) so downstream consumers (C75
    * dedup_diversity_gain) audit the SAME shipped stages, not a copy:
    * the cascade's own oracle staying green through this refactor is
    * the regression evidence (the C73/curateWebFrames discipline).
    */
  /** The cascade's stage-1/2 keep frames — (s1 with url_keep, s2 with
    * exact_keep over url survivors) — the ONE implementation behind
    * [[cascadeStages]] and the `cascade_stage_keys` gate, so the staged
    * gate can never check a drifted copy of the shipped decision.
    */
  private[queries] def cascadeKeyFrames(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val base = docs(s, dir).select(col("doc_id"),
      Text.canonicalUrlCol(Text.messyUrlCol).as("canon"),
      normDigest.as("h"))
    val s1 = base.withColumn("url_keep",
      col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("canon"))))
    val s2 = s1.where(col("url_keep"))
      .withColumn("exact_keep",
        col("doc_id") === min(col("doc_id")).over(Window.partitionBy(col("h"))))
    (s1, s2)
  }

  /** The cascade's stage-3 input: url+exact survivors' documents. */
  private[queries] def cascadeSurvivorDocs(s: SparkSession, dir: String): DataFrame = {
    val survivors = cascadeKeyFrames(s, dir)._2
      .where(col("exact_keep")).select(col("doc_id"))
    docs(s, dir).join(survivors, Seq("doc_id"), "left_semi")
  }

  private[queries] def cascadeStages(s: SparkSession, dir: String,
      miner: DataFrame => DataFrame = ngramJaccardPairs(_, 4, 5)): DataFrame = {
    // r13 OPT (guide §2.4): the stage-key frames checkpoint once —
    // before, the url/exact windows (canon + sha2 over the full corpus,
    // two window exchanges) re-ran for the s1 assembly branch, the s2
    // branch, AND the survivor set feeding the miner (cascadeSurvivorDocs
    // built its own copy). Slim rows (id + keep bits), one run each,
    // released at the consumer's Pinned.drain.
    val (s1f, s2f) = cascadeKeyFrames(s, dir)
    val s1 = Pinned.track(
      s1f.select(col("doc_id"), col("url_keep")).localCheckpoint(true))
    val s2 = Pinned.track(
      s2f.select(col("doc_id"), col("exact_keep")).localCheckpoint(true))
    val survivorDocs = docs(s, dir).join(
      s2.where(col("exact_keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
    val pairs = miner(survivorDocs)
    val nd = connectedComponents(pairs)
      .where(col("id") =!= col("label"))
      .select(col("id").as("doc_id"), lit(1L).as("nd"))
    s1.select(col("doc_id"), col("url_keep"))
      .join(s2.select(col("doc_id"), col("exact_keep")), Seq("doc_id"), "left_outer")
      .join(nd, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(!col("url_keep"), lit("url"))
          .when(!col("exact_keep"), lit("exact"))
          .when(col("nd").isNotNull, lit("neardup"))
          .otherwise(lit("kept")).as("stage"))
  }

  /** C79's staged compaction verdicts over any miner — the ONE
    * implementation behind `pipeline_dedup_cascade_compact` (exact
    * miner) and `_minhash` (C76's banded miner), so the two forms can
    * never disagree on the staged rule itself. Returns (doc_id, stage,
    * vs) for every increment doc.
    *
    * Increment = doc_id % 7 IN (2, 4) — NOT D32's doc_id%3 ingest
    * convention: the synthetic messy URLs key their fetch variants on
    * doc_id%3, so a %3 split makes EVERY increment canon collide with a
    * corpus sibling by construction and the url stage swallows the whole
    * gate. %7 over {2,4} decorrelates from the variant layout (sibling
    * offsets are 1/2 mod 7) AND co-places both url-siblings of some
    * pages, both ends of some near-dup pairs (sf0.01), and both members
    * of an exact-dup group (sf0.1) inside the increment — every
    * (stage, vs) outcome occurs at gate scale.
    */
  private[queries] def cascadeCompactStages(s: SparkSession, dir: String,
      miner: DataFrame => DataFrame = ngramJaccardPairs(_, 4, 5)): DataFrame = {
    val d = docs(s, dir)
    val isIncr = (col("doc_id") % 7).isin(2L, 4L)
    val keyed = (df: DataFrame) => df.select(col("doc_id"),
      Text.canonicalUrlCol(Text.messyUrlCol).as("canon"),
      normDigest.as("h"))
    compactStagedVerdicts(s,
      keyed(d.where(!isIncr)).select(col("canon"), col("h")),
      keyed(d.where(isIncr)),
      d.where(!isIncr).select(col("doc_id"), col("text")),
      d.where(isIncr).select(col("doc_id"), col("text")), miner)
  }

  /** The staged two-rung compaction fold itself, over prepared frames —
    * factored from [[cascadeCompactStages]] (r13) so C84
    * `pipeline_pretrain_compact` can run the IDENTICAL rule with the
    * corpus side replaced by the e2e-RETAINED set and the increment
    * side scoped to quality survivors: the staged rule cannot drift
    * between the cascade-only and e2e compactions. `corpusK` = (canon,
    * h) of the corpus side, `ik` = (doc_id, canon, h) increment
    * candidates, `corpusText`/`incrText` = (doc_id, text) miner inputs
    * (increment side is filtered to stage-2 survivors here). Increment
    * membership inside mined pairs uses the shared doc_id % 7 ∈ {2, 4}
    * convention (both callers' split).
    */
  private[queries] def compactStagedVerdicts(s: SparkSession,
      corpusK: DataFrame, ik: DataFrame,
      corpusText: DataFrame, incrText: DataFrame,
      miner: DataFrame => DataFrame = ngramJaccardPairs(_, 4, 5)): DataFrame = {
    ensureLocalCkptDir(s)
    val coinIncr = (c: Column) => (c % 7).isin(2L, 4L)
    // stage 1: url — corpus membership first, then min-id per canon
    // within the increment (slim key columns only; text never moves).
    // r13 OPT (guide §2.4): both stage frames checkpoint — each is
    // consumed 2-3× below (next stage, survivor set, final assembly)
    // and every consumer re-ran the increment's quality/canon/digest
    // lineage plus the stage windows otherwise (the compact arm's
    // before-plan carried 400 parquet scans). Slim rows (id + digest +
    // verdict), released at the consumer's Pinned.drain.
    val s1 = Pinned.track(ik
      .join(corpusK.select(col("canon")).distinct().withColumn("uc", lit(1)),
        Seq("canon"), "left")
      .withColumn("minc", min(col("doc_id")).over(Window.partitionBy(col("canon"))))
      .select(col("doc_id"), col("h"),
        when(col("uc") === 1, lit("corpus"))
          .when(col("doc_id") =!= col("minc"), lit("increment")).as("url_vs"))
      .localCheckpoint(true))
    // stage 2: exact over url survivors — same two-rung rule on digests
    val s2 = Pinned.track(s1.where(col("url_vs").isNull)
      .join(corpusK.select(col("h")).distinct().withColumn("ec", lit(1)),
        Seq("h"), "left")
      .withColumn("minh", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .select(col("doc_id"),
        when(col("ec") === 1, lit("corpus"))
          .when(col("doc_id") =!= col("minh"), lit("increment")).as("exact_vs"))
      .localCheckpoint(true))
    val survivors = s2.where(col("exact_vs").isNull).select(col("doc_id"))
    // stage 3: the miner over corpus ∪ surviving increment; only pairs
    // touching an increment doc matter downstream
    val minedInput = corpusText
      .unionByName(incrText.join(survivors, Seq("doc_id"), "left_semi"))
    val pairs = Pinned.track(
      miner(minedInput).localCheckpoint(true)) // feeds 3 consumers
    val aIncr = coinIncr(col("a_id"))
    val bIncr = coinIncr(col("b_id"))
    val nc = pairs.where(aIncr && !bIncr).select(col("a_id").as("doc_id"))
      .unionByName(pairs.where(!aIncr && bIncr).select(col("b_id").as("doc_id")))
      .distinct()
    val remaining = survivors.join(nc, Seq("doc_id"), "left_anti")
    val ii = pairs.where(aIncr && bIncr)
      .join(remaining.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
      .join(remaining.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
    val ni = connectedComponents(ii.select(col("a_id"), col("b_id")))
      .where(col("id") =!= col("label")).select(col("id").as("doc_id"))
    // s1 carries exactly one row per ik row, so the assembly spine reads
    // the checkpointed stage-1 frame instead of replaying ik's lineage
    s1.select(col("doc_id"))
      .join(s1.select(col("doc_id"), col("url_vs")), Seq("doc_id"), "left")
      .join(s2.select(col("doc_id"), col("exact_vs")), Seq("doc_id"), "left")
      .join(nc.withColumn("ncf", lit(1)), Seq("doc_id"), "left")
      .join(ni.withColumn("nif", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("url_vs").isNotNull, lit("url"))
          .when(col("exact_vs").isNotNull, lit("exact"))
          .when(col("ncf") === 1 || col("nif") === 1, lit("neardup"))
          .otherwise(lit("kept")).as("stage"),
        coalesce(col("url_vs"), col("exact_vs"),
          when(col("ncf") === 1, lit("corpus"))
            .when(col("nif") === 1, lit("increment"))).as("vs"))
  }

  /** The cascade's stage verdicts as a PERSISTED, fingerprint-keyed
    * artifact (the ann_ivf_probe / tokenizer-artifact discipline):
    * downstream reports that consume the dedup decision (C75
    * dedup_diversity_gain) read the published parquet instead of
    * re-running full pair mining + CC per report — at 100 TB "re-mine
    * all near-dup pairs per downstream audit" is the anti-pattern the
    * r10 verdict flagged. Keyed on the documents table fingerprint
    * (rows + bytes + max mtime) so a regenerated corpus can never be
    * served a stale verdict set; the directory publishes by atomic
    * rename, so readers see a complete artifact or none.
    * `inv_cascade_artifact_parity` pins loaded ≡ freshly computed.
    */
  private[queries] def cascadeStagesArtifact(s: SparkSession, dir: String): DataFrame = {
    val root = java.nio.file.Paths.get(
      s"target/cascade/${Artifact.corpusKey(s, dir, "documents")}/stages_v1")
    Artifact.publish(root) { tmp =>
      ensureLocalCkptDir(s)
      cascadeStages(s, dir).write.mode("overwrite")
        .parquet(tmp.resolve("stages.parquet").toString)
    }
    s.read.parquet(root.resolve("stages.parquet").toString)
  }

  /** Exact all-pairs embedding-cosine near-dup pairs (a_id, b_id, cos) —
    * ORACLE BASELINE ONLY. The plan is a deliberate O(n²)
    * BroadcastNestedLoopJoin used to gate correctness of the scale
    * paths; it REFUSES inputs past `maxVectors` (default 50k ≈ 1.25e9
    * pair evaluations — already minutes of work; 1M would be 5e11).
    * Production near-dup at scale goes through `dedup_embedding_lsh`
    * (hyperplane-LSH-bucketed candidates, same cosine verification) or
    * `dedup_semantic` (SemDeDup: IVF cluster-then-dedup, within-cell
    * cosine only). `withNorm` needs (vec_id, emb, nrm) as produced by
    * [[Ann.embsWithNorm]].
    */
  def embeddingPairsExact(withNorm: DataFrame, tau: Double = 0.5,
      maxVectors: Long = 50000L): DataFrame = {
    val s = withNorm.sparkSession
    val n = withNorm.count() // tiny metadata-speed scalar; guards the cartesian
    require(n <= maxVectors,
      s"embeddingPairsExact is the O(n²) oracle baseline: $n vectors exceeds " +
        s"the $maxVectors ceiling (${n * (n - 1) / 2} pair evaluations). At " +
        "scale use dedup_embedding_lsh (LSH-bucketed candidates) or " +
        "dedup_semantic (cluster-then-dedup) instead")
    Similar.allPairs(Similar.Keyed(withNorm, "vec_id", Nil, Seq("emb", "nrm"), unique = true))
      .transform(Similar.cosineAtLeast(s, tau))
  }

  /** (keep_id, batch_dups) per distinct surviving digest: batch-internal
    * dups collapse first (map-side-combinable agg on the 32 B sha2
    * digest), then the survivors anti-join the corpus's pruned digest
    * scan. The corpus is NEVER self-joined — the per-increment cost is
    * O(batch + corpus digests), vs re-running exact dedup over
    * corpus+batch every increment. `batch`/`corpus` are (doc_id, text)
    * frames. Library form of C30 (the gate query and IncrScale both
    * drive it).
    */
  def incrementalExact(batch: DataFrame, corpus: DataFrame): DataFrame =
    batch.select(col("doc_id"), normDigest.as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("batch_dups"))
      .join(corpus.select(normDigest.as("h")), Seq("h"), "left_anti")
      .select(col("keep_id"), col("batch_dups"))

  /** The MONOLITHIC corpus-digest bloom filter of the C30b path — the
    * small-corpus form: at 3% fpp the filter is ~7.3 bits/key, so it is
    * driver-buildable and task-shippable up to ~1e9 keys (~0.9 GB); at
    * 1e10 keys (100 TB of ~10 KB docs) it is a ~9 GB single object and
    * the bucket-partitioned [[corpusBloomIndex]] is the right shape.
    * Pass `expectedItems` (from table metadata / the write-time row
    * count) to size the filter in ONE corpus pass — when it's negative
    * (the default), a counting scan runs first, i.e. the corpus is read
    * twice.
    */
  def corpusBloom(
      corpus: DataFrame, expectedItems: Long = -1L): org.apache.spark.util.sketch.BloomFilter = {
    val keys = corpus.select(xxhash64(normText).as("hl"))
    val n = if (expectedItems >= 0) expectedItems else keys.count()
    keys.stat.bloomFilter("hl", math.max(1L, n), 0.03)
  }

  /** The bloom-prefiltered form of [[incrementalExact]] — same EXACT
    * output, different plan: bloom-negative batch digests skip every
    * join; the bloom-positive sliver broadcasts into a semi-join, so the
    * corpus is scanned once and never shuffled. False positives die in
    * the exact membership check. Assumes increments whose corpus overlap
    * is bounded (the ingest norm); a replay-heavy batch should take the
    * plain path.
    */
  def incrementalExactBloom(
      batch: DataFrame, corpus: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val s = batch.sparkSession
    val might = graft.functions.Native.bloomMightContain(s, bloom, col("hl"))
    // hl is functionally dependent on h (both hash the same normalized
    // text), so grouping by both keeps it without a second aggregate.
    // Materialized once: three subtrees consume it (the negative branch,
    // the broadcast probe set, and the positive branch), and an
    // unmaterialized plan would re-scan + re-hash the batch per consumer
    val bAgg = batch
      .select(col("doc_id"), xxhash64(normText).as("hl"),
        normDigest.as("h"))
      .groupBy(col("h"), col("hl"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("batch_dups"))
      .localCheckpoint(true)
    val definitelyNew = bAgg.where(!might)
    val hits = corpus.select(normDigest.as("h"))
      .join(broadcast(bAgg.where(might).select(col("h"))), Seq("h"), "left_semi")
      .distinct()
    val survived = bAgg.where(might)
      .join(broadcast(hits), Seq("h"), "left_anti")
    definitelyNew.unionByName(survived)
      .select(col("keep_id"), col("batch_dups"))
  }

  /** Counts filter deserializations in [[incrementalExactBloomIndexed]]
    * — a LOCAL-MODE spec aid (single JVM), not a distributed metric:
    * the per-bucket-probing claim is "one deserialization per touched
    * bucket", and the spec pins it here.
    */
  private[graft] val bloomProbeDeserializations =
    new java.util.concurrent.atomic.AtomicLong

  /** Bucket-PARTITIONED corpus bloom index — the extreme-scale form of
    * [[corpusBloom]]: the monolithic filter at 1e10 keys (100 TB of
    * ~10 KB docs) is a ~9 GB object built on ONE driver, embedded in
    * the expression tree, and shipped with every task binary. Here the
    * corpus digests bucket by `pmod(hl, nBuckets)` and each bucket gets
    * its own exactly-sized filter, emitted as a ROW of a
    * `(bucket, n_buckets, n_keys, bloom)` table: no single JVM ever
    * holds more than one bucket's filter, and the table persists beside
    * the corpus digest table ([[writeBloomIndex]]/[[readBloomIndex]] —
    * partitioned by bucket, so a probe's static `isin` prunes to the
    * touched buckets' FILES).
    *
    * The build is ONE corpus pass with no counting pre-scan and no
    * `expectedItems` guess: the aggregation buffers each bucket's raw
    * keys (native `collect_list`, bounded by ~corpus/nBuckets × 8 B —
    * pick nBuckets so that fits a task comfortably; 4096 buckets at
    * 1e10 keys is ~20 MB/task) and sizes the filter from the ACTUAL
    * count at finish. The filter-constructing udf runs once per BUCKET,
    * not per row — off the hot path by construction.
    */
  def corpusBloomIndex(
      corpus: DataFrame, nBuckets: Int = 256, fpp: Double = 0.03): DataFrame = {
    require(nBuckets > 0 && fpp > 0 && fpp < 1,
      s"bad bloom index shape: nBuckets=$nBuckets fpp=$fpp")
    val buildF = udf { keys: Seq[Long] =>
      val f = org.apache.spark.util.sketch.BloomFilter.create(
        math.max(1L, keys.length.toLong), fpp)
      keys.foreach(f.putLong)
      val bos = new java.io.ByteArrayOutputStream()
      f.writeTo(bos)
      bos.toByteArray
    }
    corpus.select(xxhash64(normText).as("hl"))
      .select(col("hl"), pmod(col("hl"), lit(nBuckets)).cast("int").as("bucket"))
      .groupBy(col("bucket"))
      .agg(collect_list(col("hl")).as("keys"))
      .select(col("bucket"), lit(nBuckets).as("n_buckets"),
        size(col("keys")).cast("long").as("n_keys"), buildF(col("keys")).as("bloom"))
  }

  /** Persist a [[corpusBloomIndex]] beside the corpus digest table,
    * partitioned by bucket so the probe's touched-bucket pruning becomes
    * file-level partition pruning.
    */
  def writeBloomIndex(index: DataFrame, path: String): Unit =
    index.write.mode("overwrite").partitionBy("bucket").parquet(path)

  def readBloomIndex(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)

  /** [[incrementalExactBloom]] against a bucket-partitioned index —
    * same EXACT output, no single-JVM filter. Per-increment plan: the
    * batch aggregates its digests once and shuffles by bucket (both
    * batch-scale); the index contributes ONLY the touched buckets
    * (static `isin` collected driver-side, ≤ nBuckets ints — partition
    * pruning against a persisted index, the IVF probed-cells pattern),
    * each bucket's filter deserialized ONCE per increment, never per
    * row; the might-positive sliver broadcasts into one corpus digest
    * scan. The corpus never shuffles, false positives die in the exact
    * `h` membership check, and a bucket absent from the index (no
    * corpus key hashes there) contributes no candidates.
    *
    * `index` is read TWICE (the n_buckets head and the candidate join):
    * pass a persisted table (readBloomIndex) or a materialized frame —
    * an unmaterialized corpusBloomIndex plan would re-run the whole
    * corpus-digest build on each read.
    */
  def incrementalExactBloomIndexed(
      batch: DataFrame, corpus: DataFrame, index: DataFrame): DataFrame = {
    val (lazyOut, pinned) = incrementalExactBloomIndexedPlan(batch, corpus, index)
    // Materialize the result eagerly, then RELEASE the pinned
    // intermediates — a long-lived ingest session runs many increments,
    // and un-released localCheckpoint blocks accumulate until plan GC
    // (the leak class Invariants.releasing closes for the gates). The
    // returned frame is itself a localCheckpoint: batch-scale, and its
    // blocks free with the frame reference (ContextCleaner).
    val out = lazyOut.localCheckpoint(true)
    pinned.foreach(_.unpersist())
    out
  }

  /** The lazy plan + the localCheckpoint-pinned frames it references —
    * separated from the public method so plan-shape specs can assert on
    * the join structure before the result checkpoint collapses it to a
    * scan.
    */
  private[graft] def incrementalExactBloomIndexedPlan(
      batch: DataFrame, corpus: DataFrame, index: DataFrame): (DataFrame, Seq[DataFrame]) = {
    val nb = index.select(col("n_buckets")).head(1).headOption
      .map(_.getInt(0)).getOrElse(1) // empty index: every bucket misses
    val bAgg = batch
      .select(col("doc_id"), xxhash64(normText).as("hl"),
        normDigest.as("h"))
      .groupBy(col("h"), col("hl"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("batch_dups"))
      .localCheckpoint(true)
    val perBucket = bAgg
      .select(col("hl"), pmod(col("hl"), lit(nb)).cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(collect_set(col("hl")).as("hls"))
      .localCheckpoint(true)
    val touched = perBucket.select(col("bucket")).collect().map(_.getInt(0)).toSeq
    val probeF = udf { (bloom: Array[Byte], hls: Seq[Long]) =>
      if (bloom == null) Seq.empty[Long]
      else {
        bloomProbeDeserializations.incrementAndGet()
        val f = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bloom))
        hls.filter(f.mightContainLong)
      }
    }
    // the candidate (might-positive) key set: one row per touched
    // bucket flows through probeF, then explodes back to keys.
    // Materialized once — two consumers (the anti and semi joins below)
    // would otherwise re-run the index join and re-deserialize filters
    val cand = perBucket
      .join(index.where(col("bucket").isin(touched: _*)), Seq("bucket"), "left")
      .select(explode(probeF(col("bloom"), col("hls"))).as("hl"))
      .localCheckpoint(true)
    val definitelyNew = bAgg.join(broadcast(cand), Seq("hl"), "left_anti")
    val mightRows = bAgg.join(broadcast(cand), Seq("hl"), "left_semi")
    val hits = corpus.select(normDigest.as("h"))
      .join(broadcast(mightRows.select(col("h"))), Seq("h"), "left_semi")
      .distinct()
    val survived = mightRows.join(broadcast(hits), Seq("h"), "left_anti")
    (definitelyNew.unionByName(survived)
      .select(col("keep_id"), col("batch_dups")),
      Seq(bAgg, perBucket, cand))
  }

  /** SemDeDup core over any (vec_id, emb double[], nrm) frame: quantize
    * into k cells ([[Ann.ivfBuild]]'s coarse quantizer), verify exact
    * cosine >= tau within cells only, connect components, drop everything
    * but the min-id representative. Returns (removed_id, rep_id) —
    * public so the spec can drive planted synthetic corpora through the
    * exact query path.
    */
  /** Cells for cluster-then-dedup, k ≈ sqrt(n/2): the within-cell
    * verification costs ~n²/2k pairs and the coarse assignment costs
    * n×k distance evals, so the sqrt choice balances them at n^1.5
    * total — the standard coarse-quantizer sizing (FAISS convention;
    * fixed k=8 measured 80 s at 20k vectors in the sf1 bench because
    * 2.5k-vector cells are ~3M pairs each). Floor 8 (tiny corpora);
    * cap 1024 so k stays well under the ≤2k driver-side training
    * sample — past n ≈ 2M, raise the trainingSample budget along with
    * the cap to keep the balance.
    */
  def semanticCellCount(n: Long): Int =
    math.max(8, math.min(1024, math.ceil(math.sqrt(n / 2.0)).toInt))

  /** C6b: float hyperplane-LSH candidates (24 tables, width growing with
    * n — see dedup_embedding_lsh) + the exact cosine verify at τ = 0.5.
    */
  private[graft] def embeddingLshPairs(s: SparkSession, e: DataFrame,
      gen: Similar.Candidates = Similar.buckets): DataFrame = {
    val bits = math.max(6, math.ceil(math.log(e.count() / 64.0) / math.log(2)).toInt)
    val tabled = e.select(col("vec_id"),
        posexplode(graft.functions.Kernels.hyperplaneSigs(col("emb"), lit(24), lit(bits)))
          .as(Seq("t", "sig")))
      .select(col("vec_id"), struct(col("t"), col("sig")).as("tk"))
    Similar.verify(gen(Similar.Keyed(tabled, "vec_id", Seq("tk"))), e, "vec_id",
      Similar.sides("emb", "nrm"): _*)(Similar.cosineAtLeast(s, 0.5))
  }

  /** C6c integer hyperplane-LSH geometry (mirrors the float C6b: 24
    * tables; 6 bits = 64 buckets/table).
    */
  private val EmbLshIntTables = 24
  private val EmbLshIntBits = 6

  /** C6c core: signed integer kilo codes (the ann_lsh_int quantization),
    * per-table signatures from the shared integer hyperplanes,
    * bucket-equality pairs, square-free τ = 0.5 verify. Returns (a_id,
    * b_id, dot, va, vb) — all BIGINT.
    */
  private[graft] def embeddingLshIntPairs(s: SparkSession, dir: String,
      gen: Similar.Candidates = Similar.buckets): DataFrame = {
    // r13 OPT: the codes and the signature table each checkpoint once
    // (each self-join side and each verify side re-ran the scan,
    // quantization and 144-hyperplane kernel before)
    val q = Pinned.track(graft.core.Tables(s, dir, "embeddings")
      .select(col("vec_id"), Similar.signed(Similar.kiloCodes(col("embedding"))).as("q"))
      .select(col("vec_id"), col("q"),
        graft.functions.Native.dot(s, col("q"), col("q")).cast("long").as("vv"))
      .localCheckpoint(true))
    val tabled = Pinned.track(q.select(col("vec_id"),
        explode(Similar.lshIntSigs(s, col("q"), EmbLshIntTables, EmbLshIntBits)).as("tk"))
      .localCheckpoint(true))
    Similar.verify(gen(Similar.Keyed(tabled, "vec_id", Seq("tk"))), q, "vec_id",
      Similar.sides("q", "vv"): _*)(Similar.halfCosineInt(s))
  }

  /** C6c oracle: the ann_lsh_int signature CTEs with self-pair
    * candidates and the square-free verify, emitting raw stats.
    */
  private val embLshIntSql: String =
    s"""WITH x AS (${Similar.kiloSql("v", shift = 1000)}),
      |nrm AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS vv FROM x GROUP BY vec_id),
      |${Similar.lshIntSigSql(EmbLshIntTables, EmbLshIntBits)},
      |cand AS (${Similar.selfPairsSql("sig", "vec_id", Seq("t", "sig"))}),
      |dots AS (SELECT c.a_id, c.b_id, CAST(sum(xa.v * xb.v) AS BIGINT) AS dot
      |         FROM cand c JOIN x xa ON xa.vec_id = c.a_id
      |                     JOIN x xb ON xb.vec_id = c.b_id AND xb.d = xa.d
      |         GROUP BY c.a_id, c.b_id)
      |SELECT d.a_id, d.b_id, d.dot, na.vv AS va, nb.vv AS vb
      |FROM dots d
      |JOIN nrm na ON na.vec_id = d.a_id
      |JOIN nrm nb ON nb.vec_id = d.b_id
      |WHERE d.dot > 0 AND 4 * d.dot * d.dot >= na.vv * nb.vv
      |ORDER BY a_id, b_id""".stripMargin

  /** C32b oracle: the C39 kmeans chain (shifted kilo quantization,
    * verbatim `Cluster.kmeansChainCtes`) for cells, signed kilo codes
    * for the square-free τ = 0.5 test, the C17 recursive
    * min-reachability for the closure. WITH RECURSIVE heads the whole
    * chain (DuckDB requires it when ANY cte recurses).
    */
  private val semanticIntSql: String =
    s"""WITH RECURSIVE x AS (${Similar.kiloSql("m")}),
      |c0 AS (SELECT vec_id AS cluster, d, m AS cent FROM x WHERE vec_id < 8),
      |${Cluster.kmeansChainCtes},
      |cellv AS (SELECT vec_id, cluster FROM aF WHERE rn = 1),
      |sq AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
      |    CAST(floor(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS m
      |  FROM embeddings),
      |nrm AS (SELECT vec_id, CAST(sum(m * m) AS BIGINT) AS vv FROM sq GROUP BY vec_id),
      |dots AS (
      |  SELECT p.a_id, p.b_id, CAST(sum(xa.m * xb.m) AS BIGINT) AS dot
      |  FROM (${Similar.selfPairsSql("cellv", "vec_id", Seq("cluster"))}) p
      |  JOIN sq xa ON xa.vec_id = p.a_id
      |  JOIN sq xb ON xb.vec_id = p.b_id AND xb.d = xa.d
      |  GROUP BY p.a_id, p.b_id),
      |sim AS (
      |  SELECT d.a_id, d.b_id FROM dots d
      |  JOIN nrm na ON na.vec_id = d.a_id
      |  JOIN nrm nb ON nb.vec_id = d.b_id
      |  WHERE d.dot > 0 AND 4 * d.dot * d.dot >= na.vv * nb.vv),
      |edges AS (SELECT a_id, b_id FROM sim
      |          UNION SELECT b_id AS a_id, a_id AS b_id FROM sim),
      |nodes AS (SELECT DISTINCT a_id AS id FROM edges),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.b_id AS id, reach.r FROM reach JOIN edges e ON e.a_id = reach.id),
      |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
      |SELECT id AS removed_id, label AS rep_id FROM labels
      |WHERE id != label ORDER BY removed_id""".stripMargin

  /** C32b pairs: cells from the gated K=8 integer Lloyd run, the τ = 0.5
    * cosine decided square-free on the signed kilo codes. r13 OPT: the
    * celled frame checkpoints once (both self-join sides re-ran the scan
    * and assignment join before).
    */
  private[graft] def semanticIntPairs(s: SparkSession, dir: String,
      gen: Similar.Candidates = Similar.buckets): DataFrame = {
    ensureLocalCkptDir(s)
    val (assign, _, _) = Cluster.fit(s, dir)
    val withCell = Pinned.track(Embed.quantized(s, dir) // signed kilo codes (vec_id, q)
      .join(assign.select(col("vec_id"), col("cluster")), "vec_id")
      .select(col("vec_id"), col("cluster"), transform(col("q"), _.cast("double")).as("q"))
      .select(col("vec_id"), col("cluster"), col("q"),
        graft.functions.Native.dot(s, col("q"), col("q")).cast("long").as("vv"))
      .localCheckpoint(true))
    gen(Similar.Keyed(withCell, "vec_id", Seq("cluster"), Seq("q", "vv"), unique = true))
      .transform(Similar.halfCosineInt(s))
  }

  def semanticDedup(s: SparkSession, e: DataFrame, k: Int, tau: Double,
      knownCount: Long = -1L): DataFrame = {
    ensureLocalCkptDir(s)
    val a = Ann.ivfBuild(e, k, knownCount).assigned // (n_id, emb, nrm, cell)
    connectedComponents(semanticPairs(s, a, tau).select(col("a_id"), col("b_id")))
      .where(col("id") =!= col("label"))
      .select(col("id").as("removed_id"), col("label").as("rep_id"))
  }

  /** (a_id, b_id, cos) within-cell pairs at cosine >= tau of an IVF
    * assignment (n_id, emb, nrm, cell) — SemDeDup's candidate space is
    * quadratic in cell size only.
    */
  private[graft] def semanticPairs(s: SparkSession, assigned: DataFrame, tau: Double,
      gen: Similar.Candidates = Similar.buckets): DataFrame =
    gen(Similar.Keyed(assigned, "n_id", Seq("cell"), Seq("emb", "nrm"), unique = true))
      .select(col("a_id"), col("b_id"),
        Similar.cosine(s, col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")).as("cos"))
      .where(col("cos") >= tau)

  /** (doc_id, sh) 64-bit simhash signatures (JIT kernel — see
    * [[graft.functions.Kernels]]) — public so the spec can brute-force-
    * verify the blocked candidate generation against it.
    */
  def simhashSignatures(d: DataFrame): DataFrame =
    d.where(col("text").isNotNull) // a null text would NPE inside the kernel
      .select(col("doc_id"),
        graft.functions.Kernels.simhash64(words).as("sh"))

  /** C5: simhash pairs at hamming <= 3 — 4×16-bit pigeonhole blocks. */
  private[graft] def simhashPairs(d: DataFrame,
      gen: Similar.Candidates = Similar.buckets): DataFrame =
    Similar.hammingPairs(simhashSignatures(d), "doc_id", "sh", 4, 16, 3, gen)

  /** C5b: integer simhash pairs at hamming <= 1 — 2×24-bit blocks. */
  private[graft] def simhashIntPairs(d: DataFrame,
      gen: Similar.Candidates = Similar.buckets): DataFrame =
    Similar.hammingPairs(d.where(col("text").isNotNull).select(col("doc_id"),
        graft.functions.Kernels.simhashInt48(words).as("sh")),
      "doc_id", "sh", 2, 24, 1, gen)
      .withColumn("hamming", col("hamming").cast("long"))

  /** C37's overlapping word-n-gram stream: one row per token position,
    * digest-keyed. Shared by the shipped operator and
    * SubstringShuffleSpec's window-form comparator.
    */
  /** r13 OPT (guide §1.2 per-task work): the per-position gram key is a
    * 128-bit rolling digest (Kernels.wordGramHashes) instead of the
    * previous gram-string assembly + SHA-256 + hex + unhex — that chain
    * was the dominant per-row cost of every substring-dedup /
    * decontamination arm (one 32 B digest per corpus token position).
    * The digest is an ENGINE-INTERNAL join/group key: no oracle
    * restates it and no query outputs it, so equality-of-results only
    * needs collision-freeness — at 10⁹ gram positions the 128-bit
    * collision odds are ~10⁻²⁰, the same class of argument the sha2
    * key relied on — and the 16 B struct key shuffles half the bytes
    * of the 32 B digest (guide §2.3, narrower keys).
    */
  private[graft] def substringGrams(d: DataFrame, n: Int): DataFrame = {
    d.where(size(words) >= n)
      .select(col("doc_id"), size(words).as("n_tokens"),
        posexplode(graft.functions.Kernels.wordGramHashes(words, n)).as(Seq("pos", "h")))
  }

  /** C37c core over any (doc_id, text) frame — see the query scaladoc
    * for the keep-first policy and shuffle-shape reasoning.
    */
  private[graft] def substringRewrite(d: DataFrame, n: Int): DataFrame = {
    val grams = substringGrams(d, n)
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).select(col("h"))
    // ownership window runs over the dup-OCCURRENCE sliver only
    val occ = grams.join(adaptiveBuild(dup), Seq("h"), "left_semi")
    val hits = occ.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))))
      .where(col("rn") > 1)
      .select(col("doc_id"), col("n_tokens"), col("pos"))
    val covered = Pinned.track(
      hits.select(col("doc_id"), col("n_tokens"),
          explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
        .distinct().localCheckpoint(true)) // three consumers below
    val cov = covered.groupBy(col("doc_id"))
      .agg(first(col("n_tokens")).as("n_tokens"), count(lit(1)).as("removed"))
    // ONLY affected docs' token streams posexplode
    val toks = d.join(adaptiveBuild(covered.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_semi")
      .select(col("doc_id"), posexplode(words).as(Seq("p", "w")))
    val agg = toks.join(covered.select(col("doc_id"), col("p")),
        Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("clean_tokens"),
        array_join(transform(array_sort(collect_list(struct(col("p"), col("w")))),
          x => x.getField("w")), " ").as("clean_text"))
    cov.join(agg, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("removed"),
        coalesce(col("clean_tokens"), lit(0L)).as("clean_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-doc interval-union coverage over duplicated-gram hit positions
    * — the aggregation half of C37, from the (doc_id, n_tokens, pos)
    * hit stream to (doc_id, n_tokens, dup_gram_hits, covered,
    * dup_frac_bp). Partial-aggregates to ~one record per doc per
    * partition before its one shuffle; the span merge is an
    * `aggregate()` fold inside Tungsten.
    */
  private[queries] def spanCoverage(hits: DataFrame, n: Int): DataFrame =
    spanFold(
      hits.groupBy(col("doc_id"))
        .agg(first(col("n_tokens")).as("nt"),
          count(lit(1)).as("dup_gram_hits"),
          collect_list(col("pos")).as("ps")), n)

  /** The interval-union fold half of [[spanCoverage]], over already-
    * grouped (doc_id, nt, dup_gram_hits, ps) rows — split out so the
    * streaming twin can run the groupBy as its one stateful aggregation
    * and fold the completed sink (collect_list order is nondeterministic
    * either way, so the sort lives here, next to the fold it feeds).
    */
  private[queries] def spanFold(grouped: DataFrame, n: Int): DataFrame =
    grouped
      .select(col("doc_id"), col("nt").cast("long").as("n_tokens"),
        col("dup_gram_hits"),
        aggregate(sort_array(col("ps")),
          struct(lit(0).as("e"), lit(0).as("c")),
          (acc, p) => struct(
            greatest(acc.getField("e"), p + lit(n)).as("e"),
            (acc.getField("c") +
              greatest(lit(0), p + lit(n) - greatest(acc.getField("e"), p))).as("c")),
          acc => acc.getField("c")).cast("long").as("covered"))
      .select(col("doc_id"), col("n_tokens"), col("dup_gram_hits"), col("covered"),
        expr("(covered * 10000) div n_tokens").as("dup_frac_bp"))

  /** Row budget above which a duplicated-digest/affected-doc sliver no
    * longer broadcasts (r8 verdict #1: on a raw crawl the "sliver" is
    * corpus-scale — duplication runs tens of percent — and a forced
    * broadcast is a driver OOM). Sliver records are fixed-width ≤48 B
    * (a 32 B digest or a long id plus agg bookkeeping), so rows are the
    * honest budget unit: the 2M default is ~64 MB on the driver —
    * comfortably inside a 1 GB driver, far under executor broadcast
    * limits. Conf-tunable so the parity gate and SubstringShuffleSpec
    * can force the shuffle path at test scale.
    */
  private[graft] val SliverBroadcastMaxRowsKey = "graft.sliver.broadcastMaxRows"

  /** Size-adaptive build side for sliver joins: eagerly materialize the
    * sliver once (localCheckpoint, released by the consumer's
    * [[Pinned]] drain), COUNT it — a metadata read over the cached
    * blocks — and pick the join strategy from the measured size:
    *
    *   - under the budget → `broadcast()`: the probe stream (one row
    *     per token/char position) never shuffles at all;
    *   - over the budget → `hint("shuffle_hash")`: a co-partitioned
    *     shuffle-hash join — both sides hash-partition on the uniform
    *     digest key (no skew by construction), the build side stays the
    *     narrow digest sliver, and nothing is forced through the
    *     driver. The probe stream pays its one narrow-record shuffle —
    *     the floor for exact matching once duplication is corpus-scale —
    *     but digests+ints move, never gram text.
    *
    * The checkpoint doubles as exchange-reuse: the sliver's groupBy
    * runs once, feeding both the count and every downstream join.
    */
  private[graft] def adaptiveBuild(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val budget = s.conf.getOption(SliverBroadcastMaxRowsKey)
      .map(_.toLong).getOrElse(2000000L)
    val slv = Pinned.track(df.localCheckpoint(true))
    if (slv.count() <= budget) broadcast(slv) else slv.hint("shuffle_hash")
  }

  /** C37 `dedup_substring_spans` core over any (doc_id, text) frame —
    * see the query's scaladoc for the shuffle-shape reasoning. The
    * duplicated-digest sliver comes from a map-side-combinable
    * groupBy(h) and joins back as a size-adaptive semi join
    * ([[adaptiveBuild]]): broadcast while the sliver fits (probe-side
    * gram stream never shuffles, at the price of generating grams twice
    * — two scan-speed passes), co-bucketed shuffle-hash once it
    * doesn't.
    */
  private[graft] def substringSpans(d: DataFrame, n: Int): DataFrame = {
    val grams = substringGrams(d, n)
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).select(col("h"))
    spanCoverage(grams.join(adaptiveBuild(dup), Seq("h"), "left_semi"), n)
  }

  /** C37b char-grain gram stream: the 50-char form of
    * [[substringGrams]] — one 32 B digest per CHARACTER position,
    * hashed inside the generate+project (the 50-byte gram string lives
    * only within codegen, never shuffles). Positions are 0-based char
    * offsets; `n_tokens` carries length(text) so the shared
    * [[spanCoverage]]/[[spanFold]] pipeline applies unchanged (the
    * query renames it n_chars at the edge).
    */
  private[graft] def substringCharGrams(d: DataFrame, n: Int): DataFrame =
    d.where(length(col("text")) >= n)
      .select(col("doc_id"), length(col("text")).as("n_tokens"),
        // rolling 128-bit digests per char position — no n-char gram
        // strings materialize (see substringGrams's key rationale)
        posexplode(graft.functions.Kernels.charGramHashes(col("text"), n))
          .as(Seq("pos", "h")))

  /** C37b `dedup_substring_chars` core — [[substringSpans]]'s
    * sliver/adaptive-semi/interval-union shape on CHARACTER k-grams.
    */
  private[graft] def substringCharSpans(d: DataFrame, n: Int): DataFrame = {
    val grams = substringCharGrams(d, n)
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).select(col("h"))
    spanCoverage(grams.join(adaptiveBuild(dup), Seq("h"), "left_semi"), n)
      .withColumnRenamed("n_tokens", "n_chars")
  }

  /** The pre-r7 window-count form of C37 — shuffles one row per corpus
    * token position (a window count cannot map-side combine). Kept ONLY
    * as SubstringShuffleSpec's measured comparator and equality
    * witness; the shipped operator is [[substringSpans]].
    */
  private[graft] def substringSpansWindowed(d: DataFrame, n: Int): DataFrame =
    spanCoverage(
      substringGrams(d, n)
        .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
        .where(col("cnt") > 1)
        .drop("cnt"), n)

  /** The cascade oracle's CTE chain (url canon → exact digest →
    * survivor-scoped near-dup mining → recursive-CC labels → the nd
    * dropped-id set), factored so the C75 diversity-gain oracle
    * restates THE SAME staged decision the cascade gate pins.
    * Interpolate after a `WITH RECURSIVE ` head.
    *
    * A `def`, not a `val`: Text.all interpolates this while Dedup.all
    * interpolates Text vals — a stored field here would read null
    * during the Dedup→Text→Dedup object-initialization cycle; the def
    * evaluates at call time, when Text's (earlier-declared) url vals
    * are already set.
    */
  /** Stage 1+2 of the cascade oracle (url canon keep → exact digest
    * keep) — the PREFIX the sf3 stage-composed gates check on its own:
    * no gram join, no recursion, so DuckDB runs it at any scale.
    */
  private[queries] def cascadeUrlExactCtes: String =
    s"""u AS (SELECT doc_id, (${Text.messyUrlSql}) AS url FROM documents),
        |${Text.urlCanonCtes},
        |s1 AS (SELECT d.doc_id, d.text,
        |  CASE WHEN d.doc_id = min(d.doc_id) OVER (PARTITION BY c4.canon)
        |    THEN 1 ELSE 0 END AS url_keep
        |  FROM documents d JOIN c4 ON c4.doc_id = d.doc_id),
        |s2 AS (SELECT doc_id, text,
        |  CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY k) THEN 1 ELSE 0 END AS exact_keep
        |  FROM (SELECT doc_id, text,
        |          ${Curation.normSql()} AS k
        |        FROM s1 WHERE url_keep = 1))""".stripMargin

  /** The exact τ=0.8 3-gram Jaccard pair miner over a `docs_ws`
    * (doc_id, ws) CTE the caller supplies — the MIDDLE fragment, shared
    * verbatim by the cascade oracle (survivor-scoped docs_ws), the
    * full-corpus miner gate, and the keep-best oracle, ending at a
    * `pairs` (a_id, b_id, jacc) CTE with NO recursion downstream.
    */
  private[queries] def minerCtes: String =
    """w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
        |grams AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT a_id, b_id, round(i / (ca.c + cb.c - i), 4) AS jacc FROM inter
        |  JOIN cnt ca ON ca.doc_id = a_id
        |  JOIN cnt cb ON cb.doc_id = b_id
        |  WHERE i / (ca.c + cb.c - i) >= 0.8)""".stripMargin

  /** The recursive-CC closure over a `pairs` CTE → `nd` dropped-id set
    * — the one fragment whose DuckDB working set (full transitive
    * closure, Σ|C|² rows) exceeds the box at sf3; the stage-composed
    * gates replace it there with the Spark-side algorithm-diversity
    * parity gate (`inv_cascade_cc_parity`).
    */
  private[queries] def ccClosureCtes: String =
    """edges AS (SELECT a_id, b_id FROM pairs
        |          UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
        |nodes AS (SELECT DISTINCT a_id AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.b_id AS id, reach.r FROM reach JOIN edges e ON e.a_id = reach.id),
        |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
        |nd AS (SELECT id AS doc_id FROM labels WHERE id <> label)""".stripMargin

  private[queries] def cascadeCtes: String =
    s"""$cascadeUrlExactCtes,
        |docs_ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM s2
        |  WHERE exact_keep = 1 AND len(string_split(text, ' ')) >= 3),
        |$minerCtes,
        |$ccClosureCtes""".stripMargin

  val all: Seq[Q] = Seq(

    // C1: exact dedup — hash-groupBy on normalized text, keep min id.
    Q("dedup_exact",
      s"""SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt
        |FROM documents
        |GROUP BY ${Curation.normSql()}
        |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      // group on unhex(sha2) of the normalized text, not the text
      // itself: the shuffle key shrinks from ~300 B of document text to
      // the true 32 B digest (sha2() alone returns 64-char HEX — wider
      // than many texts; unhex makes it binary) — at 100 TB that is the
      // difference between shuffling the corpus and shuffling a
      // fingerprint column (collision odds ~n²/2²⁵⁶ ≈ 0)
      docs(s, dir)
        .groupBy(normDigest.as("h"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))
        .select(col("keep_id"), col("dup_cnt"))
        .orderBy(col("keep_id"))
    },

    // C1b (r9): SOFT dedup — keep every copy but DOWN-WEIGHT it by its
    // exact-dup cluster size (weight_bp = 10000 div n, so a cluster
    // contributes ~one document's worth of gradient mass however often
    // it was crawled). The data-constrained-scaling alternative to C1's
    // hard removal (repeating data helps until it doesn't; weighting
    // keeps the marginal value without the over-count), and the weights
    // feed C29's weighted sampling directly. Scale shape: same 32 B
    // digest groupBy as C1 (map-side combinable), the per-cluster count
    // joins back co-partitioned on the digest — the corpus pays the C1
    // shuffle once and nothing else; all integer ⇒ hash-gated.
    Q("dedup_soft_weights",
      s"""WITH k AS (
        |  SELECT doc_id, ${Curation.normSql()} AS k
        |  FROM documents),
        |c AS (SELECT k, count(*) AS n FROM k GROUP BY k)
        |SELECT k.doc_id, CAST(c.n AS BIGINT) AS cluster_n,
        |  CAST(10000 // c.n AS BIGINT) AS weight_bp
        |FROM k JOIN c ON c.k = k.k
        |ORDER BY k.doc_id""".stripMargin) { (s, dir) =>
      val k = docs(s, dir)
        .select(col("doc_id"), normDigest.as("h"))
      val c = k.groupBy(col("h")).agg(count(lit(1)).as("n"))
      k.join(c, Seq("h"))
        .select(col("doc_id"), col("n").as("cluster_n"),
          expr("10000 div n").as("weight_bp"))
        .orderBy(col("doc_id"))
    },

    // C1c (r9): duplication DATA CARD — the cluster-size histogram
    // dedup reports publish (how duplicated is this crawl, and what
    // does dedup buy?): per exact-dup cluster size, cluster/doc/dup-doc
    // counts, token mass, and the tokens dedup would remove (copies of
    // a cluster are byte-identical, so per-copy tokens = toks div sz —
    // excess is integer-EXACT, not an estimate). The number that decides
    // whether to run the heavier near-dup passes at all.
    // 100 TB shape: the C1 digest agg (map-side combinable, 32 B keys)
    // then a |distinct sizes| (≤ dozens) second agg — nothing else.
    Q("dedup_cluster_stats",
      s"""WITH k AS (
        |  SELECT ${Curation.normSql()} AS k,
        |    CAST(count(*) AS BIGINT) AS sz,
        |    CAST(sum(len(string_split(${Curation.normSql()}, ' '))) AS BIGINT) AS toks
        |  FROM documents GROUP BY k)
        |SELECT sz AS cluster_size,
        |  count(*) AS n_clusters,
        |  CAST(sz * count(*) AS BIGINT) AS n_docs,
        |  CAST((sz - 1) * count(*) AS BIGINT) AS dup_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens,
        |  CAST(sum(toks - toks // sz) AS BIGINT) AS excess_tokens
        |FROM k GROUP BY sz ORDER BY cluster_size""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .groupBy(normDigest.as("h"))
        // token mass over the NORMALIZED text (the cluster key's string):
        // copies are then literally identical, so per-copy tokens =
        // toks div sz is exact even for whitespace-variant duplicates
        .agg(count(lit(1)).as("sz"),
          sum(size(split(normText, " ")).cast("long")).as("toks"))
        .groupBy(col("sz"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("toks")).as("n_tokens"),
          sum(col("toks") - expr("toks div sz")).as("excess_tokens"))
        .select(col("sz").as("cluster_size"), col("n_clusters"),
          (col("sz") * col("n_clusters")).as("n_docs"),
          ((col("sz") - lit(1L)) * col("n_clusters")).as("dup_docs"),
          col("n_tokens"), col("excess_tokens"))
        .orderBy(col("cluster_size"))
    },

    // C2: bag-of-words dedup — canonical representative + cluster size per
    // word-set signature (collisions are real here: small synthetic vocab).
    Q("dedup_exact_keep_first",
      """WITH sigs AS (
        |  SELECT doc_id,
        |    array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ') AS sig
        |  FROM documents)
        |SELECT min(doc_id) AS keep_id, count(*) AS cluster_size
        |FROM sigs GROUP BY sig
        |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          unhex(sha2(array_join(array_sort(array_distinct(words)), " "), 256)).as("sig"))
        .groupBy(col("sig"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cluster_size"))
        .select(col("keep_id"), col("cluster_size"))
        .orderBy(col("keep_id"))
    },

    // C3: word-3-gram Jaccard near-dup pairs via inverted-index join
    // (gram → docs), tau = 0.8. The oracle states the same computation
    // relationally; the planted near-dup pairs surface here.
    Q("dedup_ngram_jaccard",
      """WITH docs_ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
        |grams AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT a_id, b_id,
        |  round(i / (ca.c + cb.c - i), 4) AS jacc
        |FROM inter
        |JOIN cnt ca ON ca.doc_id = a_id
        |JOIN cnt cb ON cb.doc_id = b_id
        |WHERE i / (ca.c + cb.c - i) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // prefix-filtered AllPairs join at tau = 4/5 — see
      // [[ngramJaccardPairs]] for the skew/exactness story; single
      // consumption over a raw scan → no internal materialization (r13)
      ngramJaccardPairs(docs(s, dir), 4, 5, materialize = false)
        .orderBy(col("a_id"), col("b_id"))
    },

    // C4: MinHash(128) + 32×4 LSH banding; candidates only meet inside a
    // band bucket, then exact Jaccard verifies. Same output contract as
    // C3 — DedupSpec asserts set-equality vs the exact inverted index at
    // this tau (banding probability ≈ 1 at j ≥ 0.8). Driver check is
    // rows-only (the SQL oracle can't express the banding).
    Q.noOracle("dedup_minhash_lsh") { (s, dir) =>
      minhashLshPairs(docs(s, dir), 4, 5).orderBy(col("a_id"), col("b_id"))
    },

    // C5: 64-bit SimHash near-dup candidates at hamming <= 3, via the
    // 4-block pigeonhole join, verified with exact popcount. Spec-checked
    // against brute-force hamming; rows-only for the driver.
    Q.noOracle("dedup_simhash") { (s, dir) =>
      simhashPairs(docs(s, dir)).orderBy(col("a_id"), col("b_id"))
    },

    // C4e (r11): the HASH-GATED MinHash-LSH — the C8l/C8m/C8n
    // integer-determinism scheme applied to the near-dup family. The
    // production sketch (C4) is rows-only because its splitmix64 gram
    // hash has no SQL restatement; here the base hash is a codepoint
    // polynomial mod 2³¹−1 (Kernels.hashCp — DuckDB computes the same
    // value with a list_reduce lambda fold), so the ENTIRE pipeline —
    // 128 affine permutations, 32×4 banding, bucket-equality candidates,
    // exact gram-Jaccard verification — is integer-decidable and the
    // driver's rows+schema+hash gate covers a MinHash-LSH miner
    // end-to-end. Same scale shape as C4: band keys are (band, 4-hash)
    // buckets, candidates never leave a bucket, text joins back only for
    // the surviving sliver.
    Q("dedup_minhash_int",
      s"""WITH $minhashIntCtes,
        |cand AS (${Similar.selfPairsSql("bands", "doc_id", Seq("band", "bk"))}),
        |inter AS (
        |  SELECT c.a_id, c.b_id, count(*) AS i
        |  FROM cand c
        |  JOIN grams ga ON ga.doc_id = c.a_id
        |  JOIN grams gb ON gb.doc_id = c.b_id AND gb.g = ga.g
        |  GROUP BY c.a_id, c.b_id)
        |SELECT i.a_id, i.b_id, round(i.i / (ca.c + cb.c - i.i), 4) AS jacc
        |FROM inter i
        |JOIN cnt ca ON ca.doc_id = i.a_id
        |JOIN cnt cb ON cb.doc_id = i.b_id
        |WHERE i.i / (ca.c + cb.c - i.i) >= 0.8
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      minhashIntPairs(docs(s, dir)).orderBy(col("a_id"), col("b_id"))
    },

    // C5b (r11): the HASH-GATED SimHash — 48 single-bit hashes derived
    // from the same SQL-restatable codepoint base hash (slot k's vote is
    // the low bit of a WRAPPING large-multiplier rehash mod 2³¹−1 — see
    // Kernels.simhashInt48 for the degenerate-parity pitfall the first
    // form hit), votes summed with word multiplicity, sign → bit;
    // candidates via the 2×24-bit pigeonhole block join (hamming ≤ 1
    // over 2 blocks ⇒ one block equal — candidate generation is EXACT,
    // not approximate), verified by popcount on the XOR. Radius 1 on 48
    // bits (≥97.9% vote agreement) is the calibrated near-dup bar for
    // this corpus: radius 3 admits the template-quadratic tail (1.04M
    // pairs at sf1 vs the float 64-bit form's 13.9k) — the pair set
    // must stay linear-ish in the corpus for the operator to ship at
    // 100 TB. 48 bits keeps every intermediate (bit << k sums, block
    // values) inside signed-BIGINT semantics both engines share. Every
    // step integer ⇒ full rows+schema+hash gate; the float-free
    // analogue of C5's production form.
    Q("dedup_simhash_int",
      s"""WITH wx AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |  WHERE text IS NOT NULL),
        |wh AS (SELECT doc_id,
        |         CASE WHEN length(w) = 0 THEN 0 ELSE
        |           list_reduce(list_transform(range(1, length(w) + 1),
        |               i -> CAST(ord(substr(w, i, 1)) AS BIGINT)),
        |             (h, c) -> (h * 31 + c) % 2147483647) END AS h
        |       FROM wx),
        |bits AS (
        |  SELECT doc_id, k.k,
        |    CASE WHEN sum(CASE WHEN ((h * (2654435761 + 2 * k.k) + k.k * 2246822519)
        |                             % 2147483647) & 1 = 1
        |                       THEN 1 ELSE -1 END) > 0
        |         THEN 1 ELSE 0 END AS bit
        |  FROM wh, range(0, 48) k(k)
        |  GROUP BY doc_id, k.k),
        |sig AS (SELECT doc_id, sum(CAST(bit AS BIGINT) << CAST(k AS INT)) AS sh
        |        FROM bits GROUP BY doc_id),
        |${Similar.hammingPairsSql("sig", "doc_id", "sh", 2, 24, 1)}""".stripMargin) { (s, dir) =>
      simhashIntPairs(docs(s, dir)).orderBy(col("a_id"), col("b_id"))
    },

    // C6: embedding-cosine near-dup pairs (exact, tau = 0.5 on the rounded
    // score). ORACLE BASELINE ONLY — the plan is a deliberate O(n²)
    // BroadcastNestedLoopJoin used to gate correctness of the scale path;
    // [[embeddingPairsExact]]'s size guard refuses corpora past 50k
    // vectors so it cannot be reached by accident. Scale traffic goes
    // through dedup_embedding_lsh (same cosine verification,
    // LSH-bucketed candidates) or dedup_semantic (cluster-then-dedup).
    Q("dedup_embedding",
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings),
        |x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
        |             generate_subscripts(embedding, 1) AS i FROM e),
        |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM x GROUP BY vec_id),
        |d AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, sum(a.v * b.v) AS dot
        |      FROM x a JOIN x b ON a.i = b.i AND a.vec_id < b.vec_id
        |      GROUP BY a.vec_id, b.vec_id)
        |SELECT a_id, b_id, round(dot / (na.nrm * nb.nrm), 4) AS cos
        |FROM d JOIN n na ON na.vec_id = a_id JOIN n nb ON nb.vec_id = b_id
        |WHERE round(dot / (na.nrm * nb.nrm), 4) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      embeddingPairsExact(Ann.embsWithNorm(s, dir))
        .orderBy(col("a_id"), col("b_id"))
    },

    // C4b: near-dup pairs → connected components → canonical clusters
    // (keep min-id per component) — the step that turns pair mining into
    // C70 (r9): n-gram NOVELTY score — per doc, how much of it exists
    // elsewhere in the corpus (share of its distinct 3-grams occurring
    // in >= 2 docs): the inter-document repetition scalar quality
    // filters threshold on (template/boilerplate-heavy docs score low).
    // C20 measures repetition WITHIN a doc and C25/C25b act on chunk
    // grain; this is the corpus-relative per-doc score. Integer bp =>
    // hash-gated.
    // 100 TB shape: one explode of distinct per-doc grams (the C3 JIT
    // kernel), ONE gram-keyed shuffle shared by the df count and the
    // join-back (co-partitioned), one map-side-combinable doc agg --
    // tfidf's exchange class, nothing quadratic.
    Q("text_ngram_novelty",
      """WITH docs_ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
        |grams AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |d AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |  CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |  (count(*) - CAST(sum(CASE WHEN df > 1 THEN 1 ELSE 0 END) AS BIGINT))
        |    * 10000 // count(*) AS novelty_bp
        |FROM grams JOIN d USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val g = docs(s, dir)
        .select(col("doc_id"), words.as("ws"))
        .where(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(gramsOf(col("ws"))).as("g"))
      val gdf = g.groupBy(col("g")).agg(count(lit(1)).as("df"))
      g.join(gdf, "g")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("df") > 1, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_grams"), col("n_shared"),
          expr("(n_grams - n_shared) * 10000 div n_grams").as("novelty_bp"))
        .orderBy(col("doc_id"))
    },

    // an actual dedup decision. See [[connectedComponents]] (reusable
    // over any pair source; spec-verified against union-find on the
    // collected pairs, and run with reliable checkpointing in the spec).
    // The oracle restates it as min-label reachability: the C3 pair CTEs
    // (already hash-gated) feed a WITH RECURSIVE closure — every node's
    // label is the minimum id it can reach, i.e. the component minimum.
    Q("dedup_clusters",
      """WITH RECURSIVE docs_ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
        |grams AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN cnt ca ON ca.doc_id = a_id
        |  JOIN cnt cb ON cb.doc_id = b_id
        |  WHERE i / (ca.c + cb.c - i) >= 0.8),
        |edges AS (SELECT a_id, b_id FROM pairs
        |          UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
        |nodes AS (SELECT DISTINCT a_id AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.b_id AS id, reach.r FROM reach JOIN edges e ON e.a_id = reach.id),
        |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id)
        |SELECT label AS cluster_id, count(*) AS cluster_size,
        |  string_agg(id, ',' ORDER BY id) AS members
        |FROM labels GROUP BY label ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      ensureLocalCkptDir(s)
      // the raw miner, NOT the gated query — the gate's presentation
      // ORDER BY would range-partition the pair set just to have the
      // edges union immediately discard the order
      val pairs = ngramJaccardPairs(docs(s, dir), 4, 5)
      val labels = connectedComponents(pairs)
      labels.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          sort_array(collect_list(col("id"))).as("members"))
        .select(col("cluster_id"), col("cluster_size"),
          concat_ws(",", col("members").cast("array<string>")).as("members"))
        .orderBy(col("cluster_id"))
    },

    // C68 (r9): the staged dedup CASCADE — production dedup runs
    // cheapest-first (URL identity on a 40 B string, then exact content
    // digests, then near-dup mining over what's left) because each
    // stage shrinks the next stage's input; this operator runs the
    // three stages IN ORDER and attributes every document to the stage
    // that killed it (url / exact / neardup / kept) — the per-doc audit
    // trail of the whole dedup plan, hash-gated end-to-end.
    // Stage gating matters for correctness, not just cost: a url-killed
    // doc must not win its exact-digest group, so each stage's
    // keep-first runs over the previous stage's SURVIVORS only.
    // 100 TB shape: ONE slim projection (doc_id, canon, digest) drives
    // stages 1-2 as windows over 40 B / 32 B keys — text never enters
    // them; text is read into the gram miner once, for exact-survivors
    // only (semi join on doc_id), where corpus-scale work is inherent;
    // the verdict assembly joins doc_id-keyed slim frames (zero-exchange
    // once the corpus is bucketed by doc_id at rest).
    Q("pipeline_dedup_cascade",
      s"""WITH RECURSIVE ${Dedup.cascadeCtes}
        |SELECT d.doc_id,
        |  CASE WHEN s1.url_keep = 0 THEN 'url'
        |       WHEN s2.exact_keep = 0 THEN 'exact'
        |       WHEN nd.doc_id IS NOT NULL THEN 'neardup'
        |       ELSE 'kept' END AS stage
        |FROM documents d
        |LEFT JOIN s1 ON s1.doc_id = d.doc_id
        |LEFT JOIN s2 ON s2.doc_id = d.doc_id
        |LEFT JOIN nd ON nd.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      ensureLocalCkptDir(s)
      cascadeStages(s, dir).orderBy(col("doc_id"))
    },

    // C76 (r11): the AT-SCALE cascade — identical url/exact stages, but
    // stage 3 mines near-dup pairs with C4's MinHash(128)+32×4-band LSH
    // instead of the exact prefix-filtered AllPairs miner. The exact
    // miner is the suite's one measured-superlinear component (sf3
    // sweep: 6.0× pair-mass growth for 3× corpus — template-quadratic);
    // banding keeps candidate generation bucket-local (pairs meet only
    // inside a (band, 4-hash) bucket), so at 100 TB THIS is the form
    // that completes. Same verified-Jaccard output contract (LSH
    // candidates re-verify with exact gram Jaccard at tau=4/5, within
    // the banding's ≈1 capture range), so stage verdicts are
    // sound-by-subset vs the exact cascade: a doc this form kills as
    // neardup is provably neardup in the exact form too; misses are
    // bounded by `inv_cascade_minhash_parity` (keep-rate delta ≤1%).
    // Rows-only (banding isn't SQL); that gate is the named evidence.
    Q.noOracle("pipeline_dedup_cascade_minhash") { (s, dir) =>
      ensureLocalCkptDir(s)
      cascadeStages(s, dir, minhashLshPairs(_, 4, 5)).orderBy(col("doc_id"))
    },

    // C68b (r11): the cascade's stage-1/2 decision surface as its OWN
    // gate — per doc, the url-canon keep bit and (for url survivors)
    // the exact-digest keep bit, from the SAME cascadeKeyFrames the
    // shipped cascade consumes. One of the three stage-composed gates
    // (r10 verdict #6) that carry the cascade's correctness to sf3,
    // where the monolithic recursive-CTE oracle exceeds the box's
    // spill budget: THIS oracle has no gram join and no recursion, so
    // DuckDB runs it at any scale.
    Q("cascade_stage_keys",
      s"""WITH $cascadeUrlExactCtes
         |SELECT s1.doc_id, CAST(s1.url_keep AS BIGINT) AS url_keep,
         |  CAST(s2.exact_keep AS BIGINT) AS exact_keep
         |FROM s1 LEFT JOIN s2 ON s2.doc_id = s1.doc_id
         |ORDER BY s1.doc_id""".stripMargin) { (s, dir) =>
      val (s1, s2) = cascadeKeyFrames(s, dir)
      s1.select(col("doc_id"), col("url_keep").cast("long").as("url_keep"))
        .join(s2.select(col("doc_id"), col("exact_keep").cast("long").as("exact_keep")),
          Seq("doc_id"), "left_outer")
        .orderBy(col("doc_id"))
    },

    // C68c (r11): the cascade's stage-3 pair set as its OWN gate — the
    // exact τ=0.8 3-gram Jaccard pairs over the url+exact survivors,
    // from the SAME miner + survivor frame the shipped cascade runs.
    // Second stage-composed gate: the oracle ends at the pairs CTE (NO
    // recursive closure), cutting the DuckDB working set from the
    // monolithic form's transitive-closure blowup (Σ|C|² reach rows on
    // top of the gram join) to the gram join alone — the sf3-runnable
    // shape. The CC closure over these pairs is gated by the Spark-side
    // algorithm-diversity parity gate (inv_cascade_cc_parity), and the
    // final verdict assembly stays pinned by the monolithic cascade
    // oracle at sf0.01/0.1/1.
    Q("cascade_stage_pairs",
      s"""WITH $cascadeUrlExactCtes,
         |docs_ws AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM s2
         |  WHERE exact_keep = 1 AND len(string_split(text, ' ')) >= 3),
         |$minerCtes
         |SELECT a_id, b_id, jacc FROM pairs
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      ngramJaccardPairs(cascadeSurvivorDocs(s, dir), 4, 5)
        .orderBy(col("a_id"), col("b_id"))
    },

    // C3b (r11): the exact miner over the FULL corpus as a direct gate
    // — dedup_keep_best's stage-1 edge set (C4c mines unfiltered
    // documents), previously hash-checked only inside larger composed
    // oracles. Same no-recursion oracle shape as cascade_stage_pairs;
    // with inv_cascade_cc_parity gating the closure and the per-cluster
    // quality argmax pinned by the monolithic keep_best oracle at
    // sf0.01/0.1/1, every keep_best stage is separately gated at sf3.
    Q("dedup_pairs_exact",
      s"""WITH docs_ws AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
         |  WHERE len(string_split(text, ' ')) >= 3),
         |$minerCtes
         |SELECT a_id, b_id, jacc FROM pairs
         |ORDER BY a_id, b_id""".stripMargin) { (s, dir) =>
      // single consumption over a raw scan → no internal materialization
      ngramJaccardPairs(docs(s, dir), 4, 5, materialize = false)
        .orderBy(col("a_id"), col("b_id"))
    },

        // C4c: quality-aware retention — the near-dup decision real curation
    // pipelines actually ship: within each near-dup cluster keep the
    // HIGHEST-quality member (C10's quality_bp, doc_id tie-break), not
    // the arbitrary min-id canonical. Composition: C3 pair mining →
    // C17 connected components → C10 quality → per-cluster argmax.
    // Scale shape: quality_bp is a scan-speed per-row projection
    // computed BEFORE the join, so the label join moves two SLIM tables
    // ((doc_id, quality_bp) vs (id, label)) — the text column never
    // shuffles; no broadcast hint on the label side because near-dup
    // membership is a corpus-scale fraction, not a dimension table. The
    // window runs over cluster members only. Oracle = the dedup_clusters
    // recursive-CTE closure extended with the text_quality CTE and the
    // same argmax — all integer arithmetic, hash-gated.
    Q("dedup_keep_best",
      s"""WITH RECURSIVE docs_ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
        |grams AS (
        |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |cnt AS (SELECT doc_id, count(*) AS c FROM grams GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
        |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id),
        |pairs AS (
        |  SELECT a_id, b_id FROM inter
        |  JOIN cnt ca ON ca.doc_id = a_id
        |  JOIN cnt cb ON cb.doc_id = b_id
        |  WHERE i / (ca.c + cb.c - i) >= 0.8),
        |edges AS (SELECT a_id, b_id FROM pairs
        |          UNION SELECT b_id AS a_id, a_id AS b_id FROM pairs),
        |nodes AS (SELECT DISTINCT a_id AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.b_id AS id, reach.r FROM reach JOIN edges e ON e.a_id = reach.id),
        |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
        |q AS (${Curation.qualitySql("doc_id")}),
        |m AS (SELECT l.id, l.label, q.quality_bp
        |      FROM labels l JOIN q ON q.doc_id = l.id),
        |r AS (SELECT id, label, quality_bp, row_number() OVER (
        |        PARTITION BY label ORDER BY quality_bp DESC, id) AS rk
        |      FROM m)
        |SELECT label AS cluster_id, count(*) AS cluster_size,
        |  CAST(max(CASE WHEN rk = 1 THEN id END) AS BIGINT) AS kept_id,
        |  CAST(max(CASE WHEN rk = 1 THEN quality_bp END) AS BIGINT) AS kept_quality_bp,
        |  string_agg(CASE WHEN rk > 1 THEN id END, ',' ORDER BY id) AS dropped_ids
        |FROM r GROUP BY label ORDER BY cluster_id""".stripMargin) { (s, dir) =>
      ensureLocalCkptDir(s)
      val pairs = ngramJaccardPairs(docs(s, dir), 4, 5)
      val labels = connectedComponents(pairs)
      // quality as a narrow projection at scan speed, BEFORE the join:
      // only (doc_id, quality_bp) ever reaches the exchange
      val qual = Curation.quality(docs(s, dir), col("doc_id"))
        .select(col("doc_id"), col("quality_bp"))
      val ranked = labels.join(qual, col("id") === col("doc_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("label"))
            .orderBy(col("quality_bp").desc, col("id"))))
      ranked.groupBy(col("label").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"),
          max(when(col("rk") === 1, col("id"))).as("kept_id"),
          max(when(col("rk") === 1, col("quality_bp"))).as("kept_quality_bp"),
          concat_ws(",", sort_array(collect_list(when(col("rk") > 1, col("id"))))
            .cast("array<string>")).as("dropped_ids"))
        .orderBy(col("cluster_id"))
    },

    // C25: corpus-wide duplicated-chunk (boilerplate) detection — the
    // CCNet/RefinedWeb paragraph-dedup step adapted to chunk-grain: a
    // 10-word chunk appearing in MORE THAN ONE document is boilerplate;
    // per-doc output = chunk counts + duplicated fraction (integer bp).
    // Cross-document by nature, so the chunk stream legitimately
    // shuffles once — on a 32 B BINARY sha2 fingerprint (unhex; the hex
    // string alone would be 64 B — wider than the chunk text), the same
    // key-shrinking trade as dedup_exact; collisions ~n²/2²⁵⁶ ≈ 0. The
    // oracle states the identical computation over the raw strings.
    Q("dedup_chunks",
      """WITH docs_ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM docs_ws),
        |c AS (SELECT doc_id, (i-1)//10 AS ci, string_agg(w, ' ' ORDER BY i) AS chunk, count(*) AS n
        |      FROM w GROUP BY doc_id, (i-1)//10),
        |full_c AS (SELECT doc_id, ci, chunk FROM c WHERE n = 10),
        |df AS (SELECT chunk, count(DISTINCT doc_id) AS docs FROM full_c GROUP BY chunk),
        |per AS (SELECT f.doc_id, count(*) AS n_chunks,
        |        sum(CASE WHEN df.docs > 1 THEN 1 ELSE 0 END) AS n_dup
        |        FROM full_c f JOIN df ON df.chunk = f.chunk GROUP BY f.doc_id)
        |SELECT doc_id, n_chunks, CAST(n_dup AS BIGINT) AS n_dup,
        |  CAST((n_dup*10000)//n_chunks AS BIGINT) AS dup_bp
        |FROM per WHERE n_dup > 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val chunks = docs(s, dir).where(size(words) >= 10)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), floor(size(words) / 10).cast("int") - 1),
            k => unhex(sha2(concat_ws(" ", slice(words, k * 10 + 1, lit(10))), 256)))).as("h"))
      val chunkDf = chunks.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("docs"))
      chunks.join(chunkDf, "h")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("docs") > 1, lit(1L)).otherwise(lit(0L))).as("n_dup"))
        .where(col("n_dup") > 0)
        .select(col("doc_id"), col("n_chunks"), col("n_dup"),
          expr("(n_dup * 10000) div n_chunks").as("dup_bp"))
        .orderBy(col("doc_id"))
    },

    // C25b: boilerplate REMOVAL — C25 detects documents carrying
    // duplicated chunks; this REWRITES them without the boilerplate
    // (the CCNet/RefinedWeb action on the C25 signal: drop the repeated
    // header/footer/nav chunks, keep the unique prose). Per affected
    // doc: full-chunk count, removed count, and the clean text — kept
    // chunks plus the always-kept <10-token tail, reassembled in
    // original order.
    // 100 TB shape: detection runs on a SLIM (doc_id, digest) stream
    // (text never enters the chunk-frequency shuffle, which partial-
    // aggregates 32 B digests); the duplicated-digest sliver and the
    // affected-doc id set join back SIZE-ADAPTIVELY (adaptiveBuild:
    // broadcast while they fit, co-bucketed shuffle-hash once
    // boilerplate incidence makes them corpus-scale — the r8 verdict's
    // forced-broadcast fix), so the text-carrying pass is map-side
    // narrow for every UNaffected document on the broadcast path; the one
    // text-bearing exchange is the per-doc reassembly and carries only
    // AFFECTED docs' chunks — the decontaminate_spans "one record per
    // contaminated doc" shape. collect_list order is repaired by
    // array_sort on the chunk index (struct sorts by leading field),
    // so the rewrite is deterministic under any partitioning. A tail
    // (<10 tokens) can never string-equal a full 10-token chunk, so the
    // flag join needs no is_full guard.
    Q("text_remove_boilerplate",
      """WITH docs_ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents
        |                 WHERE len(string_split(text,' ')) >= 10),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM docs_ws),
        |c AS (SELECT doc_id, (i-1)//10 AS ci, string_agg(w, ' ' ORDER BY i) AS chunk, count(*) AS n
        |      FROM w GROUP BY doc_id, (i-1)//10),
        |fc AS (SELECT doc_id, ci, chunk FROM c WHERE n = 10),
        |dup AS (SELECT chunk FROM fc GROUP BY chunk HAVING count(DISTINCT doc_id) > 1),
        |flag AS (SELECT fc.doc_id, fc.ci, fc.chunk,
        |         CASE WHEN dup.chunk IS NULL THEN 0 ELSE 1 END AS d
        |         FROM fc LEFT JOIN dup ON dup.chunk = fc.chunk),
        |tails AS (SELECT doc_id, len(ws)//10 AS ci,
        |          array_to_string(ws[(len(ws)//10)*10+1:], ' ') AS chunk
        |          FROM docs_ws WHERE len(ws) % 10 > 0),
        |keep AS (SELECT doc_id, ci, chunk, d FROM flag
        |         UNION ALL SELECT doc_id, ci, chunk, 0 FROM tails),
        |a1 AS (SELECT doc_id, count(*) AS n_chunks, sum(d) AS n_removed
        |       FROM flag GROUP BY doc_id),
        |a2 AS (SELECT doc_id, string_agg(chunk, ' ' ORDER BY ci) AS clean_text
        |       FROM keep WHERE d = 0 GROUP BY doc_id)
        |SELECT a1.doc_id, CAST(n_chunks AS BIGINT) AS n_chunks,
        |       CAST(n_removed AS BIGINT) AS n_removed,
        |       coalesce(a2.clean_text, '') AS clean_text
        |FROM a1 LEFT JOIN a2 USING (doc_id)
        |WHERE n_removed > 0 ORDER BY a1.doc_id""".stripMargin) { (s, dir) =>
      val base = docs(s, dir).where(size(words) >= 10)
        .select(col("doc_id"), words.as("ws"))
      // slim detection stream: (doc_id, 32 B digest) per full chunk
      val hashes = base.select(col("doc_id"),
        explode(transform(sequence(lit(0), expr("size(ws) div 10").cast("int") - 1),
          k => unhex(sha2(concat_ws(" ", slice(col("ws"), k * 10 + 1, lit(10))), 256)))).as("h"))
      // sliver — materialized once (adaptiveBuild checkpoints+counts),
      // consumed by the affected-doc probe AND the chunk-flag join below
      val dupH = adaptiveBuild(hashes.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("docs"))
        .where(col("docs") > 1).select(col("h")))
      // the affected-doc id set has the same corpus-scale failure mode
      // as the digest sliver (boilerplate incidence can be most of a
      // crawl), so it goes through the same size-adaptive build
      val affected = adaptiveBuild(hashes.join(dupH, Seq("h"), "left_semi")
        .select(col("doc_id")).distinct())
      // text-carrying pass: chunks + tail as (ci, chunk, is_full) structs,
      // map-side restricted to affected docs
      val exploded = base.join(affected, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), explode(expr(
          """transform(
            |  sequence(0L, (size(ws) div 10) - (CASE WHEN size(ws) % 10 = 0 THEN 1 ELSE 0 END)),
            |  i -> struct(i AS ci,
            |    concat_ws(' ', slice(ws, CAST(i*10+1 AS INT),
            |      CAST(CASE WHEN i < size(ws) div 10 THEN 10 ELSE size(ws) % 10 END AS INT))) AS chunk,
            |    i < size(ws) div 10 AS is_full))""".stripMargin)).as("c"))
        .select(col("doc_id"), col("c.ci").as("ci"), col("c.chunk").as("chunk"),
          col("c.is_full").as("is_full"))
      exploded
        .join(dupH, unhex(sha2(col("chunk"), 256)) === col("h"), "left_outer")
        .groupBy(col("doc_id"))
        .agg(sum(when(col("is_full"), lit(1L)).otherwise(lit(0L))).as("n_chunks"),
          sum(when(col("h").isNotNull, lit(1L)).otherwise(lit(0L))).as("n_removed"),
          array_join(transform(array_sort(collect_list(
              when(col("h").isNull, struct(col("ci"), col("chunk"))))),
            x => x.getField("chunk")), " ").as("clean_text"))
        .where(col("n_removed") > 0)
        .select(col("doc_id"), col("n_chunks"), col("n_removed"), col("clean_text"))
        .orderBy(col("doc_id"))
    },

    // C37: exact duplicated-SUBSTRING coverage — the signal C25's
    // DISJOINT chunks structurally miss: a passage repeated across
    // documents but straddling a chunk boundary never matches any
    // chunk, while every repeated run of >= n words contains at least
    // one repeated OVERLAPPING n-gram. This is the word-grain form of
    // suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    // Training Data Makes Language Models Better") and of Gopher's
    // duplicated-n-gram-fraction filter: emit every overlapping word
    // 10-gram with its start position, find digests occurring more
    // than once corpus-wide, keep those positions, and per document
    // MERGE the covering spans [pos, pos+10) — an interval-union fold
    // over sorted starts — into the exact count of tokens inside any
    // duplicated run. Shuffle keys are digests, never gram text; the
    // per-doc collect_list is bounded by document length (positions,
    // not grams). The oracle restates the identical span-merge as a
    // gaps-and-islands window (running max of preceding span ends).
    //
    // SHUFFLE SHAPE (the r6 verdict's one wrong-shape shuffle, fixed):
    // the duplicate set was a `count(*) over (partition by h)` window,
    // which cannot map-side combine — the exchange carried one row per
    // corpus TOKEN POSITION (digest + doc + pos). Now the dup sliver
    // comes from groupBy(h) (partial-aggregated: the shuffle moves
    // (digest, cnt) records, combined within each map partition — at
    // 100 TB boilerplate-heavy corpora collapse hard here) and joins
    // back as a BROADCAST semi join, so the probe-side corpus never
    // shuffles at all; the only other exchange is the per-doc agg,
    // whose partials combine to ~one record per doc per partition.
    // Cost: the gram generation runs twice (two scan-speed passes, no
    // exchange-reuse dependency) — scans are the cheap resource at
    // scale, token-position-sized shuffles the expensive one. The
    // broadcast is SIZE-ADAPTIVE (adaptiveBuild): when a corpus's
    // duplicated-digest sliver outgrows the broadcast budget (raw
    // crawls — duplication runs tens of percent) the semi join switches
    // to a co-bucketed shuffle-hash join on the measured count; it
    // still builds on narrow digest records, never forces the sliver
    // through the driver. SubstringShuffleSpec MEASURES both forms'
    // shuffle records and pins both paths' row-for-row agreement;
    // inv_sliver_join_parity re-proves it at every gate scale.
    Q("dedup_substring_spans",
      """WITH docs_ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |g AS (SELECT doc_id, len(ws) AS n_tokens, gs-1 AS pos,
        |             array_to_string(ws[gs:gs+9], ' ') AS gram
        |      FROM docs_ws, UNNEST(generate_series(1, len(ws)-9)) AS t(gs)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |hit AS (SELECT g.doc_id, g.n_tokens, g.pos FROM g JOIN dup USING (gram)),
        |m AS (SELECT doc_id, n_tokens, pos,
        |        coalesce(max(pos + 10) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
        |      FROM hit),
        |cov AS (SELECT doc_id, any_value(n_tokens) AS n_tokens,
        |        count(*) AS dup_gram_hits,
        |        CAST(sum(greatest(0, pos + 10 - greatest(prev_end, pos))) AS BIGINT) AS covered
        |        FROM m GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |       CAST(dup_gram_hits AS BIGINT) AS dup_gram_hits, covered,
        |       CAST((covered * 10000) // n_tokens AS BIGINT) AS dup_frac_bp
        |FROM cov ORDER BY doc_id""".stripMargin) { (s, dir) =>
      substringSpans(docs(s, dir), 10).orderBy(col("doc_id"))
    },

    // C37c (r9): exact-substring dedup REWRITE — C37 measures
    // duplicated-span coverage; this produces the CLEANED CORPUS, the
    // actual output of Lee et al.'s ExactSubstr pipeline: every
    // duplicated 10-gram keeps its FIRST occurrence (min (doc_id, pos)
    // per gram — one window over the dup-occurrence sliver) and every
    // other occurrence's span is cut; per affected doc the uncovered
    // tokens reassemble in order into the rewritten text (+ exact
    // removed/clean token accounting). Unaffected docs are ABSENT (the
    // C43/C25b one-record-per-affected-doc shape) — the rewrite is a
    // patch stream, not a corpus copy.
    //
    // 100 TB shape: the gram stream is slim (32 B digests); only
    // dup-gram OCCURRENCES enter the ownership window (the sliver);
    // affected-doc ids and covered positions join back size-adaptively
    // / co-partitioned, and ONLY affected docs' token streams ever
    // posexplode — the per-position stream the C37 scaladoc flags is
    // paid exactly where the rewrite inherently needs it and nowhere
    // else. Emitting the full rewritten strings puts the whole cut
    // under the hash gate.
    Q("dedup_substring_rewrite",
      """WITH docs_ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |g AS (SELECT doc_id, len(ws) AS n_tokens, gs-1 AS pos,
        |             array_to_string(ws[gs:gs+9], ' ') AS gram
        |      FROM docs_ws, UNNEST(generate_series(1, len(ws)-9)) AS t(gs)),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |r AS (SELECT g.doc_id, g.n_tokens, g.pos,
        |        row_number() OVER (PARTITION BY g.gram ORDER BY g.doc_id, g.pos) AS rn
        |      FROM g JOIN dup USING (gram)),
        |covp AS (SELECT DISTINCT r.doc_id, r.n_tokens, p
        |         FROM r, UNNEST(generate_series(r.pos, r.pos + 9)) AS u(p)
        |         WHERE r.rn > 1),
        |cov AS (SELECT doc_id, any_value(n_tokens) AS n_tokens, count(*) AS removed
        |        FROM covp GROUP BY doc_id),
        |toks AS (SELECT d.doc_id, i - 1 AS p, w
        |         FROM (SELECT doc_id, unnest(ws) AS w,
        |                      generate_subscripts(ws, 1) AS i FROM docs_ws) d
        |         WHERE d.doc_id IN (SELECT doc_id FROM cov)),
        |keep AS (SELECT t.doc_id, t.p, t.w FROM toks t
        |         WHERE NOT EXISTS (SELECT 1 FROM covp c
        |                           WHERE c.doc_id = t.doc_id AND c.p = t.p)),
        |agg AS (SELECT doc_id, count(*) AS clean_tokens,
        |          array_to_string(array_agg(w ORDER BY p), ' ') AS clean_text
        |        FROM keep GROUP BY doc_id)
        |SELECT cov.doc_id, CAST(cov.n_tokens AS BIGINT) AS n_tokens,
        |  CAST(cov.removed AS BIGINT) AS removed,
        |  CAST(coalesce(agg.clean_tokens, 0) AS BIGINT) AS clean_tokens,
        |  coalesce(agg.clean_text, '') AS clean_text
        |FROM cov LEFT JOIN agg USING (doc_id)
        |ORDER BY cov.doc_id""".stripMargin) { (s, dir) =>
      substringRewrite(docs(s, dir), 10).orderBy(col("doc_id"))
    },

    // C37b: CHAR-grain exact-substring dedup — the published form (Lee
    // et al. 2022, "Deduplicating Training Data Makes Language Models
    // Better": ExactSubstr dedups at 50-CHARACTER grain). C37's word
    // 10-grams miss duplicate runs that word tokenization splits
    // differently (markup, punctuation shifts, unsegmented/CJK-ish
    // text, docs with fewer than 10 tokens); character k-grams see
    // byte-level repetition directly. Same scale shape as C37 —
    // map-side-combinable digest groupBy → duplicated-digest sliver →
    // broadcast semi back onto the gram stream → per-doc interval-union
    // fold (shared spanCoverage/spanFold code, so the coverage rule
    // cannot drift between grains): the 50-char gram string exists only
    // inside the generate+project (one 32 B digest per char position is
    // what shuffles — and only for the partial-agg; the probe side
    // never shuffles). The paper's suffix-array machinery is the
    // single-node form; the banded-hash restatement is the
    // shuffle-shaped equivalent for a cluster. Gram-material blowup
    // (50x the corpus bytes through codegen, zero of it shuffled) is
    // the deliberate C37 scans-are-cheap trade. Oracle =
    // gaps-and-islands SQL over the same duplicated-gram hit stream.
    Q("dedup_substring_chars",
      """WITH g AS (SELECT doc_id, length(text) AS n_chars, i-1 AS pos,
        |             substring(text, CAST(i AS INT), 50) AS gram
        |      FROM documents, UNNEST(generate_series(1, length(text)-49)) AS t(i)
        |      WHERE length(text) >= 50),
        |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) > 1),
        |hit AS (SELECT g.doc_id, g.n_chars, g.pos FROM g JOIN dup USING (gram)),
        |m AS (SELECT doc_id, n_chars, pos,
        |        coalesce(max(pos + 50) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
        |      FROM hit),
        |cov AS (SELECT doc_id, any_value(n_chars) AS n_chars,
        |        count(*) AS dup_gram_hits,
        |        CAST(sum(greatest(0, pos + 50 - greatest(prev_end, pos))) AS BIGINT) AS covered
        |        FROM m GROUP BY doc_id)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
        |       CAST(dup_gram_hits AS BIGINT) AS dup_gram_hits, covered,
        |       CAST((covered * 10000) // n_chars AS BIGINT) AS dup_frac_bp
        |FROM cov ORDER BY doc_id""".stripMargin) { (s, dir) =>
      substringCharSpans(docs(s, dir), 50).orderBy(col("doc_id"))
    },

    // C30: INCREMENTAL dedup — a new batch against an already-deduped
    // corpus, the shape every real ingest pipeline runs (a crawl lands
    // daily; re-running dedup_exact over corpus+batch would re-pay the
    // full corpus shuffle per increment). The corpus is NEVER self-joined:
    // its pruned (digest-only) scan feeds one anti-join, cost
    // O(batch + corpus digests) per increment. Batch-internal dups
    // collapse first (map-side combinable agg on the 32 B digest), THEN
    // the survivors anti-join the corpus. The doc_id % 3 split stands in
    // for the corpus/batch boundary on the shared test table.
    Q("dedup_incremental",
      s"""WITH norm AS (
        |  SELECT doc_id, ${Curation.normSql()} AS k
        |  FROM documents),
        |batch AS (SELECT doc_id, k FROM norm WHERE doc_id % 3 = 0),
        |agg AS (SELECT k, min(doc_id) AS keep_id, count(*) AS batch_dups
        |        FROM batch GROUP BY k)
        |SELECT keep_id, batch_dups FROM agg
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM norm c WHERE c.doc_id % 3 != 0 AND c.k = agg.k)
        |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      incrementalExact(
        d.where(pmod(col("doc_id"), lit(3)) === 0),
        d.where(pmod(col("doc_id"), lit(3)) =!= 0))
        .orderBy(col("keep_id"))
    },

    // C30b: the bloom-prefiltered form of C30 — same EXACT output (same
    // oracle SQL gates both), different 100 TB plan. A bloom filter of
    // the corpus digests (xxhash64 keys; ~7.3 bits/key at 3% fpp)
    // splits the batch: bloom-NEGATIVE digests are definitely new and
    // skip every join; only the bloom-positive sliver (true dups +
    // fpp·batch) probes the corpus — and because that sliver is small by
    // construction, it BROADCASTS into a semi-join against the corpus
    // scan, so the corpus is read once and NEVER shuffled (the plain C30
    // anti-join shuffles all corpus digests every increment; PlanSpec
    // asserts the zero-corpus-exchange shape). False positives die in the
    // exact membership check, so approximation never reaches the result.
    // The flagship runs the DEPLOYMENT shape: the bucket-partitioned
    // corpusBloomIndex (no single-JVM filter, no counting pre-scan —
    // per-bucket filters sized from actual counts in one corpus pass;
    // at scale the index persists beside the corpus digest table and
    // the per-increment plan scans the corpus ONCE — scan-count
    // spec-pinned). The monolithic corpusBloom/incrementalExactBloom
    // pair stays as the small-corpus form, equality-spec'd against this
    // one. Assumes increments whose corpus overlap is bounded (the
    // ingest norm); a replay-heavy batch should take the C30 path.
    Q("dedup_incremental_bloom",
      s"""WITH norm AS (
        |  SELECT doc_id, ${Curation.normSql()} AS k
        |  FROM documents),
        |batch AS (SELECT doc_id, k FROM norm WHERE doc_id % 3 = 0),
        |agg AS (SELECT k, min(doc_id) AS keep_id, count(*) AS batch_dups
        |        FROM batch GROUP BY k)
        |SELECT keep_id, batch_dups FROM agg
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM norm c WHERE c.doc_id % 3 != 0 AND c.k = agg.k)
        |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val corpus = d.where(pmod(col("doc_id"), lit(3)) =!= 0)
      val batch = d.where(pmod(col("doc_id"), lit(3)) === 0)
      // materialize the inline-built index ONCE: the probe reads it twice
      // (n_buckets head + candidate join), and an unmaterialized plan
      // would re-run the whole corpus-digest build per read. The
      // deployment shape loads it via readBloomIndex, where the second
      // read is a pruned file scan, not a rebuild.
      val idx = corpusBloomIndex(corpus, nBuckets = 64).localCheckpoint(true)
      val out = incrementalExactBloomIndexed(batch, corpus, idx)
      // the probe materialized eagerly above, so the index pin releases
      // here rather than living until plan GC
      idx.unpersist()
      out.orderBy(col("keep_id"))
    },

    // C32: SemDeDup — semantic (embedding-cluster) dedup: k-means cells
    // from the SAME coarse quantizer as ann_ivf (Ann.ivfBuild), exact
    // pairwise cosine WITHIN each cell only, connected components over
    // the verified pairs, keep the min-id representative per component.
    // This is the cluster-then-dedup method of the SemDeDup paper, vs
    // C6b's LSH-bucket method — both feed the same CC + verification
    // machinery. At scale, k grows with n so cells stay bounded
    // (k ≈ n / target_cell_size): the within-cell join is quadratic in
    // CELL size by design, never in corpus size, and the corpus
    // shuffles once on its cell key. Rows-only for the driver (the
    // quantizer isn't SQL-expressible); DedupAnnSpec verifies every
    // removal edge lies inside an exact-cosine cluster and measures
    // recall on planted near-dups.
    Q.noOracle("dedup_semantic") { (s, dir) =>
      val e = Ann.embsWithNorm(s, dir)
      val n = e.count() // one metadata-cheap scan; reused as knownCount
      semanticDedup(s, e, semanticCellCount(n), tau = 0.5, knownCount = n)
        .orderBy(col("removed_id"))
    },

    // C32b (r12): the HASH-GATED SemDeDup — the integer-determinism
    // scheme applied to cluster-then-dedup (Abbas et al. 2023,
    // arXiv:2303.09540). Same staged semantics as C32 (cells → within-
    // cell τ-pairs → CC → keep the component-min representative), every
    // stage integer-decidable: cells from the SAME gated K=8 Lloyd run
    // as C39 (the oracle replays Cluster.kmeansChainCtes verbatim — a
    // third gate pinning that chain), the τ = 0.5 cosine test evaluated
    // SQUARE-FREE on signed kilo codes (near-dup ⟺ dot > 0 ∧ 4·dot² ≥
    // |a|²·|b|², the C53 trick per-pair: dot ≤ 64·10⁶ so 4·dot² ≤
    // 1.7e16 stays in plain BIGINT — no DECIMAL widening needed), and
    // the closure replayed by the C17 WITH RECURSIVE min-reachability.
    // The production form stays C32 (adaptive k ≈ √(n/2) cells, float
    // cosine); this twin runs the identical rule at the gate operating
    // point where every arithmetic step restates in DuckDB — the
    // C4e/C5b division of labor applied to embedding-space dedup.
    // 100 TB shape: one corpus pass to assign (map-only against k·d
    // broadcast literals), pairs bucket-local per cell (quadratic in
    // CELL size only), CC over the verified sliver.
    Q("dedup_semantic_int", semanticIntSql) { (s, dir) =>
      connectedComponents(semanticIntPairs(s, dir).select(col("a_id"), col("b_id")))
        .where(col("id") =!= col("label"))
        .select(col("id").as("removed_id"), col("label").as("rep_id"))
        .orderBy(col("removed_id"))
    },

    // C6c (r12): the HASH-GATED embedding-LSH near-dup miner — the last
    // near-dup family member without an integer twin (exact C1, minhash
    // C4e, simhash C5b, semantic C32b — now the hyperplane miner too).
    // C6b's exact shape at the gate operating point: 24 tables × 6
    // integer hyperplanes (`Ann.lshW` — the large-prime-decorrelated
    // formula both engines restate literally; capture at cos 0.5 ≈
    // 1−(1−(2/3)⁶)²⁴ ≈ 0.89, ≈1 on the near-1 template dups dedup
    // actually hunts), bucket-equality candidate pairs, τ = 0.5
    // verified SQUARE-FREE on the signed integer codes (dot > 0 ∧
    // 4·dot² ≥ |a|²·|b|² — per-pair ≤ 1.7e16, plain BIGINT). The
    // output is the RAW sufficient statistics (dot, va, vb) per
    // surviving pair, the C40 discipline — every emitted value integer
    // ⇒ full rows+schema+hash gate; DedupAnnSpec pins recall against
    // the exact integer all-pairs test. 100 TB shape: signatures are
    // one map-only pass (144 codegen'd dots/row), candidates
    // bucket-local on (table, sig), text/embeddings join back only for
    // the surviving sliver.
    Q("dedup_embedding_lsh_int", embLshIntSql) { (s, dir) =>
      embeddingLshIntPairs(s, dir).orderBy(col("a_id"), col("b_id"))
    },

    // C33: incremental NEAR-dup dedup — C30's MinHash analogue, the
    // fuzzy-dedup shape real web pipelines run per crawl increment: the
    // corpus's banded signature table is the INDEX (at scale: persisted
    // bucketed-by-band once, probed per increment — bandedMinhashKeys is
    // that layout), and the batch's band keys BROADCAST into it, so the
    // corpus neither self-joins nor shuffles. Semantics: a batch doc is
    // dropped if it's a verified near-dup (jaccard >= 0.8) of ANY corpus
    // doc; the remaining survivors then dedup among themselves (CC over
    // verified batch-internal pairs, keep the min id per cluster).
    // Rows-only for the driver (banding isn't SQL-expressible);
    // DedupAnnSpec pins the whole result against the same rule computed
    // from the EXACT prefix-filtered pair miner.
    Q.noOracle("dedup_incremental_minhash") { (s, dir) =>
      ensureLocalCkptDir(s)
      val d = docs(s, dir)
      val isBatch = pmod(col("doc_id"), lit(3)) === 0
      val tau = 0.8
      val corpusB = bandedMinhashKeys(d.where(!isBatch))
        .select(col("doc_id").as("c_id"), col("bk"))
      // the batch signatures feed three subtrees (cross candidates +
      // both sides of the batch self-join) — materialize once or the
      // minhash kernel re-runs per consumer
      val batchB = bandedMinhashKeys(d.where(isBatch)).localCheckpoint(true)
      val crossCands = crossBandCands(corpusB, batchB)
      // corpusDup is the CORPUS-SCALE stage (signature scan + gram-set
      // verify); survivors is referenced by three downstream subtrees —
      // materialize both so the expensive mining runs exactly once per
      // increment, the same invariant connectedComponents holds for its
      // edge list
      val corpusDup = verifyJaccard(crossCands, d, tau)
        .select(col("a_id").as("doc_id")).distinct()
        .localCheckpoint(true)
      // batch-internal near-dup pairs among corpus-survivors only
      val survivors = d.where(isBatch).select(col("doc_id"))
        .join(corpusDup, Seq("doc_id"), "left_anti")
        .localCheckpoint(true)
      val batchCands = Similar.buckets(Similar.Keyed(batchB, "doc_id", Seq("bk")))
        .join(survivors.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
        .join(survivors.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
      val pairs = verifyJaccard(batchCands, d, tau)
      val nonMin = connectedComponents(pairs.select(col("a_id"), col("b_id")))
        .where(col("id") =!= col("label"))
        .select(col("id").as("doc_id"))
      survivors.join(nonMin, Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("keep_id"))
        .orderBy(col("keep_id"))
    },

    // D6-gate: the STREAMING twin of C30 — new documents arrive as a
    // stream and dedup against the STATIC corpus as they flow: a
    // stream-static LEFT ANTI join (stateless — the static side is the
    // probe table, no join state accumulates) drops already-known
    // digests, then one stateful groupBy collapses batch-internal dups
    // (state = one row per distinct surviving digest, the minimum
    // streaming state this semantic admits). Run to completion
    // (AvailableNow → complete-mode sink) and gated against the SAME
    // DuckDB oracle as the batch form — batch/stream parity checked by
    // the driver. At scale this is the ingest-time shape: dedup happens
    // as data lands, not as a nightly batch over the accumulated pile.
    Q("dedup_incremental_stream",
      s"""WITH norm AS (
        |  SELECT doc_id, ${Curation.normSql()} AS k
        |  FROM documents),
        |batch AS (SELECT doc_id, k FROM norm WHERE doc_id % 3 = 0),
        |agg AS (SELECT k, min(doc_id) AS keep_id, count(*) AS batch_dups
        |        FROM batch GROUP BY k)
        |SELECT keep_id, batch_dups FROM agg
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM norm c WHERE c.doc_id % 3 != 0 AND c.k = agg.k)
        |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      Events.runStream(s, OutputMode.Complete) {
        val stream = Events.streamOf(s, dir, "documents")
          .where(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id"), normDigest.as("h"))
        // the static corpus digests — DISTINCT'd batch-side so the anti
        // probe table is as small as it can be
        val corpus = docs(s, dir)
          .where(pmod(col("doc_id"), lit(3)) =!= 0)
          .select(normDigest.as("h"))
          .distinct()
        stream.join(corpus, Seq("h"), "left_anti")
          .groupBy(col("h"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("batch_dups"))
      }
        .select(col("keep_id"), col("batch_dups"))
        .orderBy(col("keep_id"))
    },

    // D19 (r9): NEAR-dup dedup at INGEST — C33's corpus-probe stage as
    // documents arrive (the RefinedWeb per-crawl fuzzy filter running
    // on the write path): every arriving doc minhashes in-stream (the
    // kernel is a per-row expression — stateless), its 32 band keys
    // probe the STATIC corpus signature index (stream-static inner
    // join; at scale the persisted bucketed-by-band layout prunes on
    // the join key), candidates verify by EXACT gram-set jaccard ≥ 0.8
    // against the static gram table, and a parallel zero-flag branch
    // carries every arriving doc so absence-of-candidates (including
    // <3-word docs that cannot band) reads as keep. All stateless —
    // append mode, no watermark, no state store; the per-doc ANY-match
    // reduction happens batch-side over the sink (the D15 discipline).
    // Batch-internal near-dup CC stays the C33 batch path — this is
    // deliberately the ingest FILTER, not the clustering step.
    // r13: the sketch is the INTEGER minhash (Kernels.minhashInt128
    // over hashCp — the C4e miner), so the whole ingest decision is
    // SQL-restatable and this arm carries a FULL rows+schema+hash gate
    // (was rows-only on the float sketch); `inv_minhash_stream_parity`
    // additionally pins stream ≡ the Spark batch replay.
    Q("dedup_minhash_stream",
      s"""WITH $minhashIntCtes,
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 != 0),
        |inter AS (
        |  SELECT c.a_id, c.b_id, count(*) AS i
        |  FROM cand c
        |  JOIN grams ga ON ga.doc_id = c.a_id
        |  JOIN grams gb ON gb.doc_id = c.b_id AND gb.g = ga.g
        |  GROUP BY c.a_id, c.b_id),
        |dropped AS (
        |  SELECT DISTINCT i.a_id FROM inter i
        |  JOIN cnt ca ON ca.doc_id = i.a_id
        |  JOIN cnt cb ON cb.doc_id = i.b_id
        |  WHERE i.i / (ca.c + cb.c - i.i) >= 0.8)
        |SELECT doc_id AS keep_id FROM documents
        |WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT a_id FROM dropped)
        |ORDER BY keep_id""".stripMargin) { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        val d = docs(s, dir)
        val isBatch = pmod(col("doc_id"), lit(3)) === 0
        // static probe tables, materialized ONCE (a stream-static join
        // re-evaluates the static side per micro-batch otherwise)
        val corpusB = Pinned.track(
          bandedMinhashIntKeys(d.where(!isBatch))
            .select(col("doc_id").as("c_id"), col("bk"))
            .localCheckpoint(true))
        val corpusG = Pinned.track(
          d.where(!isBatch)
            .select(col("doc_id").as("c_id"), words.as("ws"))
            .where(size(col("ws")) >= 3)
            .select(col("c_id"), gramsOf(col("ws")).as("gb"))
            .localCheckpoint(true))
        val stream = Events.streamOf(s, dir, "documents")
          .where(pmod(col("doc_id"), lit(3)) === 0)
        val sw = stream.select(col("doc_id"), words.as("ws"))
        val banded = sw.where(size(col("ws")) >= 3)
          .select(col("doc_id"), gramsOf(col("ws")).as("ga"),
            graft.functions.Kernels.minhashInt128(gramsOf(col("ws"))).as("sig"))
          .select(col("doc_id"), col("ga"), Similar.minhashBands(col("sig")))
        val flagged = banded.join(corpusB, "bk")
          .join(corpusG, "c_id")
          .select(col("doc_id"),
            size(array_intersect(col("ga"), col("gb"))).as("ni"),
            size(col("ga")).as("na"), size(col("gb")).as("nb"))
          .where(col("ni") / (col("na") + col("nb") - col("ni")) >= 0.8)
          .select(col("doc_id"), lit(1).as("dup"))
        val all = sw.select(col("doc_id"), lit(0).as("dup"))
        all.unionByName(flagged)
      }
        .groupBy(col("doc_id")).agg(max(col("dup")).as("dup"))
        .where(col("dup") === 0)
        .select(col("doc_id").as("keep_id"))
        .orderBy(col("keep_id"))
    },

    // Driver gate for D19 (WHERE 1=0 oracle): the stream result must
    // equal the batch replay of the identical corpus-probe rule —
    // banded candidates (crossBandCands) verified at jaccard ≥ 0.8
    // (verifyJaccard), survivors = ALL arriving ids minus the verified
    // set. Any divergence (either direction) emits a violation row.
    Q("inv_minhash_stream_parity",
      """SELECT CAST(NULL AS VARCHAR) AS side, CAST(NULL AS BIGINT) AS keep_id
        |FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val isBatch = pmod(col("doc_id"), lit(3)) === 0
      val corpusB = bandedMinhashIntKeys(d.where(!isBatch))
        .select(col("doc_id").as("c_id"), col("bk"))
      val batchB = bandedMinhashIntKeys(d.where(isBatch))
      val dropped = verifyJaccard(crossBandCands(corpusB, batchB), d, 0.8)
        .select(col("a_id").as("doc_id")).distinct()
      val batchKeep = d.where(isBatch).select(col("doc_id"))
        .join(dropped, Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("keep_id"))
      val streamKeep = graft.SparkEntry.queries("dedup_minhash_stream")(s, dir)
        .select(col("keep_id"))
      streamKeep.except(batchKeep)
        .select(lit("stream_only").as("side"), col("keep_id"))
        .unionByName(batchKeep.except(streamKeep)
          .select(lit("batch_only").as("side"), col("keep_id")))
        .orderBy(col("side"), col("keep_id"))
    },

    // D32 (r11): the FULL cascade decision AT INGEST — every incoming
    // doc (doc_id % 7 IN (2,4), the cascadeCompactStages increment
    // convention — NOT %3: the synthetic messy URLs key fetch variants
    // on doc_id%3, so a %3 ingest split made EVERY arriving canon
    // collide with a corpus sibling and the url stage swallowed the
    // whole verdict, see the scaladoc at cascadeCompactStages) gets its
    // C68 stage verdict against the RETAINED corpus as it lands: url
    // (canon ∈ corpus canon set) → exact (digest ∈ corpus digest set)
    // → neardup (minhash-banded corpus candidate verified at
    // gram-Jaccard ≥ 0.8, the C76 at-scale miner) → kept, first stage
    // wins. The contract is CORPUS-RELATIVE (is this doc redundant vs
    // what we keep?) — within-increment duplicates are the batch
    // cascade's job on the next compaction, the C30/C33/D19
    // incremental discipline. Shape: three corpus probe tables
    // materialize ONCE (canon + digest sets as slim distinct columns,
    // band keys + gram sets for the verify), the stream is a stateless
    // per-row projection into stream-static joins — zero stream state,
    // and the probes are exactly what a 100 TB ingest holds beside the
    // corpus (the persisted-signature index C33 documents). Union sink
    // carries per-stage hit bits; the batch rollup folds them by stage
    // priority. r13: the miner is the INTEGER minhash (C4e), so the
    // whole staged verdict is SQL-restatable — full rows+schema+hash
    // gate (was rows-only); inv_cascade_stream_parity additionally
    // pins stream ≡ the Spark batch replay.
    Q("pipeline_dedup_cascade_stream",
      s"""WITH u AS (SELECT doc_id, (${Text.messyUrlSql}) AS url FROM documents),
        |${Text.urlCanonCtes},
        |$minhashIntCtes,
        |base AS (SELECT d.doc_id, c4.canon,
        |    ${Curation.normSql("d.text")} AS k,
        |    d.doc_id % 7 IN (2, 4) AS is_incr
        |  FROM documents d JOIN c4 ON c4.doc_id = d.doc_id),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |         FROM bands a JOIN bands b
        |           ON a.band = b.band AND a.bk = b.bk
        |         WHERE a.doc_id % 7 IN (2, 4) AND b.doc_id % 7 NOT IN (2, 4)),
        |inter AS (
        |  SELECT c.a_id, c.b_id, count(*) AS i
        |  FROM cand c
        |  JOIN grams ga ON ga.doc_id = c.a_id
        |  JOIN grams gb ON gb.doc_id = c.b_id AND gb.g = ga.g
        |  GROUP BY c.a_id, c.b_id),
        |near AS (
        |  SELECT DISTINCT i.a_id AS doc_id FROM inter i
        |  JOIN cnt ca ON ca.doc_id = i.a_id
        |  JOIN cnt cb ON cb.doc_id = i.b_id
        |  WHERE i.i / (ca.c + cb.c - i.i) >= 0.8)
        |SELECT b.doc_id,
        |  CASE WHEN b.canon IN (SELECT canon FROM base WHERE NOT is_incr) THEN 'url'
        |       WHEN b.k IN (SELECT k FROM base WHERE NOT is_incr) THEN 'exact'
        |       WHEN near.doc_id IS NOT NULL THEN 'neardup'
        |       ELSE 'kept' END AS stage
        |FROM base b LEFT JOIN near ON near.doc_id = b.doc_id
        |WHERE b.is_incr
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        val d = docs(s, dir)
        val isIncr = (col("doc_id") % 7).isin(2L, 4L)
        val corpus = d.where(!isIncr)
        val corpusCanon = Pinned.track(corpus
          .select(Text.canonicalUrlCol(Text.messyUrlCol).as("canon"))
          .distinct().withColumn("u", lit(1)).localCheckpoint(true))
        val corpusH = Pinned.track(corpus
          .select(normDigest.as("h"))
          .distinct().withColumn("e", lit(1)).localCheckpoint(true))
        val corpusB = Pinned.track(bandedMinhashIntKeys(corpus)
          .select(col("doc_id").as("c_id"), col("bk")).localCheckpoint(true))
        val corpusG = Pinned.track(corpus
          .select(col("doc_id").as("c_id"), words.as("ws"))
          .where(size(col("ws")) >= 3)
          .select(col("c_id"), gramsOf(col("ws")).as("gb"))
          .localCheckpoint(true))
        val stream = Events.streamOf(s, dir, "documents")
          .where((col("doc_id") % 7).isin(2L, 4L))
        val sw = stream.select(col("doc_id"), col("text"),
          Text.canonicalUrlCol(Text.messyUrlCol).as("canon"),
          normDigest.as("h"))
        val keyed = sw
          .join(corpusCanon, Seq("canon"), "left")
          .join(corpusH, Seq("h"), "left")
          .select(col("doc_id"), coalesce(col("u"), lit(0)).as("u"),
            coalesce(col("e"), lit(0)).as("e"), lit(0).as("n"))
        val swg = sw.select(col("doc_id"), words.as("ws"))
        val near = swg.where(size(col("ws")) >= 3)
          .select(col("doc_id"), gramsOf(col("ws")).as("ga"),
            graft.functions.Kernels.minhashInt128(gramsOf(col("ws"))).as("sig"))
          .select(col("doc_id"), col("ga"), Similar.minhashBands(col("sig")))
          .join(corpusB, "bk")
          .join(corpusG, "c_id")
          .select(col("doc_id"),
            size(array_intersect(col("ga"), col("gb"))).as("ni"),
            size(col("ga")).as("na"), size(col("gb")).as("nb"))
          .where(col("ni") / (col("na") + col("nb") - col("ni")) >= 0.8)
          .select(col("doc_id"), lit(0).as("u"), lit(0).as("e"), lit(1).as("n"))
        keyed.unionByName(near)
      }
        .groupBy(col("doc_id"))
        .agg(max(col("u")).as("u"), max(col("e")).as("e"), max(col("n")).as("n"))
        .select(col("doc_id"),
          when(col("u") === 1, lit("url"))
            .when(col("e") === 1, lit("exact"))
            .when(col("n") === 1, lit("neardup"))
            .otherwise(lit("kept")).as("stage"))
        .orderBy(col("doc_id"))
    },

    // D32 gate: the stream verdicts must equal the batch replay of the
    // identical corpus-relative staged rule — canon membership, digest
    // membership, banded-candidate verification (crossBandCands +
    // verifyJaccard, C33's corpus-probe path), folded by the same
    // stage priority. Any per-doc divergence emits a violation row.
    Q("inv_cascade_stream_parity",
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS st_stage,
        |  CAST(NULL AS VARCHAR) AS ba_stage FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val isIncr = (col("doc_id") % 7).isin(2L, 4L)
      val corpus = d.where(!isIncr)
      val batch = d.where(isIncr)
      val canonOf = (df: DataFrame) => df.select(col("doc_id"),
        Text.canonicalUrlCol(Text.messyUrlCol).as("canon"),
        normDigest.as("h"))
      val bk = canonOf(batch)
      val uIds = bk.join(canonOf(corpus).select(col("canon")).distinct(), Seq("canon"), "left_semi")
        .select(col("doc_id"))
      val eIds = bk.join(canonOf(corpus).select(col("h")).distinct(), Seq("h"), "left_semi")
        .select(col("doc_id"))
      val corpusB = bandedMinhashIntKeys(corpus)
        .select(col("doc_id").as("c_id"), col("bk"))
      val nIds = verifyJaccard(crossBandCands(corpusB, bandedMinhashIntKeys(batch)), d, 0.8)
        .select(col("a_id").as("doc_id")).distinct()
      val ba = batch.select(col("doc_id"))
        .join(uIds.withColumn("u", lit(1)), Seq("doc_id"), "left")
        .join(eIds.withColumn("e", lit(1)), Seq("doc_id"), "left")
        .join(nIds.withColumn("n", lit(1)), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("u") === 1, lit("url"))
            .when(col("e") === 1, lit("exact"))
            .when(col("n") === 1, lit("neardup"))
            .otherwise(lit("kept")).as("ba_stage"))
      val st = graft.SparkEntry.queries("pipeline_dedup_cascade_stream")(s, dir)
        .select(col("doc_id"), col("stage").as("st_stage"))
      st.join(ba, Seq("doc_id"), "full_outer")
        .where(!(col("st_stage") <=> col("ba_stage")))
        .orderBy(col("doc_id"))
    },

    // C79 (r11): cascade COMPACTION — the batch job D32's
    // corpus-relative contract explicitly defers to ("within-increment
    // duplicates are the next batch compaction's job"): every increment
    // doc gets its FINAL verdict, each stage now also checked WITHIN the
    // increment under the cascade's min-id retention rule — url (canon ∈
    // corpus canons, else min-id per canon among increment docs), exact
    // (digest ∈ corpus digests, else min-id per digest among url
    // survivors), neardup (exact τ=0.8 pair with any corpus doc — the
    // batch side is entitled to the exact miner — else CC min-label over
    // pairs among the REMAINING increment survivors). The `vs` column
    // attributes every drop to corpus or increment (corpus wins
    // priority): vs='increment' rows are exactly the docs D32's ingest
    // pass admitted provisionally and this compaction catches — the
    // audit a deployment reads after each fold. Scale shape: stages 1-2
    // are slim key windows/membership joins (32 B digests, canon
    // strings); stage 3 is the C3 prefix-filtered miner over corpus ∪
    // surviving increment (at 100 TB swap in the C76 minhash miner —
    // same seam as cascadeStages); CC runs on increment-internal pairs
    // only. All decisions integer/string-exact ⇒ hash-gated, recursive
    // closure restated in the oracle (increment-scoped, so the sf3
    // blowup of the monolithic closure doesn't apply). The oracle reads
    // the mined pairs through one MATERIALIZED copy (`pm`): DuckDB 1.0
    // inlines `pairs` into each of its uses, and with the membership
    // filters of `iip` over the inlined miner it ran out of memory at
    // any corpus size, 10 planted docs included.
    Q("pipeline_dedup_cascade_compact",
      s"""WITH RECURSIVE u AS (SELECT doc_id, (${Text.messyUrlSql}) AS url FROM documents),
        |${Text.urlCanonCtes},
        |base AS (SELECT d.doc_id, d.text, c4.canon,
        |    ${Curation.normSql("d.text")} AS k,
        |    d.doc_id % 7 IN (2, 4) AS is_incr
        |  FROM documents d JOIN c4 ON c4.doc_id = d.doc_id),
        |i1 AS (SELECT doc_id, text, canon, k,
        |    CASE WHEN canon IN (SELECT canon FROM base WHERE NOT is_incr) THEN 'corpus'
        |         WHEN doc_id <> min(doc_id) OVER (PARTITION BY canon) THEN 'increment'
        |    END AS url_vs
        |  FROM base WHERE is_incr),
        |i2 AS (SELECT doc_id, text, k,
        |    CASE WHEN k IN (SELECT k FROM base WHERE NOT is_incr) THEN 'corpus'
        |         WHEN doc_id <> min(doc_id) OVER (PARTITION BY k) THEN 'increment'
        |    END AS exact_vs
        |  FROM i1 WHERE url_vs IS NULL),
        |docs_ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM (
        |    SELECT doc_id, text FROM base WHERE NOT is_incr
        |    UNION ALL
        |    SELECT doc_id, text FROM i2 WHERE exact_vs IS NULL)
        |  WHERE len(string_split(text, ' ')) >= 3),
        |$minerCtes,
        |pm AS MATERIALIZED (SELECT a_id, b_id FROM pairs),
        |nc AS (SELECT DISTINCT doc_id FROM (
        |    SELECT a_id AS doc_id FROM pm WHERE a_id % 7 IN (2, 4) AND b_id % 7 NOT IN (2, 4)
        |    UNION ALL
        |    SELECT b_id AS doc_id FROM pm WHERE b_id % 7 IN (2, 4) AND a_id % 7 NOT IN (2, 4))),
        |rem AS (SELECT doc_id FROM i2 WHERE exact_vs IS NULL
        |          AND doc_id NOT IN (SELECT doc_id FROM nc)),
        |iip AS (SELECT a_id, b_id FROM pm
        |  WHERE a_id IN (SELECT doc_id FROM rem) AND b_id IN (SELECT doc_id FROM rem)),
        |edges AS (SELECT a_id, b_id FROM iip
        |          UNION SELECT b_id AS a_id, a_id AS b_id FROM iip),
        |nodes AS (SELECT DISTINCT a_id AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.b_id AS id, reach.r FROM reach JOIN edges e ON e.a_id = reach.id),
        |labels AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
        |ni AS (SELECT id AS doc_id FROM labels WHERE id <> label)
        |SELECT b.doc_id,
        |  CASE WHEN i1.url_vs IS NOT NULL THEN 'url'
        |       WHEN i2.exact_vs IS NOT NULL THEN 'exact'
        |       WHEN nc.doc_id IS NOT NULL OR ni.doc_id IS NOT NULL THEN 'neardup'
        |       ELSE 'kept' END AS stage,
        |  coalesce(i1.url_vs, i2.exact_vs,
        |    CASE WHEN nc.doc_id IS NOT NULL THEN 'corpus'
        |         WHEN ni.doc_id IS NOT NULL THEN 'increment' END) AS vs
        |FROM base b
        |LEFT JOIN i1 ON i1.doc_id = b.doc_id
        |LEFT JOIN i2 ON i2.doc_id = b.doc_id
        |LEFT JOIN nc ON nc.doc_id = b.doc_id
        |LEFT JOIN ni ON ni.doc_id = b.doc_id
        |WHERE b.is_incr
        |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      cascadeCompactStages(s, dir).orderBy(col("doc_id"))
    },

    // C79b (r11): the AT-SCALE compaction — C79's staged fold with
    // stage 3 mining through C4's MinHash(128)+32×4 banding instead of
    // the exact prefix-filtered miner (the C76 seam applied to the
    // compact job: at 100 TB the exact miner over corpus ∪ increment is
    // the fold's dominant, superlinear term — 17.2 s at sf1 vs the
    // banded form's bucket-local candidates). LSH candidates re-verify
    // with the SAME exact gram Jaccard, so minhash pairs ⊆ exact pairs;
    // verdict-level parity with the exact fold is bounded by
    // `inv_compact_minhash_parity` (kept-set delta ≤1%, measured 0).
    // Rows-only (banding isn't SQL); that gate is the named evidence.
    Q.noOracle("pipeline_dedup_cascade_compact_minhash") { (s, dir) =>
      cascadeCompactStages(s, dir, minhashLshPairs(_, 4, 5)).orderBy(col("doc_id"))
    },

    // C6 scale path: hyperplane-LSH candidate buckets + the SAME exact
    // cosine verification — the form that replaces the O(n²) baseline at
    // 100 TB (corpus shuffles once per table on uniform bucket keys).
    // Signature WIDTH grows with n (bits ≈ log2(n/64), floor 6 — every
    // corpus up to 4096 vectors keeps the pre-r6 layout) so the average
    // bucket stays ~64 vectors and within-bucket candidate pairs stay
    // linear in n: the sf1 bench measured fixed 6-bit buckets at 209 s
    // for 20k vectors (312-vector buckets go quadratic). The recall
    // trade is the standard LSH one and lands on the right side: at the
    // near-DUPLICATE operating point (cos ≥ 0.9) per-table collision is
    // 0.856^bits, so even at bits=9 the 24-table miss probability is
    // (1-0.246)^24 ≈ 0.1%; borderline cos≈0.5 pairs lose recall with
    // width, which the subset-of-exact gate and spec explicitly allow.
    // DedupSpec measures recall vs the exact all-pairs result; rows-only
    // for the driver.
    Q.noOracle("dedup_embedding_lsh") { (s, dir) =>
      embeddingLshPairs(s, Ann.embsWithNorm(s, dir)).orderBy(col("a_id"), col("b_id"))
    })
}
