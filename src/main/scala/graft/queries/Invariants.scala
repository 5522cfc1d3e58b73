package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Driver-visible invariant gates for the approximate operators whose
  * results SQL cannot restate (r4 verdict "next round" #3). Each query
  * computes the VIOLATIONS of a property the approximate algorithm
  * guarantees by construction, and its oracle is `... WHERE 1=0`: the
  * driver's rows+schema+hash compare then asserts "no violations" in
  * DuckDB terms without restating quantizers/banding in SQL. That moves
  * the rows-only entries from "trust the spec" to driver-checked.
  *
  * Soundness notes (why each property is a theorem, not a hope):
  *   - minhash/embedding-LSH pairs are VERIFIED (exact Jaccard / exact
  *     cosine) after candidate generation, so ⊆ the exact miner's output
  *     regardless of banding luck;
  *   - every ANN variant re-ranks with exact cosine, so reported scores
  *     must equal a fresh exact computation on the same (q, n) pairs;
  *   - HLL at rsd=0.01 on fixed data with Spark's fixed seed is
  *     deterministic — the 5% envelope is the spec bound re-checked at
  *     gate scale;
  *   - SemDeDup removals: min-label CC ⇒ rep < removed, a representative
  *     is never removed, and every removed doc has ≥1 incident
  *     within-cell edge at cos ≥ tau (rebuilt from the deterministic
  *     quantizer).
  *
  * These run the underlying approximate queries again at gate time
  * (cost is paid in Verify, deliberately kept OUT of Bench — benching
  * them would double-count the operators they wrap).
  */
object Invariants {

  /** Re-run a registered query — late-bound through SparkEntry so the
    * invariant always checks exactly what the driver gates.
    */
  private def run(name: String)(s: SparkSession, dir: String): DataFrame =
    graft.SparkEntry.queries(name)(s, dir)

  /** Ties the lifetime of frames a gate must pin during plan
    * construction (localCheckpoint blocks) to the gate RUN: the gate
    * result is materialized eagerly — violation sets are empty by
    * design, so the collect is bounded (capped defensively; a capped
    * result is still non-empty, so a failing gate still fails) — then
    * every pinned frame is unpersisted and a local relation with the
    * same schema is returned. Without this, each gate run leaks its
    * checkpointed storage blocks for the rest of the session.
    */
  private[queries] def releasing(pinned: DataFrame*)(out: DataFrame): DataFrame = {
    val s = out.sparkSession
    val rows = out.limit(100001).collect()
    pinned.foreach(_.unpersist())
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  private val emptyPair =
    "SELECT CAST(NULL AS BIGINT) AS a_id, CAST(NULL AS BIGINT) AS b_id WHERE 1=0"

  def all: Seq[Q] = Seq(

    // dedup_minhash_lsh ⊆ dedup_ngram_jaccard at the same tau=4/5: both
    // verify candidates with exact gram-set Jaccard, so any LSH pair
    // missing from the exact miner is a bug in banding or verification.
    Q("inv_minhash_subset_ngram", emptyPair) { (s, dir) =>
      run("dedup_minhash_lsh")(s, dir).select(col("a_id"), col("b_id"))
        .except(run("dedup_ngram_jaccard")(s, dir).select(col("a_id"), col("b_id")))
        .orderBy(col("a_id"), col("b_id"))
    },

    // dedup_embedding_lsh ⊆ dedup_embedding (the exact O(n²) baseline):
    // hyperplane-LSH only prunes candidates; survivors verify with the
    // same exact rounded cosine the baseline computes.
    Q("inv_embedding_lsh_subset_exact", emptyPair) { (s, dir) =>
      run("dedup_embedding_lsh")(s, dir).select(col("a_id"), col("b_id"))
        .except(run("dedup_embedding")(s, dir).select(col("a_id"), col("b_id")))
        .orderBy(col("a_id"), col("b_id"))
    },

    // Every ANN variant's reported cos must EQUAL a fresh exact cosine
    // on the returned (q_id, n_id) — quantization may only affect which
    // candidates are considered, never the emitted scores.
    Q("inv_ann_scores_exact",
      """SELECT CAST(NULL AS VARCHAR) AS variant, CAST(NULL AS BIGINT) AS q_id,
        |  CAST(NULL AS BIGINT) AS n_id, CAST(NULL AS DOUBLE) AS cos,
        |  CAST(NULL AS DOUBLE) AS exact_cos WHERE 1=0""".stripMargin) { (s, dir) =>
      val e = Ann.embsWithNorm(s, dir)
      val variants = Seq("ann_lsh", "ann_ivf", "ann_pq", "ann_ivfpq")
      variants.map { v =>
        run(v)(s, dir)
          .join(e.select(col("vec_id").as("q_id"), col("emb").as("qe"), col("nrm").as("qn")), "q_id")
          .join(e.select(col("vec_id").as("n_id"), col("emb").as("ne"), col("nrm").as("nn")), "n_id")
          .select(lit(v).as("variant"), col("q_id"), col("n_id"), col("cos"),
            round(graft.functions.Native.dot(s, col("qe"), col("ne")) /
              (col("qn") * col("nn")), 4).as("exact_cos"))
          .where(col("cos") =!= col("exact_cos"))
      }.reduce(_.unionByName(_))
        .orderBy(col("variant"), col("q_id"), col("n_id"))
    },

    // q17b's HLL estimate stays inside the 5% envelope of the exact
    // distinct count (rsd=0.01, fixed data+seed ⇒ deterministic).
    Q("inv_hll_error_bounded",
      """SELECT CAST(NULL AS VARCHAR) AS l_returnflag, CAST(NULL AS BIGINT) AS n_parts,
        |  CAST(NULL AS BIGINT) AS approx_parts WHERE 1=0""".stripMargin) { (s, dir) =>
      run("q17_count_distinct")(s, dir).select(col("l_returnflag"), col("n_parts"))
        .join(run("q17b_approx_distinct")(s, dir), "l_returnflag")
        .where(abs(col("approx_parts") - col("n_parts")) >
          col("n_parts") * lit(0.05))
        .select(col("l_returnflag"), col("n_parts"), col("approx_parts"))
        .orderBy(col("l_returnflag"))
    },

    // dedup_simhash re-verification: recompute both signatures
    // independently and the reported hamming must match bit_count of
    // their xor AND sit within the <=3 bound the pigeonhole join claims.
    Q("inv_simhash_verified",
      """SELECT CAST(NULL AS BIGINT) AS a_id, CAST(NULL AS BIGINT) AS b_id,
        |  CAST(NULL AS INTEGER) AS hamming WHERE 1=0""".stripMargin) { (s, dir) =>
      val sigs = Dedup.simhashSignatures(
        Tables(s, dir, "documents").select(col("doc_id"), col("text")))
      run("dedup_simhash")(s, dir)
        .join(sigs.select(col("doc_id").as("a_id"), col("sh").as("sha2_")), "a_id")
        .join(sigs.select(col("doc_id").as("b_id"), col("sh").as("shb2_")), "b_id")
        .where(col("hamming") =!= expr("bit_count(sha2_ ^ shb2_)") ||
          col("hamming") > 3)
        .select(col("a_id"), col("b_id"), col("hamming"))
        .orderBy(col("a_id"), col("b_id"))
    },

    // ann_ivf candidates come ONLY from the batch's probed cells: the
    // corpus cell assignment and the probe set both rebuild from the
    // SAME deterministic quantizer (ivfBuild is sample-order and
    // Lloyd-deterministic), so a returned neighbor outside the probed
    // cells means the probe scanned rows the index said it wouldn't —
    // the P-of-K pruning claim, driver-checked.
    Q("inv_ivf_candidates_probed",
      """SELECT CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS BIGINT) AS n_id,
        |  CAST(NULL AS INTEGER) AS cell WHERE 1=0""".stripMargin) { (s, dir) =>
      val e = Ann.embsWithNorm(s, dir)
      val idx = Ann.ivfBuild(e.where(col("vec_id") >= Ann.NQ), k = 8)
      // per-QUERY containment: anti-join on (q_id, cell) pairs, not a
      // global isin over the batch-distinct cell set — a neighbor served
      // to query A from a cell only query B probed must count as a
      // violation
      val probed = Ann.ivfProbeCellPairs(idx, e.where(col("vec_id") < Ann.NQ), p = 4)
      run("ann_ivf")(s, dir)
        .join(idx.assigned.select(col("n_id"), col("cell")), "n_id")
        .join(probed, Seq("q_id", "cell"), "left_anti")
        .select(col("q_id"), col("n_id"), col("cell"))
        .orderBy(col("q_id"), col("n_id"))
    },

    // C8e: INCREMENTAL IVF index maintenance — the vector-ingest
    // deployment shape: the coarse quantizer FREEZES between
    // retrainings, new vectors assign map-side to the existing cells
    // (the same pure [[Ann.ivfAssign]] projection the build used) and
    // APPEND to the cell-partitioned index — no rebuild, no shuffle of
    // the base index. The gate drives three failure classes to zero:
    // (a) topk parity — the merged (base + delta) index must serve every
    // probe IDENTICALLY to a one-pass assignment of the whole corpus
    // with the same centroids (catches wrong-cell appends and
    // split-bookkeeping errors); (b) lost vectors — every corpus id
    // present in the merged index; (c) duplicated vectors — no id
    // assigned twice by the base/delta split. Violations WHERE 1=0.
    Q("inv_ann_ivf_incremental",
      """SELECT CAST(NULL AS VARCHAR) AS side, CAST(NULL AS BIGINT) AS q_id,
        |  CAST(NULL AS BIGINT) AS n_id WHERE 1=0""".stripMargin) { (s, dir) =>
      val e = Ann.embsWithNorm(s, dir)
      val corpus = e.where(col("vec_id") >= Ann.NQ)
      val base = corpus.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val delta = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
      val idxBase = Ann.ivfBuild(base, k = 8)
      val mergedAssigned = idxBase.assigned
        .unionAll(Ann.ivfAssign(idxBase.cents, delta))
        .localCheckpoint(true) // consumed by the probe AND both audits
      val queries = e.where(col("vec_id") < Ann.NQ)
      def probe(a: org.apache.spark.sql.DataFrame) =
        Ann.ivfProbe(s, Ann.IvfIndex(idxBase.cents, a), queries, p = 4)
          .select(col("q_id"), col("n_id"))
      val pm = probe(mergedAssigned)
      val pf = probe(Ann.ivfAssign(idxBase.cents, corpus))
      val topkViol = pm.except(pf)
        .select(lit("merged_only").as("side"), col("q_id"), col("n_id"))
        .unionByName(pf.except(pm)
          .select(lit("full_only").as("side"), col("q_id"), col("n_id")))
      val dupViol = mergedAssigned.groupBy(col("n_id"))
        .agg(count(lit(1)).as("c")).where(col("c") =!= 1)
        .select(lit("duplicated").as("side"),
          lit(null).cast("long").as("q_id"), col("n_id"))
      val lostViol = corpus.select(col("vec_id").as("n_id"))
        .join(mergedAssigned.select(col("n_id")), Seq("n_id"), "left_anti")
        .select(lit("lost").as("side"), lit(null).cast("long").as("q_id"), col("n_id"))
      topkViol.unionByName(dupViol).unionByName(lostViol)
        .orderBy(col("side"), col("q_id"), col("n_id"))
    },

    // C8f: INCREMENTAL PQ index maintenance — C8e's append discipline on
    // the CODE side: codebooks freeze between retrainings, delta vectors
    // encode through the same pure [[Ann.pqEncode]] projection the full
    // build used and append to the encoded table; the raw-corpus re-rank
    // side needs no maintenance at all (it IS the corpus). Same
    // three-class gate as C8e: probe parity vs a one-pass full encode
    // (catches stale/mis-trained codebook appends and split
    // bookkeeping), lost codes, duplicated codes. Violations WHERE 1=0.
    Q("inv_ann_pq_incremental",
      """SELECT CAST(NULL AS VARCHAR) AS side, CAST(NULL AS BIGINT) AS q_id,
        |  CAST(NULL AS BIGINT) AS n_id WHERE 1=0""".stripMargin) { (s, dir) =>
      val e = Ann.embsWithNorm(s, dir)
      val corpus = e.where(col("vec_id") >= Ann.NQ)
      val base = corpus.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val delta = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
      val idxBase = Ann.pqBuild(base, m = 16, k = 256)
      val mergedEnc = idxBase.encoded
        .unionAll(Ann.pqEncode(idxBase.codebooks, delta))
        .localCheckpoint(true) // consumed by the probe AND both audits
      val queries = e.where(col("vec_id") < Ann.NQ)
      // the SAME corpus-scaled pool rule ann_pq serves with — one
      // definition, so a pool-rule change cannot drift the parity gate
      val pool = Ann.rerankPool(Ann.corpusCount(s, dir))
      def probe(enc: org.apache.spark.sql.DataFrame) =
        Ann.pqProbe(s, Ann.PqIndex(idxBase.codebooks, enc,
            corpus.select(col("vec_id").as("n_id"), col("emb"), col("nrm"))),
          queries, rerank = pool)
          .select(col("q_id"), col("n_id"))
      val pm = probe(mergedEnc)
      val pf = probe(Ann.pqEncode(idxBase.codebooks, corpus))
      val topkViol = pm.except(pf)
        .select(lit("merged_only").as("side"), col("q_id"), col("n_id"))
        .unionByName(pf.except(pm)
          .select(lit("full_only").as("side"), col("q_id"), col("n_id")))
      val dupViol = mergedEnc.groupBy(col("n_id"))
        .agg(count(lit(1)).as("c")).where(col("c") =!= 1)
        .select(lit("duplicated").as("side"),
          lit(null).cast("long").as("q_id"), col("n_id"))
      val lostViol = corpus.select(col("vec_id").as("n_id"))
        .join(mergedEnc.select(col("n_id")), Seq("n_id"), "left_anti")
        .select(lit("lost").as("side"), lit(null).cast("long").as("q_id"), col("n_id"))
      topkViol.unionByName(dupViol).unionByName(lostViol)
        .orderBy(col("side"), col("q_id"), col("n_id"))
    },

    // C8i (r10): ANN RETRAIN TRIGGER — the policy gap the r9 verdict
    // named: C8e/C8f freeze quantizers and append forever; nothing said
    // WHEN the frozen model has gone stale. This gate runs the drift
    // check over the PERSISTED incremental artifact (base + appended
    // delta + build-time stats, durable on disk): per-cell share skew
    // between the delta and the build, and the delta's mean assignment
    // distance vs the build-time mean (Ann.retrainViolations — the
    // emb_centroid_drift machinery pointed at index state). The real
    // corpus splits are draws from ONE distribution, so no violation
    // fires (WHERE 1=0); AnnRetrainSpec's planted distribution-shifted
    // delta proves the same thresholds DO fire when the data moves.
    // Thresholds (measured, see Ann.retrainViolations scaladoc): 2000 bp
    // cell-share skew (real splits read ≤ 893 bp across scales; a
    // one-cell delta reads ~8700) and +0.15 mean assignment distance in
    // cos units over the build-time mean (real out-of-sample gap
    // 0.04–0.09; an orthogonal-to-span delta ≥ +0.27).
    Q("inv_ann_retrain_trigger",
      """SELECT CAST(NULL AS VARCHAR) AS reason, CAST(NULL AS BIGINT) AS cell,
        |  CAST(NULL AS BIGINT) AS observed, CAST(NULL AS BIGINT) AS bound
        |WHERE 1=0""".stripMargin) { (s, dir) =>
      val root = Ann.ivfIncrArtifact(s, dir)
      val cents = Ann.loadCents(root)
      val delta = Ann.readDeltas(s, root)
        .map(d => Ann.ivfCellStats(s, cents, d)).getOrElse(Seq.empty)
      Ann.retrainViolations(s, Ann.loadStats(root), delta,
          skewBp = 2000L, distMarginMicro = 150000L)
        .orderBy(col("reason"), col("cell"))
    },

    // C8k (r10): the CODE-side retrain trigger — C8i for the PQ family:
    // codebooks freeze between retrainings (C8f), so the staleness
    // signal is the mean RECONSTRUCTION error of appended vectors vs
    // build time (rising error = quantization noise eating the re-rank
    // pool's headroom = silent recall decay). Absolute margin over the
    // build-time mean, for C8i's in-sample reason amplified: the
    // driver-sampled codebooks fit their base hard, so a
    // same-distribution delta already reads +0.04–0.10 L2² out-of-sample
    // (measured ×3 scales: diffs 96k/98k/41k µ), while the planted
    // sparse-spike shift reads +0.22. The 0.15 margin separates the
    // two on the fixed gate data (deterministic, not statistical).
    Q("inv_ann_pq_retrain_trigger",
      """SELECT CAST(NULL AS VARCHAR) AS reason, CAST(NULL AS BIGINT) AS cell,
        |  CAST(NULL AS BIGINT) AS observed, CAST(NULL AS BIGINT) AS bound
        |WHERE 1=0""".stripMargin) { (s, dir) =>
      val corpus = Ann.embsWithNorm(s, dir).where(col("vec_id") >= Ann.NQ)
      val base = corpus.where(pmod(col("vec_id"), lit(5)) =!= 0)
      val delta = corpus.where(pmod(col("vec_id"), lit(5)) === 0)
      val idx = Ann.pqBuild(base, m = 16, k = 256)
      val (bn, bs) = Ann.pqQuantErrStats(s, idx.codebooks, base)
      val (dn, ds) = Ann.pqQuantErrStats(s, idx.codebooks, delta)
      Ann.pqRetrainViolations(s, bs / math.max(bn, 1L), ds / math.max(dn, 1L),
          marginMicro = 150000L)
        .orderBy(col("reason"))
    },

    // C8j (r10): DELTA COMPACTION parity — Ann.ivfCompact folds the
    // accumulated appends back into the cell-partitioned base. The gate
    // builds a PRIVATE incremental artifact (compaction mutates it —
    // the shared persisted one must stay untouched under other probes),
    // probes base∪deltas from disk, compacts, probes the folded table,
    // and emits (a) any (q_id, rank, n_id) served differently across
    // the fold, (b) ids duplicated by the rewrite, (c) ids lost by it.
    // Violations WHERE 1=0: compaction is a pure layout move.
    Q("inv_ann_compact_parity",
      """SELECT CAST(NULL AS VARCHAR) AS side, CAST(NULL AS BIGINT) AS q_id,
        |  CAST(NULL AS BIGINT) AS n_id WHERE 1=0""".stripMargin) { (s, dir) =>
      val root = java.nio.file.Files.createTempDirectory("graft-ivf-compact")
      Ann.buildIncrArtifactAt(s, dir, root)
      val cents = Ann.loadCents(root)
      val queries = Ann.embsWithNorm(s, dir).where(col("vec_id") < Ann.NQ)
      def probe() = Ann
        .ivfProbe(s, Ann.IvfIndex(cents, Ann.readIncrAssigned(s, root)), queries, p = 4)
        .select(col("q_id"), col("rank"), col("n_id"))
      // materialize BEFORE the fold mutates the files this plan reads
      val pre = probe().localCheckpoint(true)
      Ann.ivfCompact(s, root)
      val post = probe()
      val topkViol = pre.except(post)
        .select(lit("pre_only").as("side"), col("q_id"), col("n_id"))
        .unionByName(post.except(pre)
          .select(lit("post_only").as("side"), col("q_id"), col("n_id")))
      val compacted = Ann.readIncrAssigned(s, root)
      val dupViol = compacted.groupBy(col("n_id"))
        .agg(count(lit(1)).as("c")).where(col("c") =!= 1)
        .select(lit("duplicated").as("side"),
          lit(null).cast("long").as("q_id"), col("n_id"))
      val lostViol = Ann.embsWithNorm(s, dir).where(col("vec_id") >= Ann.NQ)
        .select(col("vec_id").as("n_id"))
        .join(compacted.select(col("n_id")), Seq("n_id"), "left_anti")
        .select(lit("lost").as("side"), lit(null).cast("long").as("q_id"), col("n_id"))
      val out = releasing(pre)(
        topkViol.unionByName(dupViol).unionByName(lostViol)
          .orderBy(col("side"), col("q_id"), col("n_id")))
      Artifact.deleteRecursively(root)
      out
    },

    // dedup_incremental_minhash FULL-RESULT replay: the same drop rule
    // (batch docs near-dup of any corpus doc drop; survivors CC among
    // themselves; keep min-id per cluster) computed from the EXACT
    // prefix-filtered pair miner instead of the banded index. 32×4
    // banding captures j >= 0.8 with prob ~1-5e-8 per pair and the
    // permutations are fixed, so the symmetric difference is
    // deterministically empty — the gate form of the C33 spec.
    Q("inv_incr_minhash_vs_exact",
      """SELECT CAST(NULL AS VARCHAR) AS side, CAST(NULL AS BIGINT) AS keep_id
        |WHERE 1=0""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir, "documents").select(col("doc_id"), col("text"))
      val exact = Dedup.ngramJaccardPairs(d, 4, 5)
        .select(col("a_id"), col("b_id")).localCheckpoint(true)
      val isBatch: Column => Column = c => pmod(c, lit(3)) === 0
      val corpusDup = exact.where(isBatch(col("a_id")) && !isBatch(col("b_id")))
        .select(col("a_id").as("doc_id"))
        .unionByName(exact.where(isBatch(col("b_id")) && !isBatch(col("a_id")))
          .select(col("b_id").as("doc_id")))
        .distinct()
      val survivors = d.where(isBatch(col("doc_id"))).select(col("doc_id"))
        .join(corpusDup, Seq("doc_id"), "left_anti")
      val bp = exact
        .join(survivors.select(col("doc_id").as("a_id")), Seq("a_id"), "left_semi")
        .join(survivors.select(col("doc_id").as("b_id")), Seq("b_id"), "left_semi")
      val nonMin = Dedup.connectedComponents(bp)
        .where(col("id") =!= col("label")).select(col("id").as("doc_id"))
      val expected = survivors.join(nonMin, Seq("doc_id"), "left_anti")
        .select(col("doc_id").as("keep_id"))
      val got = run("dedup_incremental_minhash")(s, dir).select(col("keep_id"))
      releasing(exact)(
        got.except(expected).select(lit("extra").as("side"), col("keep_id"))
          .unionByName(
            expected.except(got).select(lit("missing").as("side"), col("keep_id")))
          .orderBy(col("side"), col("keep_id")))
    },

    // approx_percentile's rank guarantee, driver-checked via the
    // discrete-quantile sandwich (sound under arbitrary duplicate mass):
    // for a returned value v at quantile q, count(< v)/n <= q + tol and
    // count(<= v)/n >= q - tol, tol = 1/accuracy (0.001) + 0.005 slack
    // for partial-merge order.
    Q("inv_approx_percentile_rank",
      """SELECT CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS which,
        |  CAST(NULL AS DOUBLE) AS approx, CAST(NULL AS DOUBLE) AS frac_lt,
        |  CAST(NULL AS DOUBLE) AS frac_le WHERE 1=0""".stripMargin) { (s, dir) =>
      val tol = 0.001 + 0.005
      val ap = run("text_length_percentiles_approx")(s, dir)
      val melted = ap.select(col("lang"), explode(array(
          struct(lit("p50").as("which"), lit(0.5).as("q"), col("p50").as("v")),
          struct(lit("p90").as("which"), lit(0.9).as("q"), col("p90").as("v")))).as("m"))
        .select(col("lang"), col("m.which"), col("m.q"), col("m.v"))
      val d = Tables(s, dir, "documents").select(col("lang"), col("n_chars"))
      melted.join(d, "lang")
        .groupBy(col("lang"), col("which"), col("q"), col("v"))
        .agg(
          (count(when(col("n_chars") < col("v"), 1)) / count(lit(1))).as("frac_lt"),
          (count(when(col("n_chars") <= col("v"), 1)) / count(lit(1))).as("frac_le"))
        .where(col("frac_lt") > col("q") + lit(tol) ||
          col("frac_le") < col("q") - lit(tol))
        .select(col("lang"), col("which"), col("v").as("approx"),
          col("frac_lt"), col("frac_le"))
        .orderBy(col("lang"), col("which"))
    },

    // SemDeDup structural soundness: min-label CC ⇒ rep_id < removed_id;
    // a representative is never itself removed; and every removed doc
    // has at least one incident within-cell edge at cos >= tau (edges
    // rebuilt from the SAME deterministic coarse quantizer).
    Q("inv_semantic_sound",
      """SELECT CAST(NULL AS VARCHAR) AS reason, CAST(NULL AS BIGINT) AS removed_id,
        |  CAST(NULL AS BIGINT) AS rep_id WHERE 1=0""".stripMargin) { (s, dir) =>
      val removals = run("dedup_semantic")(s, dir).localCheckpoint(true)
      // rebuild with the SAME scale-derived cell count as the query —
      // a drifting k would rebuild different cells than the ones the
      // removals were mined in
      val e = Ann.embsWithNorm(s, dir)
      val n = e.count()
      val a = Ann.ivfBuild(e, Dedup.semanticCellCount(n), knownCount = n).assigned
      val endpoints = Dedup.semanticPairs(s, a, 0.5)
        .select(explode(array(col("a_id"), col("b_id"))).as("removed_id"))
        .distinct()
      val badOrder = removals.where(col("rep_id") >= col("removed_id"))
        .select(lit("rep_not_less").as("reason"), col("removed_id"), col("rep_id"))
      val repRemoved = removals.as("r")
        .join(removals.select(col("removed_id").as("rep_id")).distinct().as("x"), "rep_id")
        .select(lit("rep_removed").as("reason"), col("removed_id"), col("rep_id"))
      val noEdge = removals.join(endpoints, Seq("removed_id"), "left_anti")
        .select(lit("no_incident_edge").as("reason"), col("removed_id"), col("rep_id"))
      releasing(removals)(
        badOrder.unionByName(repRemoved).unionByName(noEdge)
          .orderBy(col("reason"), col("removed_id")))
    },

    // Misra-Gries heavy-hitter merge guarantees vs exact counts:
    // every candidate's exact count sits in [cnt_lo, cnt_hi], and every
    // word whose exact count exceeds the merged decrement total D is
    // present in the candidate set (both theorems of the summary
    // construction — see Tokenizer scaladoc). The gate pays the exact
    // vocabulary shuffle so production scale doesn't have to.
    Q("inv_heavy_hitters_bounded",
      """SELECT CAST(NULL AS VARCHAR) AS word, CAST(NULL AS BIGINT) AS exact
        |WHERE 1=0""".stripMargin) { (s, dir) =>
      Tokenizer.heavyHitterViolations(s, dir)
    },

    // text_bpe_merges sequence replay: each emitted merge must equal the
    // pair-count argmax recomputed (naive full recount — an independent
    // witness for the incremental trainer) over the vocabulary rewritten
    // by the emitted prefix. Closes the last training-path operator with
    // neither oracle nor inv gate (r6 verdict #4).
    Q("inv_bpe_merges_replay",
      """SELECT CAST(NULL AS INT) AS step, CAST(NULL AS VARCHAR) AS emitted,
        |  CAST(NULL AS VARCHAR) AS replayed WHERE 1=0""".stripMargin) { (s, dir) =>
      Tokenizer.bpeMergeReplayViolations(s, dir, 10)
    },

    // text_bpe_encode canonical-form check: over every distinct corpus
    // word, the encoding must (a) concatenate back to the word, (b)
    // leave no adjacent token pair that is itself a learned merge —
    // the property a wrong rank-priority loop breaks — and (c) emit
    // only source chars and learned merge outputs. All three are
    // construction theorems of a correct encoder; violations WHERE 1=0.
    Q("inv_bpe_encode_canonical",
      """SELECT CAST(NULL AS VARCHAR) AS t, CAST(NULL AS BOOLEAN) AS bad_roundtrip,
        |  CAST(NULL AS BOOLEAN) AS bad_canonical, CAST(NULL AS BOOLEAN) AS bad_closure
        |WHERE 1=0""".stripMargin) { (s, dir) =>
      Tokenizer.bpeEncodeViolations(s, dir, 10)
    },

    // Every ANN variant's recall@5 against the exact bruteforce top-5
    // must clear its floor — the quality number the SURVEY cites,
    // promoted from narrative to a driver-checked bound. Floors carry
    // deliberate margin under the measured values (sf0.01: lsh 0.52 /
    // ivf 0.72 / pq 1.00 / ivfpq 0.72; sf0.1: 0.68/0.82/0.98/0.82;
    // sf1: pq 0.80 / ivfpq 0.96) so a driver-side data regeneration
    // shifts recall without tripping the gate, while a real
    // algorithmic regression cannot hide. This gate EARNED ITS KEEP at
    // birth: its first sf1 run measured pq 0.10 / ivfpq 0.26 — the
    // k=32 codebooks + fixed rerank-50 pool collapsing on the crowded
    // 20k corpus — which drove the k=256 + corpus-scaled-pool fix
    // (Ann.rerankPool). Recall is deterministic per dataset: every
    // variant re-ranks with exact cosine and breaks ties on n_id.
    Q("inv_ann_recall_floor",
      """SELECT CAST(NULL AS VARCHAR) AS variant,
        |  CAST(NULL AS BIGINT) AS recall_bp FROM embeddings WHERE 1=0""".stripMargin) { (s, dir) =>
      val exact = run("ann_bruteforce")(s, dir).select(col("q_id"), col("n_id"))
        .localCheckpoint(true)
      releasing(exact) {
        Seq("ann_lsh" -> 4000L, "ann_ivf" -> 6000L,
            "ann_pq" -> 7000L, "ann_ivfpq" -> 6000L).map { case (v, floor) =>
          run(v)(s, dir).select(col("q_id"), col("n_id"))
            .join(exact, Seq("q_id", "n_id"), "left_semi")
            .agg(count(lit(1)).as("hits"))
            .crossJoin(exact.agg(count(lit(1)).as("n")))
            .select(lit(v).as("variant"),
              expr("hits * 10000 div n").as("recall_bp"))
            .where(col("recall_bp") < floor)
        }.reduce(_ unionByName _).orderBy(col("variant"))
      }
    },

    // C7c ann_filtered_ivf: (a) the label predicate must hold on EVERY
    // served row — the index carries labels beside assigned vectors, so
    // a violation means the (cell, label) probe join is broken; (b)
    // recall@5 against the exact filtered scan (C7b, oracle-gated) must
    // clear 0.60 — measured 0.86/0.84/1.00 at sf0.01/sf0.1/sf1 with
    // p=6 of k=8, floored with regeneration margin per the
    // C8h's curve gate: recall and scanned-share must both be
    // NON-DECREASING in nprobe (argmaxCells' top-p cell sets are nested,
    // so more probes can only add candidates), and the p=8 full-probe
    // endpoint must recover brute force EXACTLY (every cell probed ⇒
    // the scored set IS the corpus; topK is deterministic). A curve
    // that dips or an endpoint below 10000 bp means the probe path
    // dropped candidates. Violations WHERE 1=0.
    Q("inv_ann_recall_monotone",
      """SELECT CAST(NULL AS VARCHAR) AS chk,
        |  CAST(NULL AS BIGINT) AS bp FROM embeddings WHERE 1=0""".stripMargin) { (s, dir) =>
      val c = run("ann_recall_curve")(s, dir).localCheckpoint(true)
      releasing(c) {
        val w = org.apache.spark.sql.expressions.Window.orderBy(col("nprobe"))
        val lagged = c.select(col("nprobe"), col("recall_bp"), col("scanned_bp"),
          lag(col("recall_bp"), 1).over(w).as("prev_r"),
          lag(col("scanned_bp"), 1).over(w).as("prev_s"))
        val mono = lagged.where(col("prev_r").isNotNull &&
            (col("recall_bp") < col("prev_r") || col("scanned_bp") < col("prev_s")))
          .select(concat(lit("non_monotone_p"), col("nprobe")).as("chk"),
            col("recall_bp").as("bp"))
        val endpoint = c.where(col("nprobe") === 8L && col("recall_bp") =!= 10000L)
          .select(lit("full_probe_not_exact").as("chk"), col("recall_bp").as("bp"))
        mono.unionByName(endpoint).orderBy(col("chk"))
      }
    },

    // inv_ann_recall_floor discipline. Scores need no separate check:
    // the probe scores with the same exact-cosine path the verified
    // unfiltered family uses (inv_ann_scores_exact covers the kernel).
    Q("inv_ann_filtered_ivf",
      """SELECT CAST(NULL AS VARCHAR) AS chk,
        |  CAST(NULL AS BIGINT) AS metric_bp FROM embeddings WHERE 1=0""".stripMargin) { (s, dir) =>
      val exact = run("ann_filtered")(s, dir).select(col("q_id"), col("n_id"))
        .localCheckpoint(true)
      val ivf = run("ann_filtered_ivf")(s, dir).select(col("q_id"), col("n_id"))
        .localCheckpoint(true)
      releasing(exact, ivf) {
        val lab = Tables(s, dir, "embeddings").select(col("vec_id"), col("label"))
        val predViol = ivf
          .join(lab.select(col("vec_id").as("q_id"), col("label").as("q_lab")), "q_id")
          .join(lab.select(col("vec_id").as("n_id"), col("label").as("n_lab")), "n_id")
          .where(col("q_lab") =!= col("n_lab"))
          .select(lit("predicate_violation").as("chk"), lit(0L).as("metric_bp"))
        val recViol = ivf.join(exact, Seq("q_id", "n_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(exact.agg(count(lit(1)).as("n")))
          .select(lit("recall_floor").as("chk"),
            expr("hits * 10000 div n").as("metric_bp"))
          .where(col("metric_bp") < 6000L)
        predViol.unionByName(recViol).orderBy(col("chk"))
      }
    },

    // r9: COMPLETENESS floors for the approximate near-dup family — the
    // inv_ann_recall_floor discipline applied to dedup (the r8 verdict's
    // missing-gap #4). The subset gates prove soundness (no false
    // pairs); these prove the miners don't silently MISS at gate scale:
    //  - minhash/embedding-LSH recall vs their exact miners (C3/C6
    //    oracles are hash-gated ground truth) floored in basis points —
    //    a banding or bit-budget collapse at scale becomes a driver
    //    failure instead of a quiet quality drop;
    //  - simhash checked for full completeness against an INDEPENDENT
    //    8×8-bit pigeonhole recount (complete for hamming ≤ 7 ⊇ the
    //    operator's ≤ 3, and a different blocking than the operator's
    //    4×16) — the two exact computations must agree pair-for-pair.
    // Floors carry regeneration margin: measured recall 1.00/1.00 for
    // minhash (sf0.01/sf0.1), 1.00 for embedding-LSH.
    Q("inv_dedup_recall_floor",
      """SELECT CAST(NULL AS VARCHAR) AS chk,
        |  CAST(NULL AS BIGINT) AS bp FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      def pairs(nm: String): DataFrame =
        run(nm)(s, dir).select(col("a_id"), col("b_id"))
      def recallViol(name: String, got: DataFrame, want: DataFrame,
          floor: Long): DataFrame =
        got.join(want, Seq("a_id", "b_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(want.agg(count(lit(1)).as("n")))
          .select(lit(name).as("chk"),
            when(col("n") === 0, lit(10000L))
              .otherwise(expr("hits * 10000 div n")).as("bp"))
          .where(col("bp") < floor)
      val exactNgram = pairs("dedup_ngram_jaccard").localCheckpoint(true)
      val exactEmb = pairs("dedup_embedding").localCheckpoint(true)
      // independent simhash ground truth: 8-bit blocks, same verify
      val sigs = Dedup.simhashSignatures(Tables(s, dir, "documents"))
        .localCheckpoint(true)
      val truth8 = Similar.hammingPairs(sigs, "doc_id", "sh", 8, 8, 3)
        .select(col("a_id"), col("b_id"))
      val simGot = pairs("dedup_simhash")
      val simDiff = truth8.except(simGot).unionAll(simGot.except(truth8))
        .agg(count(lit(1)).as("m"))
        .select(lit("simhash_complete").as("chk"), col("m").as("bp"))
        .where(col("bp") > 0)
      releasing(exactNgram, exactEmb, sigs)(
        recallViol("minhash_recall", pairs("dedup_minhash_lsh"), exactNgram, 9000L)
          .unionByName(recallViol("embedding_lsh_recall",
            pairs("dedup_embedding_lsh"), exactEmb, 6000L))
          .unionByName(simDiff)
          .orderBy(col("chk")))
    },

    // r9: the size-adaptive sliver join (Dedup.adaptiveBuild) must be a
    // pure strategy choice — the co-bucketed shuffle-hash path forced
    // on (budget=0) must reproduce the broadcast path row-for-row for
    // every operator that uses it, at every gate scale. A divergence
    // here means the shuffle-hash join changed semantics (null keys,
    // outer-join marker columns), not just shape.
    Q("inv_sliver_join_parity",
      """SELECT CAST(NULL AS VARCHAR) AS q, CAST(NULL AS BIGINT) AS doc_id
        |FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      def forcedShuffle[T](body: => T): T = {
        val prev = s.conf.getOption(Dedup.SliverBroadcastMaxRowsKey)
        s.conf.set(Dedup.SliverBroadcastMaxRowsKey, "0")
        try body finally prev match {
          case Some(v) => s.conf.set(Dedup.SliverBroadcastMaxRowsKey, v)
          case None => s.conf.unset(Dedup.SliverBroadcastMaxRowsKey)
        }
      }
      Seq("dedup_substring_spans", "dedup_substring_chars",
          "text_remove_boilerplate").map { nm =>
        // the join strategy is fixed at CONSTRUCTION time (adaptiveBuild
        // checkpoints+counts eagerly), so wrapping the run() call is
        // enough — the lazy remainder of the plan is conf-independent
        val a = run(nm)(s, dir).localCheckpoint(true)
        val b = forcedShuffle(run(nm)(s, dir)).localCheckpoint(true)
        releasing(a, b)(
          a.except(b).unionAll(b.except(a))
            .select(lit(nm).as("q"), col("doc_id")).distinct())
      }.reduce(_ unionByName _).orderBy(col("q"), col("doc_id"))
    },

    // r11: the persisted cascade-verdict artifact (C75's input) must
    // serve EXACTLY what a fresh cascadeStages computes — the
    // tokenizer/ann probe-parity discipline applied to the dedup
    // decision. The cascade is deterministic (min-id windows, exact
    // verified miner, min-label CC), so loaded ≡ fresh is an equality,
    // not a tolerance. A mismatch means a stale/corrupt artifact
    // (fingerprint failed to move) or nondeterminism in the stages.
    Q("inv_cascade_artifact_parity",
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS art_stage,
        |  CAST(NULL AS VARCHAR) AS fresh_stage FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      Dedup.ensureLocalCkptDir(s)
      val art = Dedup.cascadeStagesArtifact(s, dir)
        .select(col("doc_id"), col("stage").as("art_stage"))
      val fresh = Dedup.cascadeStages(s, dir)
        .select(col("doc_id"), col("stage").as("fresh_stage")).localCheckpoint(true)
      releasing(fresh)(
        art.join(fresh, Seq("doc_id"), "full_outer")
          .where(!(col("art_stage") <=> col("fresh_stage")))
          .orderBy(col("doc_id")))
    },

    // r11: the at-scale cascade (minhash stage-3 miner, C76) vs the
    // exact cascade (C68). Two parts:
    //  - SOUNDNESS is a theorem: minhash candidates re-verify with the
    //    same exact gram Jaccard, so minhash pairs ⊆ exact pairs — a
    //    doc the minhash form kills as neardup must be neardup in the
    //    exact form, and stages 1-2 (url/exact) are shared code. The
    //    ONLY permitted divergence is exact=neardup → minhash=kept (a
    //    banding miss disconnecting a component). Anything else emits
    //    a per-doc stage_mismatch row.
    //  - COMPLETENESS is bounded: banding capture at j ≥ 0.8 is
    //    1-(1-j⁴)³² ≈ 1-5e-8, so missed-pair kept-rate inflation must
    //    stay ≤ 1% of the exact form's kept set (measured 0 at
    //    sf0.01/sf0.1/sf1).
    Q("inv_cascade_minhash_parity",
      """SELECT CAST(NULL AS VARCHAR) AS chk, CAST(NULL AS BIGINT) AS doc_id,
        |  CAST(NULL AS BIGINT) AS bp FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      val ex = run("pipeline_dedup_cascade")(s, dir)
        .select(col("doc_id"), col("stage").as("ex_stage")).localCheckpoint(true)
      val mh = run("pipeline_dedup_cascade_minhash")(s, dir)
        .select(col("doc_id"), col("stage").as("mh_stage")).localCheckpoint(true)
      releasing(ex, mh) {
        val j = ex.join(mh, Seq("doc_id"), "full_outer")
        val allowedMiss =
          coalesce(col("mh_stage") === "kept" && col("ex_stage") === "neardup",
            lit(false))
        val hard = j.where(!(col("ex_stage") <=> col("mh_stage")) && !allowedMiss)
          .select(lit("stage_mismatch").as("chk"), col("doc_id"), lit(0L).as("bp"))
        val rate = j.agg(
            sum(allowedMiss.cast("long")).as("m"),
            sum((col("ex_stage") === "kept").cast("long")).as("n"))
          .select(lit("keep_rate_delta").as("chk"),
            lit(null).cast("long").as("doc_id"),
            expr("coalesce(m, 0) * 10000 div greatest(coalesce(n, 0), 1)").as("bp"))
          .where(col("bp") > 100L)
        hard.unionByName(rate).orderBy(col("chk"), col("doc_id"))
      }
    },

    // r11: the at-scale compaction (minhash stage-3 miner, C79b) vs the
    // exact compaction (C79) — the inv_cascade_minhash_parity discipline
    // applied to the fold: minhash pairs ⊆ exact pairs (same exact-gram
    // re-verification), so a doc the minhash fold drops as neardup must
    // be neardup-droppable in the exact fold; the permitted divergences
    // are banding misses (exact=neardup → minhash=kept) and their CC
    // knock-ons (a miss re-connecting membership can flip which member
    // of a component is the min label, so vs/label attributions may
    // shift). The gate therefore compares the KEPT SETS: any doc kept by
    // exactly one form counts toward the delta, bounded ≤1% of the
    // exact fold's kept set (measured 0 ×3 scales — banding capture at
    // j ≥ 0.8 is ≈ 1-5e-8); url/exact stages are shared code and must
    // agree exactly (hard mismatch rows).
    Q("inv_compact_minhash_parity",
      """SELECT CAST(NULL AS VARCHAR) AS chk, CAST(NULL AS BIGINT) AS doc_id,
        |  CAST(NULL AS BIGINT) AS bp FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      val ex = run("pipeline_dedup_cascade_compact")(s, dir)
        .select(col("doc_id"), col("stage").as("ex_stage")).localCheckpoint(true)
      val mh = run("pipeline_dedup_cascade_compact_minhash")(s, dir)
        .select(col("doc_id"), col("stage").as("mh_stage")).localCheckpoint(true)
      releasing(ex, mh) {
        // r12 ADVICE fix: coalesce stages BEFORE comparing — a doc_id
        // present in only one fold used to yield NULL in both the
        // null-skipping kept-xor sum and the isin() hard filter, so a
        // row-count divergence between folds went unflagged. With the
        // MISSING sentinel a one-sided row is a hard mismatch.
        val j = ex.join(mh, Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            coalesce(col("ex_stage"), lit("MISSING")).as("ex_stage"),
            coalesce(col("mh_stage"), lit("MISSING")).as("mh_stage"))
        // stages 1-2 are shared code: any url/exact disagreement is
        // hard, and so is presence in only one fold
        val hard = j.where(
            (col("ex_stage").isin("url", "exact", "MISSING") ||
              col("mh_stage").isin("url", "exact", "MISSING")) &&
              !(col("ex_stage") === col("mh_stage")))
          .select(lit("stage_mismatch").as("chk"), col("doc_id"), lit(0L).as("bp"))
        val rate = j.agg(
            sum(((col("ex_stage") === "kept") =!= (col("mh_stage") === "kept"))
              .cast("long")).as("m"),
            sum((col("ex_stage") === "kept").cast("long")).as("n"))
          .select(lit("kept_set_delta").as("chk"),
            lit(null).cast("long").as("doc_id"),
            expr("coalesce(m, 0) * 10000 div greatest(coalesce(n, 0), 1)").as("bp"))
          .where(col("bp") > 100L)
        hard.unionByName(rate).orderBy(col("chk"), col("doc_id"))
      }
    },

    // r11: the CC-closure stage gate (third stage-composed cascade
    // gate, r10 verdict #6). The monolithic cascade/keep_best oracles'
    // WITH RECURSIVE closure materializes the full transitive closure
    // (Σ|C|² reach rows) — past the box's spill budget at sf3 — so at
    // that scale the closure is gated HERE instead: the production
    // pointer-doubling/union-find CC and an independent plain
    // min-propagation witness (Dedup.ccMinPropagation — different
    // algorithm, different code path) must emit IDENTICAL labels over
    // the same mined pair sets, and the production labels must be
    // edge-consistent (no edge may cross two labels — any split
    // component is caught by its crossing edge). Runs over BOTH live
    // edge sets: the cascade's survivor-scoped pairs and keep_best's
    // full-corpus pairs, each mined once (checkpointed) and fed to both
    // implementations.
    Q("inv_cascade_cc_parity",
      """SELECT CAST(NULL AS VARCHAR) AS chk, CAST(NULL AS BIGINT) AS id
        |FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      Dedup.ensureLocalCkptDir(s)
      def check(tag: String, pairsIn: DataFrame): DataFrame = {
        val p = pairsIn.select(col("a_id"), col("b_id")).localCheckpoint(true)
        releasing(p) {
          val prod = Dedup.connectedComponents(p)
            .select(col("id"), col("label").as("prod_label")).localCheckpoint(true)
          val wit = Dedup.ccMinPropagation(p)
            .select(col("id"), col("label").as("wit_label"))
          releasing(prod) {
            val mism = prod.join(wit, Seq("id"), "full_outer")
              .where(!(col("prod_label") <=> col("wit_label")))
              .select(lit(s"${tag}_label").as("chk"), col("id"))
            val la = prod.select(col("id").as("a_id"), col("prod_label").as("la"))
            val lb = prod.select(col("id").as("b_id"), col("prod_label").as("lb"))
            val edgeViol = p.join(la, "a_id").join(lb, "b_id")
              .where(col("la") =!= col("lb"))
              .select(lit(s"${tag}_edge").as("chk"), col("a_id").as("id"))
            mism.unionByName(edgeViol)
          }
        }
      }
      check("cascade", Dedup.ngramJaccardPairs(Dedup.cascadeSurvivorDocs(s, dir), 4, 5))
        .unionByName(
          check("full", run("dedup_pairs_exact")(s, dir)))
        .orderBy(col("chk"), col("id"))
    },

    // r11: D31 stream-serving parity — ann_probe_stream (queries as a
    // stream, stream-static join against the persisted IVF index) must
    // serve EXACTLY what the batch probe path serves: same persisted
    // artifact, same p, exact cosines, same round-6/id tie-break, so
    // equality is bitwise on (q_id, rank) → (n_id, cos), not a
    // tolerance. The D6/D25 stream≡batch discipline applied to the ANN
    // read path.
    Q("inv_ann_probe_stream_parity",
      """SELECT CAST(NULL AS BIGINT) AS q_id, CAST(NULL AS BIGINT) AS rank
        |FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      val st = run("ann_probe_stream")(s, dir)
        .select(col("q_id"), col("rank"), col("n_id").as("st_n"), col("cos").as("st_cos"))
        .localCheckpoint(true)
      val ba = run("ann_ivf_int_probe")(s, dir)
        .select(col("q_id"), col("rank"), col("n_id").as("ba_n"), col("cos").as("ba_cos"))
        .localCheckpoint(true)
      releasing(st, ba)(
        st.join(ba, Seq("q_id", "rank"), "full_outer")
          .where(!(col("st_n") <=> col("ba_n")) || !(col("st_cos") <=> col("ba_cos")))
          .select(col("q_id"), col("rank"))
          .orderBy(col("q_id"), col("rank")))
    })
}
