package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.Tables
import Similar.{cosine, probe}

/** Similarity search over the `embeddings` table — SURVEY.md §2.C7-C8.
  *
  * Scale notes (100 TB):
  *   - Brute-force: the QUERY SET is broadcast (it is small by
  *     definition); the corpus is only mapped, never shuffled — each
  *     partition scores its vectors against every query, and the global
  *     top-k per query reduces through a TopK (window row_number over a
  *     partial-aggregated candidate set is still a shuffle of
  *     |queries|·k·partitions rows, not the corpus).
  *   - Hyperplane LSH: L signature tables of b sign-bits each; the corpus
  *     shuffles once per table on (table, signature) — bucket sizes are
  *     binomial around n/2^b, skew-free. Queries probe their buckets only.
  *     Recall tunes with (L, b) independent of corpus size.
  */
object Ann {

  private val K = 5
  private[graft] val NQ = 10 // vec_id < NQ are the query vectors; the rest, corpus

  // C8m integer-LSH geometry: 8 tables × 6 bits. Capture per bit for a
  // cos-0.75 neighbor is ≈ 1 − θ/π ≈ 0.77 → 0.77⁶ ≈ 0.21 per table →
  // 1 − 0.79⁸ ≈ 0.85 across 8 tables (≈0.98 at cos 0.9); 2⁶
  // buckets/table keeps candidates bucket-local (bits scale up with
  // corpus size in a deployment — more bits = smaller buckets).
  // Hyperplane weights are [[Similar.lshW]].
  private val LshTables = 8
  private val LshBits = 6

  // C8n integer-PQ geometry: 4 subspaces × 16 dims, 4 codewords each
  // (64 dims → 4 one-byte codes), 3 Lloyd rounds, ADC top-100 re-rank
  // pool. Small K keeps the sub-keyed chained-CTE oracle tractable;
  // the compression/lookup mechanics are the full FAISS PQ shape.
  private val PqSubs = 4
  private val PqSubDim = 16
  private val PqKInt = 4
  private val PqItersInt = 3
  private val PqRerankInt = 100
  // Training subset: the first 2000 corpus vectors BY ID — a bounded
  // driver collect (the ivfBuild/float-PQ sampled-training trade) that
  // stays SQL-expressible (`vec_id < NQ + 2000`), unlike a random
  // sample. Distributed full-corpus training measured 12.7 s at sf1 —
  // 3× the float PQ — with the three training scans the whole gap.
  private val PqTrainN = 2000

  /** The C8n oracle: [[Cluster.kmeansCtes]]'s integer-Lloyd chain with
    * `sub` added to every key (one chain trains ALL subspace codebooks
    * at once), then the classic PQ serving algebra — per-query ADC
    * lookup table (query-sub × codeword integer dots), code-join
    * scoring, top-R pool, exact integer-cosine re-rank, top-K. Every value is
    * an integer or a double of an integer, so the driver's hash gate
    * covers the whole PQ lifecycle.
    */
  private def pqIntSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH x AS (${Similar.kiloSql("m")}),
      |xs AS (SELECT vec_id, d, m, CAST((d - 1) // $PqSubDim AS BIGINT) AS sub FROM x),
      |pc0 AS (SELECT sub, vec_id - $NQ AS cw, d, m AS cent
      |        FROM xs WHERE vec_id >= $NQ AND vec_id < ${NQ + PqKInt}),
      |""".stripMargin
    for (t <- 1 to PqItersInt) {
      sb ++= s"""pdist$t AS (
        |  SELECT xs.vec_id, xs.sub, c.cw,
        |    CAST(sum((xs.m - c.cent) * (xs.m - c.cent)) AS BIGINT) AS dist
        |  FROM xs JOIN pc${t - 1} c ON c.d = xs.d AND c.sub = xs.sub
        |  WHERE xs.vec_id >= $NQ AND xs.vec_id < ${NQ + PqTrainN}
        |  GROUP BY xs.vec_id, xs.sub, c.cw),
        |pa$t AS (
        |  SELECT vec_id, sub, cw, row_number() OVER (
        |      PARTITION BY vec_id, sub ORDER BY dist, cw) AS rn
        |  FROM pdist$t),
        |ps$t AS (
        |  SELECT a.sub, a.cw, xs.d, CAST(sum(xs.m) AS BIGINT) AS sm, count(*) AS n
        |  FROM pa$t a JOIN xs ON xs.vec_id = a.vec_id AND xs.sub = a.sub
        |  WHERE a.rn = 1 GROUP BY a.sub, a.cw, xs.d),
        |pc$t AS (
        |  SELECT c.sub, c.cw, c.d,
        |    COALESCE(CAST(s.sm // s.n AS BIGINT), c.cent) AS cent
        |  FROM pc${t - 1} c LEFT JOIN ps$t s
        |    ON s.sub = c.sub AND s.cw = c.cw AND s.d = c.d),
        |""".stripMargin
    }
    sb ++= s"""pdistF AS (
      |  SELECT xs.vec_id, xs.sub, c.cw,
      |    CAST(sum((xs.m - c.cent) * (xs.m - c.cent)) AS BIGINT) AS dist
      |  FROM xs JOIN pc$PqItersInt c ON c.d = xs.d AND c.sub = xs.sub
      |  WHERE xs.vec_id >= $NQ
      |  GROUP BY xs.vec_id, xs.sub, c.cw),
      |enc AS (
      |  SELECT vec_id, sub, cw FROM (
      |    SELECT vec_id, sub, cw, row_number() OVER (
      |        PARTITION BY vec_id, sub ORDER BY dist, cw) AS rn
      |    FROM pdistF) WHERE rn = 1),
      |sdot AS (
      |  SELECT q.vec_id AS q_id, c.sub, c.cw,
      |    CAST(sum((q.m - 1000) * (c.cent - 1000)) AS BIGINT) AS sdot
      |  FROM xs q JOIN pc$PqItersInt c ON c.d = q.d AND c.sub = q.sub
      |  WHERE q.vec_id < $NQ
      |  GROUP BY q.vec_id, c.sub, c.cw),
      |adc AS (
      |  SELECT w.q_id, e.vec_id AS n_id, CAST(sum(w.sdot) AS BIGINT) AS adc
      |  FROM enc e JOIN sdot w ON w.sub = e.sub AND w.cw = e.cw
      |  GROUP BY w.q_id, e.vec_id),
      |cand AS (
      |  SELECT q_id, n_id FROM (
      |    SELECT q_id, n_id, row_number() OVER (
      |        PARTITION BY q_id ORDER BY adc DESC, n_id) AS arn
      |    FROM adc) WHERE arn <= $PqRerankInt),
      |iv AS (SELECT vec_id, d, m - 1000 AS v FROM x),
      |${Similar.intCosineSql("iv")},
      |${Similar.topKSql(K)}""".stripMargin
    sb.toString
  }

  /** PQ re-rank pool size, scaled to the corpus: candidate selection
    * must out-grow the PQ-RESOLUTION TIE MASS, which grows linearly
    * with n on a crowded corpus — with a fixed pool of 50, the r7 sf1
    * recall-floor gate measured recall@5 collapse to 0.10 at 20k
    * vectors (0.96 at 500, 0.90 at 2k): once the near-tied candidate
    * set outnumbers the pool, which exact-top-5 members survive PQ
    * rounding is effectively arbitrary. n/64 keeps the pool ahead of
    * the tie sets at every tested scale; the floor of 50 leaves the
    * small-corpus (gate-scale) plans byte-identical. Cost is NQ·pool
    * exact dots — still negligible next to the LUT scan.
    */
  private[queries] def rerankPool(n: Long): Int = math.max(50L, n / 64L).toInt

  /** Corpus size from the raw table's parquet count (metadata-only —
    * never materializes norms or codes for a scalar).
    */
  private[queries] def corpusCount(s: SparkSession, dir: String): Long =
    graft.core.Tables(s, dir, "embeddings").count() - NQ

  /** float[] embedding → (vec_id, emb double[]) — the ONE cast shared
    * by the batch loader and the D31 stream source, so stream/batch
    * scores can't drift on a cast detail.
    */
  private def embCast(df: DataFrame): DataFrame =
    df.select(col("vec_id"),
      transform(col("embedding"), v => v.cast("double")).as("emb"))

  private def embs(s: SparkSession, dir: String): DataFrame =
    embCast(Tables(s, dir, "embeddings"))

  // norm through the codegen'd graft_dot expression — the interpreted
  // aggregate() HOF evaluates per-element boxed and dominated every job
  // that touched the embeddings table
  private def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("emb"),
      sqrt(graft.functions.Native.dot(
        org.apache.spark.sql.SparkSession.active, col("emb"), col("emb"))).as("nrm"))

  /** (vec_id, emb double[], nrm) — the ONE loader every embedding query
    * (here and in [[Dedup]]) shares, so cast/norm semantics can't drift.
    */
  private[graft] def embsWithNorm(s: SparkSession, dir: String): DataFrame =
    withNorm(embs(s, dir))

  /** The C7b loader: [[embsWithNorm]] plus the `label` metadata column
    * the filtered search predicates on — same cast/norm path, so exact
    * scores can never drift between the filtered and unfiltered family.
    */
  private[graft] def embsWithNormLabel(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), v => v.cast("double")).as("emb"))
    d.select(col("vec_id"), col("label"), col("emb"),
      sqrt(graft.functions.Native.dot(
        org.apache.spark.sql.SparkSession.active, col("emb"), col("emb"))).as("nrm"))
  }

  /** (table, signature) bucket keys for all L tables at once — a single
    * batched-kernel call per row (posexplode of the length-L signature
    * array), not L separate UDF crossings.
    */
  private def bucketKeys(emb: Column, l: Int, bits: Int): Column =
    graft.functions.Kernels.hyperplaneSigs(emb, lit(l), lit(bits))

  // ------------------------------------------------ C8g persisted probes

  /** Artifact key for the persisted-index probe queries: fingerprints
    * the SOURCE table (row count from parquet metadata + total file
    * bytes) so a regenerated corpus under the same path can never serve
    * a stale index; build params live in the artifact subdir name. The
    * parity gate additionally proves the loaded index serves exactly
    * what a fresh build would.
    */
  private def artifactKey(s: SparkSession, dir: String): String =
    Artifact.corpusKey(s, dir, "embeddings")

  /** Ensure the persisted IVF index exists for this corpus and return
    * (centroids, assigned-parquet path). The assigned table is written
    * CELL-PARTITIONED — the layout that makes probe-time partition
    * pruning real I/O pruning (only probed cells' files are listed and
    * scanned). The whole artifact directory publishes by atomic rename
    * (Artifact.publish), so readers see a complete index or none.
    */
  private def ivfArtifact(s: SparkSession, dir: String): (Array[Array[Double]], String) = {
    val root = java.nio.file.Paths.get(
      s"target/ann_index/${artifactKey(s, dir)}/ivf_k8")
    Artifact.publish(root) { tmp =>
      val e = embsWithNorm(s, dir)
      val idx = ivfBuild(e.where(col("vec_id") >= NQ), k = 8)
      idx.assigned.write.mode("overwrite").partitionBy("cell")
        .parquet(tmp.resolve("assigned.parquet").toString)
      java.nio.file.Files.writeString(tmp.resolve("cents.txt"),
        idx.cents.map(_.mkString(",")).mkString("\n"))
    }
    val cents = java.nio.file.Files.readString(root.resolve("cents.txt"))
      .split("\n").map(_.split(",").map(_.toDouble))
    (cents, root.resolve("assigned.parquet").toString)
  }

  /** Ensure the persisted PQ index (encoded codes + codebooks) exists
    * and return (codebooks, encoded-parquet path). Raw vectors for the
    * exact re-rank stay in the SOURCE table — the artifact stores only
    * the 16-byte codes (the 16× compression is the point of PQ storage).
    */
  private def pqArtifact(s: SparkSession, dir: String): (Array[Array[Array[Double]]], String) = {
    val root = java.nio.file.Paths.get(
      s"target/ann_index/${artifactKey(s, dir)}/pq_m16k256")
    Artifact.publish(root) { tmp =>
      val e = embsWithNorm(s, dir)
      val idx = pqBuild(e.where(col("vec_id") >= NQ), m = 16, k = 256)
      idx.encoded.write.mode("overwrite")
        .parquet(tmp.resolve("encoded.parquet").toString)
      // m*k lines of dsub comma-separated doubles, subspace-major
      java.nio.file.Files.writeString(tmp.resolve("codebooks.txt"),
        idx.codebooks.flatMap(_.map(_.mkString(","))).mkString("\n"))
    }
    val lines = java.nio.file.Files.readString(root.resolve("codebooks.txt")).split("\n")
    val k = lines.length / 16
    val codebooks = Array.tabulate(16)(j =>
      lines.slice(j * k, (j + 1) * k).map(_.split(",").map(_.toDouble)))
    (codebooks, root.resolve("encoded.parquet").toString)
  }

  /** The ONE DuckDB restatement of the integer-IVF probe (C8l):
    * quantizer = the chained-CTE integer Lloyd loop, probe = 4 nearest
    * cells per query, score = exact integer dot over signed kilo codes.
    * Shared by `ann_ivf_int` (fresh build), `ann_ivf_int_probe`
    * (persisted artifact) and `ann_probe_stream` (streaming serve) —
    * all three MUST produce identical rows, so they share one oracle
    * and the driver hash-gates the whole deployment read path.
    */
  private lazy val ivfIntSql: String =
    s"""${Cluster.kmeansCtes},
       |iv AS (SELECT vec_id, d, m - 1000 AS v FROM x),
       |probe AS (SELECT vec_id AS q_id, cluster FROM aF
       |          WHERE vec_id < $NQ AND rn <= 4),
       |cells AS (SELECT vec_id AS n_id, cluster FROM aF
       |          WHERE vec_id >= $NQ AND rn = 1),
       |cand AS (SELECT p.q_id, c.n_id
       |         FROM probe p JOIN cells c ON c.cluster = p.cluster),
       |${Similar.intCosineSql("iv")},
       |${Similar.topKSql(K)}""".stripMargin

  /** (vec_id, q kilo codes) — the C8l/C39 integer quantization of the
    * embeddings table, the ONE cast the integer-IVF build, probe and
    * stream share.
    */
  private def kiloCodes(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings").select(col("vec_id"),
      Similar.kiloCodes(col("embedding")).as("q"))

  /** Per-query probe cells against FROZEN integer centroids — C8l's
    * driver-side (dist, idx)-sorted 4-nearest computation as a
    * stateless per-row kernel, which is what lets the STREAM serve
    * path compute its probe set per arriving vector with zero state
    * (the D35 frozen-model discipline). Distances are exact longs
    * (diff ≤ 2e3, sq ≤ 4e6, ×64 dims ≤ 2.6e8), ties break on cell id —
    * bit-identical to the collected batch form and the oracle's rn ≤ p.
    */
  private def argmaxCellsInt(cents: Array[Array[Long]], p: Int) = udf { q: Seq[Long] =>
    nearestCellsInt(cents, q, p)
  }

  private def nearestCellsInt(cents: Array[Array[Long]], q: Seq[Long], p: Int): Seq[Int] =
    cents.zipWithIndex.map { case (c, ci) =>
      (c.iterator.zip(q.iterator).map { case (cv, mv) =>
        val dd = mv - cv; dd * dd
      }.sum, ci)
    }.sorted.take(p).map(_._2).toSeq

  /** The integer cell index (n_id, cell, nemb, nnrm) of the corpus kilo
    * codes `x` against frozen centroids — what [[ivfIntArtifact]]
    * persists and `ann_ivf_int` builds fresh.
    */
  private def intCellIndex(s: SparkSession, x: DataFrame, cents: Array[Array[Long]]): DataFrame =
    Cluster.assigned(s, Cluster.withDerived(s, x), cents)
      .where(col("vec_id") >= NQ)
      .select(col("vec_id").as("n_id"), col("cluster").as("cell"),
        Similar.signed(col("q")).as("nemb"))
      .withColumn("nnrm", sqrt(graft.functions.Native.dot(s, col("nemb"), col("nemb"))))

  /** C8l probe → score → top-K: each query's 4 nearest integer cells,
    * resolved on the driver (a bounded NQ×k computation), broadcast as
    * (q_id, cell) pairs into the cell equi-join of the index `assigned`
    * returns for the probed cells; exact integer cosine ranks.
    */
  private def ivfIntProbe(s: SparkSession, cents: Array[Array[Long]], x: DataFrame,
      assigned: Seq[Int] => DataFrame): DataFrame = {
    val queries = x.where(col("vec_id") < NQ)
      .select(col("vec_id").as("q_id"), col("q"), Similar.signed(col("q")).as("qemb"))
      .withColumn("qnrm", sqrt(graft.functions.Native.dot(s, col("qemb"), col("qemb"))))
    val cells = queries.select(col("q_id"), col("q")).collect().toSeq.flatMap { r =>
      nearestCellsInt(cents, r.getSeq[Long](1), 4).map(c => (r.getLong(0), c))
    }
    val sess = s
    import sess.implicits._
    topK(probe(assigned(cells.map(_._2).distinct),
        cells.toDF("q_id", "cell").join(queries.drop("q"), "q_id"), "cell")
      .where(col("qnrm") > 0 && col("nnrm") > 0)
      .select(col("q_id"), col("n_id"),
        cosine(s, col("qemb"), col("nemb"), col("qnrm"), col("nnrm")).as("cos")))
  }

  /** Ensure the persisted INTEGER IVF index (r12 verdict #6) exists and
    * return (integer centroids, cell-partitioned assigned path). Same
    * artifact discipline as [[ivfArtifact]] (fingerprint key, atomic
    * publish, cell-partitioned layout so probes prune at file-listing
    * time) over the C8l quantizer — the integer values make the
    * DEPLOYMENT read path fully hash-gateable: load, prune, probe all
    * restate in [[ivfIntSql]].
    */
  private def ivfIntArtifact(s: SparkSession, dir: String): (Array[Array[Long]], String) = {
    val root = java.nio.file.Paths.get(
      s"target/ann_index/${artifactKey(s, dir)}/ivf_int_k8")
    Artifact.publish(root) { tmp =>
      val cents = Cluster.fit(s, dir)._3
      intCellIndex(s, kiloCodes(s, dir), cents).write.mode("overwrite").partitionBy("cell")
        .parquet(tmp.resolve("assigned.parquet").toString)
      java.nio.file.Files.writeString(tmp.resolve("cents.txt"),
        cents.map(_.mkString(",")).mkString("\n"))
    }
    val cents = java.nio.file.Files.readString(root.resolve("cents.txt"))
      .split("\n").map(_.split(",").map(_.toLong))
    (cents, root.resolve("assigned.parquet").toString)
  }

  // --------------------------------- C8i/C8j incremental index lifecycle

  /** Per-cell assignment statistics of an assigned table against its
    * (frozen, unit-norm) centroids: (cell, n, Σ floor((1−cos)·1e6)) —
    * the sufficient statistics the retrain trigger compares between
    * build time and appended deltas. Per-row floor-quantization BEFORE
    * the long sum keeps the stat order-independent (no float summation),
    * and k≤8 cells make the collect bounded by construction.
    */
  private[graft] def ivfCellStats(
      s: SparkSession, cents: Array[Array[Double]],
      assigned: DataFrame): Seq[(Int, Long, Long)] = {
    val sess = s
    import sess.implicits._
    val cdf = cents.zipWithIndex.toSeq.map { case (c, i) => (i, c.toSeq) }
      .toDF("cell", "cemb")
    assigned.join(broadcast(cdf), "cell")
      .select(col("cell"),
        floor((lit(1.0) -
          graft.functions.Native.dot(s, col("emb"), col("cemb")) / col("nrm")) * 1e6)
          .cast("long").as("dmicro"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("dmicro")).as("sd"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
  }

  /** Retrain-trigger decision over build-time vs delta statistics
    * (driver-side — both inputs are ≤ k rows). Violation classes:
    *   - `cell_skew`: some cell's delta share differs from its
    *     build-time share by more than `skewBp` basis points — the
    *     appended data populates the frozen Voronoi partition in
    *     different proportions than the build did (hot new cluster or a
    *     dying one), so cell sizes are drifting toward probe-time skew;
    *   - `assign_dist`: the delta's mean assignment distance exceeds the
    *     build-time mean by more than `distMarginMicro` (micro-cosine
    *     units) — new vectors land far from EVERY frozen centroid (a
    *     region the quantizer never saw), the failure cell_skew alone
    *     can miss when strays spread evenly. An ABSOLUTE margin, not a
    *     ratio: build-time stats are in-sample (the quantizer trained on
    *     the base), so even a same-distribution delta reads a measured
    *     ~0.04–0.09 cos higher — the margin must clear that gap, while a
    *     genuinely unseen region (orthogonal to the whole centroid span)
    *     reads ≥ +0.27 here. 0.15 separates the two with ~2× on each
    *     side; a ratio of the small base mean cannot.
    * Either firing means: stop appending (C8e), retrain the quantizer,
    * re-assign. Emitted as violation rows so the driver's WHERE 1=0
    * oracle gates "no retrain needed" on the real corpus splits.
    */
  private[graft] def retrainViolations(
      s: SparkSession,
      base: Seq[(Int, Long, Long)], delta: Seq[(Int, Long, Long)],
      skewBp: Long, distMarginMicro: Long): DataFrame = {
    val sess = s
    import sess.implicits._
    val bn = math.max(base.map(_._2).sum, 1L)
    val dn = math.max(delta.map(_._2).sum, 1L)
    val bShare = base.map { case (c, n, _) => c -> n * 10000L / bn }.toMap
    val dShare = delta.map { case (c, n, _) => c -> n * 10000L / dn }.toMap
    // Granularity guard (r10 advice): a dn-row delta quantizes shares
    // in 10000/dn bp steps, so a SINGLE stray vector in a tiny append
    // reads up to 10000 bp of "skew" — and an EMPTY delta reads every
    // build cell's own share as drift. The effective bound therefore
    // never drops below 5 row-quanta (50000/dn bp): one vector can
    // account for at most 1/5 of a firing skew, the configured skewBp
    // is fully active from dn ≥ 50000/skewBp rows (25 at the 2000 bp
    // default), and dn = 0 can never fire (bound 50000 > any share).
    val skewBound = math.max(skewBp, 50000L / dn)
    val skew: Seq[(String, Option[Long], Long, Long)] =
      (bShare.keySet ++ dShare.keySet).toSeq.sorted.flatMap { c =>
        val d = (dShare.getOrElse(c, 0L) - bShare.getOrElse(c, 0L)).abs
        if (d > skewBound) Some(("cell_skew", Some(c.toLong), d, skewBound)) else None
      }
    val bMean = base.map(_._3).sum / bn
    val dMean = delta.map(_._3).sum / dn
    val dist: Seq[(String, Option[Long], Long, Long)] =
      if (dMean > bMean + distMarginMicro)
        Seq(("assign_dist", None, dMean, bMean + distMarginMicro))
      else Seq.empty
    (skew ++ dist).toDF("reason", "cell", "observed", "bound")
  }

  /** Mean PQ reconstruction error — the staleness statistic of FROZEN
    * codebooks (C8i's assign_dist on the CODE side): per row, the L2²
    * between the unit vector and its nearest-codeword reconstruction,
    * floor-quantized to micro units BEFORE the long sum (order-
    * independent). Rising error on appended data means the codebooks no
    * longer span where new vectors land — quantization noise eats the
    * re-rank pool's headroom and recall decays silently, which is
    * exactly what a code-side retrain trigger must catch. Returns
    * (n, Σ floor(err·1e6)).
    */
  private[graft] def pqQuantErrStats(
      s: SparkSession, codebooks: Array[Array[Array[Double]]],
      corpus: DataFrame): (Long, Long) = {
    val errUdf = udf { (emb: Seq[Double], nrm: Double) =>
      val m = codebooks.length
      val dim = emb.size
      val dsub = dim / m
      var err = 0.0
      var j = 0
      while (j < m) {
        val sub = new Array[Double](dsub)
        var i = 0
        while (i < dsub) {
          val v = emb(j * dsub + i)
          sub(i) = if (nrm > 0) v / nrm else v
          i += 1
        }
        val cw = codebooks(j)(PqKernels.nearestL2(codebooks(j), sub))
        var d = 0.0
        i = 0
        while (i < dsub) { val t = sub(i) - cw(i); d += t * t; i += 1 }
        err += d
        j += 1
      }
      math.floor(err * 1e6).toLong
    }
    val r = corpus.select(errUdf(col("emb"), col("nrm")).as("e"))
      .agg(count(lit(1)).as("n"), sum(col("e")).as("s")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Code-side retrain decision: violation when the delta's mean
    * reconstruction error exceeds the build-time mean by more than
    * `marginMicro` (absolute, for the same in-sample reason as
    * [[retrainViolations]]' distance test). Same output shape as the
    * IVF trigger so the two gates share an oracle.
    */
  private[graft] def pqRetrainViolations(
      s: SparkSession, baseMean: Long, deltaMean: Long,
      marginMicro: Long): DataFrame = {
    val sess = s
    import sess.implicits._
    val rows: Seq[(String, Option[Long], Long, Long)] =
      if (deltaMean > baseMean + marginMicro)
        Seq(("recon_err", None, deltaMean, baseMean + marginMicro))
      else Seq.empty
    rows.toDF("reason", "cell", "observed", "bound")
  }

  /** Write an incremental IVF artifact under `tmp`: quantizer trained on
    * the base split (vec_id %5 ≠ 0) and FROZEN (cents.txt + build-time
    * stats.txt), base assignment cell-partitioned (assigned.parquet),
    * and the delta split (%5 = 0) assigned through the frozen centroids
    * as an APPENDED delta (deltas/d0.parquet) — the C8e maintenance
    * path made durable, never folded into the base at write time.
    */
  private def writeIncrArtifact(
      s: SparkSession, dir: String, tmp: java.nio.file.Path): Unit = {
    val corpus = embsWithNorm(s, dir).where(col("vec_id") >= NQ)
    val idx = ivfBuild(corpus.where(pmod(col("vec_id"), lit(5)) =!= 0), k = 8)
    idx.assigned.write.mode("overwrite").partitionBy("cell")
      .parquet(tmp.resolve("assigned.parquet").toString)
    ivfAssign(idx.cents, corpus.where(pmod(col("vec_id"), lit(5)) === 0))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(tmp.resolve("deltas").resolve("d0.parquet").toString)
    java.nio.file.Files.writeString(tmp.resolve("cents.txt"),
      idx.cents.map(_.mkString(",")).mkString("\n"))
    // build-time stats persist WITH the index: at 100 TB the base is
    // never rescanned just to recover its own statistics
    val stats = ivfCellStats(s, idx.cents,
      s.read.parquet(tmp.resolve("assigned.parquet").toString))
    java.nio.file.Files.writeString(tmp.resolve("stats.txt"),
      stats.sortBy(_._1).map { case (c, n, sd) => s"$c,$n,$sd" }.mkString("\n"))
  }

  /** Ensure the persisted incremental IVF artifact (base + delta +
    * frozen quantizer + build stats) exists for this corpus; returns its
    * root. Shares [[Artifact.publish]]'s atomic-rename discipline.
    */
  private[graft] def ivfIncrArtifact(s: SparkSession, dir: String): java.nio.file.Path = {
    val root = java.nio.file.Paths.get(
      s"target/ann_index/${artifactKey(s, dir)}/ivf_k8_incr")
    Artifact.publish(root)(tmp => writeIncrArtifact(s, dir, tmp))
    root
  }

  /** Build a PRIVATE incremental artifact at `root` (no publish-once
    * keying) — for consumers that MUTATE the index (compaction) and must
    * not fold the shared persisted artifact out from under other probes.
    */
  private[graft] def buildIncrArtifactAt(
      s: SparkSession, dir: String, root: java.nio.file.Path): Unit =
    writeIncrArtifact(s, dir, root)

  private[graft] def loadCents(root: java.nio.file.Path): Array[Array[Double]] =
    java.nio.file.Files.readString(root.resolve("cents.txt"))
      .split("\n").map(_.split(",").map(_.toDouble))

  private[graft] def loadStats(root: java.nio.file.Path): Seq[(Int, Long, Long)] =
    java.nio.file.Files.readString(root.resolve("stats.txt")).split("\n").toSeq
      .map { l => val a = l.split(","); (a(0).toInt, a(1).toLong, a(2).toLong) }

  /** Append a new vector batch to a persisted incremental artifact:
    * assign through the FROZEN centroids (the C8e contract — never
    * retrain on append; `inv_ann_retrain_trigger` decides when that
    * stops being sound) and land it as the next `deltas/dN.parquet`,
    * cell-partitioned like the base so probe-time partition pruning
    * covers deltas too. Write-to-temp-then-rename: a concurrent probe
    * reads a complete delta or none. `batch` must be (vec_id, emb, nrm).
    */
  private[graft] def ivfAppend(
      s: SparkSession, root: java.nio.file.Path, batch: DataFrame): Unit = {
    val deltasDir = root.resolve("deltas")
    java.nio.file.Files.createDirectories(deltasDir)
    val st = java.nio.file.Files.list(deltasDir)
    // next index = max(published dNNNN) + 1, NOT a directory-entry
    // count (r10 advice): counting would include crashed .tmp dirs and
    // stray files, and once names go sparse (a cleaned-up crash, an
    // out-of-band removal) a count collides with an existing
    // dNNNN.parquet — the ATOMIC_MOVE below would then fail or replace
    // a live delta depending on platform.
    val pat = "d(\\d+)\\.parquet".r
    val n =
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.getFileName.toString).collect {
          case pat(i) => i.toInt
        }.maxOption.map(_ + 1).getOrElse(0)
      } finally st.close()
    val tmp = deltasDir.resolve(f".d$n%04d.tmp")
    ivfAssign(loadCents(root), batch)
      .write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    java.nio.file.Files.move(tmp, deltasDir.resolve(f"d$n%04d.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The accumulated delta tables under an incremental artifact, oldest
    * first (append order = lexicographic dN names), or None if compacted.
    */
  private[graft] def readDeltas(
      s: SparkSession, root: java.nio.file.Path): Option[DataFrame] = {
    val deltasDir = root.resolve("deltas")
    if (!java.nio.file.Files.isDirectory(deltasDir)) return None
    val st = java.nio.file.Files.list(deltasDir)
    val paths =
      try {
        import scala.jdk.CollectionConverters._
        // published deltas only — never a crashed append's .dN.tmp
        st.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(_.toString).toList.sorted
      } finally st.close()
    paths.map(p => s.read.parquet(p)).reduceOption(_.unionByName(_))
  }

  /** The full serving view of an incremental artifact: base ∪ deltas.
    * Recovers any interrupted compaction FIRST — without that, a crash
    * after the base swap but before the deltas cleanup would serve
    * every appended vector TWICE (the merged base already contains
    * them), and a crash between the two swap renames would serve no
    * base at all.
    */
  private[graft] def readIncrAssigned(
      s: SparkSession, root: java.nio.file.Path): DataFrame = {
    recoverCompact(root)
    val base = s.read.parquet(root.resolve("assigned.parquet").toString)
    readDeltas(s, root).map(base.unionByName(_)).getOrElse(base)
  }

  /** Detect-and-repair for a compaction interrupted mid-swap (r10
    * advice: ivfAppend guarantees "complete delta or none", but
    * compaction had no recovery story). State machine over the three
    * markers — `.assigned.compact-tmp` (the merged rewrite),
    * `.assigned.old` (the pre-fold base parked by the first rename),
    * `assigned.parquet` (the live base):
    *   - no base + old present: crashed BETWEEN the two renames. The
    *     tmp is a COMPLETE merged view (its write action finished
    *     before the first rename ran), so roll FORWARD: tmp → base,
    *     then drop old + deltas (both already folded into tmp). If the
    *     tmp vanished out-of-band, roll BACK: old → base, deltas stay.
    *   - base + old present: the fold COMMITTED (the live base is the
    *     merged view) but cleanup crashed — the deltas are already in
    *     the base, so serving them again would double every appended
    *     vector. Finish the cleanup: drop old + deltas.
    *   - tmp only: the fold never started committing; the base+deltas
    *     view is intact and current. Drop the stale tmp.
    * Rename races between concurrent recoverers resolve to whoever
    * moved first; the loser's NoSuchFile is benign and swallowed.
    */
  private[graft] def recoverCompact(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    val base = root.resolve("assigned.parquet")
    val old = root.resolve(".assigned.old")
    val tmp = root.resolve(".assigned.compact-tmp")
    if (!Files.exists(old) && !Files.exists(tmp)) return // fast path
    try {
      if (!Files.exists(base) && Files.exists(old)) {
        if (Files.exists(tmp)) {
          Files.move(tmp, base, StandardCopyOption.ATOMIC_MOVE)
          Artifact.deleteRecursively(old)
          Artifact.deleteRecursively(root.resolve("deltas"))
        } else Files.move(old, base, StandardCopyOption.ATOMIC_MOVE)
      } else if (Files.exists(old)) {
        Artifact.deleteRecursively(old)
        Artifact.deleteRecursively(root.resolve("deltas"))
      } else if (Files.exists(tmp)) {
        Artifact.deleteRecursively(tmp)
      }
    } catch {
      // a concurrent recoverer (or the compactor itself) won a rename;
      // the state it left is one of the handled states or fully healed
      case _: java.nio.file.NoSuchFileException => ()
      case _: java.nio.file.FileAlreadyExistsException => ()
    }
  }

  /** Fold accumulated deltas back into the cell-partitioned base —
    * the Graft.compact move applied to ANN state. The merged rewrite
    * lands fully in a temp sibling before two renames swap it in
    * (single-writer maintenance op, same discipline as the view-state
    * compactor); afterwards the probe path reads ONE cell-partitioned
    * table again, so per-cell file counts — and with them probe-time
    * listing and scan work — stop growing with append history. Probe
    * parity across the fold is driver-gated (inv_ann_compact_parity).
    */
  private[graft] def ivfCompact(s: SparkSession, root: java.nio.file.Path): Unit = {
    recoverCompact(root) // a prior interrupted fold heals before a new one starts
    if (!java.nio.file.Files.isDirectory(root.resolve("deltas"))) return
    val merged = readIncrAssigned(s, root)
    val tmp = root.resolve(".assigned.compact-tmp")
    // the write ACTION completes (full read of base+deltas) before any
    // rename below touches the files it scanned
    merged.write.mode("overwrite").partitionBy("cell").parquet(tmp.toString)
    val old = root.resolve(".assigned.old")
    java.nio.file.Files.move(root.resolve("assigned.parquet"), old,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    java.nio.file.Files.move(tmp, root.resolve("assigned.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    Artifact.deleteRecursively(old)
    Artifact.deleteRecursively(root.resolve("deltas"))
  }

  private def topK(scored: DataFrame): DataFrame = Similar.topK(scored, K)

  val all: Seq[Q] = Seq(

    // C7: brute-force cosine top-k — exact baseline; broadcast query set,
    // map-side scoring, TopK per query. Ranking rounds to 6 decimals with
    // id tie-break so both engines order identically.
    Q("ann_bruteforce",
      s"""WITH x AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v,
         |            generate_subscripts(embedding, 1) AS i FROM embeddings),
         |n AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM x GROUP BY vec_id),
         |d AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, sum(q.v * c.v) AS dot
         |      FROM x q JOIN x c ON q.i = c.i
         |      WHERE q.vec_id < $NQ AND c.vec_id >= $NQ
         |      GROUP BY q.vec_id, c.vec_id),
         |scored AS (SELECT q_id, n_id, dot / (nq.nrm * nc.nrm) AS cos
         |           FROM d JOIN n nq ON nq.vec_id = q_id JOIN n nc ON nc.vec_id = n_id),
         |${Similar.topKSql(K)}""".stripMargin) { (s, dir) =>
      val e = withNorm(embs(s, dir))
      val queries = e.where(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("emb").as("qemb"), col("nrm").as("qnrm"))
      topK(probe(e.where(col("vec_id") >= NQ), queries)
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosine(s, col("qemb"), col("emb"), col("qnrm"), col("nrm")).as("cos")))
    },

    // C7b: FILTERED vector search — top-k cosine restricted to corpus
    // vectors satisfying a per-query metadata predicate (here: label
    // equality with the query, the canonical "search within my
    // collection/category" shape every production vector store exposes).
    // Filter-BEFORE-distance: the predicate is the equi-join key of the
    // broadcast query join, so non-matching corpus rows are rejected by
    // the (cheap) hash probe and never reach the d-dimensional dot
    // product — with |labels| categories that is a ~|labels|× cut in
    // distance work, exactly the pre-filtering a post-filter top-k
    // (score everything, discard non-matching) throws away. At 100 TB
    // the corpus is additionally label-partitionable at rest, turning
    // the predicate into partition pruning; the corpus never shuffles
    // here either way. Exact + oracle-gated (the ANN variants' recall
    // floors are gated against this family's exact results).
    Q("ann_filtered",
      s"""WITH x AS (SELECT vec_id, label, unnest(embedding)::DOUBLE AS v,
         |            generate_subscripts(embedding, 1) AS i FROM embeddings),
         |n AS (SELECT vec_id, any_value(label) AS label, sqrt(sum(v * v)) AS nrm
         |      FROM x GROUP BY vec_id),
         |d AS (SELECT q.vec_id AS q_id, c.vec_id AS n_id, sum(q.v * c.v) AS dot
         |      FROM x q JOIN x c ON q.i = c.i AND q.label = c.label
         |      WHERE q.vec_id < $NQ AND c.vec_id >= $NQ
         |      GROUP BY q.vec_id, c.vec_id),
         |scored AS (SELECT q_id, n_id, dot / (nq.nrm * nc.nrm) AS cos
         |           FROM d JOIN n nq ON nq.vec_id = q_id JOIN n nc ON nc.vec_id = n_id),
         |${Similar.topKSql(K)}""".stripMargin) { (s, dir) =>
      val e = embsWithNormLabel(s, dir)
      val queries = e.where(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("label"),
          col("emb").as("qemb"), col("nrm").as("qnrm"))
      topK(probe(e.where(col("vec_id") >= NQ), queries, "label")
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosine(s, col("qemb"), col("emb"), col("qnrm"), col("nrm")).as("cos")))
    },

    // C7c: filtered search through the IVF index — the at-scale form of
    // C7b (an exact scan of the label class stops being free when the
    // class is 1/|labels| of 100 TB). The cell-partitioned index carries
    // the label BESIDE each assigned row (in deployment the persisted
    // index stores its filter metadata — re-joining labels at probe time
    // would shuffle the corpus), and the probe joins on (cell, label):
    // the predicate rides the same hash probe as cell membership, so
    // non-matching candidates die before any distance work. Filtered
    // search needs MORE probes than unfiltered (each probed cell holds
    // only ~1/|labels| eligible candidates): p=6 of k=8 vs C8b's 4.
    // Gated by inv_ann_filtered_ivf (predicate holds on every row +
    // recall floor vs the exact C7b); rows-only for the driver.
    Q.noOracle("ann_filtered_ivf") { (s, dir) =>
      val e = embsWithNormLabel(s, dir)
      val corpus = e.where(col("vec_id") >= NQ)
      val queries = e.where(col("vec_id") < NQ)
      val idx = ivfBuild(corpus.select(col("vec_id"), col("emb"), col("nrm")), k = 8)
      val assigned = corpus.select(col("vec_id").as("n_id"), col("label"),
        col("emb"), col("nrm"),
        argmaxCells(idx.cents, 1)(col("emb")).getItem(0).as("cell"))
      val probed = queries.select(col("vec_id").as("q_id"), col("label"),
        col("emb").as("qemb"), col("nrm").as("qnrm"),
        explode(argmaxCells(idx.cents, 6)(col("emb"))).as("cell"))
      topK(probe(assigned, probed, "cell", "label").select(col("q_id"), col("n_id"),
        cosine(s, col("qemb"), col("emb"), col("qnrm"), col("nrm")).as("cos")))
    },

    // C8: random-hyperplane LSH — L tables of b sign-bits; queries meet
    // corpus vectors only inside matching (table, signature) buckets; the
    // survivors get exact cosine + TopK. AnnSpec measures recall vs C7.
    // Rows-only for the driver (banding isn't SQL-expressible).
    Q.noOracle("ann_lsh") { (s, dir) =>
      // 6 bits × 16 tables: tuned for near-uniform synthetic vectors
      // (top-neighbor angles ~65-70° ⇒ per-bit agreement ~0.6; 6 bits
      // keeps per-table recall ~5%, 16 tables lift it to ~0.5+ while
      // buckets stay ~n/64). Real clustered embeddings allow more bits.
      val L = 16; val bits = 6
      val e = withNorm(embs(s, dir))
      val tabled = e.select(col("vec_id"), col("emb"), col("nrm"),
          posexplode(bucketKeys(col("emb"), L, bits)).as(Seq("t", "sig")))
        .select(col("vec_id"), col("emb"), col("nrm"),
          struct(col("t"), col("sig")).as("tk"))
      val queries = tabled.where(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("tk"))
      val corpus = tabled.where(col("vec_id") >= NQ)
      // candidate ids only through the bucket join; a pair can meet in
      // several tables, so dedup BEFORE the (expensive) exact scoring
      val cands = probe(corpus, queries, "tk")
        .select(col("q_id"), col("vec_id").as("n_id"))
        .distinct()
      // broadcast ONLY the query vectors (vec_id < NQ) — the corpus side
      // of `e` must never be broadcast (fatal at 100 TB); the q_id join
      // can only match query ids anyway.
      topK(probe(cands, e.where(col("vec_id") < NQ)
          .select(col("vec_id").as("q_id"), col("emb").as("qemb"), col("nrm").as("qnrm")), "q_id")
        .join(e.select(col("vec_id").as("n_id"),
          col("emb").as("nemb"), col("nrm").as("nnrm")), "n_id")
        .select(col("q_id"), col("n_id"),
          cosine(s, col("qemb"), col("nemb"), col("qnrm"), col("nnrm")).as("cos")))
    },

    // C8b: IVF (inverted-file) ANN — the centroid-partitioned scale path
    // next to hyperplane LSH. A K-cell coarse quantizer (deterministic
    // k-means: first-K init, 3 Lloyd rounds; centroids are K×dim doubles,
    // trivially broadcastable at any corpus size) assigns each corpus
    // vector to its nearest cell ONCE; each query probes only its P
    // nearest cells; exact cosine + TopK run inside probed cells. At
    // 100 TB the corpus partitions by cell at build time and is never
    // re-shuffled per query — queries broadcast into their cells. Recall
    // tunes with P/K. Spec measures recall vs ann_bruteforce; rows-only
    // for the driver (the quantizer isn't SQL-expressible).
    Q.noOracle("ann_ivf") { (s, dir) =>
      val e = withNorm(embs(s, dir))
      val idx = ivfBuild(e.where(col("vec_id") >= NQ), k = 8)
      ivfProbe(s, idx, e.where(col("vec_id") < NQ), p = 4)
    },

    // C8l (r11): the HASH-GATED IVF — full IVF mechanics (trained
    // coarse quantizer → cell assignment → per-query top-p cell probe →
    // exact cosine re-rank inside probed cells) over kilo-quantized
    // INTEGER vectors, so every step is bit-identical cross-engine and
    // the driver's rows+schema+hash gate covers an IVF-family probe
    // end-to-end (r10 verdict gap #3: media_ann proved integer vectors
    // make ANN hash-gateable; the main family rested on inv gates).
    // Quantizer = C39's integer Lloyd k-means (emb_kmeans — itself
    // hash-gated ×3 scales), restated move-for-move by the same
    // chained-CTE oracle prefix; probe cells per query = the 4 nearest
    // of 8 final centroids by the SAME integer distance (aF rn ≤ 4 in
    // the oracle, a bounded 10×8 driver computation here); similarity =
    // exact integer dot over the SIGNED kilo codes (m − 1000, products
    // ≤1e6, sums ≤6.4e7 ≪ 2⁵³ — exact in double in any order) with
    // √/division/round applied to identical doubles in both engines.
    // Scale shape: corpus assignment is the map-only centroid-literal
    // pass (never shuffles), the probe set broadcasts as ≤ NQ·p slim
    // rows into an EQUI-join on cell id — only probed cells' rows are
    // scored, the ann_ivf partition-pruning story with the quantizer's
    // determinism making it gateable.
    Q("ann_ivf_int", ivfIntSql) { (s, dir) =>
      val cents = Cluster.fit(s, dir)._3
      val x = kiloCodes(s, dir)
      ivfIntProbe(s, cents, x, _ => intCellIndex(s, x, cents))
    },

    // C8m (r11): the HASH-GATED LSH — C8l's integer-determinism scheme
    // applied to the hyperplane-LSH family: deterministic INTEGER
    // hyperplanes ([[lshW]], a fixed integer formula both engines
    // restate literally — see the constant's scaladoc for the
    // decorrelation requirement), signature bit =
    // sign of the integer dot against the signed kilo codes (|term| ≤
    // 6e3·64 — exact in double in any order, so the SIGN is bit-stable
    // cross-engine), candidates = signature equality in ANY table,
    // re-rank = exact integer cosine. Every stage is integer-decidable
    // ⇒ the driver's rows+schema+hash gate covers an LSH probe
    // end-to-end (ann_lsh itself stays rows-only: float hyperplanes).
    // Scale shape: signatures are ONE map-only pass over the corpus
    // (8×8 dots/row inside codegen'd graft_dot), the 10-query signature
    // set broadcasts into an equi-join on (table, sig) — bucket-local
    // candidate generation, zero corpus shuffle, the C8 plan with the
    // determinism making it gateable.
    Q("ann_lsh_int",
      s"""WITH x AS (${Similar.kiloSql("v", shift = 1000)}),
         |${Similar.lshIntSigSql(LshTables, LshBits)},
         |cand AS (SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
         |         FROM sig q JOIN sig c ON c.t = q.t AND c.sig = q.sig
         |         WHERE q.vec_id < $NQ AND c.vec_id >= $NQ),
         |${Similar.intCosineSql("x")},
         |${Similar.topKSql(K)}""".stripMargin) { (s, dir) =>
      val sigs = Tables(s, dir, "embeddings")
        .select(col("vec_id"), Similar.signed(Similar.kiloCodes(col("embedding"))).as("v"))
        .withColumn("nrm", sqrt(graft.functions.Native.dot(s, col("v"), col("v"))))
        .select(col("vec_id"), col("v"), col("nrm"),
          explode(Similar.lshIntSigs(s, col("v"), LshTables, LshBits)).as("ts"))
        .select(col("vec_id"), col("v"), col("nrm"),
          col("ts.t").as("t"), col("ts.sig").as("sig"))
      val qs = sigs.where(col("vec_id") < NQ)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("t"), col("sig"))
      topK(probe(sigs.where(col("vec_id") >= NQ), qs, "t", "sig")
        .where(col("qnrm") > 0 && col("nrm") > 0)
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosine(s, col("qv"), col("v"), col("qnrm"), col("nrm")).as("cos"))
        .distinct())
    },

    // C8n (r11): the HASH-GATED PQ — the integer-determinism scheme
    // completing the trilogy (C8l IVF, C8m LSH): per-subspace integer
    // Lloyd codebooks (the Cluster.kmeansCtes discipline with `sub`
    // added to every key — ONE chained-CTE trains all four codebooks),
    // corpus encoded to 4 codes, per-query ADC LOOKUP TABLE (query-sub
    // × codeword integer dots — the classic PQ serving trick, 160
    // integers), code-join scoring, top-100 ADC pool (4 codewords/subspace is coarse — measured recall 0.20 at pool 20, 0.48 at 100), exact integer
    // cosine re-rank. Every step is integer arithmetic (sums ≤ 6.4e7 ≪
    // 2⁵³ — exact in double in any order), so the driver's
    // rows+schema+hash gate covers the full PQ lifecycle end-to-end
    // (ann_pq stays rows-only: float sampled codebooks). Scale shape:
    // training shuffles 256 partial rows per round (map-side
    // combinable), encode is a map-only codeword-literal pass, ADC
    // scoring joins the 4-code table against a ≤NQ·S·K broadcast —
    // the compressed-domain scan IS the read path, raw vectors touched
    // only by the 20-row re-rank pool per query.
    Q("ann_pq_int", pqIntSql) { (s, dir) =>
      val x = kiloCodes(s, dir)
      val xd = x.withColumn("qd", transform(col("q"), _.cast("double")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val corpus = xd.where(col("vec_id") >= NQ)
        val seedRows = corpus.where(col("vec_id") < NQ + PqKInt)
          .select(col("vec_id"), col("q")).orderBy(col("vec_id")).collect()
        require(seedRows.length == PqKInt,
          s"ann_pq_int expects vec_ids $NQ..${NQ + PqKInt - 1} present as seeds")
        var cents: Array[Array[Array[Long]]] = Array.tabulate(PqSubs) { sb =>
          seedRows.map(_.getSeq[Long](1).toArray
            .slice(sb * PqSubDim, (sb + 1) * PqSubDim))
        }
        // nearest codeword of subspace `sb` — argmin over −2·(q_s·c) +
        // c·c (the shared q_s·q_s term cancels in both the argmin and
        // its ties, which break to the lowest cw like the oracle's
        // row_number ORDER BY (dist, cw))
        def cwCol(sb: Int): Column = {
          val qs = slice(col("qd"), sb * PqSubDim + 1, PqSubDim)
          val dists: Seq[Column] = cents(sb).toSeq.map { cw =>
            val cd = typedLit(cw.map(_.toDouble).toSeq)
            val cc = cw.foldLeft(0.0d)((acc, v) => acc + v.toDouble * v.toDouble)
            lit(-2.0d) * graft.functions.Native.dot(s, qs, cd) + lit(cc)
          }
          val minD = least(dists: _*)
          dists.init.zipWithIndex.foldLeft(Option.empty[Column]) {
            case (acc, (d, i)) =>
              Some(acc.fold(when(d === minD, lit(i)))(_.when(d === minD, lit(i))))
          }.get.otherwise(lit(PqKInt - 1)).cast("int")
        }
        // training runs ON THE DRIVER over the deterministic id-prefix
        // subset (bounded collect: PqTrainN rows — the float-PQ sampled
        // trade kept SQL-expressible): integer Lloyd with the oracle's
        // exact rules — Σ(m−cent)² distances, ties to the lowest cw,
        // floor-mean update, empty codeword keeps its previous centroid
        val trainRows: Array[Array[Long]] = corpus
          .where(col("vec_id") < NQ + PqTrainN)
          .select(col("q")).collect().map(_.getSeq[Long](0).toArray)
        for (_ <- 1 to PqItersInt) {
          val next = cents.map(_.map(_.clone()))
          for (sb <- 0 until PqSubs) {
            val sums = Array.fill(PqKInt, PqSubDim)(0L)
            val ns = Array.fill(PqKInt)(0L)
            trainRows.foreach { q =>
              var best = 0; var bestD = Long.MaxValue
              for (cw <- 0 until PqKInt) {
                var dist = 0L
                var d = 0
                while (d < PqSubDim) {
                  val diff = q(sb * PqSubDim + d) - cents(sb)(cw)(d)
                  dist += diff * diff; d += 1
                }
                if (dist < bestD) { bestD = dist; best = cw }
              }
              ns(best) += 1
              var d = 0
              while (d < PqSubDim) {
                sums(best)(d) += q(sb * PqSubDim + d); d += 1
              }
            }
            for (cw <- 0 until PqKInt; d <- 0 until PqSubDim)
              if (ns(cw) > 0) next(sb)(cw)(d) = sums(cw)(d) / ns(cw)
          }
          cents = next
        }
        // corpus → 4 codes (map-only, codeword literals)
        val enc = corpus.select(col("vec_id").as("n_id"),
          explode(array((0 until PqSubs).map { sb =>
            struct(lit(sb).as("sub"), cwCol(sb).as("cw"))
          }: _*)).as("e"))
          .select(col("n_id"), col("e.sub").as("sub"), col("e.cw").as("cw"))
        // per-query ADC lookup table — NQ·S·K signed integer dots,
        // driver-computed like every quantizer-model artifact here
        val qRows = xd.where(col("vec_id") < NQ)
          .select(col("vec_id"), col("q")).collect()
        val sess = s
        import sess.implicits._
        val sdot = qRows.toSeq.flatMap { r =>
          val qid = r.getLong(0)
          val qv = r.getSeq[Long](1).toArray
          for (sb <- 0 until PqSubs; cw <- 0 until PqKInt) yield {
            val dot = (0 until PqSubDim).map(d =>
              (qv(sb * PqSubDim + d) - 1000L) * (cents(sb)(cw)(d) - 1000L)).sum
            (qid, sb, cw, dot)
          }
        }.toDF("q_id", "sub", "cw", "sdot")
        val adc = enc.join(broadcast(sdot), Seq("sub", "cw"))
          .groupBy(col("q_id"), col("n_id"))
          .agg(sum(col("sdot")).as("adc"))
        val cand = adc.withColumn("arn", row_number().over(
            Window.partitionBy(col("q_id"))
              .orderBy(col("adc").desc, col("n_id"))))
          .where(col("arn") <= PqRerankInt)
          .select(col("q_id"), col("n_id"))
        val signed = Similar.signed(col("q"))
        val queries = xd.where(col("vec_id") < NQ)
          .select(col("vec_id").as("q_id"), signed.as("qemb"))
          .withColumn("qnrm",
            sqrt(graft.functions.Native.dot(s, col("qemb"), col("qemb"))))
        val corpusS = xd.where(col("vec_id") >= NQ)
          .select(col("vec_id").as("n_id"), signed.as("nemb"))
          .withColumn("nnrm",
            sqrt(graft.functions.Native.dot(s, col("nemb"), col("nemb"))))
        val scored = probe(corpusS, cand.join(queries, "q_id"), "n_id")
          .where(col("qnrm") > 0 && col("nnrm") > 0)
          .select(col("q_id"), col("n_id"),
            cosine(s, col("qemb"), col("nemb"), col("qnrm"), col("nnrm")).as("cos"))
        // eager checkpoint BEFORE the cached frame releases (the plan
        // reads xd); tracked so the consumer's drain frees the blocks
        Pinned.track(topK(scored).localCheckpoint(true))
      } finally xd.unpersist(blocking = false)
    },

    // C8c: product-quantization ANN (the FAISS-standard compressed
    // path): 16 subspaces × 32 codewords trained driver-side on a
    // bounded sample, corpus encoded once to 16 ONE-BYTE codes (16× less
    // in-memory width than raw 64-d float vectors), queries score via
    // broadcast lookup tables (m adds per pair), top-`rerank` PQ
    // candidates re-ranked with EXACT cosine — reported scores are
    // never approximate, only candidate selection is. Spec measures
    // recall vs ann_bruteforce; rows-only for the driver.
    Q.noOracle("ann_pq") { (s, dir) =>
      val e = withNorm(embs(s, dir))
      // k=256: the full one-byte code range — the operating point
      // AnnScale established at 200k (k=32's 5-bit resolution is what
      // collapsed recall on the crowded sf1 corpus, together with the
      // fixed pool)
      val idx = pqBuild(e.where(col("vec_id") >= NQ), m = 16, k = 256)
      pqProbe(s, idx, e.where(col("vec_id") < NQ),
        rerank = rerankPool(corpusCount(s, dir)))
    },

    // C8d: IVF × PQ — the at-scale composition (FAISS's IVFPQ): cell
    // pruning cuts WHICH rows are scanned (p/k of the files of a
    // cell-partitioned index), PQ cuts their WIDTH (~1/16 of raw), and
    // both prunings multiply; survivors re-rank exact. Spec measures
    // recall vs brute force and asserts the probe scans only probed
    // cells' candidates.
    Q.noOracle("ann_ivfpq") { (s, dir) =>
      val e = withNorm(embs(s, dir))
      val corpus = e.where(col("vec_id") >= NQ)
      val queries = e.where(col("vec_id") < NQ)
      ivfPqProbe(s, ivfPqBuild(corpus, kCells = 8, m = 16, k = 256),
        queries, p = 4, rerank = rerankPool(corpusCount(s, dir)))
    },

    // C8g: probe a PERSISTED IVF index — the deployment read path
    // (r7 verdict #8: AnnScale and the build queries measure index
    // BUILDS; the number a serving pipeline lives on is probing an
    // index built last night). First run materializes the artifact
    // (cell-partitioned parquet + centroid file, fingerprint-keyed to
    // the source table); every later run LOADS it — Bench's
    // median-of-3 therefore reports the load+probe path. The probed
    // cells prune the read before it happens (ivfProbeCells → a
    // partition filter over the cell-partitioned layout): IVF's
    // p-of-k saving lands as file-listing I/O, not just row filtering.
    Q.noOracle("ann_ivf_probe") { (s, dir) =>
      val (cents, path) = ivfArtifact(s, dir)
      val queries = embsWithNorm(s, dir).where(col("vec_id") < NQ)
      val cells = ivfProbeCells(IvfIndex(cents, null), queries, p = 4)
      val assigned = s.read.parquet(path)
        .where(col("cell").isInCollection(cells))
      ivfProbe(s, IvfIndex(cents, assigned), queries, p = 4)
    },

    // C8g, INTEGER family (r12 verdict #6): probe the PERSISTED integer
    // IVF — C8l's deployment read path. The artifact's frozen integer
    // quantizer resolves each query's 4 probe cells driver-side (a
    // bounded NQ×k computation), their union lands as a PARTITION
    // filter on the cell-partitioned index scan (AnnBuildScanSpec pins
    // PartitionFilters non-empty), and the per-query (q_id, cell) pairs
    // broadcast into the cell equi-join exactly as in the fresh build.
    // Because every quantity is integer-decidable, the probe result
    // must be BIT-IDENTICAL to ann_ivf_int — the two share [[ivfIntSql]]
    // and the driver hash-gates the serve path a production vector
    // store actually runs (load + prune + probe), not just the build.
    Q("ann_ivf_int_probe", ivfIntSql) { (s, dir) =>
      val (cents, path) = ivfIntArtifact(s, dir)
      ivfIntProbe(s, cents, kiloCodes(s, dir),
        cells => s.read.parquet(path).where(col("cell").isInCollection(cells)))
    },

    // D31 (r11): STREAMING ANN serving — query vectors arrive as a
    // stream and are answered against the PERSISTED IVF artifact (the
    // C8g probe read path at ingest time: the real-time vector-search
    // deployment shape). Frozen-model discipline (D11): the artifact's
    // centroids load ONCE before the stream starts and compile into a
    // stateless per-row probe-cell projection (zero stream state); the
    // probed stream then STREAM-STATIC equi-joins the cell-partitioned
    // index on cell with exact cosine riding the join. Top-k ranking is
    // a BATCH rollup over the completed append sink (the q28s
    // discipline — ranking downstream of a stream needs event time the
    // queries don't have). At 100 TB the static index side is the scan:
    // a production micro-batch would push its batch's probe cells into
    // the static read (foreachBatch + partition filter — the
    // ivfProbeCells pruning per batch); the gate keeps the declarative
    // join so the parity invariant covers the whole path. r13: serves
    // the INTEGER IVF artifact (C8l quantizer, the r12-verdict #5
    // conversion) — probe cells come from a stateless per-row kernel
    // over FROZEN integer centroid literals ([[argmaxCellsInt]], the
    // D35 discipline), so the whole streaming serve path is
    // integer-decidable and carries the full [[ivfIntSql]] hash gate
    // (was rows-only on the float artifact);
    // inv_ann_probe_stream_parity additionally pins stream ≡ the
    // persisted-probe batch path.
    Q("ann_probe_stream", ivfIntSql) { (s, dir) =>
      topK(Events.runStream(s, OutputMode.Append) {
        val (cents, path) = ivfIntArtifact(s, dir)
        val assigned = s.read.parquet(path)
        val stream = Events.streamOf(s, dir, "embeddings")
        val queries = stream.where(col("vec_id") < NQ)
          .select(col("vec_id").as("q_id"), Similar.kiloCodes(col("embedding")).as("q"))
          .select(col("q_id"), col("q"), Similar.signed(col("q")).as("qemb"))
          .withColumn("qnrm",
            sqrt(graft.functions.Native.dot(s, col("qemb"), col("qemb"))))
        val probed = queries.select(col("q_id"), col("qemb"), col("qnrm"),
          explode(argmaxCellsInt(cents, 4)(col("q"))).as("cell"))
        probed.join(assigned, "cell")
          .where(col("qnrm") > 0 && col("nnrm") > 0)
          .select(col("q_id"), col("n_id"),
            cosine(s, col("qemb"), col("nemb"), col("qnrm"), col("nnrm")).as("cos"))
      })
    },

    // C8g (PQ side): probe a persisted PQ index — loads the 16-byte
    // codes + codebooks; only the re-rank candidates touch the raw
    // source table (the artifact never stores raw vectors).
    Q.noOracle("ann_pq_probe") { (s, dir) =>
      val (codebooks, path) = pqArtifact(s, dir)
      val e = embsWithNorm(s, dir)
      val queries = e.where(col("vec_id") < NQ)
      val corpus = e.where(col("vec_id") >= NQ)
        .select(col("vec_id").as("n_id"), col("emb"), col("nrm"))
      pqProbe(s, PqIndex(codebooks, s.read.parquet(path), corpus),
        queries, rerank = rerankPool(corpusCount(s, dir)))
    },

    // C8h (r9): the IVF RECALL/COST CURVE — the tuning table an index
    // operator reads before picking nprobe (FAISS's recall-QPS sweep):
    // for p in 1/2/4/8 over ONE index build, recall vs exact brute
    // force and the corpus share actually scanned, both in basis
    // points. p = 8 probes every cell of the k=8 quantizer, so the
    // curve's endpoint is EXACT by construction — the curve is anchored
    // at (10000 bp scanned, 10000 bp recall) and the operator's whole
    // value is the left side of it. Float k-means ⇒ rows-only;
    // inv_ann_recall_monotone drives the real invariants through the
    // gate (recall and scanned both non-decreasing in p — probed cell
    // sets are nested — and the full-probe endpoint exactly 10000).
    // 100 TB shape: one index build; per p the probe is the C8b path
    // (queries broadcast into cells); every reported number is a 1-row
    // agg crossJoin — nothing corpus-scale moves beyond the probes.
    Q.noOracle("ann_recall_curve") { (s, dir) =>
      val e = withNorm(embs(s, dir))
      val corpus = e.where(col("vec_id") >= NQ)
      val queries = e.where(col("vec_id") < NQ)
      val idx = ivfBuild(corpus, k = 8)
      val exact = Pinned.track(
        graft.SparkEntry.queries("ann_bruteforce")(s, dir)
          .select(col("q_id"), col("n_id")).localCheckpoint(true))
      val cellSizes = idx.assigned.groupBy(col("cell")).agg(count(lit(1)).as("csz"))
      val tot = queries.agg(count(lit(1)).as("nq"))
        .crossJoin(corpus.agg(count(lit(1)).as("nc")))
      Seq(1, 2, 4, 8).map { p =>
        val hits = ivfProbe(s, idx, queries, p).select(col("q_id"), col("n_id"))
          .join(exact, Seq("q_id", "n_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
        val scanned = ivfProbeCellPairs(idx, queries, p)
          .join(cellSizes, "cell")
          .agg(coalesce(sum(col("csz")), lit(0L)).as("scanned"))
        hits.crossJoin(scanned)
          .crossJoin(exact.agg(count(lit(1)).as("ne")))
          .crossJoin(tot)
          .select(lit(p.toLong).as("nprobe"),
            expr("hits * 10000 div ne").as("recall_bp"),
            expr("scanned * 10000 div (nq * nc)").as("scanned_bp"))
      }.reduce(_ unionByName _).orderBy(col("nprobe"))
    },

    // The persisted-probe parity gate: serving from the loaded artifact
    // must emit EXACTLY what serving from a fresh in-memory build emits
    // — (q_id, rank, n_id, cos) row sets identical both directions, for
    // both index families. Catches stale artifacts (the fingerprint
    // key missing a regeneration), lossy persistence (schema/precision
    // drift through parquet), and pruning bugs (a probed cell the
    // pruned read no longer contains). Violations WHERE 1=0. All four
    // probe results are deterministic (rounded-cos + n_id tie-break),
    // so an empty symmetric difference is exact, not probabilistic.
    Q("inv_ann_probe_parity",
      """SELECT CAST(NULL AS VARCHAR) AS side, CAST(NULL AS BIGINT) AS q_id,
        |  CAST(NULL AS BIGINT) AS n_id FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      def viol(name: String, fromDisk: DataFrame, fresh: DataFrame) =
        fromDisk.except(fresh)
          .select(lit(name + "_disk_only").as("side"), col("q_id"), col("n_id"))
          .unionByName(fresh.except(fromDisk)
            .select(lit(name + "_fresh_only").as("side"), col("q_id"), col("n_id")))
      def run(name: String) = graft.SparkEntry.queries(name)(s, dir)
      val ivfDisk = run("ann_ivf_probe")
      val ivfFresh = run("ann_ivf")
      val pqDisk = run("ann_pq_probe")
      val pqFresh = run("ann_pq")
      viol("ivf", ivfDisk, ivfFresh)
        .unionByName(viol("pq", pqDisk, pqFresh))
        .orderBy(col("side"), col("q_id"), col("n_id"))
    },

    // Embedding-quality monitoring: per-label cluster statistics — the
    // drift/collapse check a pipeline runs on every embedding refresh.
    // ALL-INTEGER arithmetic for cross-engine exactness (the milli-idf
    // discipline): components quantize to KILO-scale longs (floor(v·1e3)
    // — float→double is exact, ·1e3 and floor round identically under
    // IEEE in both engines), then only long sums/products follow, which
    // are order-independent — no float summation anywhere. Emitted per
    // label: n, ‖Σx‖² and Σᵢ⟨xᵢ, Σx⟩ in kilo²-space (= n²·‖centroid‖²
    // and n²·mean-dot-to-centroid — division-free so truncation
    // semantics never diverge). Long-overflow bound: |m| ≤ 600 ⇒
    // Σd sd² ≤ 64·(600·n)² < 2⁶³ for n < 2e6 rows per label.
    // Plan shape: one explode + two hash aggs; the per-(label, d) sum
    // table (k·64 rows) BROADCASTS back into the dot pass — the corpus
    // never joins anything its own size.
    Q("emb_label_stats",
      """WITH x AS (
        |  SELECT label, generate_subscripts(embedding, 1) AS d,
        |         CAST(floor(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS m
        |  FROM embeddings),
        |s AS (SELECT label, d, CAST(sum(m) AS BIGINT) AS sd, count(*) AS n
        |      FROM x GROUP BY label, d),
        |qn AS (SELECT label, max(n) AS n, CAST(sum(sd * sd) AS BIGINT) AS svec_qnorm
        |       FROM s GROUP BY label),
        |dots AS (SELECT x.label, CAST(sum(x.m * s.sd) AS BIGINT) AS tot_dot
        |         FROM x JOIN s ON s.label = x.label AND s.d = x.d
        |         GROUP BY x.label)
        |SELECT qn.label AS label, qn.n, qn.svec_qnorm, dots.tot_dot
        |FROM qn JOIN dots ON dots.label = qn.label
        |ORDER BY qn.label""".stripMargin) { (s, dir) =>
      val x = Tables(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
        .select(col("label"), col("d"),
          floor(col("v").cast("double") * 1000).cast("long").as("m"))
      val sums = x.groupBy(col("label"), col("d"))
        .agg(sum(col("m")).as("sd"), count(lit(1)).as("n"))
      val qn = sums.groupBy(col("label"))
        .agg(max(col("n")).as("n"), sum(expr("sd * sd")).as("svec_qnorm"))
      val dots = x
        .join(broadcast(sums.select(col("label"), col("d"), col("sd"))), Seq("label", "d"))
        .groupBy(col("label")).agg(sum(expr("m * sd")).as("tot_dot"))
      qn.join(dots, Seq("label"))
        .select(col("label"), col("n"), col("svec_qnorm"), col("tot_dot"))
        .orderBy(col("label"))
    })

  /** A built IVF index: the driver-held coarse quantizer (k x dim
    * doubles -- broadcastable at any corpus size) plus the corpus
    * assigned to its cells. Build ONCE, probe per query batch -- the
    * assignment is the index-build cost and must never be re-paid per
    * probe (at 100 TB: persist `assigned` partitioned by cell and read
    * it back for every batch).
    */
  final case class IvfIndex(cents: Array[Array[Double]], assigned: DataFrame)

  /** Train the coarse quantizer and assign the corpus -- `corpus` must be
    * (vec_id, emb double[], nrm), e.g. [[embsWithNorm]] output.
    *
    * Quantizer TRAINING is a driver-side concern over a BOUNDED
    * deterministic sample (~2k vectors, ~1 MB): collect once, run
    * Lloyd in-process -- exactly how production IVF libraries train on
    * a sample while the corpus-scale work (assignment, probing,
    * scoring) stays distributed. Lloyd-as-Spark-jobs would pay 3
    * extra full planning/codegen/scan cycles to average a megabyte.
    *
    * CORPUS SCAN BUDGET — the knobs that matter at 100 TB:
    *   - default: THREE corpus touches (count, sample scan — the pmod
    *     filter can't skip row groups — and the one-pass assignment);
    *   - `knownCount >= 0` (from table metadata / the write-time row
    *     count) skips the counting scan → two touches;
    *   - `trainingSample` (a stored bounded (vec_id, emb) sample table,
    *     maintained beside the corpus) skips count AND sample scan →
    *     the assignment pass is the ONLY corpus touch. This is the
    *     deployment path (AnnBuildScanSpec pins the scan counts).
    */
  def ivfBuild(corpus: DataFrame, k: Int, knownCount: Long = -1L,
      trainingSample: Option[DataFrame] = None): IvfIndex = {
    // determinism comes from a DRIVER-side sort of the bounded sample: a
    // distributed orderBy would cost a second full read of the input
    // (RangePartitioner samples the scan once for bounds before sorting)
    val sample: Array[Array[Double]] = trainingSample match {
      case Some(t) =>
        t.select(col("vec_id"), col("emb")).collect()
          .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
      case None =>
        val nCorpus = if (knownCount >= 0) knownCount else corpus.count()
        val sampleMod = math.max(1L, nCorpus / 2000L)
        corpus
          .where(pmod(xxhash64(col("vec_id")), lit(sampleMod)) === 0)
          .select(col("vec_id"), col("emb")).collect()
          .sortBy(_.getLong(0)).map(_.getSeq[Double](1).toArray)
    }
    require(sample.length >= k, s"IVF needs >= $k training vectors")
    val dim = sample(0).length
    def unit(c: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(c.map(x => x * x).sum)
      if (nrm > 0) c.map(_ / nrm) else c
    }
    def nearest(cb: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bestS = Double.NegativeInfinity; var j = 0
      while (j < cb.length) {
        val c = cb(j); var sum = 0.0; var i = 0
        while (i < v.length) { sum += v(i) * c(i); i += 1 }
        if (sum > bestS) { bestS = sum; best = j }
        j += 1
      }
      best
    }
    // deterministic init: k lowest-id sample vectors; 3 Lloyd rounds;
    // empty cells keep their previous centroid
    var cents: Array[Array[Double]] = sample.take(k).map(v => unit(v.clone()))
    for (_ <- 1 to 3) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        val c = nearest(cents, v)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      cents = Array.tabulate(k)(j =>
        if (counts(j) == 0) cents(j) else unit(sums(j).map(_ / counts(j))))
    }
    IvfIndex(cents, ivfAssign(cents, corpus))
  }

  /** Cell assignment as a pure per-row projection against FROZEN
    * centroids — the ivfBuild tail factored out so incremental
    * maintenance (C8e) appends delta batches to an existing index with
    * provably the same rule the full build used: merged(base + delta)
    * and a one-pass full assignment are the same function over the same
    * rows, which `inv_ann_ivf_incremental` drives through the gate.
    * `corpus` must be (vec_id, emb, nrm).
    */
  def ivfAssign(cents: Array[Array[Double]], corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("n_id"), col("emb"),
      col("nrm"), argmaxCells(cents, 1)(col("emb")).getItem(0).as("cell"))

  /** Probe a built index: each query scores only its `p` nearest cells
    * (exact cosine + TopK inside the probed cells); the query batch
    * broadcasts into the cell-assigned corpus, which never re-shuffles
    * per probe. `queries` must be (vec_id, emb, nrm).
    */
  def ivfProbe(s: SparkSession, idx: IvfIndex, queries: DataFrame, p: Int): DataFrame = {
    val probed = queries.select(col("vec_id").as("q_id"),
        col("emb").as("qemb"), col("nrm").as("qnrm"),
        explode(argmaxCells(idx.cents, p)(col("emb"))).as("cell"))
    topK(probe(idx.assigned, probed, "cell").select(col("q_id"), col("n_id"),
      cosine(s, col("qemb"), col("emb"), col("qnrm"), col("nrm")).as("cos")))
  }

  /** The distinct cells a query batch will probe — driver-side (<= |queries|·p
    * values). Against a cell-partitioned persisted index, filtering the read
    * by these values is STATIC partition pruning: only the probed cells'
    * files are listed and scanned, which is where IVF's P-of-K saving
    * actually lands at scale (a hash join alone never prunes storage).
    * INVARIANT: pass the SAME `queries` and `p` here and to the
    * [[ivfProbe]] that runs against the pruned index — a mismatch
    * silently drops candidates (the probe joins cells the pruned read
    * no longer contains).
    */
  def ivfProbeCells(idx: IvfIndex, queries: DataFrame, p: Int): Seq[Int] =
    queries.select(explode(argmaxCells(idx.cents, p)(col("emb"))).as("cell"))
      .distinct().collect().map(_.getInt(0)).toSeq

  /** Per-query probed cells as `(q_id, cell)` PAIRS — the strict form of
    * [[ivfProbeCells]]: containment of a served neighbor must hold
    * against the cells ITS OWN query probed, not the union of cells any
    * query in the batch probed (a global `isin` would accept a neighbor
    * served to query A from a cell only query B probed).
    */
  def ivfProbeCellPairs(idx: IvfIndex, queries: DataFrame, p: Int): DataFrame =
    queries.select(col("vec_id").as("q_id"),
      explode(argmaxCells(idx.cents, p)(col("emb"))).as("cell"))

  /** A built product-quantization index: per-subspace codebooks
    * (m × k × dim/m doubles — driver-held and broadcastable at any
    * corpus size, like [[IvfIndex]]'s centroids), the corpus encoded to
    * m ONE-BYTE codes (k <= 256 by construction — a 64-dim float vector
    * compresses 256 B → 16 B, 16×), and the raw corpus kept for exact
    * re-ranking. Build ONCE, probe per batch; at 100 TB the encoded
    * table is what the scoring scan reads, and only the re-rank
    * candidates touch raw embeddings.
    */
  final case class PqIndex(
      codebooks: Array[Array[Array[Double]]],
      encoded: DataFrame,
      corpus: DataFrame)

  /** Train per-subspace codebooks on a bounded deterministic sample
    * (driver-side Lloyd, the [[ivfBuild]] trade) and encode the corpus
    * in one distributed pass. Vectors are unit-normalized before
    * encoding so the PQ inner product approximates cosine directly.
    * `corpus` must be (vec_id, emb double[], nrm). Same corpus-scan
    * knobs as [[ivfBuild]]: `knownCount` skips the counting scan,
    * `trainingSample` (a stored (vec_id, emb, nrm) sample table) skips
    * the sampling scan too — the encoding pass becomes the only
    * corpus touch.
    */
  def pqBuild(corpus: DataFrame, m: Int, k: Int, knownCount: Long = -1L,
      trainingSample: Option[DataFrame] = None): PqIndex = {
    val sample = trainingSample match {
      case Some(t) =>
        t.select(col("vec_id"), col("emb"), col("nrm")).collect()
          .sortBy(_.getLong(0)).map { r =>
            val e = r.getSeq[Double](1).toArray
            val n = r.getDouble(2)
            if (n > 0) e.map(_ / n) else e
          }
      case None => sampledUnits(
        corpus.select(col("vec_id").as("n_id"), col("emb"), col("nrm")),
        None, knownCount)
    }
    val codebooks = trainCodebooks(sample, m, k)
    PqIndex(codebooks, pqEncode(codebooks, corpus),
      corpus.select(col("vec_id").as("n_id"), col("emb"), col("nrm")))
  }

  /** Corpus encoding as a pure per-row projection against FROZEN
    * codebooks — the pqBuild tail factored out (the [[ivfAssign]]
    * discipline applied to PQ): incremental maintenance appends delta
    * batches encoded by provably the same rule the full build used,
    * which `inv_ann_pq_incremental` drives through the gate.
    * `corpus` must be (vec_id, emb, nrm).
    */
  def pqEncode(codebooks: Array[Array[Array[Double]]], corpus: DataFrame): DataFrame = {
    val enc = PqKernels.encode(codebooks, None)
    corpus.select(col("vec_id").as("n_id"),
      enc(col("emb"), col("nrm"), lit(0)).as("codes"))
  }

  /** Bounded deterministic driver-side sample of UNIT vectors from an
    * (n_id, emb, nrm[, cell]) frame — when `residualCents` is set, each
    * sampled unit vector has its cell centroid subtracted (residual
    * training). The ONE sampling discipline [[pqBuild]] and
    * [[ivfPqBuild]] share. `knownCount` skips the counting scan when the
    * caller already holds the cardinality.
    */
  private def sampledUnits(
      df: DataFrame, residualCents: Option[Array[Array[Double]]],
      knownCount: Long = -1L): Array[Array[Double]] = {
    val n = if (knownCount >= 0) knownCount else df.count()
    val sampleMod = math.max(1L, n / 2000L)
    val cols =
      if (residualCents.isDefined)
        Seq(col("n_id"), col("emb"), col("nrm"), col("cell"))
      else Seq(col("n_id"), col("emb"), col("nrm"))
    // driver-side determinism sort — a distributed orderBy would read
    // the input a second time for RangePartitioner bounds
    df.where(pmod(xxhash64(col("n_id")), lit(sampleMod)) === 0)
      .select(cols: _*)
      .collect().sortBy(_.getLong(0)).map { r =>
        val e = r.getSeq[Double](1).toArray
        val nrm = r.getDouble(2)
        val u = if (nrm > 0) e.map(_ / nrm) else e
        residualCents match {
          case Some(cents) =>
            val c = cents(r.getInt(3))
            Array.tabulate(u.length)(i => u(i) - c(i))
          case None => u
        }
      }
  }

  /** Deterministic per-subspace Lloyd (first-k init, 3 rounds, empty
    * cells keep their previous codeword — the ivfBuild discipline) over
    * a bounded driver-side sample. Shared by [[pqBuild]] (raw unit
    * vectors) and [[ivfPqBuild]] (cell residuals).
    */
  private def trainCodebooks(
      sample: Array[Array[Double]], m: Int, k: Int): Array[Array[Array[Double]]] = {
    require(k <= 256, s"PQ codes are one byte: k <= 256 (got $k)")
    require(sample.length >= k, s"PQ needs >= $k training vectors per codebook")
    val dim = sample(0).length
    require(dim % m == 0, s"PQ needs m | dim (m=$m, dim=$dim)")
    val dsub = dim / m
    Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      var cents = sub.take(k).map(_.clone)
      for (_ <- 1 to 3) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        sub.foreach { v =>
          val c = PqKernels.nearestL2(cents, v)
          counts(c) += 1
          var i = 0
          while (i < dsub) { sums(c)(i) += v(i); i += 1 }
        }
        cents = Array.tabulate(k)(c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c)))
      }
      cents
    }
  }

  /** Probe a built PQ index: per-query lookup tables (query-subvector ·
    * codeword, computed ONCE per query on the driver — the query batch
    * is bounded by contract, like [[ivfProbeCells]]) broadcast to a
    * single scan of the ENCODED corpus (m lookup-adds per pair, no raw
    * vectors read); the top `rerank` PQ candidates per query then
    * re-score with exact cosine against the raw corpus, so every emitted
    * cosine is EXACT — quantization only affects which candidates are
    * considered, never the reported scores.
    */
  def pqProbe(s: SparkSession, idx: PqIndex, queries: DataFrame, rerank: Int): DataFrame = {
    val (qunits, score) = pqLutScore(s, idx.codebooks, queries)
    import s.implicits._
    val scored = probe(idx.encoded, qunits.keys.toSeq.sorted.toDF("q_id"))
      .select(col("q_id"), col("n_id"), score(col("q_id"), col("codes")).as("pq"))
    rerankExact(s, pqTop(scored, rerank), idx.corpus, queries)
  }

  /** Per-query PQ lookup tables (query-subvector . codeword, built ONCE
    * per query on the driver -- the query batch is bounded by contract,
    * like [[ivfProbeCells]]) broadcast into a scoring function of
    * (q_id, codes). Shared by [[pqProbe]] and [[ivfPqProbe]].
    */
  private def pqLutScore(
      s: SparkSession, codebooks: Array[Array[Array[Double]]],
      queries: DataFrame): (Map[Long, Array[Double]], (Column, Column) => Column) = {
    val qRows = queries.select(col("vec_id"), col("emb"), col("nrm")).collect()
    val unitRows: Array[(Long, Array[Double])] = qRows.map { r =>
      val e = r.getSeq[Double](1).toArray
      val n = r.getDouble(2)
      r.getLong(0) -> (if (n > 0) e.map(_ / n) else e)
    }
    val luts: Map[Long, Array[Array[Double]]] = unitRows.map { case (qid, u) =>
      val m = codebooks.length
      val dsub = u.length / m
      qid -> Array.tabulate(m) { j =>
        codebooks(j).map { cw =>
          var sum = 0.0; var i = 0
          while (i < dsub) { sum += cw(i) * u(j * dsub + i); i += 1 }
          sum
        }
      }
    }.toMap
    val lutBc = s.sparkContext.broadcast(luts)
    val f = udf { (qid: Long, codes: Array[Byte]) =>
      val lut = lutBc.value(qid)
      var sum = 0.0; var j = 0
      while (j < lut.length) { sum += lut(j)(codes(j) & 0xFF); j += 1 }
      sum
    }
    (unitRows.toMap, (q, c) => f(q, c))
  }

  /** Top-`rerank` PQ candidates per query from a (q_id, n_id, pq) frame. */
  private def pqTop(scored: DataFrame, rerank: Int): DataFrame =
    scored.withColumn("prank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("pq").desc, col("n_id"))))
      .where(col("prank") <= rerank)
      .select(col("q_id"), col("n_id"))

  /** Exact-cosine re-ranking of candidate (q_id, n_id) pairs: only the
    * candidates touch raw embeddings, and the emitted scores are exact.
    */
  private def rerankExact(
      s: SparkSession, cands: DataFrame, corpus: DataFrame,
      queries: DataFrame): DataFrame =
    topK(probe(cands, queries.select(col("vec_id").as("q_id"),
        col("emb").as("qemb"), col("nrm").as("qnrm")), "q_id")
      .join(corpus, "n_id")
      .select(col("q_id"), col("n_id"),
        cosine(s, col("qemb"), col("emb"), col("qnrm"), col("nrm")).as("cos")))

  /** A built IVFPQ index: the coarse quantizer's cells plus RESIDUAL
    * codebooks (trained on x_unit - centroid(cell), NOT raw vectors) and
    * the corpus encoded per cell. Residual encoding is what makes the
    * composition work on CROWDED corpora: inside a tight cluster all
    * members share the centroid, so raw-vector codes collide and PQ
    * scores cannot rank neighbors (measured: recall@5 collapsed to
    * ~0.05 on a 1000-member-cluster corpus), while the residuals ARE
    * the distinguishing fine structure — this is FAISS's IVFPQ design.
    */
  final case class IvfPqIndex(
      ivf: IvfIndex,
      codebooks: Array[Array[Array[Double]]],
      encoded: DataFrame, // (n_id, cell, codes)
      corpus: DataFrame)  // (n_id, emb, nrm) for exact re-rank

  /** Build IVF cells, train residual codebooks on a bounded sample of
    * (x_unit - centroid) and encode the corpus once. `knownCount` and
    * `trainingSample` flow to [[ivfBuild]] (see its scan-budget note);
    * the residual sampling scan still reads the assigned corpus once.
    * NOTE: pass `knownCount` TOGETHER with `trainingSample` on the
    * deployment path — the residual sampler needs the cardinality for
    * its sampling rate, so trainingSample alone still pays a counting
    * scan (the count comes from the same table metadata that supplies
    * the stored sample; AnnBuildScanSpec pins the combined path at one
    * eager scan).
    */
  def ivfPqBuild(corpus: DataFrame, kCells: Int, m: Int, k: Int,
      knownCount: Long = -1L,
      trainingSample: Option[DataFrame] = None): IvfPqIndex =
    ivfPqBuild(ivfBuild(corpus, kCells, knownCount, trainingSample), m, k,
      knownCount)

  /** Residual-train + encode over an ALREADY-BUILT coarse quantizer —
    * the deployment path (the IVF index persists cell-partitioned; PQ
    * re-encoding must not re-train it) and the one AnnScale measures,
    * so the probe's pruning cells and the encoded table provably come
    * from the same quantizer. The 4-arg form's `knownCount` skips the
    * residual sampler's counting scan (no default — only one overload
    * may carry defaults in Scala).
    */
  def ivfPqBuild(ivf: IvfIndex, m: Int, k: Int): IvfPqIndex =
    ivfPqBuild(ivf, m, k, -1L)

  def ivfPqBuild(ivf: IvfIndex, m: Int, k: Int,
      knownCount: Long): IvfPqIndex = {
    val cents = ivf.cents
    val sampleRes = sampledUnits(ivf.assigned, Some(cents), knownCount)
    val codebooks = trainCodebooks(sampleRes, m, k)
    val enc = PqKernels.encode(codebooks, Some(cents))
    IvfPqIndex(ivf, codebooks,
      ivf.assigned.select(col("n_id"), col("cell"),
        enc(col("emb"), col("nrm"), col("cell")).as("codes")),
      ivf.assigned.select(col("n_id"), col("emb"), col("nrm")))
  }

  /** IVF x PQ probe (the FAISS-standard at-scale composition): the
    * coarse quantizer prunes to `p` probed cells, residual PQ lookup
    * tables score only those cells' ENCODED rows — score =
    * q.centroid(cell) (driver-computed per probed pair) + q.residual
    * via LUT — and the survivors re-rank exact. At 100 TB the persisted
    * index is the encoded table partitioned by cell: a probe reads p/k
    * of the files at ~1/16 of the raw float width (m one-byte codes);
    * both prunings multiply.
    */
  def ivfPqProbe(
      s: SparkSession, idx: IvfPqIndex, queries: DataFrame,
      p: Int, rerank: Int): DataFrame = {
    val (qunits, score) = pqLutScore(s, idx.codebooks, queries)
    val cents = idx.ivf.cents
    // q . centroid per (query, cell): |queries| x k doubles, driver-side
    val qcent: Map[Long, Array[Double]] = qunits.map { case (qid, u) =>
      qid -> cents.map { c =>
        var sum = 0.0; var i = 0
        while (i < u.length) { sum += u(i) * c(i); i += 1 }
        sum
      }
    }
    val qcentBc = s.sparkContext.broadcast(qcent)
    val qcentUdf = udf { (qid: Long, cell: Int) => qcentBc.value(qid)(cell) }
    val probed = queries.select(col("vec_id").as("q_id"),
      explode(argmaxCells(cents, p)(col("emb"))).as("cell"))
    val scored = probe(idx.encoded, probed, "cell")
      .select(col("q_id"), col("n_id"),
        (qcentUdf(col("q_id"), col("cell")) +
          score(col("q_id"), col("codes"))).as("pq"))
    rerankExact(s, pqTop(scored, rerank), idx.corpus, queries)
  }


  /** PQ inner loops (JIT kernels — the [[graft.functions.Kernels]]
    * rationale): nearest-codeword assignment and corpus encoding.
    */
  private[queries] object PqKernels extends Serializable {
    def nearestL2(cents: Array[Array[Double]], v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        val cw = cents(c); var d = 0.0; var i = 0
        while (i < v.length) { val t = v(i) - cw(i); d += t * t; i += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    /** (emb, nrm, cell) → m nearest-codeword ONE-BYTE codes of the unit
      * vector, minus its cell centroid when `cents` is set (residual
      * encoding; pass any constant cell column otherwise — it is
      * ignored). One UDF body so the plain and residual forms can't
      * drift (the centroid subtraction is the single difference).
      */
    def encode(
        codebooks: Array[Array[Array[Double]]],
        cents: Option[Array[Array[Double]]]): (Column, Column, Column) => Column = {
      val f = udf { (emb: Seq[Double], nrm: Double, cell: Int) =>
        val m = codebooks.length
        val dim = emb.size
        val dsub = dim / m
        val c: Array[Double] = cents.map(_(cell)).orNull
        val r = new Array[Double](dim)
        var i = 0
        while (i < dim) {
          r(i) = (if (nrm > 0) emb(i) / nrm else emb(i)) - (if (c == null) 0.0 else c(i))
          i += 1
        }
        val codes = new Array[Byte](m)
        var j = 0
        while (j < m) {
          codes(j) = nearestL2(codebooks(j),
            java.util.Arrays.copyOfRange(r, j * dsub, (j + 1) * dsub)).toByte
          j += 1
        }
        codes
      }
      (e, n, c) => f(e, n, c)
    }
  }

  private def argmaxCells(cb: Array[Array[Double]], p: Int) = udf { emb: Seq[Double] =>
    val n = emb.size
    val scores = new Array[Double](cb.length)
    var k = 0
    while (k < cb.length) {
      val c = cb(k); var sum = 0.0; var i = 0
      while (i < n) { sum += emb(i) * c(i); i += 1 }
      scores(k) = sum; k += 1
    }
    scores.zipWithIndex.sortBy { case (sc, idx) => (-sc, idx) }
      .take(p).map(_._2).toSeq
  }
}
