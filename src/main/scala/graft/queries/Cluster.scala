package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.storage.StorageLevel

import graft.core.Tables

/** Embedding-space clustering — SURVEY.md §2.C39/C39b: distributed
  * Lloyd's k-means over the FULL embeddings table, and the
  * cluster-balanced subset selection built on it (the
  * diversity-preserving sampling step of a curation pipeline — cap every
  * cluster at an equal quota so no dense region dominates the corpus
  * mix).
  *
  * Why another k-means when [[Ann.ivfBuild]] already trains one: IVF's
  * quantizer trains driver-side on a BOUNDED ~2k sample — the right
  * trade for an index whose cells only need to be roughly balanced. A
  * clustering whose assignments are themselves the product (domain
  * discovery, balanced mixing, SemDeDup-style pruning) must train on
  * every row, so the Lloyd iteration itself has to be distributed:
  *
  *   - per iteration, ONE map-only pass over the (persisted, quantized)
  *     corpus assigns each vector to its nearest centroid — centroids
  *     ride along as k×dim literals in the closure (k·dim·8 B, a few KB:
  *     broadcastable at any corpus size, like IVF's), so assignment
  *     never shuffles the corpus;
  *   - the centroid update is a posexplode + groupBy(cluster, d) SUM —
  *     map-side combinable, so the shuffle carries at most
  *     P·k·dim partial rows (NOT n·dim): the classic mergeable-state
  *     shape that survives 1000 executors;
  *   - the driver collects exactly k·dim (sum, count) rows per iteration
  *     (bounded: 8·64 = 512 rows here) and folds the next centroid
  *     table — the one driver-side step, same envelope as
  *     [[Ann.ivfBuild]]'s documented bounded collect.
  *
  * EXACT CROSS-ENGINE ARITHMETIC (the emb_label_stats discipline, pushed
  * through an iterative algorithm): components quantize once to
  * kilo-scale integers m = floor((v + 1.0) · 1000) — the +1 shift makes
  * every m positive (corpus components are in (-1, 1)), so truncating
  * and flooring division agree and both engines' integer `div` is the
  * same function. Centroids are integer vectors (floor-mean of members);
  * distances Σ(m − cent)² are integers ≤ 64·1600² ≈ 1.6e8, far under
  * 2⁵³, so the Spark side may expand through the codegen'd double
  * `graft_dot` kernel (qq − 2·q·c + c·c) and still be bit-equal to the
  * oracle's integer sum — every intermediate is an integer exactly
  * representable in double. Ties (equal distance to two centroids) break
  * to the lowest cluster id in both engines. The result is a k-means a
  * DuckDB chained-CTE oracle can replay move-for-move: assignment,
  * floor-mean update, empty-cell carry-over, four iterations, final
  * assignment — hash-gated end to end, which no float k-means can be.
  *
  * Empty clusters keep their previous centroid (the [[Ann.ivfBuild]]
  * rule), expressed in the oracle as a COALESCE over a LEFT JOIN.
  */
object Cluster {

  /** k and iteration count are part of the operator contract (the oracle
    * SQL is generated from the same constants — keep in lockstep).
    */
  private val K = 8
  private val ITERS = 4

  /** One fitted run: the quantized corpus persisted, seeds = the k
    * lowest-vec_id vectors, ITERS Lloyd rounds, then the FINAL
    * assignment (vec_id, cluster, dist) computed map-only against the
    * raw parquet scan (the persisted frame is released first, so the
    * returned plan is one scan + one projection — nothing in it depends
    * on executor cache state).
    *
    * @return (assignment frame, total vector count, final centroids) —
    *         the count comes free from the last iteration's collected
    *         partials, not an extra job; the centroids are the k·dim
    *         trained model D11's ingest-time assigner broadcasts.
    */
  private[queries] def fit(s: SparkSession, dir: String): (DataFrame, Long, Array[Array[Long]]) = {
    val x = Tables(s, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"),
          v => floor((v.cast("double") + 1.0d) * 1000).cast("long")).as("q"))
    fitOn(s, x)
  }

  /** [[fit]] generalized over ANY quantized (vec_id, q: array<long>)
    * frame — the C39 embeddings run and the C80 RAG chunk-embed run
    * share this one Lloyd loop, so the two gates can never disagree on
    * the iteration discipline. Seeds are the k LOWEST vec_ids (for the
    * embeddings table, ids 0..k−1 — exactly the oracle's
    * `WHERE vec_id < k`; for sparse id spaces, the row_number form).
    */
  private[queries] def fitOn(s: SparkSession, x: DataFrame): (DataFrame, Long, Array[Array[Long]]) = {
    // qd/qq: the double-view and squared-norm each assignment pass needs;
    // computed once and persisted with the quantized vectors so the
    // ITERS+1 passes re-read ~ (id + 64 longs + 64 doubles) per row, not
    // the parquet decode. MEMORY_AND_DISK: at 100 TB the quantized
    // corpus spills rather than recomputing per iteration.
    val xd = withDerived(s, x).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // seeds: the k lowest vec_ids (deterministic). Bounded driver
      // collect: k rows via TakeOrdered.
      val seedRows = xd.select(col("vec_id"), col("q"))
        .orderBy(col("vec_id")).limit(K).collect()
      require(seedRows.length == K,
        s"kmeans expects at least $K vectors to seed from; " +
          s"found ${seedRows.length}")
      var cents: Array[Array[Long]] =
        seedRows.map(_.getSeq[Long](1).toArray)
      var total = 0L
      for (_ <- 1 to ITERS) {
        // assignment is a pure projection (no shuffle); the update agg
        // is map-side combinable on (cluster, d); driver collect is
        // exactly k*dim rows.
        val partials = assigned(s, xd, cents)
          .select(col("cluster"), posexplode(col("q")).as(Seq("d", "m")))
          .groupBy(col("cluster"), col("d"))
          .agg(sum(col("m")).as("sm"), count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone())
        partials.foreach { r =>
          val (c, d) = (r.getInt(0), r.getInt(1))
          // positive sums: Long truncating division == the oracle's
          // floor division `//`
          next(c)(d) = r.getLong(2) / r.getLong(3)
        }
        total = partials.iterator
          .filter(_.getInt(1) == 0).map(_.getLong(3)).sum
        cents = next
      }
      val out = assigned(s, withDerived(s, x), cents)
        .select(col("vec_id"), col("cluster"), col("dist"))
      (out, total, cents)
    } finally xd.unpersist(blocking = false)
  }

  private[queries] def withDerived(s: SparkSession, x: DataFrame): DataFrame =
    x.withColumn("qd", transform(col("q"), _.cast("double")))
      .withColumn("qq", graft.functions.Native.dot(s, col("qd"), col("qd")))

  /** Nearest-centroid assignment columns over a frame carrying qd/qq.
    * dist_c expands to qq − 2·(q·c) + (c·c) through the codegen'd dot
    * kernel; every term is an integer < 2⁵³ held in a double, so the
    * comparison (and the emitted integer dist) is exact. First centroid
    * achieving the minimum wins — the lowest cluster id, matching the
    * oracle's row_number ORDER BY (dist, cluster).
    */
  private[queries] def assigned(
      s: SparkSession, xd: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val dists: Seq[Column] = cents.toSeq.map { c =>
      val cd = typedLit(c.map(_.toDouble).toSeq)
      val cc = c.foldLeft(0.0d)((acc, v) => acc + v.toDouble * v.toDouble)
      col("qq") - lit(2.0d) * graft.functions.Native.dot(s, col("qd"), cd) + lit(cc)
    }
    val minD = least(dists: _*)
    val cluster = dists.init.zipWithIndex
      .foldLeft(Option.empty[Column]) {
        case (acc, (d, i)) =>
          Some(acc.fold(when(d === minD, lit(i)))(_.when(d === minD, lit(i))))
      }
      .get.otherwise(lit(K - 1))
    xd.withColumn("cluster", cluster.cast("int"))
      .withColumn("dist", minD.cast("long"))
  }

  // ---------------------------------------------------------------- SQL

  /** The shared oracle prefix: quantization, seed centroids, and ITERS
    * chained (distance → assignment → sum → floor-mean centroid) rounds,
    * ending in aF = final assignment with rn = 1 marking each vector's
    * nearest final centroid. Generated from the SAME K/ITERS constants
    * as the Spark loop.
    */
  private[queries] def kmeansCtes: String =
    s"""WITH x AS (
      |  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
      |    CAST(floor((unnest(embedding)::DOUBLE + 1.0) * 1000) AS BIGINT) AS m
      |  FROM embeddings),
      |c0 AS (SELECT vec_id AS cluster, d, m AS cent FROM x WHERE vec_id < $K),
      |""".stripMargin + kmeansChainCtes

  /** Name of the chain's final-centroid CTE (`c<ITERS>`) — consumers
    * that score against the trained model (the C81 probe oracle) must
    * reference the same round the chain ends on.
    */
  private[queries] def kmeansFinalCentsCte: String = s"c$ITERS"

  /** The iteration chain alone — expects CTEs `x(vec_id, d, m)` and
    * `c0(cluster, d, cent)` in scope, emits dist/a/s/c rounds ending in
    * `aF` (final assignment, rn = 1 per vec_id). Shared by [[kmeansCtes]]
    * (embeddings header) and the C80 RAG oracle (chunk hash-embed
    * header), so every integer-Lloyd gate replays the SAME chain.
    */
  private[queries] def kmeansChainCtes: String = {
    val sb = new StringBuilder
    for (t <- 1 to ITERS) {
      sb ++= s"""dist$t AS (
        |  SELECT x.vec_id, c.cluster,
        |    CAST(sum((x.m - c.cent) * (x.m - c.cent)) AS BIGINT) AS dist
        |  FROM x JOIN c${t - 1} c ON c.d = x.d
        |  GROUP BY x.vec_id, c.cluster),
        |a$t AS (
        |  SELECT vec_id, cluster, row_number() OVER (
        |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
        |  FROM dist$t),
        |s$t AS (
        |  SELECT a.cluster, x.d, CAST(sum(x.m) AS BIGINT) AS sm, count(*) AS n
        |  FROM a$t a JOIN x ON x.vec_id = a.vec_id
        |  WHERE a.rn = 1 GROUP BY a.cluster, x.d),
        |c$t AS (
        |  SELECT c.cluster, c.d,
        |    COALESCE(CAST(s.sm // s.n AS BIGINT), c.cent) AS cent
        |  FROM c${t - 1} c LEFT JOIN s$t s
        |    ON s.cluster = c.cluster AND s.d = c.d),
        |""".stripMargin
    }
    sb ++= s"""distF AS (
      |  SELECT x.vec_id, c.cluster,
      |    CAST(sum((x.m - c.cent) * (x.m - c.cent)) AS BIGINT) AS dist
      |  FROM x JOIN c$ITERS c ON c.d = x.d
      |  GROUP BY x.vec_id, c.cluster),
      |aF AS (
      |  SELECT vec_id, cluster, dist, row_number() OVER (
      |      PARTITION BY vec_id ORDER BY dist, cluster) AS rn
      |  FROM distF)""".stripMargin
    sb.toString
  }

  val all: Seq[Q] = Seq(

    // C39: the fitted assignment itself — (vec_id, cluster, dist), the
    // artifact every downstream consumer (balanced sampling, domain
    // accounting, semantic pruning) reads. Hash-gated against the
    // chained-CTE replay of the identical integer Lloyd run.
    Q("emb_kmeans",
      s"""$kmeansCtes
         |SELECT vec_id, cluster, dist FROM aF WHERE rn = 1
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      fit(s, dir)._1.orderBy(col("vec_id"))
    },

    // D11: ingest-time cluster ASSIGNMENT — the fitted k-means model
    // applied to vectors as they land (the deployment shape of C39:
    // train nightly, assign at ingest for routing/balancing/semantic
    // pruning decisions). The k·dim centroid model is DRIVER-BOUNDED by
    // construction (k = 8 here; any practical k·dim fits a closure
    // literal — the legitimate broadcast, unlike vocab tables), so
    // assignment is a PURE stateless per-row projection on the stream
    // through the SAME `assigned` kernel as the batch fit — zero
    // stream state, append-mode sink, presentation sort batch-side.
    // Gated by the SAME chained-CTE oracle as emb_kmeans: driver-checked
    // batch/stream parity on (vec_id, cluster, dist), the D6 discipline.
    Q("emb_assign_stream",
      s"""$kmeansCtes
         |SELECT vec_id, cluster, dist FROM aF WHERE rn = 1
         |ORDER BY vec_id""".stripMargin) { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        val cents = fit(s, dir)._3
        val stream = Events.streamOf(s, dir, "embeddings")
        val x = stream.select(col("vec_id"),
          transform(col("embedding"),
            v => floor((v.cast("double") + 1.0d) * 1000).cast("long")).as("q"))
        assigned(s, withDerived(s, x), cents)
          .select(col("vec_id"), col("cluster"), col("dist"))
      }
        .orderBy(col("vec_id"))
    },

    // C39b: cluster-balanced subset — cap every cluster at
    // quota = ceil(n/k) members, keeping the most central (lowest
    // distance, vec_id tie-break). The balancing step that keeps a
    // dense scrape region from dominating a training mix; quota comes
    // from the fit's own collected totals (no extra count job), and the
    // selection is one window over the assignment.
    Q("emb_kmeans_balance",
      s"""$kmeansCtes,
         |bal AS (SELECT vec_id, cluster, dist FROM aF WHERE rn = 1),
         |r AS (
         |  SELECT vec_id, cluster, dist, row_number() OVER (
         |      PARTITION BY cluster ORDER BY dist, vec_id) AS rk
         |  FROM bal)
         |SELECT cluster, rk AS rank, vec_id, dist FROM r
         |WHERE rk <= (SELECT (count(*) + ${K - 1}) // $K FROM bal)
         |ORDER BY cluster, rank""".stripMargin) { (s, dir) =>
      val (asg, total, _) = fit(s, dir)
      val quota = (total + K - 1) / K
      asg.withColumn("rk", row_number().over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("dist"), col("vec_id"))))
        .where(col("rk") <= quota)
        .select(col("cluster"), col("rk").as("rank"), col("vec_id"), col("dist"))
        .orderBy(col("cluster"), col("rank"))
    })
}
