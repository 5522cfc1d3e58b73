package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.Tables

/** Embedding-matrix operators — SURVEY.md §2.C40/C40b/C41: the
  * second-moment/covariance accumulation every embedding-space pipeline
  * stage sits on (PCA whitening before SemDeDup/ANN, drift monitoring),
  * the PCA projection built on it, and int8 scalar quantization (the
  * storage-compression step that makes a 100 TB embedding store hold
  * 4× the vectors).
  *
  * Scale shapes:
  *   - covariance is the classic mergeable-state accumulation: the
  *     corpus explodes to (d1, d2, m1·m2) terms that PARTIAL-AGGREGATE
  *     map-side, so the one shuffle carries at most P·d² partial rows
  *     (P = map partitions), never n·d² — the same n-free envelope as
  *     Spark MLlib's RowMatrix Gramian. The d² output (2,080 rows at
  *     d=64) is bounded and driver-collectable, which is what makes the
  *     eigensolve a driver-side concern (below);
  *   - PCA splits exactly like [[Cluster]]'s k-means and [[Ann]]'s IVF
  *     trainer: the corpus-scale pass (moment accumulation, then the
  *     final map-only projection with the eigenbasis riding along as
  *     p·d literals) is distributed; the eigensolve runs on the BOUNDED
  *     d×d matrix driver-side (cyclic Jacobi, deterministic) — the
  *     RowMatrix.computePrincipalComponents pattern;
  *   - quantization is a pure per-row fold (`transform` + `aggregate`
  *     higher-order functions, all inside whole-stage codegen): ZERO
  *     shuffles before the presentation sort, scan-speed at any scale.
  *
  * EXACT CROSS-ENGINE ARITHMETIC (the [[Ann]] emb_label_stats / kilo-
  * quantization discipline): components become m = floor(v·1000) longs
  * (float→double exact, ·1e3 and floor round identically in both
  * engines), and every gated value derives from integer sums of integer
  * products — order-independent, so the driver's hash compare is exact.
  * emb_covariance deliberately emits the RAW sufficient statistics
  * (sprod, sd1, sd2, n) instead of the assembled covariance: every
  * emitted value stays far under 2⁶³ at ANY corpus size (|sprod| ≤
  * n·10⁶ overflows Long only past ~9e12 rows), while n·sprod − sd1·sd2
  * would overflow past n ≈ 3e6 — the consumer assembles in whatever
  * precision its scale needs (the driver-side PCA fit uses double).
  *
  * The PCA projection itself is float output (eigenvectors are
  * irrational), so `emb_pca_project` is rows-only; `inv_pca_variance`
  * is its driver gate: the eigenbasis must be orthonormal AND the
  * per-component variance of the ACTUAL projected corpus must equal the
  * corresponding eigenvalue (the Rayleigh-quotient identity
  * Var(Xv) = vᵀCv = λ) within 1e-6 relative — a distributed end-to-end
  * check binding projection output to the gated covariance; violations
  * gate against `WHERE 1=0`.
  */
object Embed {

  /** Principal components kept by the gated projection (of d=64). */
  private val P = 8

  /** Kilo-quantized (vec_id, q: array<long>) view of an embeddings
    * frame, batch or stream.
    */
  def quantized(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
      transform(col("embedding"),
        v => floor(v.cast("double") * 1000).cast("long")).as("q"))

  def quantized(s: SparkSession, dir: String): DataFrame =
    quantized(Tables(s, dir, "embeddings"))

  /** C53 core over any (vec_id, embedding, label) frame: kilo-quantize,
    * per-label integer centroid-sum vector (bounded, broadcasts), and
    * the square-free τ=0.05 cosine test per vector — see the query
    * scaladoc for the arithmetic and scale reasoning.
    */
  private[graft] def embOutlier(e: DataFrame): DataFrame = {
    val x = embQuantLabel(e)
    embOutlierScore(x, embCentroids(x))
  }

  /** Kilo-quantized (vec_id, label, m) view, label kept. */
  private[graft] def embQuantLabel(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"),
      transform(col("embedding"),
        v => floor(v.cast("double") * 1000).cast("long")).as("m"))

  /** The per-label centroid-sum table (label, sarr, ss) — bounded:
    * |labels| rows of d longs each. This IS the model artifact the
    * stream twin freezes and broadcasts.
    */
  private[graft] def embCentroids(x: DataFrame): DataFrame =
    x.select(col("label"), posexplode(col("m")).as(Seq("i", "mv")))
      .groupBy(col("label"), col("i")).agg(sum(col("mv")).as("sv"))
      .groupBy(col("label")).agg(
        transform(array_sort(collect_list(struct(col("i"), col("sv")))),
          p => p.getField("sv")).as("sarr"),
        // |S|² widened BEFORE the square: sv ~ n·1000 worst-case, so sv²
        // outgrows BIGINT past ~3e9-scale sums — same widening as dot²
        sum(expr("CAST(sv AS DECIMAL(38,0)) * sv")).as("ss"))

  /** The τ=0.05 square-free decision per vector — a stateless per-row
    * projection once the bounded centroid table broadcasts (works
    * identically over a batch frame and a file stream source).
    */
  private[graft] def embOutlierScore(x: DataFrame, cent: DataFrame): DataFrame =
    x.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        aggregate(zip_with(col("m"), col("sarr"), (a, b) => a * b),
          lit(0L), (acc, v) => acc + v).as("dot"),
        aggregate(zip_with(col("m"), col("m"), (a, b) => a * b),
          lit(0L), (acc, v) => acc + v).as("vv"),
        col("ss"))
      .select(col("vec_id"), col("label"),
        when(col("dot") < 0, lit(1))
          .when(expr("400 * CAST(dot AS DECIMAL(38,0)) * dot") <
            expr("CAST(vv AS DECIMAL(38,0)) * ss"), lit(1))
          .otherwise(lit(0)).as("is_outlier"))

  /** Shared C53/D17 oracle: centroid sums, square-free τ-test. */
  private[graft] val embOutlierSql: String =
    """WITH x AS (
      |  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
      |         CAST(floor(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS m
      |  FROM embeddings),
      |s AS (SELECT label, i, CAST(sum(m) AS BIGINT) AS sv FROM x GROUP BY label, i),
      |ss AS (SELECT label, sum(CAST(sv AS HUGEINT) * sv) AS ss FROM s GROUP BY label),
      |d AS (SELECT x.vec_id, x.label,
      |             CAST(sum(x.m * s.sv) AS BIGINT) AS dot,
      |             CAST(sum(x.m * x.m) AS BIGINT) AS vv
      |      FROM x JOIN s ON s.label = x.label AND s.i = x.i
      |      GROUP BY x.vec_id, x.label)
      |SELECT d.vec_id, d.label,
      |  CASE WHEN dot < 0 THEN 1
      |       WHEN 400 * CAST(dot AS HUGEINT) * dot < CAST(vv AS HUGEINT) * ss.ss
      |       THEN 1 ELSE 0 END AS is_outlier
      |FROM d JOIN ss ON ss.label = d.label
      |ORDER BY d.vec_id""".stripMargin

  /** Upper-triangle second-moment accumulation + per-dimension sums:
    * (d1 ≤ d2, Σ m1·m2, Σ m_d1, Σ m_d2, n). The double posexplode emits
    * n·d(d+1)/2 product terms INSIDE codegen and the groupBy partial-
    * aggregates them map-side; the per-dim sum table (d rows) broadcasts
    * back. 0-based dimensions (matching posexplode) — the oracle shifts
    * DuckDB's 1-based generate_subscripts.
    */
  def moments(q: DataFrame): DataFrame = {
    val terms = q
      .select(posexplode(col("q")).as(Seq("d1", "m1")), col("q"))
      .select(col("d1"), col("m1"), posexplode(col("q")).as(Seq("d2", "m2")))
      .where(col("d2") >= col("d1"))
    val mom = terms.groupBy(col("d1"), col("d2"))
      .agg(sum(col("m1") * col("m2")).as("sprod"), count(lit(1)).as("n"))
    val sums = q.select(posexplode(col("q")).as(Seq("d", "m")))
      .groupBy(col("d")).agg(sum(col("m")).as("sd"))
    mom
      .join(broadcast(sums.select(col("d").as("d1"), col("sd").as("sd1"))), Seq("d1"))
      .join(broadcast(sums.select(col("d").as("d2"), col("sd").as("sd2"))), Seq("d2"))
      .select(col("d1"), col("d2"), col("sprod"), col("sd1"), col("sd2"), col("n"))
  }

  /** C40c squarings (≈ C^(2^NSQ) direction-wise) and vector steps. */
  private val PcaIntSquarings = 7
  private val PcaIntIters = 8

  /** C40c driver-side solve: integer covariance from the gated moment
    * rows, 7 REPEATED MATRIX SQUARINGS (each renormalized to
    * max|entry| = 2¹⁸ by truncating division), then 8 vector steps with
    * the squared operator — effective C^1024, which is what makes the
    * direction converge on this corpus's nearly flat spectrum
    * (λ2/λ1 ≈ 0.99 at sf0.1: plain power iteration was still at
    * cos 0.66 after 16 steps). Truncating division throughout, matching
    * DuckDB `//`. Returns (direction v with max|v| = 1024, per-dim
    * sums sd, n).
    */
  private[graft] def pcaIntPower(moment: Array[org.apache.spark.sql.Row])
      : (Array[Long], Array[Long], Long) = {
    require(moment.nonEmpty, "pcaIntPower: empty moment frame")
    val d = moment.iterator.map(_.getInt(1)).max + 1
    val n = moment.head.getLong(5)
    val sd = new Array[Long](d)
    val cov = Array.ofDim[Long](d, d)
    moment.foreach { r =>
      val (d1, d2) = (r.getInt(0), r.getInt(1))
      // BigInt quot truncates toward zero — DuckDB `//` semantics
      val num = BigInt(n) * r.getLong(2) - BigInt(r.getLong(3)) * r.getLong(4)
      val cv = (num / (BigInt(n) * n)).toLong
      cov(d1)(d2) = cv
      cov(d2)(d1) = cv
      if (d1 == d2) sd(d1) = r.getLong(3)
    }
    val S = 262144L // 2^18: |entry| ≤ 2^18 keeps sq products ≤ 2^60
    def rescale(m: Array[Array[Long]]): Array[Array[Long]] = {
      val mx = math.max(m.iterator.flatMap(_.iterator).map(math.abs).max, 1L)
      m.map(_.map(x => x * S / mx))
    }
    var b = rescale(cov)
    var sq = 0
    while (sq < PcaIntSquarings) {
      b = rescale(Array.tabulate(d, d)((i, j) =>
        (0 until d).foldLeft(0L)((a, k) => a + b(i)(k) * b(k)(j))))
      sq += 1
    }
    var v = Array.fill(d)(1024L)
    var it = 0
    while (it < PcaIntIters) {
      val w = Array.tabulate(d)(i =>
        (0 until d).foldLeft(0L)((a, j) => a + b(i)(j) * v(j)))
      val mx = math.max(w.iterator.map(math.abs).max, 1L)
      val ref = (0 until d).maxBy(j => (math.abs(w(j)), -j))
      val sg = if (w(ref) < 0) -1L else 1L
      v = Array.tabulate(d)(i => sg * (w(i) * 1024L / mx))
      it += 1
    }
    (v, sd, n)
  }

  /** C40c projection of quantized rows `q` (batch or stream) onto the
    * integer direction fitted from the corpus moments:
    * pc0 = n·⟨q,v⟩ − ⟨sd,v⟩.
    */
  private def pcaIntProject(s: SparkSession, dir: String, q: DataFrame): DataFrame = {
    val (v, sd, n) = pcaIntPower(moments(quantized(s, dir)).collect())
    val svdot = v.indices.foldLeft(0L)((a, i) => a + sd(i) * v(i))
    q.select(col("vec_id"),
      (lit(n) * aggregate(
        zip_with(col("q"), typedLit(v.toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x) - lit(svdot)).as("pc0"))
  }

  /** C40c oracle: the moment CTEs of emb_covariance, the integer
    * covariance quotient, the 7 squarings and 8 vector steps unrolled
    * as generated MATERIALIZED CTEs (inlined CTEs re-scan the parquet
    * per reference and exhaust file handles), and the closed-form
    * projection. Generated, like the C13f fmix ladder.
    */
  private[graft] val pcaIntSql: String = {
    val sqCtes = (1 to PcaIntSquarings).map { t =>
      val p = t - 1
      s"""p$t AS MATERIALIZED (SELECT a.d1, b.d2, sum(a.v * b.v) AS p
         |  FROM b$p a JOIN b$p b ON b.d1 = a.d2 GROUP BY a.d1, b.d2),
         |q$t AS MATERIALIZED (SELECT greatest(max(abs(p)), 1) AS mx FROM p$t),
         |b$t AS MATERIALIZED (SELECT d1, d2, (p * 262144) // mx AS v FROM p$t, q$t)""".stripMargin
    }.mkString(",\n")
    val iterCtes = (1 to PcaIntIters).map { t =>
      val p = t - 1
      s"""w$t AS MATERIALIZED (SELECT c.d1 AS d, sum(c.v * v$p.v) AS w
         |  FROM b$PcaIntSquarings c JOIN v$p ON v$p.d = c.d2 GROUP BY c.d1),
         |m$t AS MATERIALIZED (SELECT greatest(max(abs(w)), 1) AS mx,
         |    (CASE WHEN first(w ORDER BY abs(w) DESC, d) < 0 THEN -1 ELSE 1 END) AS sg
         |  FROM w$t),
         |v$t AS MATERIALIZED (SELECT d, sg * ((w * 1024) // mx) AS v FROM w$t, m$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH x AS MATERIALIZED (
       |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
       |         CAST(floor(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS m
       |  FROM embeddings),
       |nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |s AS MATERIALIZED (SELECT d, CAST(sum(m) AS BIGINT) AS sd FROM x GROUP BY d),
       |mom AS MATERIALIZED (
       |  SELECT a.d AS d1, b.d AS d2, CAST(sum(a.m * b.m) AS BIGINT) AS sprod
       |  FROM x a JOIN x b ON b.vec_id = a.vec_id AND b.d >= a.d GROUP BY a.d, b.d),
       |covu AS MATERIALIZED (SELECT d1, d2,
       |    CAST((CAST(n AS HUGEINT) * sprod - CAST(s1.sd AS HUGEINT) * s2.sd)
       |         // (CAST(n AS HUGEINT) * n) AS BIGINT) AS cv
       |  FROM mom JOIN s s1 ON s1.d = mom.d1 JOIN s s2 ON s2.d = mom.d2, nn),
       |cov AS MATERIALIZED (SELECT d1, d2, cv FROM covu
       |        UNION ALL SELECT d2, d1, cv FROM covu WHERE d1 != d2),
       |c0 AS MATERIALIZED (SELECT greatest(max(abs(cv)), 1) AS mx FROM cov),
       |b0 AS MATERIALIZED (SELECT d1, d2, (cv * 262144) // mx AS v FROM cov, c0),
       |$sqCtes,
       |v0 AS MATERIALIZED (SELECT t.d, CAST(1024 AS BIGINT) AS v FROM range(0, 64) t(d)),
       |$iterCtes,
       |pr AS (SELECT x.vec_id, sum(x.m * vk.v) AS mv
       |       FROM x JOIN v$PcaIntIters vk ON vk.d = x.d GROUP BY x.vec_id),
       |sv AS (SELECT sum(s.sd * vk.v) AS svdot
       |       FROM s JOIN v$PcaIntIters vk ON vk.d = s.d)
       |SELECT vec_id, CAST(n * mv - svdot AS BIGINT) AS pc0
       |FROM pr, nn, sv ORDER BY vec_id""".stripMargin
  }

  /** A fitted PCA basis: `mean(d)` and `basis(j)(d)` in original float
    * units, `eigenvalues(j)` = Var of component j, descending.
    */
  final case class PcaModel(
      mean: Array[Double],
      basis: Array[Array[Double]],
      eigenvalues: Array[Double])

  /** Fit PCA from the distributed moment accumulation: ONE corpus-scale
    * job, then a BOUNDED d(d+1)/2-row driver collect (2,080 rows at
    * d=64 — the same envelope as [[Cluster]]'s k·d partials), the d×d
    * eigensolve in-process, done. Covariance assembles in double from
    * the raw integer statistics: C = (n·sprod − sd1·sd2) / (n²·10⁶)
    * (population covariance in original float units).
    */
  def pcaFit(moment: DataFrame, p: Int): PcaModel = {
    val rows = moment.collect()
    require(rows.nonEmpty, "pcaFit: empty moment frame")
    val d = rows.iterator.map(_.getInt(1)).max + 1
    require(p >= 1 && p <= d, s"pcaFit: p=$p out of range 1..$d")
    // every (d1,d2) cell must have seen every vector — a ragged-array
    // corpus would silently skew the covariance otherwise
    val n = rows.head.getLong(5).toDouble
    require(rows.forall(_.getLong(5).toDouble == n),
      "pcaFit: ragged embedding arrays (per-pair counts differ)")
    val c = Array.ofDim[Double](d, d)
    val mean = new Array[Double](d)
    rows.foreach { r =>
      val (d1, d2) = (r.getInt(0), r.getInt(1))
      val cov = (n * r.getLong(2) - r.getLong(3).toDouble * r.getLong(4)) /
        (n * n * 1e6)
      c(d1)(d2) = cov
      c(d2)(d1) = cov
      if (d1 == d2) mean(d1) = r.getLong(3) / (n * 1000.0)
    }
    val (evals, evecs) = jacobiEigen(c)
    // descending eigenvalue order; index tie-break keeps it total
    val order = evals.indices.sortBy(i => (-evals(i), i)).take(p)
    val basis = order.map { i =>
      val v = evecs(i)
      // deterministic sign: first component of largest magnitude positive
      val k = v.indices.maxBy(j => (math.abs(v(j)), -j))
      if (v(k) < 0) v.map(x => -x) else v.clone()
    }.toArray
    PcaModel(mean, basis, order.map(evals).toArray)
  }

  def pcaFit(s: SparkSession, dir: String, p: Int): PcaModel =
    pcaFit(moments(quantized(s, dir)), p)

  /** Map-only projection: pc_j = ⟨x, v_j⟩ − ⟨μ, v_j⟩ through the
    * codegen'd `graft_dot` kernel, the basis riding along as p·d
    * literals (a few KB — broadcastable at any corpus size). No shuffle
    * before the caller's presentation sort.
    */
  def pcaProject(s: SparkSession, x: DataFrame, m: PcaModel): DataFrame = {
    val xd = x.withColumn("qd",
      transform(col("q"), v => v.cast("double") / lit(1000.0d)))
    val cols: Seq[Column] = m.basis.zipWithIndex.map { case (v, j) =>
      val mu = v.indices.foldLeft(0.0d)((acc, i) => acc + m.mean(i) * v(i))
      (graft.functions.Native.dot(s, col("qd"), typedLit(v.toSeq)) - lit(mu))
        .as(s"pc$j")
    }.toSeq
    xd.select(col("vec_id") +: cols: _*)
  }

  /** Cyclic Jacobi eigensolve for a symmetric d×d matrix (driver-side,
    * bounded — d=64 here). Deterministic: fixed (p,q) sweep order, fixed
    * convergence threshold. Returns (eigenvalues, row eigenvectors).
    */
  def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    val tol = 1e-22 * math.max(1.0, a.map(_.map(x => x * x).sum).sum)
    var sweep = 0
    while (off() > tol && sweep < 100) {
      sweep += 1
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
          case x if x == 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          case x => x
        }
        val cth = 1.0 / math.sqrt(t * t + 1.0)
        val sth = t * cth
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = cth * aip - sth * aiq
          a(i)(q) = sth * aip + cth * aiq
        }
        for (i <- 0 until d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = cth * api - sth * aqi
          a(q)(i) = sth * api + cth * aqi
        }
        for (i <- 0 until d) {
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = cth * vip - sth * viq
          v(i)(q) = sth * vip + cth * viq
        }
      }
    }
    (Array.tabulate(d)(i => a(i)(i)), Array.tabulate(d)(i => Array.tabulate(d)(j => v(j)(i))))
  }

  val all: Seq[Q] = Seq(

    // C72 (r9): embedding-space CENTROID DRIFT between corpus versions —
    // C64 reports distribution drift in lang/token space; this is the
    // same retraining signal in REPRESENTATION space (did what a label's
    // documents *are* move between crawl v0 and v1?), the check run
    // before reusing frozen ANN/PCA/cluster artifacts on a new snapshot.
    // Same v0/v1 convention as C58/C64 (id%5≠4 / id%7≠2); per label the
    // scaled L1 centroid displacement, division-free: Σ_d |S1_d·n0 −
    // S0_d·n1| div (n0·n1) over kilo-quantized integer sum vectors (the
    // C34/C40 discipline) — all integer ⇒ the whole drift table
    // hash-gates, unusual for a geometry operator.
    // 100 TB shape: each snapshot reduces to |labels×dims| slim partial
    // aggs at scan speed; everything downstream is bounded-table joins.
    Q("emb_centroid_drift",
      """WITH q AS (
        |  SELECT vec_id, label, generate_subscripts(embedding, 1) - 1 AS d,
        |         CAST(floor(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS m
        |  FROM embeddings),
        |s0 AS (SELECT label, d, CAST(sum(m) AS BIGINT) AS s0
        |       FROM q WHERE vec_id % 5 != 4 GROUP BY label, d),
        |s1 AS (SELECT label, d, CAST(sum(m) AS BIGINT) AS s1
        |       FROM q WHERE vec_id % 7 != 2 GROUP BY label, d),
        |n0 AS (SELECT label, CAST(count(*) AS BIGINT) AS n0
        |       FROM embeddings WHERE vec_id % 5 != 4 GROUP BY label),
        |n1 AS (SELECT label, CAST(count(*) AS BIGINT) AS n1
        |       FROM embeddings WHERE vec_id % 7 != 2 GROUP BY label)
        |SELECT CAST(s0.label AS BIGINT) AS label, n0, n1,
        |  CAST(sum(abs(s1.s1 * n0 - s0.s0 * n1)) AS BIGINT) // (n0 * n1) AS shift_milli
        |FROM s0
        |JOIN s1 ON s1.label = s0.label AND s1.d = s0.d
        |JOIN n0 ON n0.label = s0.label
        |JOIN n1 ON n1.label = s0.label
        |GROUP BY s0.label, n0, n1 ORDER BY label""".stripMargin) { (s, dir) =>
      val e = Tables(s, dir, "embeddings")
      def dimSums(f: DataFrame, sn: String): DataFrame =
        f.select(col("label"), posexplode(col("embedding")).as(Seq("d", "v")))
          .select(col("label"), col("d"),
            floor(col("v").cast("double") * 1000).cast("long").as("m"))
          .groupBy(col("label"), col("d")).agg(sum(col("m")).as(sn))
      val e0 = e.where(col("vec_id") % 5 =!= 4)
      val e1 = e.where(col("vec_id") % 7 =!= 2)
      dimSums(e0, "s0").join(dimSums(e1, "s1"), Seq("label", "d"))
        .join(broadcast(e0.groupBy(col("label")).agg(count(lit(1)).as("n0"))), "label")
        .join(broadcast(e1.groupBy(col("label")).agg(count(lit(1)).as("n1"))), "label")
        .groupBy(col("label"), col("n0"), col("n1"))
        .agg(sum(abs(col("s1") * col("n0") - col("s0") * col("n1"))).as("l1"))
        .select(col("label").cast("long").as("label"), col("n0"), col("n1"),
          expr("l1 div (n0 * n1)").as("shift_milli"))
        .orderBy(col("label"))
    },

    // C40: raw second-moment + mean sufficient statistics, upper
    // triangle — the corpus-scale half of covariance/PCA/whitening,
    // hash-gated end to end in integer space.
    Q("emb_covariance",
      """WITH x AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        |         CAST(floor(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS m
        |  FROM embeddings),
        |s AS (SELECT d, CAST(sum(m) AS BIGINT) AS sd FROM x GROUP BY d),
        |mom AS (
        |  SELECT a.d AS d1, b.d AS d2,
        |         CAST(sum(a.m * b.m) AS BIGINT) AS sprod, count(*) AS n
        |  FROM x a JOIN x b ON b.vec_id = a.vec_id AND b.d >= a.d
        |  GROUP BY a.d, b.d)
        |SELECT m.d1, m.d2, m.sprod, s1.sd AS sd1, s2.sd AS sd2, m.n
        |FROM mom m JOIN s s1 ON s1.d = m.d1 JOIN s s2 ON s2.d = m.d2
        |ORDER BY m.d1, m.d2""".stripMargin) { (s, dir) =>
      moments(quantized(s, dir)).orderBy(col("d1"), col("d2"))
    },

    // C40b: the projection itself — float output (eigenvectors are
    // irrational), so rows-only; inv_pca_variance is its driver gate
    // and PcaSpec pins a hand-checkable basis.
    Q.noOracle("emb_pca_project") { (s, dir) =>
      val m = pcaFit(s, dir, P)
      pcaProject(s, quantized(s, dir), m).orderBy(col("vec_id"))
    },

    // C40c (r12): the INTEGER-DETERMINISM twin of the PCA projection —
    // the C8l/C4e scheme extended to the PCA family (r11 verdict #8).
    // Same production split as C40b: ONE distributed moment pass (the
    // C40-gated sufficient statistics), a BOUNDED driver-side solve,
    // then a map-only projection with the direction riding along as d
    // literals. The solve is a FIXED-POINT POWER METHOD WITH REPEATED
    // SQUARING: scaled integer covariance cv = (n·sprod − sd1·sd2)
    // quot n² (exact in BigInt/HUGEINT, quotient |cv| ≤ 10⁶ —
    // population covariance in micro units), the matrix squared 7
    // times (each renormalized to max|entry| = 2¹⁸, keeping products
    // ≤ 2⁶⁰) ≈ C^128 direction-wise, then 8 vector steps — effective
    // C^1024, needed because this corpus's spectrum is nearly flat
    // (λ2/λ1 ≈ 0.99 at sf0.1; plain 16-step iteration converged to
    // only cos 0.66). The vector renormalizes to max|v| = 1024 by
    // integer division, sign-anchored at the largest-|w| slot (lowest
    // index on ties), so every intermediate is a pure function of the
    // gated moments.
    // Truncating division is the ONE semantic to pin: Scala Long `/`
    // and BigInt `/` truncate toward zero and DuckDB `//` does too
    // (−7//2 = −3 — floor-vs-truncate only differs on negatives, and
    // w·1024/mx goes negative on every anti-aligned component, so a
    // floor-semantics engine WOULD diverge here). The projection emits
    // pc0 = n·⟨m,v⟩ − ⟨sd,v⟩ = n²·⟨(m − μ), v⟩ — the mean-centered
    // dominant-component coordinate with no division at all (|pc0| ≤
    // 64·2000·1024·n stays in BIGINT past 10¹¹ rows). The oracle
    // unrolls the 16 iterations as generated MATERIALIZED CTEs
    // (inlined CTEs re-scan the parquet per iteration and exhaust file
    // handles). PcaIntSpec binds the integer direction to the float
    // eigenbasis (|cos| > 0.99) so the arm gates PCA, not just a
    // self-consistent fold. 100 TB shape: identical to C40b — the
    // corpus is touched by exactly two map-side-combinable passes
    // (moments, projection); the iteration runs on d² numbers.
    Q("emb_pca_project_int", pcaIntSql) { (s, dir) =>
      pcaIntProject(s, dir, quantized(s, dir)).orderBy(col("vec_id"))
    },

    // D34 (r12): C40c at INGEST — the integer projection with a FROZEN
    // integer direction as embeddings land (the D25 deployment shape on
    // the hash-gated twin): the direction fits once batch-side from the
    // gated moments (the D11/D17/D25 frozen-model discipline), rides as
    // d literals in a stateless per-row integer fold — append mode, no
    // state store, no join. Unlike D25 (float ⇒ rows-only + bitwise
    // parity gate), every streamed value is integer, so this arm gates
    // against the SAME DuckDB oracle as batch C40c — full
    // rows+schema+hash driver-checked batch/stream parity, the D33
    // pattern on the PCA family.
    Q("emb_pca_int_stream", pcaIntSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        pcaIntProject(s, dir, quantized(Events.streamOf(s, dir, "embeddings")))
      }.orderBy(col("vec_id"))
    },

    // D25 (r9): C40b at INGEST — dimensionality reduction with a
    // FROZEN basis as embeddings land (the deployment shape: PCA fits
    // once on the corpus snapshot; reducing a 100 TB stream must not
    // re-fit). The bounded model (p·d basis literals + projected mean)
    // rides the stateless per-row projection exactly as in batch —
    // append mode, no state store, no join. Float output (eigenvectors
    // are irrational) ⇒ rows-only; `inv_pca_stream_parity` pins
    // stream ≡ batch projection bitwise (same literals, same kernel,
    // same per-row arithmetic — any drift is a real bug).
    Q.noOracle("emb_pca_stream") { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        pcaProject(s, quantized(Events.streamOf(s, dir, "embeddings")), pcaFit(s, dir, P))
      }.orderBy(col("vec_id"))
    },

    // Driver gate for D25 (WHERE 1=0 oracle): the shipped stream arm's
    // projection must match the batch projection BITWISE on every vec_id
    // (null-safe compare — a row missing on either side is also a
    // violation).
    Q("inv_pca_stream_parity",
      """SELECT CAST(NULL AS BIGINT) AS vec_id FROM embeddings WHERE 1=0""") { (s, dir) =>
      val batch = pcaProject(s, quantized(s, dir), pcaFit(s, dir, P))
      val sr = (0 until P).foldLeft(graft.SparkEntry.queries("emb_pca_stream")(s, dir)) {
        (df, j) => df.withColumnRenamed(s"pc$j", s"spc$j")
      }
      val mismatch = (0 until P)
        .map(j => !(col(s"pc$j") <=> col(s"spc$j"))).reduce(_ || _)
      batch.join(sr, Seq("vec_id"), "full_outer")
        .where(mismatch).select(col("vec_id")).orderBy(col("vec_id"))
    },

    // Driver gate for C40b (WHERE 1=0 oracle): (a) basis orthonormality
    // |⟨vi,vj⟩ − δij| ≤ 1e-9 (p² driver-side dots, emitted as a local
    // frame so the violation set is driver-checked, not spec-trusted);
    // (b) Var(corpus · v_j) = λ_j within 1e-6 relative — the Rayleigh
    // identity, computed by a REAL distributed pass over the projected
    // corpus, so a wrong mean, a wrong basis row, or a projection bug
    // all surface as violations.
    Q("inv_pca_variance",
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS INT) AS i,
        |  CAST(NULL AS INT) AS j FROM embeddings WHERE 1=0""".stripMargin) { (s, dir) =>
      import s.implicits._
      val m = pcaFit(s, dir, P)
      val ortho = for {
        i <- 0 until P; j <- i until P
        dot = m.basis(i).indices.foldLeft(0.0d)((a, k) => a + m.basis(i)(k) * m.basis(j)(k))
        want = if (i == j) 1.0 else 0.0
        if math.abs(dot - want) > 1e-9
      } yield ("orthonormal", i, j)
      val orthoDf = ortho.toDF("kind", "i", "j")
      val proj = pcaProject(s, quantized(s, dir), m)
      val aggs = (0 until P).flatMap { j =>
        Seq(sum(col(s"pc$j")).as(s"s$j"), sum(col(s"pc$j") * col(s"pc$j")).as(s"ss$j"))
      } :+ count(lit(1)).as("n")
      val varianceViolations = proj.agg(aggs.head, aggs.tail: _*)
        .select((0 until P).map { j =>
          ((col(s"ss$j") - col(s"s$j") * col(s"s$j") / col("n")) / col("n")).as(s"v$j")
        }: _*)
        .select(explode(array((0 until P).map { j =>
          struct(lit("variance").as("kind"), lit(j).as("i"), lit(j).as("j"),
            col(s"v$j").as("got"), lit(m.eigenvalues(j)).as("want"))
        }: _*)).as("x"))
        .select(col("x.*"))
        .where(abs(col("got") - col("want")) >
          greatest(lit(1e-9), lit(1e-6) * abs(col("want"))))
        .select(col("kind"), col("i"), col("j"))
      orthoDf.unionByName(varianceViolations).orderBy(col("kind"), col("i"), col("j"))
    },

    // C53 (r9): embedding OUTLIER filtering — the CLIP-score-style
    // quality filter applied in embedding space (drop vectors far from
    // their label's centroid: mislabeled / off-distribution samples).
    // EXACT CROSS-ENGINE ARITHMETIC: kilo-quantized components, centroid
    // = the per-label integer SUM vector S (a scaled centroid points the
    // same direction — cosine is scale-invariant, so no division ever
    // happens), and the τ=0.05 cosine test evaluates square-free:
    // outlier ⟺ dot(m,S) < 0 OR 400·dot² < |m|²·|S|², with the squares
    // in DECIMAL(38,0)/HUGEINT (dot ~ 1e13 at 1e6 vectors; dot² ~ 1e26
    // overflows BIGINT — the C35b widening discipline). Integer end to
    // end ⇒ the whole decision hash-gates.
    //
    // 100 TB shape: one posexplode pass partial-aggregates the (label,
    // dim) sums — |labels|·d slim rows; the centroid table re-assembles
    // per label (bounded: labels × d longs) and BROADCASTS back; the
    // per-vector pass is map-side zip_with/aggregate folds inside
    // codegen with no corpus shuffle at all (PlanSpec-style: the only
    // exchanges are the centroid agg and the presentation sort).
    Q("emb_outlier", embOutlierSql) { (s, dir) =>
      embOutlier(Tables(s, dir, "embeddings")).orderBy(col("vec_id"))
    },

    // D17 (r9): C53 at INGEST — outlier scoring as vectors land, the
    // deployment shape (train centroids once on the reference corpus,
    // score every arriving embedding against the FROZEN model): the
    // bounded centroid table computes batch-side and broadcasts into a
    // stateless stream-static join + projection (append mode, no state
    // store — the emb_assign_stream discipline with a learned-from-data
    // model instead of k-means centroids). Gated by the SAME oracle as
    // batch C53 — driver-checked batch/stream parity.
    Q("emb_outlier_stream", embOutlierSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        val cent = embCentroids(embQuantLabel(Tables(s, dir, "embeddings")))
        val stream = Events.streamOf(s, dir, "embeddings")
        embOutlierScore(embQuantLabel(stream), cent)
      }
        .orderBy(col("vec_id"))
    },

    // C41: int8 scalar quantization + exact reconstruction-error
    // accounting, all integer: code = (m+1000)·255 // 2000 ∈ [0,255],
    // recon = code·2000 // 255 − 1000, per-vector Σ|err| / max|err| and
    // a position-weighted code checksum binding every code byte into the
    // hash gate. Pure per-row `transform`+`aggregate` folds — zero
    // shuffles before the presentation sort. The floor(double-division)
    // form is exact: numerators ≤ 510,000 are exact doubles and the
    // quotients are rationals with denominator 2000 (resp. 255), ≥
    // 1/2000 away from any other integer — double error ~1e-14 cannot
    // cross a floor boundary — so it matches DuckDB's integer `//`.
    Q("emb_quantize",
      """WITH x AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) AS d,
        |         CAST(floor(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS m
        |  FROM embeddings),
        |c AS (SELECT vec_id, d, m, (m + 1000) * 255 // 2000 AS code FROM x),
        |r AS (SELECT vec_id, d, code,
        |        abs(m - (code * 2000 // 255 - 1000)) AS err FROM c)
        |SELECT vec_id, CAST(sum(err) AS BIGINT) AS sum_err,
        |  CAST(max(err) AS BIGINT) AS max_err,
        |  CAST(sum(code * d) AS BIGINT) AS code_chk
        |FROM r GROUP BY vec_id ORDER BY vec_id""".stripMargin) { (s, dir) =>
      quantizeStats(quantized(s, dir)).orderBy(col("vec_id"))
    })

  /** Int8 quantization error accounting over a kilo-quantized frame —
    * see the `emb_quantize` entry above for the arithmetic contract.
    */
  def quantizeStats(q: DataFrame): DataFrame = {
    def idiv(num: Column, den: Long): Column =
      floor(num.cast("double") / lit(den.toDouble)).cast("long")
    q.withColumn("codes", transform(col("q"), m => idiv((m + lit(1000L)) * lit(255L), 2000L)))
      .withColumn("errs", zip_with(col("q"), col("codes"),
        (m, c) => abs(m - (idiv(c * lit(2000L), 255L) - lit(1000L)))))
      .select(col("vec_id"),
        aggregate(col("errs"), lit(0L), (acc, e) => acc + e).as("sum_err"),
        aggregate(col("errs"), lit(0L), (acc, e) => greatest(acc, e)).as("max_err"),
        aggregate(zip_with(col("codes"), sequence(lit(1L), size(col("codes")).cast("long")),
          (c, d) => c * d), lit(0L), (acc, x) => acc + x).as("code_chk"))
  }
}
