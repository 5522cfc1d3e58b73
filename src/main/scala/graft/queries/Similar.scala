package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one filter-and-verify skeleton of the similarity families: near-dup
  * pair mining (Dedup, Media, Multimodal) and ANN probes (Ann).
  *
  * Every family has one shape: signature → bucket key → equi-join → exact
  * verify → threshold or top-k. A family supplies its signature kernel,
  * its bucket key (as a [[Keyed]] table) and its score; this object holds
  * the joins, the verifier, and each signature or bucketing code exactly
  * once, next to its DuckDB restatement:
  *   - pairs: a [[Candidates]] generator ([[buckets]], or [[allPairs]] as
  *     the exact-recall reference), then [[verify]] joins each side's
  *     payload back once and the family's score keeps what passes;
  *   - probes: [[probe]] broadcasts the query or batch keys into the
  *     corpus, then [[cosine]] and [[topK]] rank.
  */
object Similar {

  /** A signature table: one row per (`id`, bucket key). `carry` columns
    * ride the candidate join into the pair as `<c>_a` / `<c>_b`; `filter`
    * is an extra join predicate over the `a` / `b` sides; `unique` says
    * every id has one key row, so a pair can meet only once.
    */
  final case class Keyed(df: DataFrame, id: String, key: Seq[String],
      carry: Seq[String] = Nil, filter: Option[Column] = None, unique: Boolean = false)

  /** A candidate generator: a signature table → its (a_id < b_id) pairs,
    * plus the carried columns.
    */
  type Candidates = Keyed => DataFrame

  /** The bucket self-join: the pairs that share a bucket key. */
  val buckets: Candidates = k => {
    val on = (k.key.map(c => col(s"a.$c") === col(s"b.$c")) :+
      (col(s"a.${k.id}") < col(s"b.${k.id}"))).reduce(_ && _)
    val pairs = k.df.as("a").join(k.df.as("b"), k.filter.fold(on)(on && _))
      .select(pairCols(k): _*)
    if (k.unique) pairs else pairs.distinct()
  }

  /** Every pair of ids, keys ignored: the quadratic reference a spec runs
    * a family's verifier over to check its recall.
    */
  val allPairs: Candidates = k => {
    val ids = k.df.select((k.id +: k.carry).map(col): _*)
    val one = if (k.unique) ids else ids.distinct()
    one.as("a").join(one.as("b"), col(s"a.${k.id}") < col(s"b.${k.id}"))
      .select(pairCols(k): _*)
  }

  private def pairCols(k: Keyed): Seq[Column] =
    Seq(col(s"a.${k.id}").as("a_id"), col(s"b.${k.id}").as("b_id")) ++
      k.carry.flatMap(c => Seq(col(s"a.$c").as(s"${c}_a"), col(s"b.$c").as(s"${c}_b")))

  /** The verifier: join each side's payload back once, `cols` naming
    * (payload column, a-side name, b-side name), then `score` keeps the
    * pairs that pass.
    */
  def verify(cands: DataFrame, payload: DataFrame, id: String, cols: (String, String, String)*)(
      score: DataFrame => DataFrame): DataFrame = {
    def side(pid: String, name: ((String, String, String)) => String) =
      payload.select(col(id).as(pid) +: cols.map(c => col(c._1).as(name(c))): _*)
    score(cands.join(side("a_id", _._2), "a_id").join(side("b_id", _._3), "b_id"))
  }

  /** `<c>_a` / `<c>_b` side names for [[verify]]. */
  def sides(cs: String*): Seq[(String, String, String)] = cs.map(c => (c, s"${c}_a", s"${c}_b"))

  /** Exact Jaccard of the gram sets `ga` / `gb` at or above `tau`. */
  def jaccard(tau: Double)(p: DataFrame): DataFrame =
    // |∩| in a named column: one array_intersect per pair, not two
    p.select(col("a_id"), col("b_id"), col("ga"), col("gb"),
        size(array_intersect(col("ga"), col("gb"))).as("ni"))
      .select(col("a_id"), col("b_id"),
        (col("ni") / (size(col("ga")) + size(col("gb")) - col("ni"))).as("jacc"))
      .where(col("jacc") >= tau)
      .select(col("a_id"), col("b_id"), round(col("jacc"), 4).as("jacc"))

  /** cos ≥ 1/2 decided square-free on integer codes `q_a` / `q_b` with
    * squared norms `vv_a` / `vv_b`: dot > 0 ∧ 4·dot² ≥ |a|²·|b|². Codes are
    * at most 1000 in magnitude over 64 dims, so the double dot is exact
    * and 4·dot² fits a BIGINT. Returns (a_id, b_id, dot, va, vb).
    */
  def halfCosineInt(s: SparkSession)(p: DataFrame): DataFrame =
    p.select(col("a_id"), col("b_id"),
        graft.functions.Native.dot(s, col("q_a"), col("q_b")).cast("long").as("dot"),
        col("vv_a").as("va"), col("vv_b").as("vb"))
      .where(col("dot") > 0 && lit(4L) * col("dot") * col("dot") >= col("va") * col("vb"))

  /** Rounded cosine of `emb_a` / `emb_b` (norms `nrm_a` / `nrm_b`) at or
    * above `tau`.
    */
  def cosineAtLeast(s: SparkSession, tau: Double)(p: DataFrame): DataFrame =
    p.select(col("a_id"), col("b_id"),
        round(cosine(s, col("emb_a"), col("emb_b"), col("nrm_a"), col("nrm_b")), 4).as("cos"))
      .where(col("cos") >= tau)

  /** The broadcast probe join: the small query or batch side broadcasts
    * into the corpus on `key`, so the corpus is never shuffled. No key is
    * the brute-force cross join.
    */
  def probe(corpus: DataFrame, queries: DataFrame, key: String*): DataFrame =
    if (key.isEmpty) corpus.crossJoin(broadcast(queries))
    else corpus.join(broadcast(queries), key)

  def cosine(s: SparkSession, a: Column, b: Column, na: Column, nb: Column): Column =
    graft.functions.Native.dot(s, a, b) / (na * nb)

  /** Exact top-`k` per query of scored (q_id, n_id, cos) candidates:
    * ranked by cos rounded to 6 places, ties on n_id, so both engines
    * order identically. The SQL twin is [[topKSql]].
    */
  def topK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(round(col("cos"), 6).desc, col("n_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("n_id"), round(col("cos"), 4).as("cos"))
      .orderBy(col("q_id"), col("rank"))

  /** [[topK]] in DuckDB, over a `scored(q_id, n_id, cos)` CTE. */
  def topKSql(k: Int): String =
    s"""ranked AS (SELECT q_id, n_id, cos, row_number() OVER (
       |             PARTITION BY q_id ORDER BY round(cos, 6) DESC, n_id) AS rank
       |           FROM scored)
       |SELECT q_id, rank, n_id, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= $k
       |ORDER BY q_id, rank""".stripMargin

  /** Integer-code cosine in DuckDB: `nrm`, `dots` and `scored(q_id, n_id,
    * cos)` CTEs over a `cand(q_id, n_id)` CTE and the signed codes `x(vec_id,
    * d, v)`; zero vectors score nothing.
    */
  def intCosineSql(x: String): String =
    s"""nrm AS (SELECT vec_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS nrm
       |        FROM $x GROUP BY vec_id),
       |dots AS (SELECT cand.q_id, cand.n_id,
       |           CAST(sum(q.v * c.v) AS DOUBLE) AS dot
       |         FROM cand JOIN $x q ON q.vec_id = cand.q_id
       |                   JOIN $x c ON c.vec_id = cand.n_id AND c.d = q.d
       |         GROUP BY cand.q_id, cand.n_id),
       |scored AS (SELECT d.q_id, d.n_id, d.dot / (nq.nrm * nc.nrm) AS cos
       |           FROM dots d JOIN nrm nq ON nq.vec_id = d.q_id
       |                       JOIN nrm nc ON nc.vec_id = d.n_id
       |           WHERE nq.nrm > 0 AND nc.nrm > 0)""".stripMargin

  /** The bucket self-join in DuckDB: DISTINCT (a_id, b_id) pairs of table
    * `t` that agree on `keys`, carried columns as `<c>_a` / `<c>_b`.
    */
  def selfPairsSql(t: String, id: String, keys: Seq[String], carry: Seq[String] = Nil): String =
    s"""SELECT DISTINCT a.$id AS a_id, b.$id AS b_id${carry.map(c => s", a.$c AS ${c}_a, b.$c AS ${c}_b").mkString}
       |  FROM $t a JOIN $t b
       |    ON ${keys.map(k => s"a.$k = b.$k AND ").mkString}a.$id < b.$id""".stripMargin

  // ---------------------------------------------------- kilo quantization

  /** Kilo code of one embedding component: floor((v + 1) · 1000), a BIGINT
    * in [0, 2000]. Integer codes make every later step exact in both
    * engines.
    */
  def kilo(v: Column): Column = floor((v.cast("double") + 1.0d) * 1000)

  /** Kilo codes of an embedding array. */
  def kiloCodes(emb: Column): Column = transform(emb, kilo(_))

  /** Signed codes (m − 1000) of kilo codes, as doubles for the codegen'd dot. */
  def signed(codes: Column): Column = transform(codes, m => (m - lit(1000L)).cast("double"))

  /** [[kilo]] in DuckDB: one (vec_id, d, `as`) row per component of
    * `embeddings`, minus `shift` (1000 gives the signed codes).
    */
  def kiloSql(as: String, shift: Int = 0): String =
    s"""SELECT vec_id, generate_subscripts(embedding, 1) AS d,
       |    CAST(floor((unnest(embedding)::DOUBLE + 1.0) * 1000) AS BIGINT)${if (shift == 0) "" else s" - $shift"} AS $as
       |  FROM embeddings""".stripMargin

  // ---------------------------------------------------- hamming blocks

  /** Pigeonhole hamming blocks: `sig` splits into `blocks` blocks of
    * `width` bits, and two signatures within hamming `radius` < `blocks`
    * agree on at least one block, so candidate generation is exact. The
    * mask applies after the shift: the top block of a negative signature
    * sign-extends.
    */
  def hammingKeyed(sigs: DataFrame, id: String, sig: String, blocks: Int, width: Int): Keyed =
    Keyed(sigs.select(col(id), col(sig), explode(expr(
        s"transform(sequence(0, ${blocks - 1}), b -> struct(b AS blk, " +
          s"shiftright($sig, CAST(b * $width AS INT)) & ${(1L << width) - 1} AS bval))")).as("x"))
      .select(col(id), col(sig), col("x.blk"), col("x.bval")),
      id, Seq("blk", "bval"), carry = Seq(sig))

  /** (a_id, b_id, hamming INT) pairs within `radius` bits: candidates from
    * `gen` over the [[hammingKeyed]] blocks, verified by popcount.
    */
  def hammingPairs(sigs: DataFrame, id: String, sig: String, blocks: Int, width: Int,
      radius: Int, gen: Candidates = buckets): DataFrame = {
    require(radius >= 0 && radius < blocks,
      s"$blocks-block candidates are only complete for radius < $blocks (got $radius)")
    gen(hammingKeyed(sigs, id, sig, blocks, width))
      .select(col("a_id"), col("b_id"),
        bit_count(col(s"${sig}_a").bitwiseXOR(col(s"${sig}_b"))).as("hamming"))
      .where(col("hamming") <= radius)
  }

  /** [[hammingPairs]] in DuckDB over a `src(id, sig)` CTE: the `blk` and
    * `cand` CTEs and the final (a_id, b_id, hamming BIGINT) select.
    */
  def hammingPairsSql(src: String, id: String, sig: String, blocks: Int, width: Int,
      radius: Int): String =
    s"""blk AS (SELECT $id, $sig, b.b, ($sig >> CAST(b.b * $width AS INT)) & ${(1L << width) - 1} AS bval
       |        FROM $src, range(0, $blocks) b(b)),
       |cand AS (${selfPairsSql("blk", id, Seq("b", "bval"), Seq(sig))})
       |SELECT a_id, b_id, CAST(bit_count(xor(${sig}_a, ${sig}_b)) AS BIGINT) AS hamming
       |FROM cand WHERE bit_count(xor(${sig}_a, ${sig}_b)) <= $radius
       |ORDER BY a_id, b_id""".stripMargin

  // ---------------------------------------------------- minhash bands

  /** MinHash banding of a signature array: one `bk` = struct(band, bsig)
    * row per band, bsig the band's `rows` slots. Two signatures meet when
    * any band agrees in every slot.
    */
  def minhashBands(sig: Column, bands: Int = 32, rows: Int = 4): Column =
    explode(transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"), slice(sig, b * rows + 1, lit(rows)).as("bsig")))).as("bk")

  // ------------------------------------- integer hyperplane signatures

  /** Integer hyperplane weight of table `t`, bit `b`, dimension `j`, in
    * [-6, 6]. The large-prime inner mod decorrelates the planes: a
    * linear-in-j formula mod 13 is cyclic in j, every plane a shift of
    * one pattern (measured recall 0.18 against 0.42 with the inner mod,
    * sf0.01).
    */
  def lshW(t: Int, b: Int, j: Int): Long =
    (t.toLong * 2654435761L + b.toLong * 2246822519L + j.toLong * 3266489917L) % 1000003L % 13L - 6L

  /** `tables` × `bits` integer hyperplane signatures of the signed codes
    * `v` (dimension `dim`): an array of struct(t, sig), sig = Σ_b
    * [w_tb · v ≥ 0] << b. The dots ride the codegen'd graft_dot; every
    * term is an integer, so the sign is exact in both engines.
    */
  def lshIntSigs(s: SparkSession, v: Column, tables: Int, bits: Int, dim: Int = 64): Column =
    array((0 until tables).map { t =>
      val sig = (0 until bits).map { b =>
        val w = typedLit((1 to dim).map(j => lshW(t, b, j).toDouble))
        when(graft.functions.Native.dot(s, v, w) >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("t"), sig.as("sig"))
    }: _*)

  /** [[lshIntSigs]] in DuckDB: `w`, `bits` and `sig(vec_id, t, sig)` CTEs
    * over the signed codes `x(vec_id, d, v)`.
    */
  def lshIntSigSql(tables: Int, bits: Int, dim: Int = 64): String =
    s"""w AS (SELECT t.t, b.b, j.j,
       |        CAST((t.t * 2654435761 + b.b * 2246822519 + j.j * 3266489917)
       |          % 1000003 % 13 AS BIGINT) - 6 AS w
       |      FROM range(0, $tables) t(t), range(0, $bits) b(b),
       |           range(1, ${dim + 1}) j(j)),
       |bits AS (
       |  SELECT x.vec_id, w.t, w.b,
       |    CASE WHEN sum(w.w * x.v) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM x JOIN w ON w.j = x.d
       |  GROUP BY x.vec_id, w.t, w.b),
       |sig AS (SELECT vec_id, t, CAST(sum(bit << b) AS BIGINT) AS sig
       |        FROM bits GROUP BY vec_id, t)""".stripMargin
}
