package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.Tables

/** Text analysis suite — SURVEY.md §2.C9-C12: language ID, quality
  * scoring, token counting, document fingerprinting.
  *
  * Everything here is per-document narrow work: pure codegen'd column
  * expressions, zero shuffles except the final presentation ORDER BY —
  * at 100 TB these run at scan speed with full column pruning (only
  * doc_id + text are read).
  */
object Text {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  import Curation.words

  /** The deterministic sampling coin shared by C19/C24/C29: an affine
    * map of doc_id over Z_1000003, reduced mod `buckets` (100 for
    * percent rates, 10000 for basis points). A pure function of doc_id,
    * so every sample survives reruns, engines, and repartitionings.
    * ONE definition on the Scala side; each query's oracle restates the
    * SQL twin `((doc_id % 1000003) * 131071 + 99991) % 1000003 % B` —
    * keep them in lockstep.
    */
  private def keepCoin(buckets: Int): Column =
    ((col("doc_id") % 1000003L) * 131071L + 99991L) % 1000003L % buckets

  /** C42's temperature-T=1/2 mixture schedule over any documents frame —
    * ONE definition shared by the schedule (C42) and its realization
    * (C42b `text_mixture_apply`), the C18b shared-frame discipline: plan
    * and application can never drift. Output per (source, lang):
    * (n_docs, n_tokens, w_sqrt, alloc_tokens, rate_bp). See the C42
    * query scaladoc for the integer-exactness and shuffle-shape story.
    */
  private def mixtureSchedule(d: DataFrame): DataFrame =
    mixtureAlloc(
      d.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(size(words).cast("long")).as("n_tokens")),
      Seq("source", "lang"))

  /** C42's temperature-allocation arithmetic over ANY stratum-count
    * frame (keys..., n_docs, n_tokens) — ONE definition shared by the
    * (source, lang) schedule and the r9 (topic, lang) schedule, so the
    * allocation rule cannot drift between stratifications.
    */
  private def mixtureAlloc(c: DataFrame, keys: Seq[String]): DataFrame = {
    val w = c.withColumn("w_sqrt", floor(sqrt(col("n_tokens").cast("double"))))
    val t = w.agg(expr("sum(n_tokens) div 2").as("budget"), sum(col("w_sqrt")).as("wsum"))
    w.crossJoin(broadcast(t))
      .select(keys.map(col) ++ Seq(col("n_docs"), col("n_tokens"), col("w_sqrt"),
        expr("CAST((CAST(budget AS DECIMAL(38,0)) * w_sqrt) div wsum AS BIGINT)").as("alloc_tokens"),
        expr("CAST((CAST((CAST(budget AS DECIMAL(38,0)) * w_sqrt) div wsum AS DECIMAL(38,0)) * 10000) div n_tokens AS BIGINT)").as("rate_bp")): _*)
  }

  /** C20's DuckDB twin + frame, shared verbatim by batch
    * (`text_repetition`) and ingest (D22 `text_repetition_stream`) —
    * one oracle gating both IS the batch/stream parity check.
    */
  private val repetitionSql: String =
    """WITH docs_ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
      |g AS (
      |  SELECT a.doc_id, a.w || ' ' || b.w AS g
      |  FROM w a JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
      |c AS (SELECT doc_id, g, count(*) AS cnt FROM g GROUP BY doc_id, g),
      |agg AS (
      |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total,
      |         count(*) AS n_distinct, max(cnt) AS top_cnt
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, total AS n_bigrams,
      |  CAST(((total - n_distinct) * 10000) // total AS BIGINT) AS dup_bp,
      |  CAST((top_cnt * 10000) // total AS BIGINT) AS top_bp
      |FROM agg ORDER BY doc_id""".stripMargin

  private def repetitionFrame(d: DataFrame): DataFrame =
    d.where(size(words) >= 2)
      .select(col("doc_id"), graft.functions.Kernels.bigramStats(words).as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_bigrams"),
        expr("((st[0] - st[1]) * 10000) div st[0]").as("dup_bp"),
        expr("(st[2] * 10000) div st[0]").as("top_bp"))

  /** C28's redaction stages + frame, shared by batch (`text_pii_redact`)
    * and ingest (D23 `text_pii_redact_stream`).
    */
  private val piiStages: Seq[(String, String)] = Seq(
    """[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}""" -> "<EMAIL>",
    """([0-9]{1,3}\.){3}[0-9]{1,3}""" -> "<IP>",
    """[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}""" -> "<PHONE>",
    """\bcustomer\b""" -> "<ENT>")

  private def piiRedactFrame(d: DataFrame): DataFrame =
    piiStages.foldLeft(
      d.select(col("doc_id"), lit(0L).as("n_red"), col("text").as("t"))) {
      case (df, (p, r)) => df.select(col("doc_id"),
        (col("n_red") + size(regexp_extract_all(col("t"), lit(p), lit(0)))).as("n_red"),
        regexp_replace(col("t"), p, r).as("t"))
    }.select(col("doc_id"), col("n_red"), col("t").as("red_text"))

  private val piiRedactSql: String =
    """WITH s0 AS (SELECT doc_id, text AS t FROM documents),
      |s1 AS (SELECT doc_id,
      |  len(regexp_extract_all(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS c1,
      |  regexp_replace(t, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g') AS t
      |  FROM s0),
      |s2 AS (SELECT doc_id, c1,
      |  len(regexp_extract_all(t, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS c2,
      |  regexp_replace(t, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS t FROM s1),
      |s3 AS (SELECT doc_id, c1, c2,
      |  len(regexp_extract_all(t, '[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}')) AS c3,
      |  regexp_replace(t, '[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}', '<PHONE>', 'g') AS t FROM s2),
      |s4 AS (SELECT doc_id, c1, c2, c3,
      |  len(regexp_extract_all(t, '\bcustomer\b')) AS c4,
      |  regexp_replace(t, '\bcustomer\b', '<ENT>', 'g') AS t FROM s3)
      |SELECT doc_id, CAST(c1 + c2 + c3 + c4 AS BIGINT) AS n_red, t AS red_text
      |FROM s4 ORDER BY doc_id""".stripMargin

  /** C43's DuckDB twin, shared verbatim by batch (`text_decontaminate_
    * spans`) and stream (D9 `text_decontaminate_stream`) — one oracle
    * gating both IS the batch/stream parity check (C30/D6 discipline).
    */
  private val decontamSql: String =
    """WITH docs_ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |g AS (SELECT doc_id, len(ws) AS n_tokens, gs-1 AS pos,
      |             array_to_string(ws[gs:gs+3], ' ') AS gram
      |      FROM docs_ws, UNNEST(generate_series(1, len(ws)-3)) AS t(gs)),
      |probe AS (SELECT DISTINCT gram FROM g WHERE doc_id % 20 = 0),
      |hit AS (SELECT g.doc_id, g.n_tokens, g.pos FROM g JOIN probe USING (gram)
      |        WHERE g.doc_id % 20 <> 0),
      |m AS (SELECT doc_id, n_tokens, pos,
      |        coalesce(max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      |      FROM hit),
      |cov AS (SELECT doc_id, any_value(n_tokens) AS n_tokens,
      |        count(*) AS probe_hits,
      |        CAST(sum(greatest(0, pos + 4 - greatest(prev_end, pos))) AS BIGINT) AS removed
      |        FROM m GROUP BY doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(probe_hits AS BIGINT) AS probe_hits, removed,
      |       CAST(n_tokens AS BIGINT) - removed AS clean_tokens,
      |       CAST((removed * 10000) // n_tokens AS BIGINT) AS removed_bp
      |FROM cov ORDER BY doc_id""".stripMargin

  /** C83's DuckDB twin — the END-TO-END pretraining chain restated as
    * one CTE composition of the proven per-stage fragments (quality
    * battery = C18's, url/exact windows = C68's, miner+CC =
    * [[Dedup.minerCtes]]/[[Dedup.ccClosureCtes]] spliced verbatim,
    * span coverage = C43's, mixture = C42's, shard prefix = C45's
    * single-level restatement of the two-level Spark scan). Each CTE
    * consumes the PREVIOUS stage's survivors — the composition, not
    * the stages, is what this oracle uniquely attests. Multiply-
    * referenced CTEs are AS MATERIALIZED: DuckDB inlines plain CTEs
    * per reference, and re-evaluating the gram streams once per
    * consumer blew the sf1 run's temp-spill budget (the C13f lesson).
    */
  // lazy: splices messyUrlSql/urlCanonCtes (defined LATER in this
  // object body) and Dedup CTEs (a mutually-referencing object) — an
  // eager val here reads nulls mid-initialization
  private lazy val pretrainE2eSql: String =
    s"""WITH RECURSIVE q AS MATERIALIZED (
      |  ${Curation.qualitySql("doc_id, source, lang, text")}),
      |qs AS MATERIALIZED (SELECT * FROM q WHERE doc_id % 20 <> 0 AND quality_bp >= 5000),
      |u AS (SELECT doc_id, ($messyUrlSql) AS url FROM qs),
      |$urlCanonCtes,
      |s1 AS MATERIALIZED (SELECT qs.doc_id, qs.source, qs.lang, qs.text, qs.n_words,
      |  CASE WHEN qs.doc_id = min(qs.doc_id) OVER (PARTITION BY c4.canon)
      |    THEN 1 ELSE 0 END AS url_keep
      |  FROM qs JOIN c4 ON c4.doc_id = qs.doc_id),
      |s2 AS MATERIALIZED (SELECT doc_id, source, lang, text, n_words,
      |  CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY k) THEN 1 ELSE 0 END AS exact_keep
      |  FROM (SELECT *, ${Curation.normSql()} AS k
      |        FROM s1 WHERE url_keep = 1)),
      |docs_ws AS MATERIALIZED (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM s2
      |  WHERE exact_keep = 1 AND len(string_split(text, ' ')) >= 3),
      |${Dedup.minerCtes},
      |${Dedup.ccClosureCtes},
      |s3 AS MATERIALIZED (SELECT doc_id, source, lang, n_words FROM s2
      |       WHERE exact_keep = 1 AND doc_id NOT IN (SELECT doc_id FROM nd)),
      |dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g4 AS MATERIALIZED (SELECT doc_id, gs-1 AS pos, array_to_string(ws[gs:gs+3], ' ') AS gram
      |       FROM dw, UNNEST(generate_series(1, len(ws)-3)) AS t(gs)),
      |bprobe AS (SELECT DISTINCT gram FROM g4 WHERE doc_id % 20 = 0),
      |hit AS (SELECT g4.doc_id, g4.pos FROM g4 JOIN bprobe USING (gram)
      |        WHERE g4.doc_id IN (SELECT doc_id FROM s3)),
      |hm AS (SELECT doc_id, pos,
      |        coalesce(max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      |       FROM hit),
      |cov AS (SELECT doc_id,
      |        CAST(sum(greatest(0, pos + 4 - greatest(prev_end, pos))) AS BIGINT) AS removed
      |        FROM hm GROUP BY doc_id),
      |s4 AS MATERIALIZED (SELECT s3.doc_id, s3.source, s3.lang,
      |        CAST(s3.n_words AS BIGINT) - coalesce(cov.removed, 0) AS clean_tokens
      |       FROM s3 LEFT JOIN cov ON cov.doc_id = s3.doc_id),
      |mc AS (SELECT source, lang, count(*) AS n_docs,
      |        CAST(sum(clean_tokens) AS BIGINT) AS n_tokens
      |       FROM s4 WHERE clean_tokens > 0 GROUP BY source, lang),
      |mw AS (SELECT source, lang, n_tokens,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_sqrt
      |       FROM mc),
      |mt AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget,
      |              CAST(sum(w_sqrt) AS BIGINT) AS wsum FROM mw),
      |mr AS (SELECT mw.source, mw.lang,
      |  CAST((CAST((CAST(mt.budget AS HUGEINT) * mw.w_sqrt) // mt.wsum AS HUGEINT) * 10000)
      |    // mw.n_tokens AS BIGINT) AS rate_bp
      |  FROM mw CROSS JOIN mt),
      |s5 AS MATERIALIZED (SELECT s4.doc_id, s4.clean_tokens,
      |        CAST(mr.rate_bp // 10000
      |          + CASE WHEN ((s4.doc_id % 1000003) * 131071 + 99991) % 1000003 % 10000
      |                      < mr.rate_bp % 10000 THEN 1 ELSE 0 END AS BIGINT) AS copies
      |       FROM s4 JOIN mr ON mr.source = s4.source AND mr.lang = s4.lang
      |       WHERE s4.clean_tokens > 0),
      |skept AS (SELECT doc_id, clean_tokens * copies AS tok FROM s5 WHERE copies >= 1),
      |sp AS (${Curation.shardPrefixSql("skept")})
      |SELECT d.doc_id,
      |  CASE WHEN d.doc_id % 20 = 0 THEN 'benchmark'
      |       WHEN coalesce(q.quality_bp, 0) < 5000 THEN 'quality'
      |       WHEN s1.url_keep = 0 THEN 'url'
      |       WHEN s2.exact_keep = 0 THEN 'exact'
      |       WHEN nd.doc_id IS NOT NULL THEN 'neardup'
      |       WHEN s4.clean_tokens = 0 THEN 'contaminated'
      |       WHEN s5.copies = 0 THEN 'mixture'
      |       ELSE 'kept' END AS stage,
      |  s4.clean_tokens, s5.copies,
      |  CAST(sp.pre // 4096 AS BIGINT) AS shard,
      |  CAST((sp.pre % 4096) // 512 AS BIGINT) AS first_block
      |FROM documents d
      |JOIN q ON q.doc_id = d.doc_id
      |LEFT JOIN s1 ON s1.doc_id = d.doc_id
      |LEFT JOIN s2 ON s2.doc_id = d.doc_id
      |LEFT JOIN nd ON nd.doc_id = d.doc_id
      |LEFT JOIN s4 ON s4.doc_id = d.doc_id
      |LEFT JOIN s5 ON s5.doc_id = d.doc_id
      |LEFT JOIN sp ON sp.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** D36's DuckDB twin — the ingest-time pretraining disposition fully
    * restated: the corpus replay (quality battery, url/exact keep-first
    * windows, exact-miner CC — C83's staged rule over the non-arriving
    * split), membership probes against the retained set, the INTEGER
    * minhash banding for the arrival near-dup decision
    * ([[Dedup.minhashIntCtes]] spliced verbatim, the D19/D32
    * restatement), and C43's interval-union coverage vs the FROZEN
    * corpus-side benchmark probe. The corpus miner reuses the minhash
    * CTEs' `grams`/`cnt` streams (a doc's grams don't depend on the
    * rest of the corpus, so filtering all-docs grams to corpus
    * survivors in the pair join ≡ mining over survivor grams — and one
    * gram materialization serves corpus mining, arrival verification
    * and banding alike).
    */
  private lazy val pretrainIngestSql: String =
    s"""WITH RECURSIVE ${Dedup.minhashIntCtes},
      |q AS MATERIALIZED (
      |  ${Curation.qualitySql("doc_id, text")}),
      |u AS (SELECT doc_id, ($messyUrlSql) AS url FROM documents),
      |$urlCanonCtes,
      |kq AS MATERIALIZED (
      |  SELECT q.doc_id, q.text, q.n_words, q.quality_bp, c4.canon,
      |    ${Curation.normSql("q.text")} AS k,
      |    q.doc_id % 7 IN (2, 4) AS is_incr
      |  FROM q JOIN c4 ON c4.doc_id = q.doc_id),
      |cq AS (SELECT * FROM kq
      |       WHERE NOT is_incr AND doc_id % 20 <> 0 AND quality_bp >= 5000),
      |cs1 AS (SELECT *, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon)
      |        THEN 1 ELSE 0 END AS url_keep FROM cq),
      |cs2 AS (SELECT *, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY k)
      |        THEN 1 ELSE 0 END AS exact_keep FROM cs1 WHERE url_keep = 1),
      |csurv AS MATERIALIZED (SELECT doc_id, canon, k FROM cs2 WHERE exact_keep = 1),
      |cinter AS (
      |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |  WHERE a.doc_id IN (SELECT doc_id FROM csurv)
      |    AND b.doc_id IN (SELECT doc_id FROM csurv)
      |  GROUP BY a.doc_id, b.doc_id),
      |pairs AS (
      |  SELECT a_id, b_id FROM cinter
      |  JOIN cnt ca ON ca.doc_id = a_id
      |  JOIN cnt cb ON cb.doc_id = b_id
      |  WHERE i / (ca.c + cb.c - i) >= 0.8),
      |${Dedup.ccClosureCtes},
      |retained AS MATERIALIZED (SELECT doc_id, canon, k FROM csurv
      |  WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
      |asurv AS MATERIALIZED (SELECT doc_id, text, n_words FROM kq
      |  WHERE is_incr AND doc_id % 20 <> 0 AND quality_bp >= 5000
      |    AND canon NOT IN (SELECT canon FROM retained)
      |    AND k NOT IN (SELECT k FROM retained)),
      |acand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk
      |  WHERE a.doc_id IN (SELECT doc_id FROM asurv)
      |    AND b.doc_id IN (SELECT doc_id FROM retained)),
      |ainter AS (
      |  SELECT c.a_id, c.b_id, count(*) AS i
      |  FROM acand c
      |  JOIN grams ga ON ga.doc_id = c.a_id
      |  JOIN grams gb ON gb.doc_id = c.b_id AND gb.g = ga.g
      |  GROUP BY c.a_id, c.b_id),
      |anear AS (
      |  SELECT DISTINCT i.a_id AS doc_id FROM ainter i
      |  JOIN cnt ca ON ca.doc_id = i.a_id
      |  JOIN cnt cb ON cb.doc_id = i.b_id
      |  WHERE i.i / (ca.c + cb.c - i.i) >= 0.8),
      |dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g4 AS MATERIALIZED (SELECT doc_id, gs-1 AS pos, array_to_string(ws[gs:gs+3], ' ') AS gram
      |  FROM dw, UNNEST(generate_series(1, len(ws)-3)) AS t(gs)),
      |bprobe AS (SELECT DISTINCT gram FROM g4
      |  WHERE doc_id % 20 = 0 AND doc_id % 7 NOT IN (2, 4)),
      |hit AS (SELECT g4.doc_id, g4.pos FROM g4 JOIN bprobe USING (gram)
      |  WHERE g4.doc_id IN (SELECT doc_id FROM asurv)),
      |hm AS (SELECT doc_id, pos,
      |    coalesce(max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      |  FROM hit),
      |cov AS (SELECT doc_id,
      |    CAST(sum(greatest(0, pos + 4 - greatest(prev_end, pos))) AS BIGINT) AS removed
      |  FROM hm GROUP BY doc_id)
      |SELECT kq.doc_id,
      |  CASE WHEN kq.doc_id % 20 = 0 THEN 'benchmark'
      |       WHEN kq.quality_bp < 5000 THEN 'quality'
      |       WHEN kq.canon IN (SELECT canon FROM retained) THEN 'url'
      |       WHEN kq.k IN (SELECT k FROM retained) THEN 'exact'
      |       WHEN anear.doc_id IS NOT NULL THEN 'neardup'
      |       WHEN CAST(kq.n_words AS BIGINT) - coalesce(cov.removed, 0) = 0
      |         THEN 'contaminated'
      |       ELSE 'kept' END AS stage,
      |  CASE WHEN kq.doc_id IN (SELECT doc_id FROM asurv) AND anear.doc_id IS NULL
      |    THEN CAST(kq.n_words AS BIGINT) - coalesce(cov.removed, 0) END AS clean_tokens
      |FROM kq
      |LEFT JOIN anear ON anear.doc_id = kq.doc_id
      |LEFT JOIN cov ON cov.doc_id = kq.doc_id
      |WHERE kq.is_incr
      |ORDER BY kq.doc_id""".stripMargin

  /** C84's DuckDB twin — the e2e COMPACTION fully restated: the corpus
    * cascade replay (C83's staged rule → retained), the two-rung
    * url/exact increment verdicts with vs attribution (C79's CTE
    * shape), ONE all-docs pair stream serving both the corpus-internal
    * CC and the compact miner (a doc's grams are doc-local, so
    * filtering all-docs pairs to a subset ≡ mining the subset — the
    * D36 argument at pair grain; `apairs` is MATERIALIZED because
    * three consumers would otherwise re-evaluate the gram self-join,
    * the C13f lesson), two inline recursive closures (corpus-wide and
    * increment-scoped — C79's increment-scoped form keeps the sf3
    * monolithic-closure blowup away from the increment side), and
    * C83's coverage/mixture/shard fragments over the MERGED kept set
    * with the UPDATED all-benchmark probe.
    */
  private lazy val pretrainCompactSql: String =
    s"""WITH RECURSIVE q AS MATERIALIZED (
      |  ${Curation.qualitySql("doc_id, source, lang, text")}),
      |u AS (SELECT doc_id, ($messyUrlSql) AS url FROM documents),
      |$urlCanonCtes,
      |kq AS MATERIALIZED (
      |  SELECT q.doc_id, q.source, q.lang, q.text, q.n_words, q.quality_bp, c4.canon,
      |    ${Curation.normSql("q.text")} AS k,
      |    q.doc_id % 7 IN (2, 4) AS is_incr
      |  FROM q JOIN c4 ON c4.doc_id = q.doc_id),
      |cq AS (SELECT * FROM kq
      |       WHERE NOT is_incr AND doc_id % 20 <> 0 AND quality_bp >= 5000),
      |cs1 AS (SELECT *, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon)
      |        THEN 1 ELSE 0 END AS url_keep FROM cq),
      |cs2 AS (SELECT *, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY k)
      |        THEN 1 ELSE 0 END AS exact_keep FROM cs1 WHERE url_keep = 1),
      |csurv AS MATERIALIZED (SELECT doc_id, canon, k FROM cs2 WHERE exact_keep = 1),
      |docs_ws AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |${Dedup.minerCtes},
      |apairs AS MATERIALIZED (SELECT a_id, b_id FROM pairs),
      |cpair AS (SELECT a_id, b_id FROM apairs
      |  WHERE a_id IN (SELECT doc_id FROM csurv)
      |    AND b_id IN (SELECT doc_id FROM csurv)),
      |cedges AS (SELECT a_id, b_id FROM cpair
      |           UNION SELECT b_id AS a_id, a_id AS b_id FROM cpair),
      |cnodes AS (SELECT DISTINCT a_id AS id FROM cedges),
      |creach(id, r) AS (
      |  SELECT id, id FROM cnodes
      |  UNION
      |  SELECT e.b_id AS id, creach.r FROM creach JOIN cedges e ON e.a_id = creach.id),
      |cnd AS (SELECT id AS doc_id FROM
      |  (SELECT id, min(r) AS label FROM creach GROUP BY id) WHERE id <> label),
      |retained AS MATERIALIZED (SELECT doc_id, canon, k FROM csurv
      |  WHERE doc_id NOT IN (SELECT doc_id FROM cnd)),
      |ipass AS MATERIALIZED (SELECT doc_id, canon, k FROM kq
      |  WHERE is_incr AND doc_id % 20 <> 0 AND quality_bp >= 5000),
      |i1 AS (SELECT doc_id, k,
      |    CASE WHEN canon IN (SELECT canon FROM retained) THEN 'corpus'
      |         WHEN doc_id <> min(doc_id) OVER (PARTITION BY canon) THEN 'increment'
      |    END AS url_vs
      |  FROM ipass),
      |i2 AS (SELECT doc_id, k,
      |    CASE WHEN k IN (SELECT k FROM retained) THEN 'corpus'
      |         WHEN doc_id <> min(doc_id) OVER (PARTITION BY k) THEN 'increment'
      |    END AS exact_vs
      |  FROM i1 WHERE url_vs IS NULL),
      |isurv AS MATERIALIZED (SELECT doc_id FROM i2 WHERE exact_vs IS NULL),
      |nc AS (SELECT DISTINCT doc_id FROM (
      |    SELECT a_id AS doc_id FROM apairs
      |      WHERE a_id IN (SELECT doc_id FROM isurv)
      |        AND b_id IN (SELECT doc_id FROM retained)
      |    UNION ALL
      |    SELECT b_id AS doc_id FROM apairs
      |      WHERE b_id IN (SELECT doc_id FROM isurv)
      |        AND a_id IN (SELECT doc_id FROM retained))),
      |rem AS MATERIALIZED (SELECT doc_id FROM isurv
      |  WHERE doc_id NOT IN (SELECT doc_id FROM nc)),
      |iip AS (SELECT a_id, b_id FROM apairs
      |  WHERE a_id IN (SELECT doc_id FROM rem)
      |    AND b_id IN (SELECT doc_id FROM rem)),
      |iedges AS (SELECT a_id, b_id FROM iip
      |           UNION SELECT b_id AS a_id, a_id AS b_id FROM iip),
      |inodes AS (SELECT DISTINCT a_id AS id FROM iedges),
      |ireach(id, r) AS (
      |  SELECT id, id FROM inodes
      |  UNION
      |  SELECT e.b_id AS id, ireach.r FROM ireach JOIN iedges e ON e.a_id = ireach.id),
      |ini AS (SELECT id AS doc_id FROM
      |  (SELECT id, min(r) AS label FROM ireach GROUP BY id) WHERE id <> label),
      |mkeep AS MATERIALIZED (
      |  SELECT doc_id, source, lang, n_words FROM kq
      |  WHERE doc_id IN (SELECT doc_id FROM retained)
      |  UNION ALL
      |  SELECT doc_id, source, lang, n_words FROM kq
      |  WHERE doc_id IN (SELECT doc_id FROM rem)
      |    AND doc_id NOT IN (SELECT doc_id FROM ini)),
      |dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g4 AS MATERIALIZED (SELECT doc_id, gs-1 AS pos, array_to_string(ws[gs:gs+3], ' ') AS gram
      |  FROM dw, UNNEST(generate_series(1, len(ws)-3)) AS t(gs)),
      |bprobe AS (SELECT DISTINCT gram FROM g4 WHERE doc_id % 20 = 0),
      |hit AS (SELECT g4.doc_id, g4.pos FROM g4 JOIN bprobe USING (gram)
      |  WHERE g4.doc_id IN (SELECT doc_id FROM mkeep)),
      |hm AS (SELECT doc_id, pos,
      |    coalesce(max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
      |  FROM hit),
      |cov AS (SELECT doc_id,
      |    CAST(sum(greatest(0, pos + 4 - greatest(prev_end, pos))) AS BIGINT) AS removed
      |  FROM hm GROUP BY doc_id),
      |s4 AS MATERIALIZED (SELECT m.doc_id, m.source, m.lang,
      |    CAST(m.n_words AS BIGINT) - coalesce(cov.removed, 0) AS clean_tokens
      |  FROM mkeep m LEFT JOIN cov ON cov.doc_id = m.doc_id),
      |mc AS (SELECT source, lang, count(*) AS n_docs,
      |        CAST(sum(clean_tokens) AS BIGINT) AS n_tokens
      |       FROM s4 WHERE clean_tokens > 0 GROUP BY source, lang),
      |mw AS (SELECT source, lang, n_tokens,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_sqrt
      |       FROM mc),
      |mt AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget,
      |              CAST(sum(w_sqrt) AS BIGINT) AS wsum FROM mw),
      |mr AS (SELECT mw.source, mw.lang,
      |  CAST((CAST((CAST(mt.budget AS HUGEINT) * mw.w_sqrt) // mt.wsum AS HUGEINT) * 10000)
      |    // mw.n_tokens AS BIGINT) AS rate_bp
      |  FROM mw CROSS JOIN mt),
      |s5 AS MATERIALIZED (SELECT s4.doc_id, s4.clean_tokens,
      |        CAST(mr.rate_bp // 10000
      |          + CASE WHEN ((s4.doc_id % 1000003) * 131071 + 99991) % 1000003 % 10000
      |                      < mr.rate_bp % 10000 THEN 1 ELSE 0 END AS BIGINT) AS copies
      |       FROM s4 JOIN mr ON mr.source = s4.source AND mr.lang = s4.lang
      |       WHERE s4.clean_tokens > 0),
      |skept AS (SELECT doc_id, clean_tokens * copies AS tok FROM s5 WHERE copies >= 1),
      |sp AS (${Curation.shardPrefixSql("skept")})
      |SELECT kq.doc_id,
      |  CASE WHEN kq.doc_id % 20 = 0 THEN 'benchmark'
      |       WHEN kq.quality_bp < 5000 THEN 'quality'
      |       WHEN i1.url_vs IS NOT NULL THEN 'url'
      |       WHEN i2.exact_vs IS NOT NULL THEN 'exact'
      |       WHEN nc.doc_id IS NOT NULL OR ini.doc_id IS NOT NULL THEN 'neardup'
      |       WHEN s4.clean_tokens = 0 THEN 'contaminated'
      |       WHEN s5.copies = 0 THEN 'mixture'
      |       ELSE 'kept' END AS stage,
      |  coalesce(i1.url_vs, i2.exact_vs,
      |    CASE WHEN nc.doc_id IS NOT NULL THEN 'corpus'
      |         WHEN ini.doc_id IS NOT NULL THEN 'increment' END) AS vs,
      |  s4.clean_tokens, s5.copies,
      |  CAST(sp.pre // 4096 AS BIGINT) AS shard,
      |  CAST((sp.pre % 4096) // 512 AS BIGINT) AS first_block
      |FROM kq
      |LEFT JOIN i1 ON i1.doc_id = kq.doc_id
      |LEFT JOIN i2 ON i2.doc_id = kq.doc_id
      |LEFT JOIN nc ON nc.doc_id = kq.doc_id
      |LEFT JOIN ini ON ini.doc_id = kq.doc_id
      |LEFT JOIN s4 ON s4.doc_id = kq.doc_id
      |LEFT JOIN s5 ON s5.doc_id = kq.doc_id
      |LEFT JOIN sp ON sp.doc_id = kq.doc_id
      |WHERE kq.is_incr
      |ORDER BY kq.doc_id""".stripMargin

  /** The staged frames of C83's cascade prefix — quality-scored docs,
    * the url/exact keep-first windows, the neardup CC drop set, the
    * cascade-RETAINED frame (doc_id, source, lang, text, n_words,
    * canon, h), and (r14) `gsets`: the miner's MATERIALIZED (doc_id, gs)
    * gram-set frame over the exact-dup survivors, carried so
    * `pipeline_pretrain_compact`'s second exact miner reuses it instead
    * of re-running the gram kernel over the retained corpus (VERDICT #1
    * — retained ⊂ exact survivors, so gsets ∖ nd IS the retained side's
    * gram sets).
    */
  private case class PretrainStages(q: DataFrame, s1: DataFrame,
      s2: DataFrame, nd: DataFrame, retained: DataFrame, gsets: DataFrame,
      ndSmall: Boolean) {
    /** `df` without the near-dup losers `nd`. */
    def withoutLosers(df: DataFrame): DataFrame = dropLosers(df, nd, ndSmall)
  }

  /** `df` anti-joined with the (doc_id) loser set `nd`. Broadcast only
    * when `small`: CC's small-graph path bounds the set by its edge
    * threshold, while on the distributed path a duplicate-heavy corpus
    * makes it a large share of the corpus, and a forced broadcast would
    * bypass `autoBroadcastJoinThreshold` (AQE still broadcasts a loser
    * set that turns out small at runtime).
    */
  private def dropLosers(df: DataFrame, nd: DataFrame, small: Boolean): DataFrame = {
    val losers = nd.select(col("doc_id"))
    df.join(if (small) broadcast(losers) else losers, Seq("doc_id"), "left_anti")
  }

  /** C83's benchmark→quality→url→exact→neardup cascade prefix over any
    * documents frame — ONE definition shared by batch
    * `pipeline_pretrain_e2e` and D36 `pipeline_pretrain_ingest`'s
    * corpus replay (the cascadeCompactStages discipline applied to the
    * chain: the ingest twin's corpus probe index derives from the SAME
    * staged rule the nightly batch runs, so the two can never disagree
    * on what the corpus retained).
    */
  /** C18's quality battery over any documents frame — (doc_id, source,
    * lang, text, n_words, n_distinct, n_stop, quality_bp). ONE
    * definition shared by [[pretrainCascade]] and C84's increment
    * battery.
    */
  private def pretrainQuality(d: DataFrame): DataFrame =
    Curation.quality(d, col("doc_id"), col("source"), col("lang"), col("text"))

  /** The benchmark/quality/url/exact KEY stages of [[pretrainCascade]]
    * — (q, s1, s2), factored (r13) so `pretrain_stage_keys` can gate
    * exactly these windows at sf3 without the miner/CC whose oracle
    * closure exceeds the box there (the C68b stage-composition
    * discipline applied to the e2e chain).
    */
  /** r13 OPT (guide §2.4): with `materialize` on, every stage frame
    * checkpoints once — the e2e/compact/ingest composites reference
    * q/s1/s2 from 2 to 5 branches each (next stage, miner input,
    * retained set, final assembly spine), none of which canonicalize to
    * a shared exchange: the compact arm's before-plan re-ran this chain
    * per branch (400 parquet scans / 1258 Exchanges, plans/r13).
    * Progressive ckpts make the quality battery, canon/digest projection
    * and the two keep windows each run exactly once; blocks release at
    * the consumer's Pinned.drain. At cluster scale these are the stage
    * tables a nightly pretrain pipeline persists between stages anyway.
    * The slim `pretrain_stage_keys` gate passes `materialize = false`:
    * it reads each frame ~twice and the three corpus-sized ckpt barriers
    * were a measured 2× regression on that arm alone.
    * r14 (VERDICT #1/#3): q/s1/s2 carry the TEXT column — corpus-fat —
    * so they materialize via [[Pinned.fat]] (lineage-retaining persist),
    * not localCheckpoint.
    */
  private def pretrainKeys(d: DataFrame,
      materialize: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    def mat(df: DataFrame): DataFrame =
      if (materialize) Pinned.fat(df) else df
    val isBench = col("doc_id") % 20 === 0
    // r14 NOTE: de-materializing the narrow-recompute frames (q here,
    // iq/retained/merged in the compact arm) was A/B-measured and LOST
    // 6/8 interleaved pairs (+0.2-0.4 s median on compact) — the saved
    // barrier jobs cost less than the consumers' sha2/canon/scan
    // re-runs. The r13 barrier placement stands.
    val q = mat(pretrainQuality(d))
    val qs = q.where(!isBench && col("quality_bp") >= 5000)
    val keyed = qs.select(col("doc_id"), col("source"), col("lang"),
      col("text"), col("n_words"),
      canonicalUrlCol(messyUrlCol).as("canon"),
      Curation.normDigest.as("h"))
    val W = org.apache.spark.sql.expressions.Window
    val s1 = mat(keyed.withColumn("url_keep",
      col("doc_id") === min(col("doc_id")).over(W.partitionBy(col("canon")))))
    val s2 = mat(s1.where(col("url_keep")).withColumn("exact_keep",
      col("doc_id") === min(col("doc_id")).over(W.partitionBy(col("h")))))
    (q, s1, s2)
  }

  private def pretrainCascade(d: DataFrame): PretrainStages = {
    val (q, s1, s2) = pretrainKeys(d)
    val surv2 = s2.where(col("exact_keep"))
    // r14 OPT (VERDICT #1): the miner's gram-set build is hoisted out of
    // ngramJaccardPairs and CARRIED in the stages, so the compaction's
    // second exact miner (retained ∪ increment) reuses this one
    // gram-kernel pass instead of re-running it over the retained corpus
    // — only the df-count/prefix sliver is per-miner (the prefix
    // filter's global gram df is a property of each miner's input set).
    val gsets = Pinned.fat(
      Dedup.gramSets(surv2.select(col("doc_id"), col("text"))))
    val pairs = Dedup.ngramJaccardPairsOnGsets(gsets, 4, 5)
    val cc = Dedup.components(pairs)
    val nd = cc.labels
      .where(col("id") =!= col("label"))
      .select(col("id").as("doc_id"), lit(1L).as("ndf"))
    // retained is the composites' corpus-side probe base (compact reads
    // it 3×, ingest 4×) — one more materialization ends the lineage
    // here (text-bearing ⇒ corpus-fat ⇒ Pinned.fat, VERDICT #1/#3).
    // The anti join broadcasts the CC loser set when CC's small-graph
    // path bounded it (dropLosers).
    PretrainStages(q, s1, s2, nd,
      Pinned.fat(dropLosers(surv2, nd, cc.small)), gsets, cc.small)
  }

  /** C83's post-cascade tail over any survivor frame (doc_id, source,
    * lang, n_words) — span decontamination vs the benchmark probe of
    * `d` (ALL doc_id % 20 = 0 docs in `d`), temperature mixture over
    * the post-decontamination strata, md5-order token-budget shard
    * prefix. Returns (s4 with clean_tokens, s5 with copies, pre with
    * shard/first_block). ONE definition shared by batch
    * `pipeline_pretrain_e2e` and C84 `pipeline_pretrain_compact`
    * (which feeds it the MERGED corpus-retained ∪ increment-kept set):
    * the decontamination/mixture/shard rules cannot drift between the
    * full rebuild and the compaction.
    */
  private def pretrainTail(d: DataFrame, surv: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val grams = Dedup.substringGrams(d, 4)
    val bprobe = grams.where(col("doc_id") % 20 === 0).select(col("h")).distinct()
    val hits = grams
      .join(surv.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(broadcast(bprobe), Seq("h"), "left_semi")
    val cov = Dedup.spanCoverage(hits, 4).select(col("doc_id"), col("covered"))
    // r13 OPT (guide §2.4): s4 checkpoints — its coverage join embeds
    // the decontamination gram stream (sha-per-position over the full
    // corpus) and is consumed by the mixture schedule, the realization
    // join AND the assembly spine; s5 and the shard-prefix base b
    // likewise each feed 2 consumers. Slim per-doc rows; one run each.
    val s4 = Pinned.track(surv.join(cov, Seq("doc_id"), "left_outer")
      .withColumn("clean_tokens",
        col("n_words").cast("long") - coalesce(col("covered"), lit(0L)))
      .localCheckpoint(true))
    val s4pos = s4.where(col("clean_tokens") > 0)
    val sched = mixtureAlloc(
      s4pos.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("clean_tokens")).as("n_tokens")),
      Seq("source", "lang"))
    val s5 = Pinned.track(s4pos
      .join(broadcast(sched.select(col("source"), col("lang"), col("rate_bp"))),
        Seq("source", "lang"))
      .withColumn("copies",
        (expr("rate_bp div 10000") +
          when(keepCoin(10000) < col("rate_bp") % 10000, 1L).otherwise(0L)).cast("long"))
      .localCheckpoint(true))
    val kept = s5.where(col("copies") >= 1)
      .select(col("doc_id"), Curation.md5Key.as("sh"),
        (col("clean_tokens") * col("copies")).as("tok"))
    val b = Pinned.track(
      kept.withColumn("bk", substring(col("sh"), 1, 2)).localCheckpoint(true))
    val pre = Curation.shardPrefix(b)
      .select(col("doc_id"), expr("pre div 4096").as("shard"),
        expr("(pre % 4096) div 512").as("first_block"))
    (s4, s5, pre)
  }

  /** C42b's realization body over any documents frame (batch or stream)
    * and a schedule frame — ONE definition shared by
    * `text_mixture_apply` and D13 `text_mixture_apply_stream`: each doc
    * draws rate_bp div 10000 whole epoch copies plus one more iff the
    * deterministic coin lands under the fractional remainder, then the
    * per-stratum realized totals fold in one aggregation.
    */
  private def mixtureApplied(d: DataFrame, schedule: DataFrame): DataFrame =
    d.join(broadcast(schedule.select(col("source"), col("lang"), col("rate_bp"))),
        Seq("source", "lang"))
      .select(col("source"), col("lang"), col("rate_bp"),
        (expr("rate_bp div 10000") +
          when(keepCoin(10000) < col("rate_bp") % 10000, 1L).otherwise(0L)).as("copies"),
        size(words).cast("long").as("tokens"))
      .groupBy(col("source"), col("lang"), col("rate_bp"))
      .agg(sum(col("copies")).as("n_copies"),
        sum(col("copies") * col("tokens")).as("tokens_sampled"))

  /** C42b's DuckDB twin, shared verbatim by batch (`text_mixture_apply`)
    * and stream (D13) — one oracle gating both IS the batch/stream
    * parity check.
    */
  private def mixtureApplySql: String = mixtureScheduleSql(
    """, a AS (SELECT d.source, d.lang, r.rate_bp,
      |    r.rate_bp // 10000 + CASE WHEN ((d.doc_id % 1000003) * 131071 + 99991) % 1000003 % 10000 < r.rate_bp % 10000 THEN 1 ELSE 0 END AS copies,
      |    len(string_split(d.text, ' ')) AS tokens
      |  FROM documents d JOIN r ON r.source = d.source AND r.lang = d.lang)
      |SELECT source, lang, rate_bp, CAST(sum(copies) AS BIGINT) AS n_copies,
      |  CAST(sum(copies * tokens) AS BIGINT) AS tokens_sampled
      |FROM a GROUP BY source, lang, rate_bp
      |ORDER BY source, lang""".stripMargin)

  /** C31b's DuckDB twin, shared verbatim by batch
    * (`text_quality_classifier_weights`) and stream (D12
    * `text_quality_classifier_stream`) — one oracle gating both IS the
    * batch/stream parity check (the C30/D6/D10 discipline).
    */
  private val classifierWeightsSql: String =
    """WITH w AS (
      |  SELECT range AS bucket,
      |         ((range * 2654435761) % 2003) - 1001 AS weight
      |  FROM range(1048576) WHERE range % 7 = 0),
      |toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS j
      |  FROM documents),
      |chars AS (
      |  SELECT doc_id, j, ascii(unnest(string_split(tok, ''))) AS a,
      |         generate_subscripts(string_split(tok, ''), 1) AS i
      |  FROM toks WHERE len(tok) > 0),
      |th AS (
      |  SELECT doc_id, j, (sum(a * (1 + (131 * i) % 997)) % 1048576) AS hh
      |  FROM chars GROUP BY doc_id, j),
      |sc AS (
      |  SELECT th.doc_id, count(*) AS n_tokens,
      |         sum(coalesce(w.weight, 0)) AS score
      |  FROM th LEFT JOIN w ON th.hh = w.bucket GROUP BY th.doc_id)
      |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(score AS BIGINT) AS score,
      |  CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM sc ORDER BY doc_id""".stripMargin

  /** C45's manifest core over any (doc_id, sh, tok) frame — the
    * two-level distributed weighted prefix sum (see the C45 Q scaladoc
    * for the shape reasoning). ONE definition shared by
    * `text_shard_manifest` (whole corpus) and `pipeline_curate_shard`
    * (curate survivors), the C18b shared-frame discipline: the shard
    * assignment rule cannot drift between the standalone operator and
    * the pipeline composition.
    */
  private def shardManifest(base: DataFrame): DataFrame =
    Curation.shardPrefix(base.withColumn("bk", substring(col("sh"), 1, 2)))
      .select(expr("pre div 4096").as("shard"), col("tok"), col("sh"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tokens"),
        min(col("sh")).as("first_h"), max(col("sh")).as("last_h"))
      .orderBy(col("shard"))

  /** The SQL twin of [[shardManifest]] over `rel`'s (doc_id, tok) rows. */
  private def shardManifestSql(rel: String): String =
    s"""p AS (${Curation.shardPrefixSql(rel)})
      |SELECT CAST(pre // 4096 AS BIGINT) AS shard, count(*) AS n_docs,
      |  CAST(sum(tok) AS BIGINT) AS tokens, min(sh) AS first_h, max(sh) AS last_h
      |FROM p GROUP BY 1 ORDER BY shard""".stripMargin

  /** C38's DuckDB twin, shared verbatim by batch (`text_lm_score`) and
    * stream (D10 `text_lm_score_stream`) — one oracle gating both IS the
    * batch/stream parity check (the C30/D6/D9 discipline).
    */
  private val lmCtes: String =
    """WITH docs_ws AS (
      |  SELECT doc_id, string_split(text,' ') AS ws FROM documents
      |  WHERE len(string_split(text,' ')) >= 2),
      |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM docs_ws),
      |bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
      |       FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.i = a.i + 1),
      |c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1, 2),
      |cp AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS cp FROM c2 GROUP BY 1),
      |s AS (SELECT bg.doc_id, (c2.c2 * 10000) // cp.cp AS p
      |      FROM bg JOIN c2 USING (w1, w2) JOIN cp USING (w1))""".stripMargin

  /** C18's curate stages as DuckDB CTEs `q` and `kept` over
    * `documents`: the quality battery, the quality floor (plus `extra`
    * conditions over `q` and its `joins`), then the exact keep-first
    * window. The Scala twin is [[curateKept]].
    */
  private def curateCtes(joins: String = "", extra: String = ""): String =
    s"""q AS (${Curation.qualitySql("doc_id, lang, n_chars, text")}),
      |kept AS (
      |  SELECT q.*, ${Curation.keepFirstSql} AS rn
      |  FROM q$joins WHERE quality_bp >= 5000$extra)""".stripMargin

  /** C18's per-(split, lang) accounting of `kept`; twin of [[splitCounts]]. */
  private val curateSplitSql: String =
    s"""SELECT ${Curation.splitSql} AS split,
      |  lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM kept WHERE rn = 1
      |GROUP BY 1, lang ORDER BY split, lang""".stripMargin

  /** The oracle of C18 `pipeline_curate` and its stream twin. */
  private val curateSql: String = s"WITH ${curateCtes()}\n$curateSplitSql"

  /** C18's survivors of `d`: quality_bp >= 5000, inside `lmKeep` when
    * given, then exact keep-first.
    */
  private def curateKept(d: DataFrame, lmKeep: Option[DataFrame] = None): DataFrame = {
    val q = Curation.quality(d, col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .where(col("quality_bp") >= 5000)
    Curation.keepFirst(lmKeep.fold(q)(q.join(_, Seq("doc_id"), "left_semi")))
  }

  /** C18's per-(split, lang) doc and char counts of a survivor frame. */
  private def splitCounts(kept: DataFrame): DataFrame =
    kept.select(Curation.split.as("split"), col("lang"), col("n_chars"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
      .orderBy(col("split"), col("lang"))

  private val lmScoreSql: String =
    s"""$lmCtes
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(p) AS BIGINT) AS sum_pbp,
       |       CAST(CAST(sum(p) AS BIGINT) // count(*) AS BIGINT) AS lm_bp
       |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The schedule CTEs as SQL (DuckDB twin of [[mixtureSchedule]] — keep
    * in lockstep), parameterized by the consuming tail: C42 selects the
    * schedule itself, C42b appends the application CTE.
    */
  private def mixtureScheduleSql(tail: String): String =
    """WITH c AS (
      |  SELECT source, lang, count(*) AS n_docs,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source, lang),
      |w AS (SELECT source, lang, n_docs, n_tokens,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_sqrt
      |      FROM c),
      |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget,
      |             CAST(sum(w_sqrt) AS BIGINT) AS wsum FROM w),
      |r AS (SELECT w.source, w.lang, CAST(w.n_docs AS BIGINT) AS n_docs,
      |  w.n_tokens, w.w_sqrt,
      |  CAST((CAST(t.budget AS HUGEINT) * w.w_sqrt) // t.wsum AS BIGINT) AS alloc_tokens,
      |  CAST((CAST((CAST(t.budget AS HUGEINT) * w.w_sqrt) // t.wsum AS HUGEINT) * 10000) // w.n_tokens AS BIGINT) AS rate_bp
      |FROM w CROSS JOIN t)
      |""".stripMargin + tail

  /** Marker-word lists per language for the stopword-heuristic langid.
    * (A real pipeline ships per-language function-word tables; the
    * mechanism — count marker hits per language, argmax — is identical.)
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Curation.stopwords,
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ein"),
    "es" -> Seq("el", "los", "y", "las", "una"))

  /** One language's marker-word list — shared with the C47b integer
    * router so its features/teacher cannot drift from the C9 rule.
    */
  private[queries] def markerWords(lang: String): Seq[String] =
    markers.toMap.apply(lang)

  private def hits(lang: String): Column =
    size(filter(words, w => w.isin(markers.toMap.apply(lang): _*)))

  /** The C9 langid decision frame — (doc_id, pred_lang, *_hits). ONE
    * definition shared by the `text_langid` gate query and the C47
    * multi-class distillation teacher ([[Train.langidTeacher]]), the
    * C18b shared-frame discipline: the rule a model imitates cannot
    * drift from the rule the gate checks.
    */
  private[queries] def langidFrame(d: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val h = d.select(col("doc_id") +: keep.map(col) :+
      hits("en").as("en_hits") :+ hits("fr").as("fr_hits") :+
      hits("de").as("de_hits") :+ hits("es").as("es_hits"): _*)
    h.select(col("doc_id") +: keep.map(col) :+
      when(col("en_hits") === 0 && col("fr_hits") === 0 &&
        col("de_hits") === 0 && col("es_hits") === 0, lit("und"))
        .when(col("en_hits") >= col("fr_hits") && col("en_hits") >= col("de_hits") &&
          col("en_hits") >= col("es_hits"), lit("en"))
        .when(col("fr_hits") >= col("de_hits") && col("fr_hits") >= col("es_hits"), lit("fr"))
        .when(col("de_hits") >= col("es_hits"), lit("de"))
        .otherwise(lit("es")).as("pred_lang") :+
      col("en_hits") :+ col("fr_hits") :+ col("de_hits") :+ col("es_hits"): _*)
  }

  /** C31's classifier with a STORED weights table `(bucket: long,
    * weight: long)` — the loadable-model form (r5 verdict #7): tokens
    * bucket with the same hash as the hashing-trick kernel
    * ([[graft.functions.Kernels.tokenBuckets]]), bucket weights come
    * from a broadcast left join (a trained fastText-style vocab is
    * ~1-2M buckets ≈ tens of MB — broadcastable; switch to a shuffle
    * join on bucket if a model ever outgrows that), absent buckets
    * score 0, keep = score >= 0. Docs whose every token is empty carry
    * no buckets and drop, matching the hashed form's n_tokens > 0.
    * `weights` need not be key-unique: duplicate bucket rows SUM into
    * one weight before the join (the linear-model reading of repeated
    * features) — a raw duplicate-keyed table must never fan out the
    * left join, which would inflate n_tokens and double-count score.
    */
  def qualityClassifierWeighted(d: DataFrame, weights: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(graft.functions.Kernels.tokenBuckets(words)).as("bucket"))
      .join(broadcast(
        weights.groupBy(col("bucket")).agg(sum(col("weight")).as("weight"))),
        Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("weight"), lit(0L))).as("score"))
      .select(col("doc_id"), col("n_tokens"), col("score"),
        when(col("score") >= 0, lit(1L)).otherwise(lit(0L)).as("keep"))

  /** A deterministic SPARSE stand-in for a trained weights table: every
    * 7th bucket carries the same affine weight the hashed classifier
    * derives in-kernel, the rest are absent (a trained vocab covers a
    * subset of the 2^20 bucket space). Swapping in real trained weights
    * is a DataFrame substitution — none of the query plumbing changes.
    */
  def demoWeights(s: SparkSession): DataFrame =
    s.range(0, 1L << 20).where(pmod(col("id"), lit(7)) === 0)
      .select(col("id").as("bucket"),
        (pmod(col("id") * lit(2654435761L), lit(2003L)) - lit(1001L)).as("weight"))

  /** C38's scoring frame — (doc_id, n_bigrams, sum_pbp, lm_bp), one per
    * >=2-token document — shared by `text_lm_score` (which adds the
    * presentation ORDER BY) and `pipeline_curate_lm` (which joins lm_bp
    * in as a CCNet-style filter stage). ONE definition so the gated
    * score and the pipeline's cutoff can never drift. See the C38 Q
    * below for the plan-shape reasoning (single bgc exchange, reuse).
    */
  /** Dense word-id dictionary (w, wid) over the distinct tokens of the
    * one string column of `words`, checkpointed. The ids number the
    * checkpointed distinct tokens by zipWithIndex, so no single-partition
    * window sorts the vocabulary; the LM arms need only injectivity (ids
    * never reach their output).
    */
  private def wordIds(words: DataFrame): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val tokens = Pinned.track(words.distinct().localCheckpoint(true))
    val ids = tokens.rdd.zipWithIndex.map { case (r, i) => Row(r.getString(0), i.toInt + 1) }
    Pinned.track(words.sparkSession.createDataFrame(ids, StructType(Seq(
        StructField("w", StringType), StructField("wid", IntegerType, nullable = false))))
      .localCheckpoint(true))
  }

  /** The shared per-doc bigram-count frame (doc_id, w1, w2, nd) — THE
    * one corpus-scale aggregation both LM scorers (C38 add-free MLE,
    * C38b Kneser-Ney) derive everything from, so the tokenize+explode
    * runs once per query and the two scorers cannot diverge on
    * tokenization. The trailing filter drops nothing (split() yields no
    * null tokens; doc_id is a parquet key) — it exists so joins above
    * infer NO per-consumer isnotnull filters: inferred filters differ
    * per consumer subtree (w1-only on the cp path, w1+w2 on the probe
    * path, doc_id only on subtree joined by callers like
    * pipeline_curate_lm), which makes the bgc subtrees structurally
    * different and defeats ReuseExchange — i.e. the corpus would
    * tokenize again per consumer.
    */
  private def bigramCounts(s: SparkSession, dir: String): DataFrame =
    bigramPairs(docs(s, dir))
      .groupBy(col("doc_id"), col("w1"), col("w2"))
      .agg(count(lit(1)).as("nd"))

  /** The bigram OCCURRENCE stream (doc_id, w1, w2), one row per adjacent
    * token pair — the pre-aggregation stage of [[bigramCounts]], factored
    * out because D10 (`text_lm_score_stream`) must consume it UNaggregated:
    * a stream supports only one stateful aggregation, so the occurrence
    * stream joins the static model stateless-ly and the single stateful
    * groupBy(doc_id) folds the per-doc sums. Batch and stream share this
    * one tokenization, so they cannot drift.
    */
  private def bigramPairs(d: DataFrame): DataFrame = {
    d.where(size(words) >= 2)
      .select(col("doc_id"),
        explode(zip_with(
          slice(words, lit(1), size(words) - 1), slice(words, lit(2), size(words) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .where(col("doc_id").isNotNull && col("w1").isNotNull && col("w2").isNotNull)
  }

  /** C38b's scoring frame — interpolated Kneser-Ney with discount
    * d = 3/4 over the same bigram counts as C38, integer-exact. For an
    * OBSERVED bigram (the only kind a self-scored corpus contains, so
    * the max(c-d, 0) clamp is vacuous — 4·c2 − 3 ≥ 1):
    *   P_KN(w2|w1) = (c2 − d)/cp + d·N1+(w1,•)/cp · N1+(•,w2)/N1+(••)
    * in basis points with per-term truncating division (documented
    * contract; both engines floor non-negative integers identically):
    *   p_bp = ((4·c2 − 3)·10⁴) div (4·cp)
    *        + (3·n1f·n1r·10⁴) div (4·cp·ntypes)
    * The second term's products overflow BIGINT at corpus scale (n1f,
    * n1r are distinct-successor/-predecessor counts — ~1e9 each on a
    * 100 TB web corpus; cp·ntypes reaches ~1e24), so they compute in
    * decimal(38,0)/HUGEINT and divide once — both engines emit the
    * identical integer. Same derivation tree as C38: bgc → c2 → (cp,
    * n1f) / n1r / ntypes, every consumer above the one bgc exchange.
    */
  private[graft] def knScores(s: SparkSession, dir: String): DataFrame = {
    val bgc = bigramCounts(s, dir)
    val c2 = bgc.groupBy(col("w1"), col("w2")).agg(sum(col("nd")).as("c2"))
    val cp = c2.groupBy(col("w1"))
      .agg(sum(col("c2")).as("cp"), count(lit(1)).as("n1f"))
    // count(c2), NOT count(*): a type count that doesn't reference c2's
    // aggregate output lets RemoveRedundantAggregates collapse the whole
    // sum(nd) aggregate into a distinct over the RAW pair stream — a
    // structurally different subtree that defeats bgc's exchange reuse
    // and re-scans the corpus. c2 is never null (every group is
    // non-empty), so count(c2) == count(*) — but the reference anchors
    // the derivation to the shared exchange. PlanSpec pins the one-scan
    // contract.
    val rv = c2.groupBy(col("w2")).agg(count(col("c2")).as("n1r"))
    val nt = c2.agg(count(col("c2")).as("ntypes"))
    bgc.join(c2, Seq("w1", "w2")).join(cp, Seq("w1")).join(rv, Seq("w2"))
      .crossJoin(broadcast(nt))
      .select(col("doc_id"), col("nd"),
        (expr("((4 * c2 - 3) * 10000) div (4 * cp)")
          + expr("""CAST((CAST(3 * n1f AS DECIMAL(38,0)) * n1r * 10000)
                   |     div (CAST(4 * cp AS DECIMAL(38,0)) * ntypes)
                   |     AS BIGINT)""".stripMargin)).as("p"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nd")).as("n_bigrams"),
        sum(col("nd") * col("p")).as("sum_pbp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_pbp"),
        expr("sum_pbp div n_bigrams").as("kn_bp"))
  }

  private[graft] def lmScores(s: SparkSession, dir: String): DataFrame = {
    val bgc = bigramCounts(s, dir)
    val c2 = bgc.groupBy(col("w1"), col("w2")).agg(sum(col("nd")).as("c2"))
    val cp = c2.groupBy(col("w1")).agg(sum(col("c2")).as("cp"))
    bgc.join(c2, Seq("w1", "w2")).join(cp, Seq("w1"))
      .select(col("doc_id"), col("nd"), expr("(c2 * 10000) div cp").as("p"))
      .groupBy(col("doc_id"))
      .agg(sum(col("nd")).as("n_bigrams"),
        sum(col("nd") * col("p")).as("sum_pbp"))
      .select(col("doc_id"), col("n_bigrams"), col("sum_pbp"),
        expr("sum_pbp div n_bigrams").as("lm_bp"))
  }

  /** C38c's per-doc bucketed frame — (doc_id, lang, tokens, n_bigrams,
    * lm_bp, bucket) for every >=2-token document, bucket = the per-lang
    * LM-score tertile ('head'/'middle'/'tail', ntile(3) ordered by
    * lm_bp DESC with doc_id tie-break). ONE definition shared by
    * `text_lm_buckets` (the bucket report) and `text_mixture_lm` (the
    * head-heavy allocator), the C18b shared-frame discipline: bucket
    * boundaries and the sampling plan built on them can never drift.
    */
  private def lmBucketed(s: SparkSession, dir: String): DataFrame = {
    val nt = ntile(3).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        .orderBy(col("lm_bp").desc, col("doc_id")))
    lmScores(s, dir)
      .join(docs(s, dir).select(col("doc_id"), col("lang"),
        size(words).cast("long").as("tokens")), Seq("doc_id"))
      .withColumn("nt", nt)
      .withColumn("bucket",
        when(col("nt") === 1, lit("head"))
          .when(col("nt") === 2, lit("middle"))
          .otherwise(lit("tail")))
  }

  // ------------------------------------------------ C18c/C18d data card

  /** Per-doc card base columns (quality_bp, split, word counts). */
  private[graft] def cardBase(d: DataFrame): DataFrame =
    d.select(Seq(col("doc_id"), col("lang"), col("source"), col("n_chars")) ++
        Curation.counts ++ Seq(Curation.split.as("split"), domainCol.as("domain")): _*)
      .withColumn("quality_bp", Curation.qualityBp)

  // ------------------------------------------------ r9 URL/domain layer

  /** The synthetic but DETERMINISTIC document URL: the driver's tables
    * carry no url column, so the corpus's URL is a pure function of
    * (source, doc_id) — identical in both engines, which keeps every
    * domain operator fully hash-gateable. The distribution is skewed
    * like a crawl's (60% .com / 20% .org / 10% .net / 10% .io over 20
    * sources → 80 domains of very different sizes).
    */
  private[graft] def urlCol: Column =
    concat(lit("https://"), col("source"), lit("."),
      when(col("doc_id") % 10 < 6, lit("com"))
        .when(col("doc_id") % 10 < 8, lit("org"))
        .when(col("doc_id") % 10 < 9, lit("net"))
        .otherwise(lit("io")),
      lit("/doc/"), col("doc_id").cast("string"))

  /** Registrable domain parsed back out of the URL — the real
    * operator's shape (host extraction), not a shortcut around it.
    */
  private[graft] def domainCol: Column =
    regexp_extract(urlCol, "https?://([^/]+)/", 1)

  /** SQL twins of [[urlCol]]/[[domainCol]], spliced into every domain
    * oracle so the derivation can never drift between engines.
    */
  private[graft] val urlSql: String =
    "'https://' || source || '.' || " +
      "(CASE WHEN doc_id % 10 < 6 THEN 'com' WHEN doc_id % 10 < 8 THEN 'org' " +
      "WHEN doc_id % 10 < 9 THEN 'net' ELSE 'io' END) || " +
      "'/doc/' || CAST(doc_id AS VARCHAR)"
  private[graft] val domainSql: String =
    s"regexp_extract(($urlSql), 'https?://([^/]+)/', 1)"

  /** The curated blocklist (stands in for the list a pipeline reads
    * from a table; joins as a broadcast anti join, never a giant IN).
    */
  private[graft] val BlockedDomains: Seq[String] =
    Seq("src7.com", "src13.org", "src2.io", "src5.net", "src11.com", "src0.org")

  /** Per-domain contribution cap for text_domain_filter. */
  private[graft] val DomainCap = 8

  /** C65's MESSY url — crawls re-fetch the same page under tracking
    * params, fragments, case-variant hosts, default ports and scheme
    * drift, so URL-level dedup starts from a dirty string. Like
    * [[urlCol]] this is a pure function of doc_id (both engines build
    * the identical corpus): page = doc_id div 3 and the three fetch
    * variants per page are (0) SHOUTING scheme/host + www + trailing
    * slash + pure-tracking query + fragment, (1) http + default port +
    * a REAL `id=` param mixed with a tracking one, (2) already clean.
    * Variants 0 and 2 canonicalize together; variant 1 keeps its `id=`
    * param and stays a distinct resource — the subtle rule (strip only
    * TRACKING params, not all params) is what the gate exercises.
    */
  private[graft] def messyUrlCol: Column = {
    val page = expr("doc_id div 3")
    val k = expr("(doc_id div 3) % 50")
    when(expr("doc_id % 3") === 0,
        concat(lit("HTTPS://WWW.SITE"), k, lit(".COM/page/"), page,
          lit("/?utm_source=feed&ref=rss#top")))
      .when(expr("doc_id % 3") === 1,
        concat(lit("http://site"), k, lit(".com:80/page/"), page,
          lit("?id="), page, lit("&utm_campaign=x")))
      .otherwise(concat(lit("https://site"), k, lit(".com/page/"), page))
  }

  private[graft] val messyUrlSql: String =
    "CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://WWW.SITE' || CAST((doc_id // 3) % 50 AS VARCHAR) " +
      "|| '.COM/page/' || CAST(doc_id // 3 AS VARCHAR) || '/?utm_source=feed&ref=rss#top' " +
      "WHEN doc_id % 3 = 1 THEN 'http://site' || CAST((doc_id // 3) % 50 AS VARCHAR) " +
      "|| '.com:80/page/' || CAST(doc_id // 3 AS VARCHAR) || '?id=' || CAST(doc_id // 3 AS VARCHAR) || '&utm_campaign=x' " +
      "ELSE 'https://site' || CAST((doc_id // 3) % 50 AS VARCHAR) || '.com/page/' || CAST(doc_id // 3 AS VARCHAR) END"

  /** SQL twin of [[canonicalUrlCol]] as a CTE chain — expects a CTE
    * `u(doc_id, url)` in scope and yields `c4(doc_id, url, canon)`.
    * ONE definition spliced into every oracle that canonicalizes (C65,
    * C68's cascade) so the two restatements cannot drift.
    */
  private[graft] val urlCanonCtes: String =
    """c0 AS (SELECT doc_id, url,
      |  regexp_replace(regexp_replace(lower(url), '#.*$', ''), '^https?://', '') AS r FROM u),
      |c1 AS (SELECT doc_id, url, r, regexp_extract(r, '^[^/]+') AS hostport FROM c0),
      |c2 AS (SELECT doc_id, url,
      |  regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''), '^www\.', '') AS host,
      |  substr(r, length(hostport) + 1) AS pathq FROM c1),
      |c3 AS (SELECT doc_id, url, host,
      |  regexp_replace(CASE WHEN instr(pathq, '?') > 0
      |    THEN substr(pathq, 1, instr(pathq, '?') - 1) ELSE pathq END, '/$', '') AS path,
      |  CASE WHEN instr(pathq, '?') > 0 THEN substr(pathq, instr(pathq, '?') + 1) ELSE '' END AS q
      |FROM c2),
      |c4 AS (SELECT doc_id, url, host || path ||
      |  CASE WHEN array_to_string(list_filter(string_split(q, '&'),
      |         p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref='))), '&') <> ''
      |    THEN '?' || array_to_string(list_filter(string_split(q, '&'),
      |         p -> NOT (starts_with(p, 'utm_') OR starts_with(p, 'ref='))), '&')
      |    ELSE '' END AS canon FROM c3)""".stripMargin

  /** C65's canonical form: lowercase; fragment, scheme, `www.`, port,
    * trailing slash and TRACKING params (`utm_*`, `ref`) dropped; real
    * query params kept in order. Scheme/port-agnostic identity is the
    * crawl-dedup convention (the same page over http/https is one
    * resource). Built on Spark's native `parse_url` so the host/path/
    * query split is the real parser, not a shortcut regex.
    */
  private[graft] def canonicalUrlCol(u: Column): Column = {
    val nf = regexp_replace(lower(u), "#.*$", "")
    val host = regexp_replace(parse_url(nf, lit("HOST")), "^www\\.", "")
    val path = regexp_replace(parse_url(nf, lit("PATH")), "/$", "")
    val kept = array_join(filter(split(parse_url(nf, lit("QUERY")), "&"),
      p => !(p.startsWith("utm_") || p.startsWith("ref="))), "&")
    concat(host, path,
      when(kept.isNotNull && kept =!= "", concat(lit("?"), kept)).otherwise(lit("")))
  }

  // --------------------------------------------- C51 domain reputation

  /** C51 verdict thresholds: minimum docs to judge a domain at all,
    * minimum mean quality_bp, maximum exact-duplicate share (bp).
    */
  private[graft] val RepMinDocs = 3L
  // 5100 discriminates at EVERY test scale: sf0.01 domain means span
  // 4854-5849 (3 drop), sf1 spans 4995-5208 (about half drop — longer
  // docs shift the rule down); 5300 emptied the keep-set at sf1
  private[graft] val RepQualityMin = 5100L
  private[graft] val RepDupMaxBp = 2000L

  /** C51 core over any (doc_id, source, text) frame — see the query
    * scaladoc for the scale reasoning (slim partial-agg streams +
    * size-adaptive dup sliver; the corpus text never shuffles).
    */
  private[graft] def domainReputation(d0: DataFrame): DataFrame = {
    val d = d0.select(domainCol.as("domain") +: Curation.counts :+
        Curation.normDigest.as("h"): _*) // SAME key as dedup_exact
      .withColumn("qbp", Curation.qualityBp)
    val dupH = d.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).select(col("h"))
    val dupPerDomain = d.select(col("domain"), col("h"))
      .join(Dedup.adaptiveBuild(dupH), Seq("h"), "left_semi")
      .groupBy(col("domain")).agg(count(lit(1)).as("nd"))
    val base = d.groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("qbp")).as("sq"))
    base.join(dupPerDomain, Seq("domain"), "left_outer")
      .select(col("domain"), col("n_docs"),
        expr("sq div n_docs").as("mean_quality_bp"),
        expr("coalesce(nd, 0L) * 10000 div n_docs").as("dup_bp"))
      .withColumn("verdict",
        when(col("n_docs") < RepMinDocs, lit("thin"))
          .when(col("mean_quality_bp") < RepQualityMin, lit("low_quality"))
          .when(col("dup_bp") > RepDupMaxBp, lit("duplicated"))
          .otherwise(lit("keep")))
      .orderBy(col("domain"))
  }

  // ------------------------------------------------- C55 chunk splitting

  /** C55 training-sequence chunk length and stride (overlap = len −
    * stride = 8 tokens of carried context, the HF convention).
    */
  private[graft] val ChunkLen = 32
  private[graft] val ChunkStride = 24

  /** C56 reference-vocabulary size (top-K corpus words). */
  private[graft] val OovVocabK = 20

  /** C59 tokenize-and-pack: frozen vocab size (ids 1..K; OOV = 0,
    * EOS = K+1) and the fixed training-block length.
    */
  private[graft] val TokPackVocabK = 50
  private[graft] val TokPackBlock = 64

  /** C59/D21's shared DuckDB twin — one oracle gating batch AND ingest
    * packing IS the batch/stream parity check (C30/D6 discipline).
    */
  private val tokenizePackSql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) - 1 AS pos FROM t),
      |c AS (SELECT w, count(*) AS c FROM w GROUP BY w),
      |v AS (SELECT w, row_number() OVER (ORDER BY c DESC, w ASC) AS id
      |      FROM c ORDER BY c DESC, w ASC LIMIT $TokPackVocabK),
      |ids AS (
      |  SELECT w.doc_id, w.pos, COALESCE(v.id, 0) AS id FROM w LEFT JOIN v USING (w)
      |  UNION ALL
      |  SELECT doc_id, len(ws), ${TokPackVocabK + 1} FROM t),
      |offs AS (
      |  SELECT doc_id, doc_id // 100 AS shard,
      |         CAST(sum(len(ws) + 1) OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS BIGINT) - (len(ws) + 1) AS off
      |  FROM t),
      |g AS (SELECT o.shard, (o.off + i.pos) // $TokPackBlock AS block,
      |             (o.off + i.pos) % $TokPackBlock AS slot, i.id
      |      FROM ids i JOIN offs o USING (doc_id))
      |SELECT shard, block,
      |       CAST(sum(CASE WHEN id = ${TokPackVocabK + 1} THEN 1 ELSE 0 END) AS BIGINT) AS n_eos,
      |       string_agg(CAST(id AS VARCHAR), ',' ORDER BY slot) AS ids
      |FROM g GROUP BY shard, block HAVING count(*) = $TokPackBlock
      |ORDER BY shard, block""".stripMargin

  /** Shared C56/D20 oracle. */
  private[graft] lazy val oovRateSql: String =
    s"""WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |c AS (SELECT t, count(*) AS c FROM w GROUP BY t),
      |v AS (SELECT t FROM c ORDER BY c DESC, t ASC LIMIT $OovVocabK),
      |f AS (SELECT w.doc_id, CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
      |      FROM w LEFT JOIN v ON v.t = w.t)
      |SELECT doc_id, count(*) AS n_words,
      |  CAST(sum(oov) AS BIGINT) AS n_oov,
      |  CAST(sum(oov) * 10000 AS BIGINT) // count(*) AS oov_bp
      |FROM f GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** C55 core: per-row explode+slice chunking — a pure projection
    * (works identically over a batch frame and a file stream source).
    */
  private[graft] def chunkSplit(d: DataFrame): DataFrame =
    d.select(col("doc_id"), words.as("ws"), size(words).as("n"))
      .withColumn("n_chunks",
        when(col("n") <= ChunkLen, lit(1)).otherwise(
          expr(s"(n - $ChunkLen + ${ChunkStride - 1}) div $ChunkStride + 1")))
      .select(col("doc_id"), col("ws"), col("n"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id") * ChunkStride).cast("long").as("start"),
        least(lit(ChunkLen), col("n") - col("chunk_id") * ChunkStride)
          .cast("long").as("chunk_len"),
        array_join(slice(col("ws"), col("chunk_id") * ChunkStride + 1,
          least(lit(ChunkLen), col("n") - col("chunk_id") * ChunkStride)), " ")
          .as("chunk_text"))

  /** Shared C55/D18 oracle. */
  private[graft] lazy val chunkSplitSql: String =
    s"""WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n,
      |    CASE WHEN n <= $ChunkLen THEN 1
      |         ELSE (n - $ChunkLen + ${ChunkStride - 1}) // $ChunkStride + 1 END AS n_chunks,
      |    ws FROM w),
      |e AS (
      |  SELECT doc_id, n, n_chunks, ws,
      |         unnest(range(0, n_chunks)) AS chunk_id
      |  FROM c)
      |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
      |  CAST(chunk_id * $ChunkStride AS BIGINT) AS start,
      |  CAST(least($ChunkLen, n - chunk_id * $ChunkStride) AS BIGINT) AS chunk_len,
      |  array_to_string(list_slice(ws, chunk_id * $ChunkStride + 1,
      |    chunk_id * $ChunkStride + least($ChunkLen, n - chunk_id * $ChunkStride)), ' ')
      |    AS chunk_text
      |FROM e ORDER BY doc_id, chunk_id""".stripMargin

  /** C80/D33/C81 shared oracle prefix: chunk → hash-embed →
    * integer-Lloyd chain, every fragment the SQL twin of the shared
    * implementation it gates (chunkSplit / featureHashVec /
    * Cluster.kmeansChainCtes); ends at `aF` with `cid` and `x` in scope
    * for downstream consumers.
    */
  private[graft] lazy val ragCtes: String =
    s"""WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS ws,
      |         len(string_split(text, ' ')) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, n,
      |    CASE WHEN n <= $ChunkLen THEN 1
      |         ELSE (n - $ChunkLen + ${ChunkStride - 1}) // $ChunkStride + 1 END AS n_chunks,
      |    ws FROM w),
      |ch AS (
      |  SELECT doc_id, CAST(unnest(range(0, n_chunks)) AS BIGINT) AS chunk_id, n, ws
      |  FROM c),
      |cid AS (
      |  SELECT doc_id, chunk_id, doc_id * 4096 + chunk_id AS cid,
      |    array_to_string(list_slice(ws, chunk_id * $ChunkStride + 1,
      |      chunk_id * $ChunkStride + least($ChunkLen, n - chunk_id * $ChunkStride)), ' ')
      |      AS chunk_text
      |  FROM ch),
      |toks AS (
      |  SELECT cid, unnest(string_split(chunk_text, ' ')) AS tok,
      |         generate_subscripts(string_split(chunk_text, ' '), 1) AS j
      |  FROM cid),
      |chars AS (
      |  SELECT cid, j, ascii(unnest(string_split(tok, ''))) AS a,
      |         generate_subscripts(string_split(tok, ''), 1) AS i
      |  FROM toks WHERE len(tok) > 0),
      |th AS (
      |  SELECT cid, j, (sum(a * (1 + (131 * i) % 997)) % 1048576) AS hh
      |  FROM chars GROUP BY cid, j),
      |e AS (
      |  SELECT cid, hh % 16 AS dim,
      |         CASE WHEN (hh // 16) % 2 = 0 THEN 1 ELSE -1 END AS s
      |  FROM th),
      |g AS (SELECT cid, dim, CAST(sum(s) AS BIGINT) AS v
      |      FROM e GROUP BY cid, dim),
      |dd AS (SELECT c.cid, r.range AS dim FROM cid c, range(16) r),
      |x AS (SELECT dd.cid AS vec_id, dd.dim AS d,
      |        COALESCE(g.v, 0) + $ChunkLen AS m
      |      FROM dd LEFT JOIN g ON g.cid = dd.cid AND g.dim = dd.dim),
      |seeds AS (
      |  SELECT cid, cluster FROM (
      |    SELECT cid, row_number() OVER (ORDER BY cid) - 1 AS cluster
      |    FROM (SELECT DISTINCT cid FROM cid))
      |  WHERE cluster < 8),
      |c0 AS (SELECT s.cluster, x.d, x.m AS cent
      |       FROM x JOIN seeds s ON s.cid = x.vec_id),
      |${Cluster.kmeansChainCtes}""".stripMargin

  private[graft] lazy val ragIndexSql: String =
    s"""$ragCtes
      |SELECT c.doc_id, c.chunk_id, CAST(aF.cluster AS BIGINT) AS cluster, aF.dist
      |FROM aF JOIN cid c ON c.cid = aF.vec_id
      |WHERE aF.rn = 1
      |ORDER BY c.doc_id, c.chunk_id""".stripMargin

  /** C81 oracle: query-side hash-embed (FULL document text, doc_id <
    * 10), nearest trained cell by integer L2, exact integer-L2 rank of
    * the probed cell's chunks, top-5. The query embeds get the same +32
    * shift as the corpus (translation cancels in every difference; the
    * non-negativity only training needed doesn't apply to probes).
    */
  private[graft] lazy val ragProbeSql: String =
    s"""$ragCtes,
      |qdoc AS (SELECT doc_id AS q_id, text FROM documents WHERE doc_id < 10),
      |qtoks AS (
      |  SELECT q_id, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS j
      |  FROM qdoc),
      |qchars AS (
      |  SELECT q_id, j, ascii(unnest(string_split(tok, ''))) AS a,
      |         generate_subscripts(string_split(tok, ''), 1) AS i
      |  FROM qtoks WHERE len(tok) > 0),
      |qth AS (
      |  SELECT q_id, j, (sum(a * (1 + (131 * i) % 997)) % 1048576) AS hh
      |  FROM qchars GROUP BY q_id, j),
      |qe AS (
      |  SELECT q_id, hh % 16 AS dim,
      |         CASE WHEN (hh // 16) % 2 = 0 THEN 1 ELSE -1 END AS s
      |  FROM qth),
      |qg AS (SELECT q_id, dim, CAST(sum(s) AS BIGINT) AS v
      |       FROM qe GROUP BY q_id, dim),
      |qdd AS (SELECT q.q_id, r.range AS dim FROM qdoc q, range(16) r),
      |qx AS (SELECT qdd.q_id, qdd.dim AS d, COALESCE(qg.v, 0) + $ChunkLen AS m
      |       FROM qdd LEFT JOIN qg ON qg.q_id = qdd.q_id AND qg.dim = qdd.dim),
      |qdist AS (
      |  SELECT qx.q_id, c.cluster,
      |    CAST(sum((qx.m - c.cent) * (qx.m - c.cent)) AS BIGINT) AS dist
      |  FROM qx JOIN ${Cluster.kmeansFinalCentsCte} c ON c.d = qx.d
      |  GROUP BY qx.q_id, c.cluster),
      |qcell AS (SELECT q_id, cluster FROM (
      |    SELECT q_id, cluster, row_number() OVER (
      |        PARTITION BY q_id ORDER BY dist, cluster) AS rn
      |    FROM qdist) WHERE rn = 1),
      |sc AS (
      |  SELECT qc.q_id, ax.vec_id,
      |    CAST(sum((qx.m - x.m) * (qx.m - x.m)) AS BIGINT) AS l2
      |  FROM qcell qc
      |  JOIN aF ax ON ax.cluster = qc.cluster AND ax.rn = 1
      |  JOIN x ON x.vec_id = ax.vec_id
      |  JOIN qx ON qx.q_id = qc.q_id AND qx.d = x.d
      |  GROUP BY qc.q_id, ax.vec_id),
      |rk AS (SELECT q_id, vec_id, l2, row_number() OVER (
      |         PARTITION BY q_id ORDER BY l2, vec_id) AS rank
      |       FROM sc)
      |SELECT rk.q_id, CAST(rk.rank AS BIGINT) AS rank, c.doc_id, c.chunk_id, rk.l2
      |FROM rk JOIN cid c ON c.cid = rk.vec_id
      |WHERE rk.rank <= 5
      |ORDER BY rk.q_id, rk.rank""".stripMargin

  // ------------------------------------------------ C52/D16 topic tags

  /** The curated keyword taxonomy (bounded artifact; compiles into the
    * projection as array literals — no join anywhere). Topic names are
    * the tie-break order: argmax resolves ties by topic name ASC.
    */
  private[graft] val Topics: Seq[(String, Seq[String])] = Seq(
    "exec" -> Seq("join", "hash", "sort", "merge", "agg"),
    "query" -> Seq("query", "filter", "group", "order", "key"),
    "storage" -> Seq("row", "column", "table", "scan", "part"),
    "stream" -> Seq("stream", "window", "batch", "line"))

  /** The (topic, max-hits) column pair — the ONE argmax definition
    * behind C52, D16 and the r9 topic mixture (C57), so tagging and
    * stratification can never drift. CASE order = topic name ASC.
    */
  private[graft] def topicExprs: (Column, Column) = {
    val hit = Topics.map { case (t, kws) =>
      t -> size(filter(words, w => w.isin(kws.map(lit(_)): _*)))
    }
    val m = greatest(hit.map(_._2): _*)
    val topic = hit.foldLeft(when(m === 0, lit("other"))) {
      case (c, (t, h)) => c.when(h === m, lit(t))
    }
    (topic, m)
  }

  /** C52 core: per-row taxonomy argmax — a pure projection (works
    * identically over a batch frame and a file stream source).
    */
  private[graft] def topicTag(d: DataFrame): DataFrame = {
    val (topic, m) = topicExprs
    d.select(col("doc_id"), topic.as("topic"), m.as("hits"),
      size(words).as("n_words"))
      .select(col("doc_id"), col("topic"), col("hits").cast("long").as("hits"),
        expr("CAST(hits * 10000 AS BIGINT) div n_words").as("score_bp"))
  }

  /** SQL fragments of the topic argmax (shared by the C52/D16 oracle
    * and the C57 mixture oracle).
    */
  private def topicHitSql: Seq[(String, String)] = Topics.map { case (t, kws) =>
    t -> s"len(list_filter(string_split(text, ' '), w -> w IN (${kws.map("'" + _ + "'").mkString(",")})))"
  }
  private def topicCaseSql: String =
    "CASE WHEN m = 0 THEN 'other' " +
      topicHitSql.map { case (t, _) => s"WHEN h_$t = m THEN '$t'" }.mkString(" ") + " END"

  /** Shared C52/D16 oracle: the same argmax CASE, spelled in SQL. */
  private[graft] lazy val topicTagSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, len(string_split(text, ' ')) AS n_words,
       |    ${topicHitSql.map { case (t, e) => s"$e AS h_$t" }.mkString(",\n    ")}
       |  FROM documents),
       |g AS (SELECT *, greatest(${topicHitSql.map("h_" + _._1).mkString(",")}) AS m FROM h)
       |SELECT doc_id,
       |  $topicCaseSql AS topic,
       |  CAST(m AS BIGINT) AS hits,
       |  CAST(m * 10000 AS BIGINT) // n_words AS score_bp
       |FROM g ORDER BY doc_id""".stripMargin

  /** Shared C48/D15 oracle: blocklist + per-domain cap. The batch and
    * ingest-time forms gate against the SAME SQL (the batch/stream
    * parity discipline) — both emit the min(n, cap) smallest doc_ids
    * of every non-blocked domain.
    */
  private[graft] lazy val domainFilterSql: String =
    s"""WITH d AS (SELECT doc_id, $domainSql AS domain FROM documents),
       |f AS (SELECT doc_id, domain FROM d
       |      WHERE domain NOT IN (${BlockedDomains.map("'" + _ + "'").mkString(",")})),
       |r AS (SELECT doc_id, domain,
       |        row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
       |      FROM f)
       |SELECT doc_id, domain FROM r WHERE rk <= $DomainCap
       |ORDER BY doc_id""".stripMargin

  // ------------------------------------------- r9 fuzzy decontamination

  /** C49 core over any (doc_id, text) frame — benchmark split =
    * doc_id % 20 == 0 (the C21/C43 convention). See the query scaladoc
    * for the decision semantics; 100 TB shape: every bench-derived
    * table is bounded (benchmark suites are small by construction) and
    * broadcasts; the train gram stream never shuffles before the
    * per-candidate-pair aggregation, which carries only gram-SHARING
    * (train, bench) pairs.
    */
  private[graft] def fuzzyDecontam(d0: DataFrame): DataFrame = {
    val d = d0.where(size(words) >= 3)
    val isBench = col("doc_id") % 20 === 0
    val grams = Dedup.substringGrams(d, 3) // (doc_id, n_tokens, pos, h)
    val bench = grams.where(isBench)
    val train = grams.where(!isBench)
    // bounded: |bench docs| × ~60 gram digests — four consumers
    val benchSets = Pinned.track(
      bench.select(col("doc_id").as("bench_id"), col("h")).distinct()
        .localCheckpoint(true))
    val benchCnt = benchSets.groupBy(col("bench_id")).agg(count(lit(1)).as("cb"))
    // r13 OPT: three consumers (per-doc counts, gram-probe candidates,
    // intersection counts) each re-ran the gram pass + the corpus-scale
    // distinct shuffle — checkpoint the distinct digest set once
    val trainSets = Pinned.track(
      train.select(col("doc_id"), col("h")).distinct().localCheckpoint(true))
    val cntTrain = trainSets.groupBy(col("doc_id")).agg(count(lit(1)).as("ct"))
    // candidate stage: minhash bands for the near-dup decision (32
    // broadcast keys per bench item) ∪ gram probe for containment
    val benchKeys = Dedup.bandedMinhashKeys(d.where(isBench))
      .select(col("doc_id").as("bench_id"), col("bk"))
    val candsBand = Dedup.bandedMinhashKeys(d.where(!isBench))
      .join(broadcast(benchKeys), "bk")
      .select(col("doc_id"), col("bench_id"))
    val candsGram = trainSets.join(broadcast(benchSets), "h")
      .select(col("doc_id"), col("bench_id"))
    val cands = candsBand.unionAll(candsGram).distinct()
    val inter = trainSets.join(broadcast(benchSets), "h")
      .groupBy(col("doc_id"), col("bench_id")).agg(count(lit(1)).as("ni"))
    // EXACT integer verification of every candidate pair (band-bucket
    // coincidences without shared grams die at the inner join)
    val v = Pinned.track(cands.join(inter, Seq("doc_id", "bench_id"))
      .join(cntTrain, "doc_id").join(broadcast(benchCnt), "bench_id")
      .select(col("doc_id"), col("bench_id"),
        expr("(ni * 10000) div (ct + cb - ni)").as("jacc_bp"),
        expr("(ni * 10000) div cb").as("cont_bp"))
      .where(col("jacc_bp") >= 7000 || col("cont_bp") >= 2000)
      .localCheckpoint(true)) // flagged sliver — two consumers below
    val agg = v.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_bench_matches"),
      max(col("jacc_bp")).as("max_jacc_bp"),
      max(col("cont_bp")).as("max_cont_bp"))
    // C43's span composition, per matched pair: remove what matched
    // THIS doc's flagged bench items, keep the rest
    val hits = train.join(broadcast(benchSets), "h")
      .join(v.select(col("doc_id"), col("bench_id")),
        Seq("doc_id", "bench_id"), "left_semi")
      .select(col("doc_id"), col("n_tokens"), col("pos")).distinct()
    val cov = Dedup.spanCoverage(hits, 3)
      .select(col("doc_id"), col("n_tokens"), col("covered").as("removed"))
    agg.join(cov, "doc_id")
      .select(col("doc_id"), col("n_bench_matches"), col("max_jacc_bp"),
        col("max_cont_bp"), col("n_tokens"), col("removed"),
        (col("n_tokens") - col("removed")).as("clean_tokens"))
  }

  /** The one composition shuffle: (), (lang), (source), (split) in a
    * single grouping-sets aggregation; grouping_id tells the rows
    * apart. This aggregate IS the card's mergeable composition state:
    * counts/sums re-add and min/max re-combine under
    * [[mergeCardComp]], which is what makes the incremental card exact.
    */
  private[graft] def cardComp(base: DataFrame): DataFrame =
    base.groupingSets(
        Seq(Seq(col("lang")), Seq(col("source")), Seq(col("split")),
          Seq(col("domain")), Seq()),
        col("lang"), col("source"), col("split"), col("domain"))
      .agg(grouping_id().as("gid"),
        count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"),
        sum(col("n_words")).as("wrds"),
        min(col("quality_bp")).as("q_min"), sum(col("quality_bp")).as("q_sum"),
        max(col("quality_bp")).as("q_max"))

  /** Merge two composition states cell-by-cell (slim state rows — the
    * shuffle moves |cells| rows, never documents).
    */
  private[graft] def mergeCardComp(a: DataFrame, b: DataFrame): DataFrame =
    a.unionAll(b)
      .groupBy(col("gid"), col("lang"), col("source"), col("split"), col("domain"))
      .agg(sum(col("docs")).as("docs"), sum(col("chars")).as("chars"),
        sum(col("wrds")).as("wrds"),
        min(col("q_min")).as("q_min"), sum(col("q_sum")).as("q_sum"),
        max(col("q_max")).as("q_max"))

  /** The per-digest count sidecar on the SAME key as dedup_exact —
    * mergeable by digest-sum, so a delta doc duplicating a BASE doc is
    * accounted correctly.
    */
  private[graft] def cardDigestCounts(d: DataFrame): DataFrame =
    d.groupBy(Curation.normDigest.as("h"))
      .agg(count(lit(1)).as("c"))

  /** Assemble the final card rows from state: melt every section from
    * ONE pass over the composition aggregate (a per-gid CASE over
    * "section|metric" → value maps, exploded once — per-section filters
    * would push below the aggregate and break exchange reuse into 5
    * corpus scans), plus the distinct-word count and the dup metrics
    * from their sidecars.
    */
  private[graft] def cardFromState(
      gs: DataFrame, wordsFrame: DataFrame, digests: DataFrame): DataFrame = {
    def m(pairs: (Column, Column)*): Column =
      map(pairs.flatMap { case (k, v) => Seq(k, v.cast("long")) }: _*)
    def key(section: Column, metric: String): Column =
      concat(section, lit("|" + metric))
    val kv = when(col("gid") === 15, m(
        key(lit("corpus"), "docs") -> col("docs"),
        key(lit("corpus"), "chars") -> col("chars"),
        key(lit("corpus"), "words") -> col("wrds"),
        key(lit("corpus"), "mean_chars") -> expr("chars div docs"),
        key(lit("quality"), "min_bp") -> col("q_min"),
        key(lit("quality"), "mean_bp") -> expr("q_sum div docs"),
        key(lit("quality"), "max_bp") -> col("q_max")))
      .when(col("gid") === 7, m(
        key(concat(lit("lang:"), col("lang")), "docs") -> col("docs"),
        key(concat(lit("lang:"), col("lang")), "chars") -> col("chars")))
      .when(col("gid") === 11, m(
        key(concat(lit("source:"), col("source")), "docs") -> col("docs")))
      .when(col("gid") === 13, m(
        key(concat(lit("split:"), col("split")), "docs") -> col("docs"),
        key(concat(lit("split:"), col("split")), "chars") -> col("chars")))
      .otherwise(m(
        key(concat(lit("domain:"), col("domain")), "docs") -> col("docs"),
        key(concat(lit("domain:"), col("domain")), "chars") -> col("chars")))
    val sectioned = gs.select(explode(kv).as(Seq("sm", "value")))
      .select(substring_index(col("sm"), "|", 1).as("section"),
        substring_index(col("sm"), "|", -1).as("metric"), col("value"))
    val dw = wordsFrame.agg(countDistinct(col("w")).as("n"))
      .select(lit("corpus").as("section"), lit("distinct_words").as("metric"),
        col("n").cast("long").as("value"))
    val dg = digests
      .agg(coalesce(sum(when(col("c") > 1, col("c") - 1)), lit(0L)).as("dup_docs"),
        coalesce(sum(when(col("c") > 1, lit(1L))), lit(0L)).as("dup_groups"))
      .select(explode(m(
        lit("dedup|exact_dup_docs") -> col("dup_docs"),
        lit("dedup|exact_dup_groups") -> col("dup_groups"))).as(Seq("sm", "value")))
      .select(substring_index(col("sm"), "|", 1).as("section"),
        substring_index(col("sm"), "|", -1).as("metric"), col("value"))
    sectioned.unionAll(dw).unionAll(dg)
      .orderBy(col("section"), col("metric"))
  }

  /** Shared C18c/C18d oracle: the full-corpus card. The incremental
    * query gating against THIS is the mergeability proof.
    */
  private[graft] val dataCardSql: String =
    s"""WITH base AS (
      |  SELECT doc_id, lang, source, n_chars, n_words, quality_bp,
      |    ${Curation.splitSql} AS split, domain
      |  FROM (${Curation.qualitySql(s"doc_id, lang, source, n_chars, $domainSql AS domain")})),
      |corpus AS (
      |  SELECT count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars,
      |    CAST(sum(n_words) AS BIGINT) AS words,
      |    CAST(min(quality_bp) AS BIGINT) AS q_min,
      |    CAST(sum(quality_bp) AS BIGINT) AS q_sum,
      |    CAST(max(quality_bp) AS BIGINT) AS q_max
      |  FROM base),
      |dw AS (SELECT count(DISTINCT w) AS n FROM (
      |  SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
      |dg AS (SELECT count(*) AS c FROM documents
      |       GROUP BY ${Curation.normSql()}),
      |rows_out AS (
      |  SELECT 'corpus' AS section, 'docs' AS metric, CAST(docs AS BIGINT) AS value FROM corpus
      |  UNION ALL SELECT 'corpus', 'chars', chars FROM corpus
      |  UNION ALL SELECT 'corpus', 'words', words FROM corpus
      |  UNION ALL SELECT 'corpus', 'mean_chars', CAST(chars // docs AS BIGINT) FROM corpus
      |  UNION ALL SELECT 'corpus', 'distinct_words', CAST(n AS BIGINT) FROM dw
      |  UNION ALL SELECT 'quality', 'min_bp', q_min FROM corpus
      |  UNION ALL SELECT 'quality', 'mean_bp', CAST(q_sum // docs AS BIGINT) FROM corpus
      |  UNION ALL SELECT 'quality', 'max_bp', q_max FROM corpus
      |  UNION ALL SELECT 'dedup', 'exact_dup_docs',
      |    CAST(COALESCE(sum(CASE WHEN c > 1 THEN c - 1 END), 0) AS BIGINT) FROM dg
      |  UNION ALL SELECT 'dedup', 'exact_dup_groups',
      |    CAST(COALESCE(sum(CASE WHEN c > 1 THEN 1 END), 0) AS BIGINT) FROM dg
      |  UNION ALL SELECT 'lang:' || lang, 'docs', CAST(count(*) AS BIGINT)
      |    FROM base GROUP BY lang
      |  UNION ALL SELECT 'lang:' || lang, 'chars', CAST(sum(n_chars) AS BIGINT)
      |    FROM base GROUP BY lang
      |  UNION ALL SELECT 'source:' || source, 'docs', CAST(count(*) AS BIGINT)
      |    FROM base GROUP BY source
      |  UNION ALL SELECT 'split:' || split, 'docs', CAST(count(*) AS BIGINT)
      |    FROM base GROUP BY split
      |  UNION ALL SELECT 'split:' || split, 'chars', CAST(sum(n_chars) AS BIGINT)
      |    FROM base GROUP BY split
      |  UNION ALL SELECT 'domain:' || domain, 'docs', CAST(count(*) AS BIGINT)
      |    FROM base GROUP BY domain
      |  UNION ALL SELECT 'domain:' || domain, 'chars', CAST(sum(n_chars) AS BIGINT)
      |    FROM base GROUP BY domain)
      |SELECT section, metric, value FROM rows_out
      |ORDER BY section, metric""".stripMargin

  /** C46/D14 shared pieces — the DSIR bucket stream, the smoothed
    * two-sided bucket model, the integer likelihood-ratio, and the
    * finish projection. ONE definition each (the C18b shared-frame
    * discipline): batch and ingest scoring cannot drift.
    */
  private def dsirBuckets(d: DataFrame): DataFrame = {
    // r13 OPT: bucket arithmetic moved into the JIT kernel
    // (Kernels.dsirBucketIds — same ascii·position polynomial mod 4096,
    // previously an interpreted transform/aggregate/zip_with chain per
    // bigram). The kernel never emits NULL (split() yields no null
    // elements and null/short texts fail the size filter), so the old
    // b-IS-NOT-NULL guard — which existed to keep both consumers'
    // subtrees canonically identical — is vacuous and dropped with it.
    d.where(size(words) >= 2).select(col("doc_id"), words.as("ws"))
      .select(col("doc_id"),
        explode(graft.functions.Kernels.dsirBucketIds(col("ws"))).as("b"))
  }

  /** Both bucket models out of ONE aggregate above fbc's exchange (a
    * where(isTgt) subtree would push the doc_id predicate into a second
    * documents scan); totals ride the model via an unpartitioned window
    * over the ≤4096-row model table (the C45 bounded-window argument —
    * a separate model.agg() total subtree was observed to re-plan its
    * own fbc and re-scan the corpus for two numbers).
    */
  private def dsirModel(fbc: DataFrame): DataFrame = {
    val isTgt =
      ((col("doc_id") % 1000003L) * 131071L + 99991L) % 1000003L % 10 === 0
    fbc.groupBy(col("b")).agg(
        sum(col("nd")).as("cq"),
        sum(when(isTgt, col("nd")).otherwise(0L)).as("ct"))
      .select(col("b"), col("cq"), col("ct"),
        sum(col("cq")).over(org.apache.spark.sql.expressions.Window.partitionBy()).as("totq"),
        sum(col("ct")).over(org.apache.spark.sql.expressions.Window.partitionBy()).as("tott"))
  }

  private def dsirRatio: Column = expr(
    """CAST((CAST(ct + 1 AS DECIMAL(38,0)) * (totq + 4096) * 10000)
      |     div (CAST(cq + 1 AS DECIMAL(38,0)) * (tott + 4096)) AS BIGINT)""".stripMargin)

  private def dsirFinish(grouped: DataFrame): DataFrame =
    grouped.select(col("doc_id"), col("n_feats"), col("sum_rbp"),
      expr("sum_rbp div n_feats").as("w_bp"),
      when(keepCoin(10000) < least(lit(10000L), expr("sum_rbp div n_feats")),
        lit(1L)).otherwise(lit(0L)).as("keep"))

  private val dsirOracleSql: String =
    """WITH docs_ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents
        |                 WHERE len(string_split(text,' ')) >= 2),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM docs_ws),
        |bgp AS (SELECT a.doc_id, a.i AS j, a.w || ' ' || b.w AS g
        |        FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1),
        |ch AS (SELECT doc_id, j, ascii(unnest(string_split(g,''))) AS a,
        |              generate_subscripts(string_split(g,''),1) AS p FROM bgp),
        |fb AS (SELECT doc_id, j, (sum(a * (1 + (131 * p) % 997)) % 4096) AS b
        |       FROM ch GROUP BY doc_id, j),
        |fbc AS (SELECT doc_id, b, CAST(count(*) AS BIGINT) AS nd FROM fb GROUP BY 1,2),
        |model AS (SELECT b, CAST(sum(nd) AS BIGINT) AS cq,
        |            CAST(sum(CASE WHEN ((doc_id % 1000003) * 131071 + 99991) % 1000003 % 10 = 0
        |                          THEN nd ELSE 0 END) AS BIGINT) AS ct
        |          FROM fbc GROUP BY b),
        |tot AS (SELECT CAST(sum(cq) AS BIGINT) AS totq,
        |               CAST(sum(ct) AS BIGINT) AS tott FROM model),
        |r AS (SELECT fbc.doc_id, fbc.nd,
        |        CAST((CAST(model.ct + 1 AS HUGEINT) * (tot.totq + 4096) * 10000)
        |             // (CAST(model.cq + 1 AS HUGEINT) * (tot.tott + 4096)) AS BIGINT) AS r_bp
        |      FROM fbc JOIN model USING (b) CROSS JOIN tot),
        |agg AS (SELECT doc_id, CAST(sum(nd) AS BIGINT) AS n_feats,
        |               CAST(sum(nd * r_bp) AS BIGINT) AS sum_rbp FROM r GROUP BY doc_id)
        |SELECT doc_id, n_feats, sum_rbp, sum_rbp // n_feats AS w_bp,
        |  CAST(CASE WHEN ((doc_id % 1000003) * 131071 + 99991) % 1000003 % 10000
        |            < least(10000, sum_rbp // n_feats) THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM agg ORDER BY doc_id""".stripMargin

  /** C9/D26's shared DuckDB twin — one oracle gating batch langid AND
    * ingest-time routing IS the batch/stream parity check.
    */
  private val langidSql: String = {
    val hitSql = markers.map { case (l, ws) =>
      s"len(list_filter(string_split(text, ' '), w -> w IN (${ws.map("'" + _ + "'").mkString(",")}))) AS ${l}_hits"
    }.mkString(",\n  ")
    s"""WITH h AS (SELECT doc_id,
       |  $hitSql
       |FROM documents)
       |SELECT doc_id,
       |  CASE
       |    WHEN en_hits = 0 AND fr_hits = 0 AND de_hits = 0 AND es_hits = 0 THEN 'und'
       |    WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
       |    WHEN fr_hits >= de_hits AND fr_hits >= es_hits THEN 'fr'
       |    WHEN de_hits >= es_hits THEN 'de'
       |    ELSE 'es' END AS pred_lang,
       |  en_hits, fr_hits, de_hits, es_hits
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** C54/D24's shared DuckDB twin — one oracle gating the batch web
    * pipeline AND its ingest form IS the batch/stream parity check.
    */
  /** The C54 CTE chain through `kept` — ONE definition spliced into
    * the C54 oracle and C73's per-stage ablation oracle.
    */
  private val curateWebCtes: String = {
    val norm = Curation.normSql()
    s"""WITH q0 AS (
      |  SELECT *, quality_bp AS qbp,
      |    CASE WHEN count(*) OVER (PARTITION BY k) > 1 THEN 1 ELSE 0 END AS isdup
      |  FROM (${Curation.qualitySql(s"doc_id, lang, n_chars, $domainSql AS domain, $norm AS k")})),
      |rep AS (
      |  SELECT domain, count(*) AS n,
      |    CAST(sum(qbp) AS BIGINT) // count(*) AS mq,
      |    CAST(sum(isdup) * 10000 AS BIGINT) // count(*) AS dbp
      |  FROM q0 GROUP BY domain),
      |repk AS (
      |  SELECT domain FROM rep
      |  WHERE n >= ${RepMinDocs} AND mq >= ${RepQualityMin} AND dbp <= ${RepDupMaxBp}),
      |blocked AS (
      |  SELECT * FROM q0
      |  WHERE domain NOT IN (${BlockedDomains.map("'" + _ + "'").mkString(",")})),
      |capped AS (
      |  SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rk
      |    FROM blocked) WHERE rk <= $DomainCap),
      |repf AS (
      |  SELECT c.* FROM capped c JOIN repk ON repk.domain = c.domain),
      |survived AS (
      |  SELECT * FROM repf WHERE qbp >= 5000),
      |kept AS (
      |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY doc_id) AS rn
      |  FROM survived)""".stripMargin
  }

  private val curateWebSql: String =
    s"""$curateWebCtes
      |SELECT ${Curation.splitSql} AS split,
      |  lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
      |FROM kept WHERE rn = 1
      |GROUP BY 1, lang ORDER BY split, lang""".stripMargin

  /** C60's Gopher rule battery over any documents frame — ONE
    * definition shared by batch C60, its D27 ingest twin, and C66's
    * ablation report (the C18b shared-frame discipline: the filter, the
    * routing form, and the audit can never drift apart). Pure per-row
    * projection; see the C60 query scaladoc for the rule story.
    */
  private[graft] def gopherFrame(d: DataFrame): DataFrame = {
    val sig = d.select(col("doc_id"),
      size(words).cast("long").as("n_words"),
      aggregate(words, lit(0L), (a, w) => a + length(w)).as("sum_len"),
      Curation.nStop(words).cast("long").as("n_stop"),
      array_max(transform(array_distinct(words),
        w => size(filter(words, x => x === w)))).cast("long").as("top_c"),
      size(array_distinct(words)).cast("long").as("n_distinct"))
    val f = sig.select(col("doc_id"), col("n_words"), col("n_stop"),
      expr("sum_len * 100 div n_words").as("mwl_cw"),
      expr("top_c * 10000 div n_words").as("top_bp"),
      expr("n_distinct * 10000 div n_words").as("distinct_bp"))
    val rLen = col("n_words").between(20L, 80L)
    val rMwl = col("mwl_cw").between(420L, 485L)
    val rStop = col("n_stop") >= 2L
    val rRep = col("top_bp") <= 1200L
    val rDiv = col("distinct_bp") >= 3200L
    f.select(col("doc_id"), col("n_words"), col("mwl_cw"), col("n_stop"),
      col("top_bp"), col("distinct_bp"),
      when(rLen, 1L).otherwise(0L).as("r_len"),
      when(rMwl, 1L).otherwise(0L).as("r_mwl"),
      when(rStop, 1L).otherwise(0L).as("r_stop"),
      when(rRep, 1L).otherwise(0L).as("r_rep"),
      when(rDiv, 1L).otherwise(0L).as("r_div"),
      when(rLen && rMwl && rStop && rRep && rDiv, 1L).otherwise(0L).as("keep"))
  }

  /** The shared signal/flag CTE chain of the C60/C66 oracles — spliced
    * into both so the rule thresholds live in exactly one SQL string.
    */
  private val gopherCtes: String =
    s"""WITH t AS (SELECT doc_id, ${Curation.wordsSql} AS ws FROM documents),
      |s AS (SELECT doc_id,
      |  CAST(len(ws) AS BIGINT) AS n_words,
      |  CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS sum_len,
      |  CAST(${Curation.nStopSql("ws")} AS BIGINT) AS n_stop,
      |  CAST(list_max(list_transform(list_distinct(ws),
      |       w -> len(list_filter(ws, x -> x = w)))) AS BIGINT) AS top_c,
      |  CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
      |FROM t),
      |f AS (SELECT doc_id, n_words, n_stop,
      |  sum_len * 100 // n_words AS mwl_cw,
      |  top_c * 10000 // n_words AS top_bp,
      |  n_distinct * 10000 // n_words AS distinct_bp FROM s),
      |g AS (SELECT doc_id, n_words, mwl_cw, n_stop, top_bp, distinct_bp,
      |  CAST(CASE WHEN n_words BETWEEN 20 AND 80 THEN 1 ELSE 0 END AS BIGINT) AS r_len,
      |  CAST(CASE WHEN mwl_cw BETWEEN 420 AND 485 THEN 1 ELSE 0 END AS BIGINT) AS r_mwl,
      |  CAST(CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
      |  CAST(CASE WHEN top_bp <= 1200 THEN 1 ELSE 0 END AS BIGINT) AS r_rep,
      |  CAST(CASE WHEN distinct_bp >= 3200 THEN 1 ELSE 0 END AS BIGINT) AS r_div
      |FROM f)""".stripMargin

  private val gopherSql: String =
    s"""$gopherCtes
      |SELECT doc_id, n_words, mwl_cw, n_stop, top_bp, distinct_bp,
      |  r_len, r_mwl, r_stop, r_rep, r_div,
      |  CAST(CASE WHEN r_len = 1 AND r_mwl = 1 AND r_stop = 1 AND r_rep = 1
      |    AND r_div = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM g ORDER BY doc_id""".stripMargin

  /** C54's five-stage pipeline as ORDERED intermediate frames — ONE
    * definition shared by the pipeline query (last frame) and C73's
    * per-stage waterfall, so the audited stages are the shipped stages.
    * Every frame is the slim projection (text dropped at f0/base); see
    * the C54 query scaladoc for the per-stage scale reasoning.
    */
  private[queries] def curateWebFrames(
      s: SparkSession, dir: String): Seq[(String, DataFrame)] =
    curateWebFrames(s, dir, materialize = false)

  /** r13 OPT (guide §2.4): with `materialize` on, each stage frame
    * checkpoints progressively — the ablation consumer aggregates ALL
    * SIX staged frames, and stage k's lazy plan re-ran stages 1..k−1
    * (an O(stages²) replay of the base projection's per-doc sha2 +
    * the cap/reputation windows). Single-stage consumers (C54 reads
    * only the last frame, D24 streams) keep the lazy chain — for one
    * pass the ckpt barriers are pure overhead.
    */
  private[queries] def curateWebFrames(
      s: SparkSession, dir: String,
      materialize: Boolean): Seq[(String, DataFrame)] = {
    val sess = s
    import sess.implicits._
    def m(df: DataFrame): DataFrame =
      if (materialize) Pinned.track(df.localCheckpoint(true)) else df
    // ONE text-bearing projection: every downstream row is slim
    val base = m(docs(s, dir).select(
        Seq(col("doc_id"), col("lang"), col("n_chars"), domainCol.as("domain")) ++
          Curation.counts :+ Curation.normDigest.as("h"): _*)
      .withColumn("qbp", Curation.qualityBp))
    val f = m(base.join(broadcast(BlockedDomains.toDF("domain")),
      Seq("domain"), "left_anti"))
    val overB = Dedup.adaptiveBuild(
      f.groupBy(col("domain")).agg(count(lit(1)).as("n"))
        .where(col("n") > DomainCap).select(col("domain")))
    val capped = f.join(overB, Seq("domain"), "left_semi")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("domain")).orderBy(col("doc_id"))))
      .where(col("rk") <= DomainCap).drop("rk")
    val v1 = m(f.join(overB, Seq("domain"), "left_anti").unionAll(capped))
    // reputation judged on the RAW corpus (pre-filter, as RefinedWeb
    // does) — its keep-set joins back size-adaptively like any sliver
    val repKeep = Dedup.adaptiveBuild(
      domainReputation(docs(s, dir))
        .where(col("verdict") === "keep").select(col("domain")))
    val v2a = m(v1.join(repKeep, Seq("domain"), "left_semi"))
    val v2b = v2a.where(col("qbp") >= 5000)
    val kept = m(v2b.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("h")).orderBy(col("doc_id"))))
      .where(col("rn") === 1))
    Seq("raw" -> base, "blocklist" -> f, "domain_cap" -> v1,
      "reputation" -> v2a, "quality" -> v2b, "dedup" -> kept)
  }

  /** C64's per-lang snapshot statistics over any (lang, text) frame —
    * ONE definition shared by batch C64 and its D28 ingest twin (the
    * stream side runs it as the stateful aggregation).
    */
  private def driftStats(v: DataFrame, n: String, t: String, sq: String): DataFrame =
    Curation.quality(v, col("lang"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as(n), sum(col("n_words").cast("long")).as(t),
        sum(col("quality_bp")).as(sq))

  /** C64's drift arithmetic over the two |langs|-row stat tables. */
  private def driftFinish(q0: DataFrame, q1: DataFrame): DataFrame = {
    val tot = q0.agg(sum(col("t0")).as("tot0"))
      .crossJoin(q1.agg(sum(col("t1")).as("tot1")))
    q0.join(q1, Seq("lang")).crossJoin(broadcast(tot))
      .select(col("lang"), col("n0"), col("n1"),
        expr("t0 * 10000 div tot0").as("share0_bp"),
        expr("t1 * 10000 div tot1").as("share1_bp"),
        expr("t1 * 10000 div tot1 - t0 * 10000 div tot0").as("drift_bp"),
        expr("sq0 div n0").as("mq0"), expr("sq1 div n1").as("mq1"),
        expr("sq1 div n1 - sq0 div n0").as("mq_drift"))
      .withColumn("alert",
        when(abs(col("drift_bp")) >= 12, 1L).otherwise(0L))
      .orderBy(col("lang"))
  }

  private val corpusDriftSql: String =
    s"""WITH v0 AS (
        |  SELECT lang, CASE WHEN doc_id % 11 = 3 THEN text || ' v0' ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 != 4),
        |v1 AS (SELECT lang, text FROM documents WHERE doc_id % 7 != 2),
        |q0 AS (SELECT lang, count(*) AS n0,
        |         CAST(sum(n_words) AS BIGINT) AS t0, CAST(sum(quality_bp) AS BIGINT) AS sq0
        |       FROM (${Curation.qualitySql("lang", "v0")}) GROUP BY lang),
        |q1 AS (SELECT lang, count(*) AS n1,
        |         CAST(sum(n_words) AS BIGINT) AS t1, CAST(sum(quality_bp) AS BIGINT) AS sq1
        |       FROM (${Curation.qualitySql("lang", "v1")}) GROUP BY lang),
        |t AS (SELECT (SELECT CAST(sum(t0) AS BIGINT) FROM q0) AS tot0,
        |             (SELECT CAST(sum(t1) AS BIGINT) FROM q1) AS tot1),
        |r AS (SELECT q0.lang, q0.n0, q1.n1,
        |        t0 * 10000 // tot0 AS share0_bp, t1 * 10000 // tot1 AS share1_bp,
        |        t1 * 10000 // tot1 - t0 * 10000 // tot0 AS drift_bp,
        |        sq0 // n0 AS mq0, sq1 // n1 AS mq1, sq1 // n1 - sq0 // n0 AS mq_drift
        |      FROM q0 JOIN q1 USING (lang) CROSS JOIN t)
        |SELECT lang, n0, n1, share0_bp, share1_bp, drift_bp, mq0, mq1, mq_drift,
        |  CAST(CASE WHEN abs(drift_bp) >= 12 THEN 1 ELSE 0 END AS BIGINT) AS alert
        |FROM r ORDER BY lang""".stripMargin

  val all: Seq[Q] = Seq(

    // C9: n-gram/stopword-heuristic language ID — marker hits per
    // language, argmax with deterministic tie order (en,fr,de,es), 'und'
    // when nothing matches.
    Q("text_langid", langidSql) { (s, dir) =>
      langidFrame(docs(s, dir)).orderBy(col("doc_id"))
    },

    // D26 (r9): C9 at INGEST — language ROUTING as documents land, the
    // first stage every multilingual crawl pipeline runs (CCNet routes
    // by fastText langid at ingest; per-language processing forks from
    // there). Stateless per-row projection sharing langidFrame verbatim
    // with batch C9 AND the C47 distillation teacher — the routing
    // rule, the gate rule, and the model's teacher are one definition.
    // Same oracle as batch C9 (driver-checked parity), append mode.
    Q("text_langid_stream", langidSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append)(
          langidFrame(Events.streamOf(s, dir, "documents")))
        .orderBy(col("doc_id"))
    },

    // C71 (r9): langid CONFUSION matrix — the router-validation table
    // read before trusting C9/D26's routing (and the sanity check on
    // C47's distilled model's teacher): predicted vs STORED language,
    // counts and per-true-lang share in bp. Shares langidFrame verbatim
    // with C9/D26/C47 (the `keep` passthrough carries the stored label
    // through the prediction projection — no corpus re-join). Integer
    // ⇒ hash-gated.
    // 100 TB shape: ONE corpus scan into a |langs × preds| partial agg;
    // the per-lang total is a window over that bounded table, never a
    // second scan.
    Q("text_lang_confusion", {
      val hitSql = markers.map { case (l, ws) =>
        s"len(list_filter(string_split(text, ' '), w -> w IN (${ws.map("'" + _ + "'").mkString(",")}))) AS ${l}_hits"
      }.mkString(",\n  ")
      s"""WITH h AS (SELECT doc_id, lang,
        |  $hitSql
        |FROM documents),
        |p AS (SELECT lang,
        |  CASE
        |    WHEN en_hits = 0 AND fr_hits = 0 AND de_hits = 0 AND es_hits = 0 THEN 'und'
        |    WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits >= es_hits THEN 'en'
        |    WHEN fr_hits >= de_hits AND fr_hits >= es_hits THEN 'fr'
        |    WHEN de_hits >= es_hits THEN 'de'
        |    ELSE 'es' END AS pred_lang
        |FROM h),
        |t AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
        |      FROM p GROUP BY lang, pred_lang)
        |SELECT lang, pred_lang, n,
        |  n * 10000 // CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS share_bp
        |FROM t ORDER BY lang, pred_lang""".stripMargin
    }) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
      langidFrame(docs(s, dir), Seq("lang"))
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("n * 10000").cast("long").as("n10k"),
          sum(col("n")).over(w).as("tot"))
        .select(col("lang"), col("pred_lang"), col("n"),
          expr("n10k div tot").as("share_bp"))
        .orderBy(col("lang"), col("pred_lang"))
    },

    // C10: quality score — length, word-length, stopword ratio, repetition
    // (distinct/total words), folded into one bounded score.
    Q("text_quality",
      s"""SELECT doc_id, n_chars_m AS n_chars, n_words,
        |  round((n_chars_m - n_words + 1.0) / n_words, 4) AS avg_word_len,
        |  round(n_stop * 1.0 / n_words, 4) AS stopword_ratio,
        |  round(n_distinct * 1.0 / n_words, 4) AS distinct_ratio, quality_bp
        |FROM (${Curation.qualitySql("doc_id, length(text) AS n_chars_m")})
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      // the composite score is INTEGER basis points with integer division:
      // a double composite rounds differently across engines on boundary
      // rows (observed 18/5000 flips at sf0.1); exact arithmetic can't
      Curation.quality(docs(s, dir), col("doc_id"), length(col("text")).as("n_chars_m"))
        .select(col("doc_id"), col("n_chars_m").as("n_chars"), col("n_words"),
          round((col("n_chars_m") - col("n_words") + 1.0d) / col("n_words"), 4).as("avg_word_len"),
          round(col("n_stop") * 1.0d / col("n_words"), 4).as("stopword_ratio"),
          round(col("n_distinct") * 1.0d / col("n_words"), 4).as("distinct_ratio"),
          col("quality_bp"))
        .orderBy(col("doc_id"))
    },

    // C60 (r9): the Gopher rule suite (Rae et al. 2021, App. A) — the
    // published keep/drop FILTER battery, distinct from C10's scalar
    // score: five independent rules each emit an auditable flag and the
    // keep decision is their conjunction (the form every production
    // curation pipeline logs, so dropped docs are attributable to a
    // rule). Thresholds are adapted to this corpus's distributions
    // (5%/95% quantiles) so every rule fires both ways at gate scale;
    // the rule STRUCTURE is Gopher's: word-count range, mean-word-
    // length range, stopword floor, max-word-share ceiling (repetition),
    // type-token-ratio floor (diversity). All signals integer-exact
    // (centichars / basis points, integer division) — no float
    // boundary can flip a flag between engines.
    // 100 TB shape: a PURE PROJECTION over (doc_id, text) — zero
    // shuffles except the presentation sort; the per-doc top-word scan
    // is O(distinct x n) inside codegen, bounded by doc length, and
    // never touches an exploded token stream.
    Q("text_gopher_rules", gopherSql) { (s, dir) =>
      gopherFrame(docs(s, dir)).orderBy(col("doc_id"))
    },

    // D27 (r9): C60 at INGEST — the keep/drop filter battery applied as
    // documents land (the admission judgment of a crawl pipeline runs
    // at ingest; batch C60 is the audit/replay form). Stateless per-row
    // projection sharing gopherFrame verbatim with batch C60 and C66's
    // ablation — SAME oracle as C60, append mode, no state store.
    Q("text_gopher_rules_stream", gopherSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append)(
          gopherFrame(Events.streamOf(s, dir, "documents")))
        .orderBy(col("doc_id"))
    },

    // C66 (r9): filter ABLATION report — the attribution matrix dataset
    // papers publish for a rule battery: per rule, how many docs it
    // flags, how many it flags ALONE (its marginal value — rules with
    // zero alone-count are redundant given the rest), and the token
    // mass it touches; plus the 'any' row (union of the battery).
    // Shares gopherFrame with C60/D27 so the audited rules are the
    // shipped rules BY CONSTRUCTION. All counts integer ⇒ hash-gated.
    // 100 TB shape: one pure-projection corpus scan into ONE partial
    // aggregate (every sum map-side combinable) ⇒ a single 1-row
    // exchange, then a 6-row stack on the driver side of the agg; no
    // join, no token explode, text never leaves the scan.
    Q("pipeline_filter_ablation",
      s"""$gopherCtes,
        |n AS (SELECT g.*,
        |  5 - r_len - r_mwl - r_stop - r_rep - r_div AS nf FROM g),
        |a AS (SELECT
        |  CAST(sum(1 - r_len) AS BIGINT) AS f_len,
        |  CAST(sum(CASE WHEN r_len = 0 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_len,
        |  CAST(sum(n_words * (1 - r_len)) AS BIGINT) AS t_len,
        |  CAST(sum(1 - r_mwl) AS BIGINT) AS f_mwl,
        |  CAST(sum(CASE WHEN r_mwl = 0 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_mwl,
        |  CAST(sum(n_words * (1 - r_mwl)) AS BIGINT) AS t_mwl,
        |  CAST(sum(1 - r_stop) AS BIGINT) AS f_stop,
        |  CAST(sum(CASE WHEN r_stop = 0 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_stop,
        |  CAST(sum(n_words * (1 - r_stop)) AS BIGINT) AS t_stop,
        |  CAST(sum(1 - r_rep) AS BIGINT) AS f_rep,
        |  CAST(sum(CASE WHEN r_rep = 0 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_rep,
        |  CAST(sum(n_words * (1 - r_rep)) AS BIGINT) AS t_rep,
        |  CAST(sum(1 - r_div) AS BIGINT) AS f_div,
        |  CAST(sum(CASE WHEN r_div = 0 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_div,
        |  CAST(sum(n_words * (1 - r_div)) AS BIGINT) AS t_div,
        |  CAST(sum(CASE WHEN nf >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS f_any,
        |  CAST(sum(CASE WHEN nf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a_any,
        |  CAST(sum(CASE WHEN nf >= 1 THEN n_words ELSE 0 END) AS BIGINT) AS t_any
        |FROM n)
        |SELECT 'any' AS rule, f_any AS n_flagged, a_any AS n_flagged_alone, t_any AS tokens_flagged FROM a
        |UNION ALL SELECT 'diversity', f_div, a_div, t_div FROM a
        |UNION ALL SELECT 'length', f_len, a_len, t_len FROM a
        |UNION ALL SELECT 'mean_word_len', f_mwl, a_mwl, t_mwl FROM a
        |UNION ALL SELECT 'repetition', f_rep, a_rep, t_rep FROM a
        |UNION ALL SELECT 'stopwords', f_stop, a_stop, t_stop FROM a
        |ORDER BY rule""".stripMargin) { (s, dir) =>
      val g = gopherFrame(docs(s, dir)).withColumn("nf",
        lit(5L) - col("r_len") - col("r_mwl") - col("r_stop") - col("r_rep") - col("r_div"))
      val aggs = Seq("len", "mwl", "stop", "rep", "div").flatMap { k =>
        Seq(sum(lit(1L) - col(s"r_$k")).as(s"f_$k"),
          sum(when(col(s"r_$k") === 0L && col("nf") === 1L, 1L).otherwise(0L)).as(s"a_$k"),
          sum(col("n_words") * (lit(1L) - col(s"r_$k"))).as(s"t_$k"))
      } ++ Seq(
        sum(when(col("nf") >= 1L, 1L).otherwise(0L)).as("f_any"),
        sum(when(col("nf") === 1L, 1L).otherwise(0L)).as("a_any"),
        sum(when(col("nf") >= 1L, col("n_words")).otherwise(0L)).as("t_any"))
      g.agg(aggs.head, aggs.tail: _*)
        .select(expr("stack(6, " +
          "'any', f_any, a_any, t_any, " +
          "'diversity', f_div, a_div, t_div, " +
          "'length', f_len, a_len, t_len, " +
          "'mean_word_len', f_mwl, a_mwl, t_mwl, " +
          "'repetition', f_rep, a_rep, t_rep, " +
          "'stopwords', f_stop, a_stop, t_stop) " +
          "AS (rule, n_flagged, n_flagged_alone, tokens_flagged)"))
        .orderBy(col("rule"))
    },

    // C65 (r9): URL-level dedup — the stage crawl pipelines run BEFORE
    // any content dedup (re-fetches of one URL are exact dups that are
    // cheaper to kill on a 40-byte string than on the document body):
    // canonicalize the messy fetch URL (lowercase; strip fragment,
    // scheme, www., port, trailing slash, and TRACKING params while
    // KEEPING real params — see canonicalUrlCol), then keep-first per
    // canonical identity. Emits url + canon per doc so the whole
    // canonicalizer sits under the hash gate, not just the verdict.
    // 100 TB shape: canonicalization is a pure projection; the only
    // exchange is the keep-first window keyed on the slim canon string
    // (~40 B; production would key on its 16 B hash) — the text column
    // never moves, and the window state per key is one running min.
    Q("text_url_dedup",
      s"""WITH u AS (SELECT doc_id, ($messyUrlSql) AS url FROM documents),
        |$urlCanonCtes
        |SELECT doc_id, url, canon,
        |  CAST(CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon)
        |    THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM c4 ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val W = org.apache.spark.sql.expressions.Window.partitionBy(col("canon"))
      docs(s, dir)
        .select(col("doc_id"), messyUrlCol.as("url"))
        .withColumn("canon", canonicalUrlCol(col("url")))
        .select(col("doc_id"), col("url"), col("canon"),
          when(col("doc_id") === min(col("doc_id")).over(W), 1L).otherwise(0L).as("keep"))
        .orderBy(col("doc_id"))
    },

    // C67 (r9): quality threshold SWEEP — the calibration table read
    // before picking any quality cutoff (C18's 5000, C63's budget): for
    // every 500-bp quality bucket boundary, how many docs and tokens a
    // `qbp >= t` filter would keep, as counts and basis points. C63
    // answers "what cutoff fits my budget"; this answers "what does
    // each candidate cutoff cost" across the whole grid in ONE pass.
    // All integer ⇒ hash-gated.
    // 100 TB shape: one corpus scan into a ≤ ~dozen-row bucket partial
    // agg; the descending running sum runs on that bounded table (the
    // single-partition window is over buckets, never rows) and totals
    // ride a 1-row broadcast.
    Q("text_quality_sweep",
      s"""WITH f AS (
        |  SELECT CAST(n_words AS BIGINT) AS n_words, quality_bp AS qbp
        |  FROM (${Curation.qualitySql("doc_id")})),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
        |             CAST(sum(n_words) AS BIGINT) AS t_all FROM f),
        |b AS (SELECT (qbp // 500) * 500 AS bucket, count(*) AS n,
        |             CAST(sum(n_words) AS BIGINT) AS tok FROM f GROUP BY 1),
        |c AS (SELECT bucket,
        |  CAST(sum(n) OVER (ORDER BY bucket DESC) AS BIGINT) AS n_keep,
        |  CAST(sum(tok) OVER (ORDER BY bucket DESC) AS BIGINT) AS tok_keep FROM b)
        |SELECT bucket AS threshold_bp, n_keep, tok_keep,
        |  n_keep * 10000 // n_all AS keep_bp,
        |  tok_keep * 10000 // t_all AS token_keep_bp
        |FROM c CROSS JOIN t ORDER BY threshold_bp""".stripMargin) { (s, dir) =>
      val f = Curation.quality(docs(s, dir))
        .select(col("n_words").cast("long").as("n_words"), col("quality_bp").as("qbp"))
      val t = f.agg(count(lit(1)).as("n_all"), sum(col("n_words")).as("t_all"))
      val b = f.groupBy((expr("qbp div 500") * 500).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("n_words")).as("tok"))
      val W = org.apache.spark.sql.expressions.Window.orderBy(col("bucket").desc)
      b.withColumn("n_keep", sum(col("n")).over(W))
        .withColumn("tok_keep", sum(col("tok")).over(W))
        .crossJoin(broadcast(t))
        .select(col("bucket").as("threshold_bp"), col("n_keep"), col("tok_keep"),
          expr("n_keep * 10000 div n_all").as("keep_bp"),
          expr("tok_keep * 10000 div t_all").as("token_keep_bp"))
        .orderBy(col("threshold_bp"))
    },

    // C69 (r9): WINNOWING fingerprints (Schleimer/Wilkerson/Aiken 2003,
    // the MOSS selection rule) — C12's rolling digests fingerprint whole
    // docs; winnowing selects a GUARANTEED-coverage sparse subset of
    // local fingerprints: k=3 word-gram hashes, sliding window w=4,
    // keep each window's minimum (rightmost on ties — encoded as
    // min(h·2²⁰ + (2²⁰−1−p)), which the oracle restates verbatim, so
    // the tie rule itself is hash-gated). Guarantee: any shared run of
    // ≥ k+w−1 = 6 words between two docs shares a fingerprint, at ~2/(w+1)
    // the density of the full gram set — the copy-localization index C37
    // spans can seed matches from. Gram hash = first 8 md5 hex digits
    // (identical in both engines).
    // 100 TB shape: a PURE per-doc projection — the gram hashes, window
    // minima and dedup all run inside one codegen'd HOF chain; the only
    // exchange is the presentation sort, and the emitted index is the
    // sparse fingerprint set, never the gram stream.
    Q("text_winnow_fingerprints",
      """WITH docs_ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 6),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
        |grams AS (SELECT a.doc_id, a.i - 1 AS p,
        |  CAST(concat('0x', substr(md5(a.w || ' ' || b.w || ' ' || c.w), 1, 8)) AS BIGINT) AS h
        |  FROM w a
        |  JOIN w b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |  JOIN w c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |m AS (SELECT doc_id, max(p) AS pmax FROM grams GROUP BY doc_id),
        |js AS (SELECT doc_id, unnest(range(0, pmax - 2)) AS j FROM m),
        |wins AS (SELECT g.doc_id, js.j,
        |  min(g.h * 1048576 + (1048575 - g.p)) AS key
        |  FROM grams g JOIN js ON js.doc_id = g.doc_id
        |    AND g.p BETWEEN js.j AND js.j + 3
        |  GROUP BY g.doc_id, js.j)
        |SELECT DISTINCT doc_id, 1048575 - (key % 1048576) AS pos,
        |  key // 1048576 AS fp
        |FROM wins ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
      val k = 3; val w = 4; val pow = 1048576L
      val hsExpr =
        transform(sequence(lit(0), size(col("ws")) - k), i =>
          conv(substring(md5(concat_ws(" ", slice(col("ws"), i + 1, lit(k)))), 1, 8),
            16, 10).cast("long"))
      // let-bind the gram-hash array as a lambda variable (transform
      // over a 1-element wrapper): referencing a projected column from
      // the window lambdas lets CollapseProject inline the whole md5
      // chain into every element_at — O(m²·w) digests per doc (measured:
      // single-core minutes at sf0.1); the binding keeps it O(m).
      val keysExpr = element_at(
        transform(array(hsExpr), hs =>
          array_distinct(transform(sequence(lit(0), size(hs) - w), j =>
            array_min(transform(sequence(j, j + (w - 1)), p =>
              element_at(hs, p + 1) * pow + (lit(pow - 1) - p)))))), 1)
      docs(s, dir).select(col("doc_id"), words.as("ws"))
        .where(size(col("ws")) >= k + w - 1)
        .select(col("doc_id"), explode(keysExpr).as("key"))
        .select(col("doc_id"),
          (lit(pow - 1) - col("key") % pow).as("pos"),
          expr("key div 1048576").as("fp"))
        .orderBy(col("doc_id"), col("pos"))
    },

    // D29 (r9): C65 at INGEST — crawl-frontier URL dedup as fetches
    // land (the place URL dedup actually runs: admit a page iff its
    // canonical identity is first-seen). ONE stateful aggregation
    // keyed on the slim canon string (state = a single min doc_id per
    // group, the D6 state class); the kept doc's messy url re-derives
    // AFTER the aggregate because the url is a pure function of doc_id
    // — no min_by struct state, the smallest possible store row.
    // Oracle = C65's canonicalization CTEs filtered to the keep set —
    // the admitted frontier is driver-checked against the batch rule.
    Q("text_url_dedup_stream",
      s"""WITH u AS (SELECT doc_id, ($messyUrlSql) AS url FROM documents),
        |$urlCanonCtes,
        |k AS (SELECT doc_id, url, canon,
        |  CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon)
        |    THEN 1 ELSE 0 END AS keep FROM c4)
        |SELECT doc_id, url, canon FROM k WHERE keep = 1
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      Events.runStream(s, OutputMode.Complete) {
        val stream = Events.streamOf(s, dir, "documents")
          .select(col("doc_id"), messyUrlCol.as("url"))
          .withColumn("canon", canonicalUrlCol(col("url")))
        stream.groupBy(col("canon"))
          .agg(min(col("doc_id")).as("doc_id"))
      }
        .select(col("doc_id"), messyUrlCol.as("url"), col("canon"))
        .orderBy(col("doc_id"))
    },

    // C11: token counting — whitespace tokens, regex word tokens, and a
    // BPE-ish subword estimate (ceil(len/4) per word: byte-pair vocab
    // pieces average ~4 chars).
    Q("text_tokens",
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |sub AS (SELECT doc_id, CAST(sum(CAST(ceil(length(w) / 4.0) AS BIGINT)) AS BIGINT) AS subword_est
        |        FROM w GROUP BY doc_id)
        |SELECT d.doc_id,
        |  len(string_split(d.text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(d.text, '[a-z0-9]+')) AS re_tokens,
        |  s.subword_est
        |FROM documents d JOIN sub s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(words).as("ws_tokens"),
        size(regexp_extract_all(col("text"), lit("[a-z0-9]+"), lit(0))).as("re_tokens"),
        aggregate(words, lit(0L),
          (acc, w) => acc + ceil(length(w) / 4.0d).cast("long")).as("subword_est"))
        .orderBy(col("doc_id"))
    },

    // Exact interpolated percentiles per group (distribution profiling —
    // the length-cutoff calibration step of a filtering pipeline).
    Q("text_length_percentiles",
      """SELECT lang,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .agg(round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90"))
        .orderBy(col("lang"))
    },

    // C12b-scale: the SKETCH form of the percentiles — exact
    // percentile() buffers every value of a group on one reducer, which
    // is exactly what cannot happen at 100 TB; approx_percentile is a
    // mergeable bounded-memory quantile summary (map-side partials, rank
    // error <= 1/accuracy). Rows-only for the driver (DuckDB's
    // approx_quantile is a different sketch), but
    // inv_approx_percentile_rank drives the rank-error guarantee through
    // the gate: count(< v)/n <= q + tol AND count(<= v)/n >= q - tol,
    // the discrete-quantile sandwich that holds for any correct
    // implementation regardless of duplicate mass.
    Q.noOracle("text_length_percentiles_approx") { (s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .agg(expr("approx_percentile(n_chars, array(0.5D, 0.9D), 1000)").as("ps"))
        .select(col("lang"),
          col("ps").getItem(0).cast("double").as("p50"),
          col("ps").getItem(1).cast("double").as("p90"))
        .orderBy(col("lang"))
    },

    // Vocabulary build: global word counts, top-20 by (count desc, word).
    // The first step of any tokenizer/vocab pipeline; one explode + one
    // partial-aggregated groupBy at any scale.
    Q("text_vocab_topk",
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |c AS (SELECT word, count(*) AS cnt FROM w GROUP BY word)
        |SELECT word, cnt FROM c
        |ORDER BY cnt DESC, word LIMIT 20""".stripMargin) { (s, dir) =>
      docs(s, dir).select(explode(words).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(20)
    },

    // RETRIEVAL: per-term top-k document search — the probe shape of
    // decontamination/quality audits (search the corpus for each probe
    // term, inspect the top hits). Probe set = the 20 rarest terms with
    // df >= 3 (deterministic: df asc, term asc). Scoring is C27's
    // integer milli-idf (tf * ((N*1000) div df)) — cross-engine exact,
    // no libm. SCALE SHAPE: the probe set is driver-bounded (20 rows)
    // and BROADCASTS into the tf table, so only the probed terms'
    // posting lists ever move — the corpus itself never re-shuffles for
    // a query batch, exactly how a probe-retrieval runs at 100 TB.
    Q("text_search_topk",
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM w WHERE t <> '' GROUP BY doc_id, t),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |n AS (SELECT count(*) AS n FROM documents),
        |probe AS (SELECT t, df FROM df WHERE df >= 3 ORDER BY df ASC, t ASC LIMIT 20),
        |scored AS (
        |  SELECT tf.t, tf.doc_id,
        |         CAST(tf.tf * ((n.n * 1000) // probe.df) AS BIGINT) AS score
        |  FROM tf JOIN probe ON probe.t = tf.t CROSS JOIN n),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY t ORDER BY score DESC, doc_id) AS rnk
        |       FROM scored)
        |SELECT t AS term, rnk AS rank, doc_id, score FROM rk WHERE rnk <= 5
        |ORDER BY term, rank""".stripMargin) { (s, dir) =>
      val w = docs(s, dir).select(col("doc_id"), explode(words).as("t"))
        .where(col("t") =!= "")
      val tf = w.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      // count(when(tf > 0, 1)), NOT count(*): a df that doesn't
      // reference tf's aggregate output lets RemoveRedundantAggregates
      // collapse the tf aggregate into a distinct over the RAW token
      // stream — a structurally different subtree that defeats tf's
      // exchange reuse and re-tokenizes the corpus (the r7 lm_kn
      // lesson). A bare count(tf) doesn't survive either: count's
      // output is non-nullable, so count(tf) rewrites to count(*) and
      // prunes anyway. tf > 0 always holds (counts of non-empty
      // groups), but the optimizer can't prove it — the predicate
      // anchors the df derivation to the ONE tokenize+aggregate pass.
      val dfT = tf.groupBy(col("t"))
        .agg(count(when(col("tf") > 0, lit(1))).as("df"))
      // N stays IN the plan (1-row broadcast, like the oracle's CTE) — an
      // eager .count() here would full-scan documents once per builder
      // call, outside the timed job
      val nDf = docs(s, dir).agg(count(lit(1)).as("n"))
      val probe = dfT.where(col("df") >= 3)
        .orderBy(col("df").asc, col("t").asc).limit(20)
      val scored = tf.join(broadcast(probe), Seq("t"))
        .crossJoin(broadcast(nDf))
        .select(col("t"), col("doc_id"),
          (col("tf") * expr("(n * 1000) div df")).cast("long").as("score"))
      scored.withColumn("rank",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("t")).orderBy(col("score").desc, col("doc_id"))))
        .where(col("rank") <= 5)
        .select(col("t").as("term"), col("rank"), col("doc_id"), col("score"))
        .orderBy(col("term"), col("rank"))
    },

    // C35b: BM25 retrieval over the SAME probe set as C35 — the scoring
    // function production search actually ships (Robertson/Sparck Jones;
    // Lucene/Elasticsearch default), with document-length normalization
    // C35's raw tf*idf lacks: long documents stop winning on tf alone.
    // INTEGER-EXACT rational form, k1 = 6/5, b = 3/4:
    //   tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))
    //     = 22*tf*avgdl / (10*avgdl*tf + 3*avgdl + 9*dl)
    // (both sides scaled by 10*avgdl; avgdl = total_tokens div n_docs,
    // an integer by contract). score_milli = C35's milli-idf times that
    // ratio, multiplied in decimal(38,0)/HUGEINT — at 100 TB idf_milli
    // alone reaches ~1e15 and the product would overflow BIGINT — then
    // one integer div, so both engines emit the identical integer.
    // SCALE SHAPE: the probe set (20 driver-bounded rare terms)
    // broadcasts into tf, and the resulting posting sliver — bounded by
    // the probes' document frequency, tiny BY CONSTRUCTION (probes are
    // the df-ascending rarest terms) — broadcasts into the corpus-wide
    // doc-length table, so dl never shuffles. dl itself is a per-row
    // PROJECTION (each doc's tokens live in one row — size(filter(..)),
    // never an aggregation of the exploded stream), so the whole query
    // is the tf/df index build plus one scan-speed dl pass with
    // broadcast joins — no join in the plan ever sort-merges
    // (Bm25Spec pins this). A probe set of FREQUENT terms would outgrow
    // the postings broadcast — drop the hint and let the
    // (doc_id)-keyed shuffle join carry it.
    Q("text_search_bm25",
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM w WHERE t <> '' GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
        |       FROM documents),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |n AS (SELECT count(*) AS n FROM documents),
        |ad AS (SELECT CAST(sum(dl) AS BIGINT) // count(*) AS avgdl FROM dl),
        |probe AS (SELECT t, df FROM df WHERE df >= 3 ORDER BY df ASC, t ASC LIMIT 20),
        |scored AS (
        |  SELECT tf.t, tf.doc_id,
        |         CAST((CAST((n.n * 1000) // probe.df AS HUGEINT)
        |               * (22 * tf.tf * ad.avgdl))
        |              // (10 * ad.avgdl * tf.tf + 3 * ad.avgdl + 9 * dl.dl)
        |              AS BIGINT) AS score
        |  FROM tf JOIN probe ON probe.t = tf.t
        |          JOIN dl ON dl.doc_id = tf.doc_id
        |          CROSS JOIN n CROSS JOIN ad),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY t ORDER BY score DESC, doc_id) AS rnk
        |       FROM scored)
        |SELECT t AS term, rnk AS rank, doc_id, score FROM rk WHERE rnk <= 5
        |ORDER BY term, rank""".stripMargin) { (s, dir) =>
      // the doc_id isNotNull guard drops nothing (parquet key) — it
      // exists so the dl join's inferred isnotnull(doc_id) constraint
      // doesn't make the postings-side tf subtree structurally different
      // from the df-side one and defeat tf's exchange reuse (the
      // bigramCounts lesson)
      val w = docs(s, dir).select(col("doc_id"), explode(words).as("t"))
        .where(col("t") =!= "" && col("doc_id").isNotNull)
      val tf = w.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      // doc length is a per-row PROJECTION (each doc's tokens live in one
      // row) — never an aggregation of the exploded stream: zero shuffle
      val dl = docs(s, dir).select(col("doc_id"),
        size(filter(words, t => t =!= "")).cast("long").as("dl"))
      // count(when(tf > 0, 1)) anchors df to tf's exchange (C35
      // comment): the corpus tokenizes ONCE for the whole index build —
      // Bm25Spec pins it
      val dfT = tf.groupBy(col("t"))
        .agg(count(when(col("tf") > 0, lit(1))).as("df"))
      val nDf = docs(s, dir).agg(count(lit(1)).as("n"))
      val adDf = dl.agg(expr("CAST(sum(dl) AS BIGINT) div count(*)").as("avgdl"))
      val probe = dfT.where(col("df") >= 3)
        .orderBy(col("df").asc, col("t").asc).limit(20)
      val postings = tf.join(broadcast(probe), Seq("t"))
      val scored = broadcast(postings)
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(nDf)).crossJoin(broadcast(adDf))
        .select(col("t"), col("doc_id"),
          expr("""CAST((CAST((n * 1000) div df AS DECIMAL(38,0))
                 |      * (22 * tf * avgdl))
                 |     div (10 * avgdl * tf + 3 * avgdl + 9 * dl)
                 |     AS BIGINT)""".stripMargin).as("score"))
      scored.withColumn("rank",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("t")).orderBy(col("score").desc, col("doc_id"))))
        .where(col("rank") <= 5)
        .select(col("t").as("term"), col("rank"), col("doc_id"), col("score"))
        .orderBy(col("term"), col("rank"))
    },

    // C50 (r9): HYBRID retrieval — reciprocal-rank fusion of the C35
    // milli-idf ranker and the C35b BM25 ranker over the SAME probe set
    // (the fusion production search ships for lexical+semantic hybrids;
    // Cormack/Clarke/Buettcher RRF, the Elasticsearch/Vespa default).
    // INTEGER-EXACT: contribution = 1_000_000 div (60 + rank) — ranks
    // are integers, so both engines emit the identical fused score with
    // no float anywhere. Fusion is a UNION + groupBy-SUM, not a join:
    // associative and map-side-combinable, so it extends to any number
    // of rankers with one aggregation and never sort-merges. SCALE
    // SHAPE: both rankers share ONE tf/df index build (the tf exchange
    // reuses — RrfSpec pins one tokenize pass like Bm25Spec), each
    // ranker's pool is top-20 per probe term (bounded BY CONSTRUCTION:
    // 20 terms x 20 docs per ranker regardless of corpus size), so the
    // fusion stage touches at most 800 rows at 100 TB — index-build
    // cost is the whole query, exactly as hybrid retrieval behaves in
    // production.
    Q("text_search_rrf",
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, count(*) AS tf FROM w WHERE t <> '' GROUP BY doc_id, t),
        |dl AS (SELECT doc_id, len(list_filter(string_split(text, ' '), x -> x <> '')) AS dl
        |       FROM documents),
        |df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
        |n AS (SELECT count(*) AS n FROM documents),
        |ad AS (SELECT CAST(sum(dl) AS BIGINT) // count(*) AS avgdl FROM dl),
        |probe AS (SELECT t, df FROM df WHERE df >= 3 ORDER BY df ASC, t ASC LIMIT 20),
        |sa AS (
        |  SELECT tf.t, tf.doc_id,
        |         CAST(tf.tf * ((n.n * 1000) // probe.df) AS BIGINT) AS s
        |  FROM tf JOIN probe ON probe.t = tf.t CROSS JOIN n),
        |ra AS (SELECT t, doc_id,
        |         row_number() OVER (PARTITION BY t ORDER BY s DESC, doc_id) AS r
        |       FROM sa),
        |sb AS (
        |  SELECT tf.t, tf.doc_id,
        |         CAST((CAST((n.n * 1000) // probe.df AS HUGEINT)
        |               * (22 * tf.tf * ad.avgdl))
        |              // (10 * ad.avgdl * tf.tf + 3 * ad.avgdl + 9 * dl.dl)
        |              AS BIGINT) AS s
        |  FROM tf JOIN probe ON probe.t = tf.t
        |          JOIN dl ON dl.doc_id = tf.doc_id
        |          CROSS JOIN n CROSS JOIN ad),
        |rb AS (SELECT t, doc_id,
        |         row_number() OVER (PARTITION BY t ORDER BY s DESC, doc_id) AS r
        |       FROM sb),
        |c AS (SELECT t, doc_id, 1000000 // (60 + r) AS c FROM ra WHERE r <= 20
        |      UNION ALL
        |      SELECT t, doc_id, 1000000 // (60 + r) AS c FROM rb WHERE r <= 20),
        |f AS (SELECT t, doc_id, CAST(sum(c) AS BIGINT) AS rrf FROM c GROUP BY t, doc_id),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY t ORDER BY rrf DESC, doc_id) AS rnk
        |       FROM f)
        |SELECT t AS term, rnk AS rank, doc_id, rrf FROM rk WHERE rnk <= 5
        |ORDER BY term, rank""".stripMargin) { (s, dir) =>
      val w = docs(s, dir).select(col("doc_id"), explode(words).as("t"))
        .where(col("t") =!= "" && col("doc_id").isNotNull)
      val tf = w.groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val dl = docs(s, dir).select(col("doc_id"),
        size(filter(words, t => t =!= "")).cast("long").as("dl"))
      // count(when(tf > 0, 1)) anchors df to tf's exchange (the C35
      // discipline): one tokenize pass feeds both rankers
      val dfT = tf.groupBy(col("t"))
        .agg(count(when(col("tf") > 0, lit(1))).as("df"))
      val nDf = docs(s, dir).agg(count(lit(1)).as("n"))
      val adDf = dl.agg(expr("CAST(sum(dl) AS BIGINT) div count(*)").as("avgdl"))
      val probe = dfT.where(col("df") >= 3)
        .orderBy(col("df").asc, col("t").asc).limit(20)
      val postings = tf.join(broadcast(probe), Seq("t"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("t")).orderBy(col("s").desc, col("doc_id"))
      // ranker A: C35's milli-idf tf*idf
      val ra = postings.crossJoin(broadcast(nDf))
        .select(col("t"), col("doc_id"),
          (col("tf") * expr("(n * 1000) div df")).cast("long").as("s"))
        .withColumn("r", row_number().over(win)).where(col("r") <= 20)
      // ranker B: C35b's integer BM25 (k1 = 6/5, b = 3/4)
      val rb = broadcast(postings).join(dl, Seq("doc_id"))
        .crossJoin(broadcast(nDf)).crossJoin(broadcast(adDf))
        .select(col("t"), col("doc_id"),
          expr("""CAST((CAST((n * 1000) div df AS DECIMAL(38,0))
                 |      * (22 * tf * avgdl))
                 |     div (10 * avgdl * tf + 3 * avgdl + 9 * dl)
                 |     AS BIGINT)""".stripMargin).as("s"))
        .withColumn("r", row_number().over(win)).where(col("r") <= 20)
      // RRF fold: union + sum, never a join — associative over rankers
      val contrib = (df: DataFrame) =>
        df.select(col("t"), col("doc_id"), expr("1000000 div (60 + r)").as("c"))
      val fused = contrib(ra).unionByName(contrib(rb))
        .groupBy(col("t"), col("doc_id")).agg(sum(col("c")).as("rrf"))
      fused.withColumn("rank",
          org.apache.spark.sql.functions.row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("t")).orderBy(col("rrf").desc, col("doc_id"))))
        .where(col("rank") <= 5)
        .select(col("t").as("term"), col("rank"), col("doc_id"), col("rrf"))
        .orderBy(col("term"), col("rank"))
    },

    // TF-IDF-style term salience, in LOG-FREE rational form so both
    // engines compute identical doubles: score = (tf_in_doc * N_docs) /
    // (doc_len * doc_freq) — same ranking as tf·idf for monotone idf,
    // exact integer numerators/denominators below 2^53. Top term per doc.
    Q("text_top_terms",
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY doc_id, word),
        |dl AS (SELECT doc_id, count(*) AS n_words FROM w GROUP BY doc_id),
        |df AS (SELECT word, count(DISTINCT doc_id) AS dfreq FROM w GROUP BY word),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word,
        |    round((tf.cnt * n.n_docs * 1.0) / (dl.n_words * df.dfreq), 4) AS score
        |  FROM tf JOIN dl ON dl.doc_id = tf.doc_id
        |          JOIN df ON df.word = tf.word CROSS JOIN n),
        |ranked AS (
        |  SELECT doc_id, word, score, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, word) AS rk
        |  FROM scored)
        |SELECT doc_id, word, score FROM ranked WHERE rk = 1
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val w = docs(s, dir).select(col("doc_id"), explode(words).as("word"))
      val tf = w.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("cnt"))
      // dl and df both derive FROM tf (sum of per-term counts = doc
      // length; rows per word = distinct-doc frequency), each anchored
      // to tf's aggregate output so all three tables ride ONE
      // tokenize+aggregate pass (the r7 lm_kn lesson) — the raw stream
      // previously aggregated three separate times. sum(cnt) anchors by
      // itself (nullable aggregate); the count needs the unfoldable
      // predicate (see the C35 comment).
      val dl = tf.groupBy(col("doc_id")).agg(sum(col("cnt")).as("n_words"))
      val df = tf.groupBy(col("word"))
        .agg(count(when(col("cnt") > 0, lit(1))).as("dfreq"))
      val nDocs = docs(s, dir).count() // tiny driver scalar; broadcast as literal
      // df is the full vocabulary — far beyond broadcast limits on a web
      // corpus; `word` keys are uniform enough for a plain shuffle join.
      val scored = tf.join(dl, "doc_id").join(df, "word")
        .select(col("doc_id"), col("word"),
          round((col("cnt") * lit(nDocs) * 1.0d) / (col("n_words") * col("dfreq")), 4).as("score"))
      scored
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("score").desc, col("word"))))
        .where(col("rk") === 1)
        .select(col("doc_id"), col("word"), col("score"))
        .orderBy(col("doc_id"))
    },

    // Deterministic train/val/test split by id hash-mod — reproducible
    // dataset splits without RNG state (the split is a pure function of
    // the row, stable under reshuffling/reprocessing).
    Q("text_data_split",
      s"""SELECT ${Curation.splitSql} AS split,
        |  count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM documents GROUP BY 1 ORDER BY split""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(Curation.split.as("split"), col("n_chars"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("split"))
    },

    // C63 (r9): QUALITY-BUDGET selection — the threshold-calibration
    // operator quality filters actually need: a fixed cutoff (C18's
    // qbp >= 5000) keeps an unpredictable token volume, but training
    // runs are budgeted in TOKENS, so production selection (the
    // FineWeb-Edu "keep the best X%" shape) ORDERS by quality and cuts
    // where the budget fills. Per lang: budget = half the lang's
    // tokens; keep the highest-quality docs (qbp desc, doc_id tie-
    // break — a total order) whose running token sum fits; report the
    // realized cutoff (min kept qbp) — the number a fixed-threshold
    // filter would have needed to guess. Integer ⇒ hash-gated.
    // 100 TB shape: the corpus projects ONCE to slim (lang, doc_id,
    // tokens, qbp) rows; the running sum is a lang-partitioned window
    // over those slim rows (never global, never text-bearing); the
    // per-lang budget table is lang-count rows and broadcasts.
    Q("text_quality_budget_select",
      s"""WITH f AS (
        |  SELECT doc_id, lang, n_words AS tokens, quality_bp AS qbp
        |  FROM (${Curation.qualitySql("doc_id, lang")})),
        |b AS (SELECT lang, CAST(sum(tokens) AS BIGINT) // 2 AS budget FROM f GROUP BY lang),
        |r AS (SELECT f.*, b.budget,
        |        CAST(sum(tokens) OVER (PARTITION BY f.lang
        |          ORDER BY qbp DESC, doc_id) AS BIGINT) AS run
        |      FROM f JOIN b USING (lang))
        |SELECT lang, count(*) AS n_kept, CAST(sum(tokens) AS BIGINT) AS tokens_kept,
        |  any_value(budget) AS budget, CAST(min(qbp) AS BIGINT) AS cutoff_bp
        |FROM r WHERE run <= budget GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      val W = org.apache.spark.sql.expressions.Window
      val f = Curation.quality(docs(s, dir), col("doc_id"), col("lang"))
        .select(col("doc_id"), col("lang"), col("n_words").cast("long").as("tokens"),
          col("quality_bp").as("qbp"))
      val budgets = f.groupBy(col("lang"))
        .agg(expr("CAST(sum(tokens) AS BIGINT) div 2").as("budget"))
      f.join(broadcast(budgets), Seq("lang"))
        .withColumn("run", sum(col("tokens")).over(
          W.partitionBy(col("lang")).orderBy(col("qbp").desc, col("doc_id"))))
        .where(col("run") <= col("budget"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("tokens")).as("tokens_kept"),
          first(col("budget")).as("budget"), min(col("qbp")).as("cutoff_bp"))
        .orderBy(col("lang"))
    },

    // C62 (r9): SPLIT-LEAKAGE report — the C16 split is deterministic
    // but duplicate documents cross it anyway (the same text landing in
    // train AND val/test inflates eval scores — the self-corpus form of
    // C21's benchmark contamination, and the first audit any training
    // run should print). Per eval split: doc count, docs whose
    // normalized exact digest also appears in train, and the leak rate
    // in bp. 100 TB shape: the corpus projects once to slim (split,
    // digest) rows; the train-digest set is NOT a sliver (it is most of
    // the corpus), so the eval side semi-joins it on the digest key —
    // one co-partitioned exchange of 32 B digests, never text, and the
    // final agg is 2 rows. Integer end-to-end ⇒ hash-gated.
    Q("text_split_leakage",
      s"""WITH f AS (
        |  SELECT doc_id, ${Curation.normSql()} AS k,
        |    ${Curation.splitSql} AS split
        |  FROM documents),
        |tr AS (SELECT DISTINCT k FROM f WHERE split = 'train'),
        |ev AS (
        |  SELECT split, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN k IN (SELECT k FROM tr) THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
        |  FROM f WHERE split <> 'train' GROUP BY split)
        |SELECT split, n_docs, n_leaked,
        |  CAST(n_leaked * 10000 // n_docs AS BIGINT) AS leak_bp
        |FROM ev ORDER BY split""".stripMargin) { (s, dir) =>
      val f = docs(s, dir).select(Curation.split.as("split"), Curation.normDigest.as("h"))
      val train = f.where(col("split") === "train").select(col("h")).distinct()
      val ev = f.where(col("split") =!= "train")
      val leaked = ev.join(train, Seq("h"), "left_semi")
        .groupBy(col("split")).agg(count(lit(1)).as("n_leaked"))
      ev.groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
        .join(leaked, Seq("split"), "left_outer")
        .select(col("split"), col("n_docs"),
          coalesce(col("n_leaked"), lit(0L)).as("n_leaked"),
          expr("coalesce(n_leaked, 0) * 10000 div n_docs").as("leak_bp"))
        .orderBy(col("split"))
    },

    // C18: the composed CURATION PIPELINE — the flagship shape of a
    // training-data run: quality-filter → exact-dedup keep-first →
    // deterministic split → per-(split, lang) accounting. One pass of
    // narrow column work, one dedup shuffle on a 32 B fingerprint, one
    // small aggregation — the whole pipeline is 2 shuffles at any scale.
    Q("pipeline_curate", curateSql) { (s, dir) =>
      splitCounts(curateKept(docs(s, dir)))
    },

    // C18b: pipeline_curate with C38's LM score wired in as a filter
    // stage — the CCNet composition (quality heuristics AND an n-gram
    // LM predictability cutoff, then dedup, then split accounting).
    // lm_bp >= 330 rejects the ~10-15% least-predictable documents at
    // every tested scale (sf0.01/sf0.1/sf1 medians all ≈332-344 bp).
    // The cutoff filters the SCORES side before the doc_id equi-join,
    // so the join probe carries only survivors; docs the LM cannot
    // score (< 2 tokens) drop, like CCNet's unscoreable pages. Shuffle
    // budget = curate's two (dedup digest window + final agg) + ONE
    // doc_id join exchange on the corpus side — the lm stage's scores
    // arrive already partitioned by doc_id from their per-doc agg.
    Q("pipeline_curate_lm",
      s"""$lmCtes,
        |lm AS (SELECT doc_id, CAST(CAST(sum(p) AS BIGINT) // count(*) AS BIGINT) AS lm_bp
        |       FROM s GROUP BY doc_id),
        |${curateCtes(" JOIN lm USING (doc_id)", " AND lm.lm_bp >= 330")}
        |$curateSplitSql""".stripMargin) { (s, dir) =>
      val lmKeep = lmScores(s, dir).where(col("lm_bp") >= 330)
        .select(col("doc_id"))
      splitCounts(curateKept(docs(s, dir), Some(lmKeep)))
    },

    // C18e: curate → shuffle → SHARD, the end of the make-training-data
    // story: pipeline_curate decides WHAT survives; this materializes
    // the decision into the artifact a training run actually mounts —
    // the shard manifest over the surviving train split, in the same
    // deterministic md5 order as C23, with C45's two-level distributed
    // prefix sum (shared `shardManifest` core, so the standalone
    // operator and the pipeline composition cannot drift on the
    // assignment rule). Stages restate curate's CTEs verbatim (the
    // C18b pattern); only slim (doc_id, h, tokens) rows enter the
    // manifest — the text column dies at the quality/dedup stages.
    // Shuffle budget: curate's digest window + the manifest's bucket
    // exchange (+ the bounded 256-row cumsum) — the whole pipeline
    // never globally sorts.
    Q("pipeline_curate_shard",
      s"""WITH ${curateCtes()},
        |train AS (SELECT doc_id, n_words AS tok
        |          FROM kept WHERE rn = 1 AND ${Curation.splitSql} = 'train'),
        |${shardManifestSql("train")}""".stripMargin) { (s, dir) =>
      shardManifest(curateKept(docs(s, dir)).where(Curation.split === "train")
        .select(col("doc_id"), Curation.md5Key.as("sh"), col("n_words").cast("long").as("tok")))
    },

    // C83 (r13): the END-TO-END pretraining-data arm — the r12 verdict's
    // #1 gap: every stage existed and every PAIR was gated, but no one
    // query chained them, and composition (whose keep-sets feed whose
    // inputs) is where real pipelines break unobserved. ONE query runs
    // the full nightly chain and emits the per-doc FINAL disposition:
    // benchmark reserve (doc_id % 20 = 0 — the C21/C43 probe split;
    // those docs never train) → quality battery (C18's, < 5000 dies
    // 'quality') → the C68 cascade IN STAGE ORDER over quality
    // survivors (url canon keep-first → exact digest keep-first →
    // neardup CC over the exact τ=0.8 miner — each window scoped to the
    // PREVIOUS stage's survivors, the CascadeSpec discipline) → span
    // decontamination vs the benchmark probe (C43's interval union;
    // fully-covered docs die 'contaminated', others carry clean_tokens)
    // → temperature mixture over the POST-decontamination strata
    // (C42's schedule on clean tokens; zero-copy draws die 'mixture')
    // → shard assignment + pack attribution for the kept set (C45's
    // md5-order token-budget prefix over clean_tokens × copies; shard =
    // pre div 4096, first_block = the C59 concat-and-chunk block the
    // doc's tokens start in). Per-doc output: the stage that killed it
    // or the (shard, first_block) that got it.
    // 100 TB shape: quality is per-row scan work; url/exact are slim
    // key windows (canon strings, 32 B digests — text never moves);
    // the miner is the prefix-filtered exact form (swap in C76's
    // banded miner at raw-crawl scale, the same seam cascadeStages
    // documents); decontamination broadcast-joins the bounded benchmark
    // probe; the mixture schedule is a |strata|-row broadcast; the
    // shard prefix is the C45 two-level scan (no global sort). The
    // final assembly joins slim per-stage verdict columns back on
    // doc_id — each carries one row per doc at most, co-partitioned on
    // the same key.
    Q("pipeline_pretrain_e2e", pretrainE2eSql) { (s, dir) =>
      Dedup.ensureLocalCkptDir(s)
      val d = docs(s, dir)
      val st = pretrainCascade(d)
      val (q, s1, s2, nd) = (st.q, st.s1, st.s2, st.nd)
      val surv3 = st.retained.select(col("doc_id"), col("source"), col("lang"), col("n_words"))
      val (s4, s5, pre) = pretrainTail(d, surv3)
      q.select(col("doc_id"), col("quality_bp"))
        .join(s1.select(col("doc_id"), col("url_keep")), Seq("doc_id"), "left_outer")
        .join(s2.select(col("doc_id"), col("exact_keep")), Seq("doc_id"), "left_outer")
        .join(nd, Seq("doc_id"), "left_outer")
        .join(s4.select(col("doc_id"), col("clean_tokens")), Seq("doc_id"), "left_outer")
        .join(s5.select(col("doc_id"), col("copies")), Seq("doc_id"), "left_outer")
        .join(pre, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("doc_id") % 20 === 0, lit("benchmark"))
            .when(coalesce(col("quality_bp"), lit(0L)) < 5000, lit("quality"))
            .when(!col("url_keep"), lit("url"))
            .when(!col("exact_keep"), lit("exact"))
            .when(col("ndf") === 1, lit("neardup"))
            .when(col("clean_tokens") === 0, lit("contaminated"))
            .when(col("copies") === 0, lit("mixture"))
            .otherwise(lit("kept")).as("stage"),
          col("clean_tokens"), col("copies"), col("shard"), col("first_block"))
        .orderBy(col("doc_id"))
    },

    // C84 (r13): e2e COMPACTION — the nightly fold D36's ingest
    // contract explicitly defers to, completing the pretrain trilogy
    // (C83 full rebuild / D36 ingest / C84 compaction — the three jobs
    // a production pretraining pipeline actually schedules). Every
    // increment doc (doc_id % 7 ∈ {2,4}) gets its FINAL e2e
    // disposition: benchmark reserve → quality battery → the C79
    // two-rung staged cascade with `vs` attribution (corpus membership
    // against the e2e-RETAINED set first, then min-id keep-first
    // WITHIN the increment — `Dedup.compactStagedVerdicts`, the ONE
    // staged-rule implementation shared with C79, fed the retained
    // corpus keys instead of raw corpus keys) → decontamination /
    // mixture / shard RECOMPUTED over the MERGED kept set
    // (corpus-retained ∪ increment-kept) with the UPDATED all-benchmark
    // probe (C83's pretrainTail, shared verbatim). The contract split
    // is the point: RETENTION verdicts freeze (corpus docs are never
    // re-judged — D32/C79's corpus-relative discipline), while
    // DECONTAMINATION is retroactive (a benchmark item that arrived in
    // this increment must scrub already-retained corpus docs too — the
    // FineWeb-style requirement; D36 froze the probe at ingest, this
    // fold is where the update lands) and mixture rates/shard layout
    // re-derive from the merged totals (they are corpus-global
    // quantities, not per-doc verdicts). vs='increment' rows are
    // exactly what D36 admitted provisionally and this fold catches.
    // Output per increment doc: stage, vs (corpus|increment for
    // url/exact/neardup), clean_tokens, copies, (shard, first_block)
    // for the kept. 100 TB shape: all stages inherit their proven
    // per-stage shapes (slim key windows, the C76 banded-miner seam at
    // stage 3, broadcast probe, |strata|-row schedule, two-level shard
    // prefix); corpus docs contribute keys/grams once and their text
    // never re-shuffles.
    Q("pipeline_pretrain_compact", pretrainCompactSql) { (s, dir) =>
      Dedup.ensureLocalCkptDir(s)
      val d = docs(s, dir)
      val isIncr = (col("doc_id") % 7).isin(2L, 4L)
      // r13 OPT (guide §2.4/§2.6): the increment battery (iq) feeds the
      // verdict stages, the kept set AND the assembly spine; the
      // verdict frame feeds the kept set and the assembly; the merged
      // survivor set is read twice by the tail. One ckpt each (slim
      // rows) — before, each branch re-ran the increment quality pass
      // and the staged-verdict joins. iq is independent of the corpus
      // cascade, so its materialization job overlaps it (§2.6; r14:
      // on the BOUNDED MatPool, VERDICT #6).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import MatPool.ec
      val fIq = Future(Pinned.fat(pretrainQuality(d.where(isIncr))))
      val stages = pretrainCascade(d.where(!isIncr))
      val retained = stages.retained
      val iq = Await.result(fIq, Duration.Inf)
      val iPass = iq.where(col("doc_id") % 20 =!= 0 && col("quality_bp") >= 5000)
      val ik = iPass.select(col("doc_id"),
        canonicalUrlCol(messyUrlCol).as("canon"),
        Curation.normDigest.as("h"))
      // r14 OPT (VERDICT #1, guide §2.4): the verdict miner's input is
      // retained-text ∪ increment stage-2 survivors
      // (compactStagedVerdicts' construction; the two sides partition
      // exactly on the doc_id % 7 increment coin). The retained side's
      // gram sets are the cascade's materialized gsets MINUS its
      // near-dup losers (retained = surv2 ∖ nd), so ONLY the increment
      // side runs the gram kernel here; nd is the post-verification
      // near-dup loser set, so when CC's small-graph path bounded it the
      // anti join broadcasts instead of shuffling gram arrays.
      // Each miner still builds its own df-count/prefix sliver: the
      // prefix filter's global gram df differs between the two inputs.
      val compactMiner: DataFrame => DataFrame = { mi =>
        // only the INCREMENT side materializes (2/7-scale) — the corpus
        // side stays a LAZY broadcast-anti-join over the cascade's
        // already-materialized gsets blocks, so no corpus-scale gram
        // bytes are ever re-serialized for the second miner (the lazy
        // union re-reads the pinned blocks per consumer, which measures
        // cheaper than writing the union once)
        val incrGs = Pinned.fat(Dedup.gramSets(
          mi.where((col("doc_id") % 7).isin(2L, 4L))))
        val gs = stages.withoutLosers(stages.gsets).unionByName(incrGs)
        Dedup.ngramJaccardPairsOnGsets(gs, 4, 5)
      }
      val verdicts = Pinned.track(Dedup.compactStagedVerdicts(s,
        retained.select(col("canon"), col("h")), ik,
        retained.select(col("doc_id"), col("text")),
        iPass.select(col("doc_id"), col("text")),
        compactMiner).localCheckpoint(true))
      val iKept = iPass.select(col("doc_id"), col("source"), col("lang"), col("n_words"))
        .join(verdicts.where(col("stage") === "kept").select(col("doc_id")),
          Seq("doc_id"), "left_semi")
      val merged = Pinned.track(retained
        .select(col("doc_id"), col("source"), col("lang"), col("n_words"))
        .unionByName(iKept).localCheckpoint(true))
      val (s4, s5, pre) = pretrainTail(d, merged)
      iq.select(col("doc_id"), col("quality_bp"))
        .join(verdicts, Seq("doc_id"), "left_outer")
        .join(s4.select(col("doc_id"), col("clean_tokens")), Seq("doc_id"), "left_outer")
        .join(s5.select(col("doc_id"), col("copies")), Seq("doc_id"), "left_outer")
        .join(pre, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          when(col("doc_id") % 20 === 0, lit("benchmark"))
            .when(col("quality_bp") < 5000, lit("quality"))
            .when(col("stage").isin("url", "exact", "neardup"), col("stage"))
            .when(col("clean_tokens") === 0, lit("contaminated"))
            .when(col("copies") === 0, lit("mixture"))
            .otherwise(lit("kept")).as("stage"),
          col("vs"), col("clean_tokens"), col("copies"),
          col("shard"), col("first_block"))
        .orderBy(col("doc_id"))
    },

    // Cross-arm gate for D36 ↔ C84 (r13): the ingest/compaction
    // COHERENCE contract — ingest admits provisionally, compaction
    // only TIGHTENS. Every doc D36 drops must also be dropped by C84:
    // benchmark/quality are the identical per-row rules; url/exact
    // probe the same retained membership (corpus rung checked before
    // the within-increment rung in both CASE folds); the banded
    // ingest miner's candidates are a subset of the compact fold's
    // exact miner at the same τ (the C76 soundness theorem); and the
    // frozen ingest probe is a subset of the updated compaction probe,
    // so ingest-contaminated ⇒ compaction clean_tokens = 0. The
    // reverse direction is legitimately open — within-increment
    // keep-first, probe updates, and the mixture stage all let C84
    // drop MORE; that asymmetry IS the deployment contract. A
    // violation row = a doc the ingest pass dropped that the
    // compaction fold let through to mixture/kept.
    Q("inv_pretrain_ingest_compact_monotone",
      """SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS VARCHAR) AS ingest_stage,
        |  CAST(NULL AS VARCHAR) AS compact_stage FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      val ing = graft.SparkEntry.queries("pipeline_pretrain_ingest")(s, dir)
        .select(col("doc_id"), col("stage").as("ingest_stage"))
      val comp = graft.SparkEntry.queries("pipeline_pretrain_compact")(s, dir)
        .select(col("doc_id"), col("stage").as("compact_stage"))
      ing.where(col("ingest_stage").isin(
          "benchmark", "quality", "url", "exact", "neardup", "contaminated"))
        .join(comp, Seq("doc_id"))
        .where(col("compact_stage").isin("mixture", "kept"))
        .select(col("doc_id"), col("ingest_stage"), col("compact_stage"))
        .orderBy(col("doc_id"))
    },

    // C83b (r13): the e2e chain's STAGE-COMPOSED sf3 gate — the C68b
    // discipline applied to the flagship: C83's monolithic oracle ends
    // at sf1 because the recursive CC closure's Σ|C|² working set
    // exceeds the oracle box at sf3, so the per-doc KEY stages
    // (quality battery, url/exact keep-first windows — pretrainKeys,
    // the ONE definition C83/D36/C84 all build on) and the doc-LOCAL
    // coverage stage (clean_tokens is a function of the doc and the
    // probe alone, so gating it over exact-survivors gates the same
    // values the e2e chain uses for its post-neardup set) gate
    // separately at any scale. The remaining e2e stages already carry
    // their own sf3 evidence: the neardup pair set via C68b's
    // stage-composed pairs + inv_cascade_cc_parity + C4e's sf3 hash
    // gate; the mixture/shard arithmetic via C42/C42b/C45's gates.
    Q("pretrain_stage_keys",
      s"""WITH q AS MATERIALIZED (
        |  ${Curation.qualitySql("doc_id, text")}),
        |u AS (SELECT doc_id, ($messyUrlSql) AS url FROM documents),
        |$urlCanonCtes,
        |qs AS (SELECT q.doc_id, q.n_words, q.quality_bp, c4.canon,
        |    ${Curation.normSql("q.text")} AS k
        |  FROM q JOIN c4 ON c4.doc_id = q.doc_id
        |  WHERE q.doc_id % 20 <> 0 AND q.quality_bp >= 5000),
        |s1 AS (SELECT *, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY canon)
        |        THEN 1 ELSE 0 END AS url_keep FROM qs),
        |s2 AS (SELECT *, CASE WHEN doc_id = min(doc_id) OVER (PARTITION BY k)
        |        THEN 1 ELSE 0 END AS exact_keep FROM s1 WHERE url_keep = 1),
        |dw AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g4 AS MATERIALIZED (SELECT doc_id, gs-1 AS pos, array_to_string(ws[gs:gs+3], ' ') AS gram
        |  FROM dw, UNNEST(generate_series(1, len(ws)-3)) AS t(gs)),
        |bprobe AS (SELECT DISTINCT gram FROM g4 WHERE doc_id % 20 = 0),
        |hit AS (SELECT g4.doc_id, g4.pos FROM g4 JOIN bprobe USING (gram)
        |  WHERE g4.doc_id IN (SELECT doc_id FROM s2 WHERE exact_keep = 1)),
        |hm AS (SELECT doc_id, pos,
        |    coalesce(max(pos + 4) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
        |  FROM hit),
        |cov AS (SELECT doc_id,
        |    CAST(sum(greatest(0, pos + 4 - greatest(prev_end, pos))) AS BIGINT) AS removed
        |  FROM hm GROUP BY doc_id)
        |SELECT q.doc_id, q.quality_bp,
        |  CAST(s1.url_keep AS BIGINT) AS url_keep,
        |  CAST(s2.exact_keep AS BIGINT) AS exact_keep,
        |  CASE WHEN s2.exact_keep = 1
        |    THEN CAST(q.n_words AS BIGINT) - coalesce(cov.removed, 0) END AS clean_tokens
        |FROM q
        |LEFT JOIN s1 ON s1.doc_id = q.doc_id
        |LEFT JOIN s2 ON s2.doc_id = q.doc_id
        |LEFT JOIN cov ON cov.doc_id = q.doc_id
        |WHERE q.doc_id % 20 <> 0
        |ORDER BY q.doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val (q, s1, s2) = pretrainKeys(d, materialize = false)
      val surv2ids = s2.where(col("exact_keep")).select(col("doc_id"))
      val grams = Dedup.substringGrams(d, 4)
      val bprobe = grams.where(col("doc_id") % 20 === 0).select(col("h")).distinct()
      val hits = grams
        .join(surv2ids, Seq("doc_id"), "left_semi")
        .join(broadcast(bprobe), Seq("h"), "left_semi")
      val cov = Dedup.spanCoverage(hits, 4).select(col("doc_id"), col("covered"))
      q.where(col("doc_id") % 20 =!= 0)
        .select(col("doc_id"), col("n_words"), col("quality_bp"))
        .join(s1.select(col("doc_id"), col("url_keep").cast("long").as("url_keep")),
          Seq("doc_id"), "left_outer")
        .join(s2.select(col("doc_id"), col("exact_keep").cast("long").as("exact_keep")),
          Seq("doc_id"), "left_outer")
        .join(cov, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("quality_bp"), col("url_keep"), col("exact_keep"),
          when(col("exact_keep") === 1,
            col("n_words").cast("long") - coalesce(col("covered"), lit(0L))).as("clean_tokens"))
        .orderBy(col("doc_id"))
    },

    // D36 (r13): the e2e pretraining chain AT INGEST — C83's per-doc-
    // decidable prefix as documents land, against the FROZEN corpus
    // (the composition counterpart of D32: that arm streams the
    // cascade alone; this one streams the chain a crawl front door
    // actually runs — benchmark reserve → quality battery → cascade
    // verdict vs the corpus's own e2e-RETAINED set → span
    // decontamination vs the frozen benchmark probe). Stage priority
    // per arriving doc, first stage wins: 'benchmark' (reserved, never
    // trains) → 'quality' → 'url'/'exact' (canon/digest ∈ the retained
    // corpus — the corpus-relative contract; within-increment dups are
    // the next compaction's job) → 'neardup' (INTEGER minhash-banded
    // corpus candidate verified at gram-Jaccard ≥ 0.8, the D19/D32
    // miner) → 'contaminated' (every token covered by benchmark
    // 4-gram spans) → 'kept' with clean_tokens. The composition is the
    // point: the probe index is the corpus's OWN cascade output
    // (pretrainCascade — ONE definition with batch C83), so e.g. a
    // canon whose only corpus holder died at quality correctly does
    // NOT block the arrival (a membership probe built from raw corpus
    // canons would). Mixture/pack/shard need corpus-global totals and
    // stay the nightly batch's job (C83) — the ingest-decidable prefix
    // is exactly what streams. Decontamination probe FREEZES pre-start
    // (corpus-side benchmark docs; arriving benchmark items extend it
    // at the next nightly build — the D11/D17 frozen-artifact stance;
    // deliberate divergence from C83, where the probe spans all
    // benchmark docs). Shape: corpus replay + four slim probe tables
    // materialize ONCE batch-side (canon/digest distinct sets, band
    // keys + gram sets — the persisted signature index C33 documents);
    // the stream is stateless projections into stream-static joins —
    // zero stream state; coverage hit positions append to the sink and
    // interval-union BATCH-side over the completed sink
    // (Dedup.spanFold, the D9 fold). Every quantity integer/string-
    // decidable ⇒ FULL rows+schema+hash gate (pretrainIngestSql).
    Q("pipeline_pretrain_ingest", pretrainIngestSql) { (s, dir) =>
      Dedup.ensureLocalCkptDir(s)
      val agg = Events.runStream(s, OutputMode.Append) {
        val d = docs(s, dir)
        val isIncr = (col("doc_id") % 7).isin(2L, 4L)
        val retained = pretrainCascade(d.where(!isIncr)).retained
        // r13 OPT (guide §2.6): the five probe tables are independent
        // derivations (four off the checkpointed retained frame, one off
        // the raw benchmark docs) — their eager materialization jobs ran
        // strictly serially before, each paying its own scheduling floor
        // and leaving the tail of the previous job's stage idle. Submit
        // them concurrently (Spark's FIFO scheduler back-fills freed
        // cores); each future only builds + checkpoints its own frame.
        // r14 (VERDICT #6): on the BOUNDED MatPool — at most 3 in
        // flight, so the probe builds back-fill each other's tails
        // without five jobs fighting for executors at once; the
        // corpus-fat gram-set frame (fG) persists with lineage retained
        // (VERDICT #1) instead of localCheckpoint.
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import MatPool.ec
        val fC = Future(Pinned.track(retained.select(col("canon")).distinct()
          .withColumn("u", lit(1)).localCheckpoint(true)))
        val fH = Future(Pinned.track(retained.select(col("h")).distinct()
          .withColumn("e", lit(1)).localCheckpoint(true)))
        val fB = Future(Pinned.track(Dedup.bandedMinhashIntKeys(retained)
          .select(col("doc_id").as("c_id"), col("bk")).localCheckpoint(true)))
        val fG = Future(Pinned.fat(retained
          .select(col("doc_id").as("c_id"), words.as("ws"))
          .where(size(col("ws")) >= 3)
          .select(col("c_id"), graft.functions.Kernels.grams3(col("ws")).as("gb"))))
        val fP = Future(Pinned.track(Dedup.substringGrams(
            d.where(!isIncr && col("doc_id") % 20 === 0), 4)
          .select(col("h")).distinct().localCheckpoint(true)))
        val retC = Await.result(fC, Duration.Inf)
        val retH = Await.result(fH, Duration.Inf)
        val retB = Await.result(fB, Duration.Inf)
        val retG = Await.result(fG, Duration.Inf)
        val bprobe = Await.result(fP, Duration.Inf)
        val stream = Events.streamOf(s, dir, "documents")
          .where((col("doc_id") % 7).isin(2L, 4L))
        val fq = Curation.quality(stream, col("doc_id"), col("text"))
          .select(col("doc_id"), col("text"), col("n_words"), col("quality_bp"),
            canonicalUrlCol(messyUrlCol).as("canon"),
            Curation.normDigest.as("h"))
        val base = fq
          .join(retC, Seq("canon"), "left")
          .join(retH, Seq("h"), "left")
          .select(col("doc_id"), col("quality_bp").as("qbp"),
            col("n_words").as("nw"),
            coalesce(col("u"), lit(0)).as("u"),
            coalesce(col("e"), lit(0)).as("e"),
            lit(0).as("n"), lit(-1).as("pos"))
        // cascade scoping is stateless here: benchmark/quality are
        // per-row, url/exact are the static membership joins — so the
        // near-dup probe and the coverage grams run only for arrivals
        // still alive after those four stages, exactly like C83
        val surv = fq.where(col("doc_id") % 20 =!= 0 && col("quality_bp") >= 5000)
          .join(retC.select(col("canon")), Seq("canon"), "left_anti")
          .join(retH.select(col("h")), Seq("h"), "left_anti")
        val swg = surv.select(col("doc_id"), words.as("ws"))
        val near = swg.where(size(col("ws")) >= 3)
          .select(col("doc_id"),
            graft.functions.Kernels.grams3(col("ws")).as("ga"),
            graft.functions.Kernels.minhashInt128(
              graft.functions.Kernels.grams3(col("ws"))).as("sig"))
          .select(col("doc_id"), col("ga"), Similar.minhashBands(col("sig")))
          .join(retB, "bk")
          .join(retG, "c_id")
          .select(col("doc_id"),
            size(array_intersect(col("ga"), col("gb"))).as("ni"),
            size(col("ga")).as("na"), size(col("gb")).as("nb"))
          .where(col("ni") / (col("na") + col("nb") - col("ni")) >= 0.8)
          .select(col("doc_id"), lit(0L).as("qbp"), lit(0).as("nw"),
            lit(0).as("u"), lit(0).as("e"), lit(1).as("n"), lit(-1).as("pos"))
        val hits = Dedup.substringGrams(surv.select(col("doc_id"), col("text")), 4)
          .join(broadcast(bprobe), Seq("h"), "left_semi")
          .select(col("doc_id"), lit(0L).as("qbp"), lit(0).as("nw"),
            lit(0).as("u"), lit(0).as("e"), lit(0).as("n"), col("pos"))
        base.unionByName(near).unionByName(hits)
      }
        .groupBy(col("doc_id")).agg(
          max(col("qbp")).as("qbp"), max(col("nw")).as("nw"),
          max(col("u")).as("u"), max(col("e")).as("e"), max(col("n")).as("n"),
          collect_list(when(col("pos") >= 0, col("pos"))).as("ps"))
      val cov = Dedup.spanFold(agg.select(col("doc_id"), col("nw").as("nt"),
          size(col("ps")).as("dup_gram_hits"), col("ps")), 4)
        .select(col("doc_id"), col("covered"))
      agg.join(cov, Seq("doc_id"))
        .select(col("doc_id"),
          when(col("doc_id") % 20 === 0, lit("benchmark"))
            .when(col("qbp") < 5000, lit("quality"))
            .when(col("u") === 1, lit("url"))
            .when(col("e") === 1, lit("exact"))
            .when(col("n") === 1, lit("neardup"))
            .when(col("nw").cast("long") - col("covered") === 0, lit("contaminated"))
            .otherwise(lit("kept")).as("stage"),
          col("nw"), col("covered"))
        .select(col("doc_id"), col("stage"),
          when(col("stage").isin("contaminated", "kept"),
            col("nw").cast("long") - col("covered")).as("clean_tokens"))
        .orderBy(col("doc_id"))
    },

    // C18-stream: the SAME curation pipeline run at INGEST time — the
    // shape a production pipeline actually wants (curate as data lands,
    // not as a nightly batch over the accumulated pile). Quality
    // features and the filter are stateless per-row work on the stream;
    // dedup-keep-first is the ONE stateful aggregation (state = one
    // (digest, min-attrs) row per distinct surviving digest —
    // min(struct) carries the kept doc's attributes with its min
    // doc_id, the streaming form of C18's rn=1-by-doc_id). The final
    // per-(split, lang) accounting runs BATCH over the completed sink:
    // chained stateful aggregations are unsupported in complete mode,
    // so this reuses D4's two-level aggregate split. Gated by the SAME
    // DuckDB oracle as batch pipeline_curate — driver-checked
    // batch/stream parity, like C30/D6.
    Q("pipeline_curate_stream", curateSql) { (s, dir) =>
      splitCounts(Events.runStream(s, OutputMode.Complete) {
        Curation.quality(Events.streamOf(s, dir, "documents"),
            col("doc_id"), col("lang"), col("n_chars"), col("text"))
          .where(col("quality_bp") >= 5000)
          .groupBy(Curation.normDigest.as("h"))
          .agg(min(struct(col("doc_id"), col("lang"), col("n_chars"))).as("keep"))
      }.select(col("keep.doc_id").as("doc_id"), col("keep.lang").as("lang"),
        col("keep.n_chars").as("n_chars")))
    },

    // C18c: the corpus DATA CARD — the per-release statistics report a
    // dataset ships with (Datasheets-for-Datasets shape): corpus totals,
    // per-language / per-source / per-split composition, quality-score
    // envelope, and exact-duplication accounting, as uniform
    // (section, metric, value:long) rows. Scale shape: ONE scan + ONE
    // shuffle covers every sectioned composition row — the lang /
    // source / split / corpus groupings share a single GROUPING SETS
    // aggregation (partial-agg map-side, like q30) instead of one
    // scan+shuffle per dimension; only the two metrics that need
    // different keys add a pass each (global distinct words; exact-dup
    // digest groups on the 32 B dedup_exact key). All-integer values —
    // means are integer div — so the card hash-gates cross-engine.
    Q("pipeline_data_card", dataCardSql) { (s, dir) =>
      cardFromState(cardComp(cardBase(docs(s, dir))),
        docs(s, dir).select(explode(words).as("w")),
        cardDigestCounts(docs(s, dir)))
    },

    // C18d: the INCREMENTAL data card — merge a delta batch into a base
    // release's card STATE and produce the updated card without
    // re-scanning the base corpus. Gated against the SAME full-corpus
    // oracle as C18c: the merged card must equal the from-scratch card
    // row-for-row, which is exactly the mergeability theorem of the
    // state design. The state is the mergeable sufficient statistics a
    // release pipeline persists beside the corpus:
    //   - the grouping-sets composition aggregate (counts/sums re-add,
    //     min/max re-combine — |langs|+|sources|+|splits|+1 rows);
    //   - the distinct-word sidecar (the vocab table a pipeline keeps
    //     anyway) — merge = union-distinct;
    //   - the per-digest count sidecar (the dedup_exact key table) —
    //     merge = sum by digest, so a delta doc duplicating a BASE doc
    //     is counted correctly, which no count-only summary could do.
    // At 100 TB the delta pass touches only the delta's text; the merge
    // moves slim state rows (map-side-combinable groupBys), never
    // re-reading the base corpus. Here base/delta = a deterministic
    // doc_id split of the same table so the gate can check exact
    // equality with the full card.
    Q("pipeline_data_card_incremental", dataCardSql) { (s, dir) =>
      val d = docs(s, dir)
      val dBase = d.where(col("doc_id") % 7 =!= 3)
      val dDelta = d.where(col("doc_id") % 7 === 3)
      val comp = mergeCardComp(
        cardComp(cardBase(dBase)), cardComp(cardBase(dDelta)))
      val dwords = dBase.select(explode(words).as("w")).distinct()
        .unionAll(dDelta.select(explode(words).as("w")).distinct())
        .distinct()
      val digests = cardDigestCounts(dBase)
        .unionAll(cardDigestCounts(dDelta))
        .groupBy(col("h")).agg(sum(col("c")).as("c"))
      cardFromState(comp, dwords, digests)
    },

    // C48 (r9): URL/domain-level curation — the FIRST stage of every
    // web-corpus pipeline (C4/RefinedWeb run it before any content
    // filter): parse the registrable domain out of each document's URL,
    // drop blocklisted domains, and cap any single domain's
    // contribution (first DomainCap docs by id — deterministic).
    //
    // 100 TB shape: the blocklist is a BROADCAST ANTI join (a curated
    // list is millions of rows at most — broadcastable by construction;
    // never a giant IN). The cap does NOT window the corpus: a
    // row_number over every domain would shuffle all 100 TB into
    // per-domain sort groups. Instead the per-domain count partial-
    // aggregates (slim (domain, n) rows), the OVER-CAP domain sliver
    // joins back size-adaptively (Dedup.adaptiveBuild — the r9 sliver
    // discipline), and ONLY over-cap domains' rows enter the ranking
    // window; under-cap domains — the long tail, most of a crawl —
    // pass through map-side with zero shuffle.
    Q("text_domain_filter", domainFilterSql) { (s, dir) =>
      val sess = s
      import sess.implicits._
      val d = docs(s, dir).select(col("doc_id"), domainCol.as("domain"))
      val block = BlockedDomains.toDF("domain")
      val f = d.join(broadcast(block), Seq("domain"), "left_anti")
      val overCap = f.groupBy(col("domain")).agg(count(lit(1)).as("n"))
        .where(col("n") > DomainCap).select(col("domain"))
      val overB = Dedup.adaptiveBuild(overCap)
      val under = f.join(overB, Seq("domain"), "left_anti")
      val capped = f.join(overB, Seq("domain"), "left_semi")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("domain")).orderBy(col("doc_id"))))
        .where(col("rk") <= DomainCap).drop("rk")
      under.unionAll(capped)
        .select(col("doc_id"), col("domain"))
        .orderBy(col("doc_id"))
    },

    // D15 (r9): C48 at INGEST time — domain capping as crawl data
    // lands, the deployment shape (admit a domain's documents until its
    // budget fills). The blocklist anti join is stateless per-row
    // stream work (broadcast, as in batch); the cap is a GENUINELY
    // BOUNDED custom state per domain — mapGroupsWithState keeping only
    // the cap-many smallest doc_ids seen so far (≤ 8 longs per domain,
    // no matter how hot the domain: the state a collect_list agg could
    // not bound). Each update emits the group's current keep-list;
    // across micro-batches the union of emitted lists ⊇ the final one,
    // and its cap-smallest ids ARE the global cap-smallest (lists only
    // ever evict upward), so the batch-side presentation just takes
    // the smallest cap ids per domain from the sink. Gated by the SAME
    // oracle as batch C48 — driver-checked batch/stream parity.
    Q("text_domain_filter_stream", domainFilterSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Update) {
        val sess = s
        import sess.implicits._
        val stream = Events.streamOf(s, dir, "documents")
        val block = BlockedDomains.toDF("domain")
        val d = stream.select(col("doc_id"), domainCol.as("domain"))
          .join(broadcast(block), Seq("domain"), "left_anti")
          // using-join reorders the key column first; pin (id, domain)
          .select(col("doc_id"), col("domain"))
        d.as[(Long, String)].groupByKey(_._2)
          .mapGroupsWithState[Seq[Long], (String, Seq[Long])] {
            (domain: String, rows: Iterator[(Long, String)],
             state: org.apache.spark.sql.streaming.GroupState[Seq[Long]]) =>
              val next = (state.getOption.getOrElse(Seq.empty) ++ rows.map(_._1))
                .sorted.take(DomainCap)
              state.update(next)
              (domain, next)
          }
          .toDF("domain", "keep")
      }
        .select(col("domain"), explode(col("keep")).as("doc_id"))
        .distinct()
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("domain")).orderBy(col("doc_id"))))
        .where(col("rk") <= DomainCap)
        .select(col("doc_id"), col("domain"))
        .orderBy(col("doc_id"))
    },

    // C82 (r11): per-domain QUOTA CAP — the anti-spam curation rule
    // every web-corpus pipeline ships (C4/RefinedWeb-style source
    // capping): within each domain keep only the top-N documents by
    // quality (C10's quality_bp, doc_id tie-break), so no single
    // crawl-heavy domain floods the training mix however much of it
    // was fetched. Emits the full per-doc decision log (rank + kept
    // bit), not just survivors — drops stay attributable (the C60/C68
    // auditability discipline). 100 TB shape: the window runs over
    // SLIM (doc_id, domain, quality_bp) — text never shuffles — and
    // partitions by domain (numerous, naturally parallel); a
    // mega-domain skewing one partition is AQE's skew-split case, or
    // pre-aggregate: domains under the cap (the vast majority) can
    // bypass the window entirely via a count semi-filter. All integer
    // ⇒ hash-gated.
    Q("text_domain_cap",
      s"""WITH q AS (${Curation.qualitySql(s"doc_id, $domainSql AS domain")}),
        |r AS (SELECT doc_id, domain, quality_bp,
        |        CAST(row_number() OVER (
        |          PARTITION BY domain ORDER BY quality_bp DESC, doc_id) AS BIGINT) AS rnk
        |      FROM q)
        |SELECT doc_id, domain, rnk,
        |  CAST(CASE WHEN rnk <= 5 THEN 1 ELSE 0 END AS BIGINT) AS kept
        |FROM r ORDER BY doc_id""".stripMargin) { (s, dir) =>
      cardBase(docs(s, dir))
        .select(col("doc_id"), col("domain"), col("quality_bp"))
        .withColumn("rnk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("domain"))
            .orderBy(col("quality_bp").desc, col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("domain"), col("rnk"),
          when(col("rnk") <= 5, lit(1L)).otherwise(lit(0L)).as("kept"))
        .orderBy(col("doc_id"))
    },

    // C51 (r9): DOMAIN REPUTATION — the whole-domain keep/drop decision
    // (RefinedWeb/C4 drop entire hosts whose AGGREGATE signals are bad,
    // before any per-document filter; C48 caps volume, this one judges
    // content): per domain, doc count, mean quality_bp (the C10/C18
    // rule), and the exact-duplicate share (docs whose normalized text
    // digest appears >1 times corpus-wide — C1's key), folded into a
    // verdict: thin (< MIN_DOCS) → low_quality (mean < Q_MIN) →
    // duplicated (dup share > DUP_MAX bp) → keep. All integer (div/bp),
    // so the whole decision hash-gates.
    //
    // 100 TB shape: the corpus never shuffles by text — the quality
    // signal partial-aggregates to slim (domain, n, sum_q) rows, the
    // duplicated-digest sliver comes from a map-side-combinable
    // groupBy(h) and joins back SIZE-ADAPTIVELY (Dedup.adaptiveBuild,
    // the r9 sliver discipline: broadcast under budget, co-bucketed
    // shuffle-hash over it), and the dup-share agg again carries only
    // slim (domain) rows. The final reputation join is per-DOMAIN rows
    // on both sides — post-aggregation small, AQE broadcasts it. Cost:
    // two scan-speed passes (digest pass + quality pass) — the C37
    // scans-are-cheap trade.
    Q("text_domain_reputation",
      s"""WITH q AS (
        |  SELECT domain, quality_bp AS qbp,
        |    CASE WHEN count(*) OVER (PARTITION BY k) > 1 THEN 1 ELSE 0 END AS isdup
        |  FROM (${Curation.qualitySql(s"doc_id, $domainSql AS domain, ${Curation.normSql()} AS k")})),
        |r AS (
        |  SELECT domain, count(*) AS n_docs,
        |    CAST(sum(qbp) AS BIGINT) // count(*) AS mean_quality_bp,
        |    CAST(sum(isdup) * 10000 AS BIGINT) // count(*) AS dup_bp
        |  FROM q GROUP BY domain)
        |SELECT domain, n_docs, mean_quality_bp, dup_bp,
        |  CASE WHEN n_docs < ${RepMinDocs} THEN 'thin'
        |       WHEN mean_quality_bp < ${RepQualityMin} THEN 'low_quality'
        |       WHEN dup_bp > ${RepDupMaxBp} THEN 'duplicated'
        |       ELSE 'keep' END AS verdict
        |FROM r ORDER BY domain""".stripMargin) { (s, dir) =>
      domainReputation(docs(s, dir))
    },

    // C54 (r9): the END-TO-END web-curation pipeline — the full
    // RefinedWeb/C4 stage order composed from this file's gated pieces
    // into ONE plan: blocklist (broadcast anti) → per-domain cap (C48's
    // over-cap-sliver window) → domain reputation drop (C51 verdicts on
    // the RAW corpus, keep-set joined back size-adaptively) → per-doc
    // quality floor → exact dedup keep-first (C18's window) → per
    // (split, lang) corpus accounting. Proves the operators COMPOSE:
    // one text scan projects every per-doc signal (domain, quality,
    // digest) and drops text immediately — everything downstream moves
    // slim rows. The only corpus-scale exchanges are the C18 digest
    // window and the over-cap ranking sliver; every domain-level table
    // (blocklist, over-cap set, reputation keep-set) is bounded or
    // size-adaptive. Integer end-to-end ⇒ hash-gated.
    Q("pipeline_curate_web", curateWebSql) { (s, dir) =>
      splitCounts(curateWebFrames(s, dir).last._2)
    },

    // C73 (r9): the web pipeline's per-stage WATERFALL — C66's ablation
    // discipline applied to C54's five stages: per stage, surviving
    // docs/tokens and what the stage removed relative to its
    // predecessor (cumulative, as the pipeline actually runs — each
    // stage judges the previous stage's survivors). Shares
    // curateWebFrames with C54 BY CONSTRUCTION, so the audited stages
    // are the shipped stages; all counts integer ⇒ hash-gated.
    // 100 TB shape: six 1-row partial aggs over the shared slim-frame
    // lineage (the text projection runs per stage but never shuffles);
    // the waterfall lag windows over SIX rows.
    Q("pipeline_curate_web_ablation",
      s"""$curateWebCtes,
        |a AS (
        |  SELECT 1 AS ord, 'raw' AS stage, CAST(count(*) AS BIGINT) AS docs_out,
        |    CAST(sum(n_words) AS BIGINT) AS tokens_out FROM q0
        |  UNION ALL SELECT 2, 'blocklist', CAST(count(*) AS BIGINT),
        |    CAST(sum(n_words) AS BIGINT) FROM blocked
        |  UNION ALL SELECT 3, 'domain_cap', CAST(count(*) AS BIGINT),
        |    CAST(sum(n_words) AS BIGINT) FROM capped
        |  UNION ALL SELECT 4, 'reputation', CAST(count(*) AS BIGINT),
        |    CAST(sum(n_words) AS BIGINT) FROM repf
        |  UNION ALL SELECT 5, 'quality', CAST(count(*) AS BIGINT),
        |    CAST(sum(n_words) AS BIGINT) FROM survived
        |  UNION ALL SELECT 6, 'dedup', CAST(count(*) AS BIGINT),
        |    CAST(sum(n_words) AS BIGINT) FROM kept WHERE rn = 1)
        |SELECT CAST(ord AS BIGINT) AS ord, stage, docs_out, tokens_out,
        |  CAST(coalesce(lag(docs_out) OVER (ORDER BY ord) - docs_out, 0) AS BIGINT) AS docs_removed,
        |  CAST(coalesce(lag(tokens_out) OVER (ORDER BY ord) - tokens_out, 0) AS BIGINT) AS tokens_removed
        |FROM a ORDER BY ord""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.orderBy(col("ord"))
      curateWebFrames(s, dir, materialize = true).zipWithIndex.map { case ((name, df), i) =>
        df.agg(count(lit(1)).as("docs_out"),
            sum(col("n_words").cast("long")).as("tokens_out"))
          .select(lit(i + 1L).as("ord"), lit(name).as("stage"),
            col("docs_out"), col("tokens_out"))
      }.reduce(_ unionByName _)
        .withColumn("docs_removed",
          coalesce(lag(col("docs_out"), 1).over(w) - col("docs_out"), lit(0L)))
        .withColumn("tokens_removed",
          coalesce(lag(col("tokens_out"), 1).over(w) - col("tokens_out"), lit(0L)))
        .orderBy(col("ord"))
    },

    // D24 (r9): C54 at INGEST — the end-to-end web pipeline's admission
    // path as crawl data lands. Stage placement follows what each stage
    // IS: per-doc signals (domain, quality, digest) project statelessly
    // in-stream; the blocklist anti join is stateless broadcast work;
    // the per-domain cap is the ONE stateful operator (D15's bounded
    // cap-many-smallest state, here carrying each kept doc's slim attrs
    // — ≤ 8 × 5 fields per domain); domain REPUTATION is a corpus-level
    // artifact (judged on the raw corpus, as in batch — the D17/D20
    // frozen-artifact stance) applied with the quality floor and the
    // keep-first dedup in the batch-side reduction over the sink — dedup
    // AFTER admission matches production (you dedup what you stored).
    // The admitted sliver the batch side touches is cap-bounded per
    // domain, never corpus-scale. Gated by the SAME oracle as batch C54
    // (driver-checked batch/stream parity).
    Q("pipeline_curate_web_stream", curateWebSql) { (s, dir) =>
      val W = org.apache.spark.sql.expressions.Window
      val admitted = Events.runStream(s, OutputMode.Update) {
        val sess = s
        import sess.implicits._
        val stream = Events.streamOf(s, dir, "documents")
        val base = stream.select(
            Seq(col("doc_id"), col("lang"), col("n_chars"), domainCol.as("domain")) ++
              Curation.counts :+ sha2(Curation.normText, 256).as("hx"): _*)
          .withColumn("qbp", Curation.qualityBp)
        val f = base.join(broadcast(BlockedDomains.toDF("domain")),
            Seq("domain"), "left_anti")
          .select(col("domain"), col("doc_id"), col("lang"),
            col("n_chars"), col("qbp"), col("hx"))
          .as[(String, Long, String, Long, Long, String)]
        f.groupByKey(_._1)
          .mapGroupsWithState[Seq[(Long, String, Long, Long, String)],
            (String, Seq[(Long, String, Long, Long, String)])] {
            (domain: String, rows: Iterator[(String, Long, String, Long, Long, String)],
             state: org.apache.spark.sql.streaming.GroupState[Seq[(Long, String, Long, Long, String)]]) =>
              val next = (state.getOption.getOrElse(Seq.empty)
                ++ rows.map(r => (r._2, r._3, r._4, r._5, r._6)))
                .sortBy(_._1).take(DomainCap)
              state.update(next)
              (domain, next)
          }
          .toDF("domain", "keep")
      }
        .select(col("domain"), explode(col("keep")).as("r"))
        .select(col("domain"), col("r._1").as("doc_id"), col("r._2").as("lang"),
          col("r._3").as("n_chars"), col("r._4").as("qbp"), col("r._5").as("hx"))
        .distinct()
        .withColumn("rk", row_number().over(
          W.partitionBy(col("domain")).orderBy(col("doc_id"))))
        .where(col("rk") <= DomainCap).drop("rk")
      val repKeep = Dedup.adaptiveBuild(
        domainReputation(docs(s, dir))
          .where(col("verdict") === "keep").select(col("domain")))
      val v2 = admitted.join(repKeep, Seq("domain"), "left_semi")
        .where(col("qbp") >= 5000)
      splitCounts(v2.withColumn("rn", row_number().over(
          W.partitionBy(col("hx")).orderBy(col("doc_id"))))
        .where(col("rn") === 1))
    },

    // C52 (r9): TOPIC TAGGING — broadcast keyword-taxonomy
    // classification (the FlashText/taxonomy-tagger stage pipelines run
    // to balance topical mixtures: count each topic's keyword hits,
    // argmax with a deterministic tie-break, zero hits → 'other').
    // The taxonomy is a bounded curated artifact, so it compiles into
    // the projection as array literals — the plan has NO join and NO
    // aggregation exchange at all: one corpus scan, per-row codegen'd
    // size(filter(...)) per topic, and the only exchange is the
    // presentation sort. This is the cheapest possible 100 TB shape —
    // the tag rides along any other scan for free; score_bp =
    // hits * 10000 div n_words stays integer so the gate is exact.
    // PlanSpec pins zero joins/aggregates; the stream twin (D16) runs
    // the SAME projection stateless at ingest against the SAME oracle.
    Q("text_topic_tag", topicTagSql) { (s, dir) =>
      topicTag(docs(s, dir)).orderBy(col("doc_id"))
    },

    // D16 (r9): C52 at INGEST — taxonomy tagging as data lands, the
    // stateless-per-row stream form (no watermark, no state store:
    // append mode over a pure projection). Gated by the SAME oracle as
    // batch C52 — driver-checked batch/stream parity.
    Q("text_topic_tag_stream", topicTagSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append)(
          topicTag(Events.streamOf(s, dir, "documents")))
        .orderBy(col("doc_id"))
    },

    // C57 (r9): TOPIC-balanced mixture — C42's temperature allocation
    // over (topic, lang) strata derived from C52's taxonomy argmax
    // instead of the stored source column (the DoReMi/topic-rebalance
    // shape: the mixture dimension is LEARNED from content, not carried
    // as metadata). ONE shared allocation body (mixtureAlloc) and ONE
    // shared topic argmax (topicExprs) with their parents, so neither
    // the rule nor the stratification can drift; same decimal(38,0)/
    // HUGEINT wide-product stance. 100 TB shape: the topic tag rides
    // the counting scan for free (a pure projection, C52), strata =
    // |topics+1|·|langs| slim rows, the cross join is the 1-row totals
    // broadcast — the corpus pays exactly one partial-aggregated pass.
    Q("text_mixture_topic",
      s"""WITH h AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_words,
        |    ${topicHitSql.map { case (t, e) => s"$e AS h_$t" }.mkString(",\n    ")}
        |  FROM documents),
        |g AS (SELECT *, greatest(${topicHitSql.map("h_" + _._1).mkString(",")}) AS m FROM h),
        |s AS (SELECT $topicCaseSql AS topic, lang, n_words FROM g),
        |c AS (SELECT topic, lang, count(*) AS n_docs,
        |        CAST(sum(n_words) AS BIGINT) AS n_tokens
        |      FROM s GROUP BY topic, lang),
        |w AS (SELECT topic, lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
        |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_sqrt
        |      FROM c),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) // 2 AS budget,
        |             CAST(sum(w_sqrt) AS BIGINT) AS wsum FROM w),
        |r AS (SELECT w.topic, w.lang, w.n_docs, w.n_tokens, w.w_sqrt,
        |  CAST((CAST(t.budget AS HUGEINT) * w.w_sqrt) // t.wsum AS BIGINT) AS alloc_tokens,
        |  CAST((CAST((CAST(t.budget AS HUGEINT) * w.w_sqrt) // t.wsum AS HUGEINT) * 10000) // w.n_tokens AS BIGINT) AS rate_bp
        |FROM w CROSS JOIN t)
        |SELECT topic, lang, n_docs, n_tokens, w_sqrt, alloc_tokens, rate_bp
        |FROM r ORDER BY topic, lang""".stripMargin) { (s, dir) =>
      val (topic, _) = topicExprs
      mixtureAlloc(
          docs(s, dir).select(topic.as("topic"), col("lang"),
            size(words).cast("long").as("nw"))
            .groupBy(col("topic"), col("lang"))
            .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_tokens")),
          Seq("topic", "lang"))
        .orderBy(col("topic"), col("lang"))
    },

    // C58 (r9): corpus VERSION DIFF — the dataset-versioning audit run
    // before retraining (what changed between crawl snapshot v0 and
    // v1?): per doc identity (doc_id), classify added / removed /
    // changed by comparing content DIGESTS, emitting only the diff
    // rows (unchanged docs — the overwhelming majority — are filtered
    // before the join result materializes). The two snapshots derive
    // deterministically from the one documents table (v0 = ids with
    // id%5 != 4, with id%11 = 3 texts carrying a version marker; v1 =
    // ids with id%7 != 2), so both engines see identical versions and
    // the whole classification hash-gates.
    //
    // 100 TB shape: each snapshot reduces to a slim (id, 32 B digest)
    // stream at scan speed; the FULL OUTER join shuffles only those
    // two digest streams on the id key (co-partitioned — at rest the
    // snapshots would be bucketed by id and the join is zero-exchange);
    // text never moves.
    Q("corpus_diff",
      """WITH v0 AS (
        |  SELECT doc_id, sha256(CASE WHEN doc_id % 11 = 3 THEN text || ' v0'
        |                             ELSE text END) AS h
        |  FROM documents WHERE doc_id % 5 != 4),
        |v1 AS (
        |  SELECT doc_id, sha256(text) AS h
        |  FROM documents WHERE doc_id % 7 != 2),
        |j AS (
        |  SELECT coalesce(v0.doc_id, v1.doc_id) AS doc_id,
        |    CASE WHEN v0.doc_id IS NULL THEN 'added'
        |         WHEN v1.doc_id IS NULL THEN 'removed'
        |         WHEN v0.h != v1.h THEN 'changed' END AS status
        |  FROM v0 FULL OUTER JOIN v1 ON v1.doc_id = v0.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val v0 = d.where(col("doc_id") % 5 =!= 4)
        .select(col("doc_id"),
          sha2(when(col("doc_id") % 11 === 3, concat(col("text"), lit(" v0")))
            .otherwise(col("text")), 256).as("h0"))
      val v1 = d.where(col("doc_id") % 7 =!= 2)
        .select(col("doc_id"), sha2(col("text"), 256).as("h1"))
      v0.join(v1, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("h0").isNull, lit("added"))
            .when(col("h1").isNull, lit("removed"))
            .when(col("h0") =!= col("h1"), lit("changed")).as("status"))
        .where(col("status").isNotNull)
        .orderBy(col("doc_id"))
    },

    // C64 (r9): corpus DRIFT report — C58 answers "which documents
    // changed between snapshots"; this answers the question the
    // retraining decision actually hangs on: did the corpus's
    // DISTRIBUTION move? Per lang across the same v0/v1 snapshot
    // convention as C58: doc counts, token-share bp in each version,
    // share drift, mean quality in each version, quality drift, and an
    // alert flag at |share drift| >= 12 bp (fires both ways at every
    // test scale — drift shrinks as modular noise averages out, and the
    // threshold sits inside all three spreads). All integer ⇒ the whole
    // monitoring decision hash-gates.
    // 100 TB shape: each snapshot reduces to slim per-lang partial
    // aggregates at scan speed (count/sum — map-side combinable);
    // totals ride a 1-row broadcast; the final join is |langs| rows.
    Q("corpus_drift_report", corpusDriftSql) { (s, dir) =>
      val d = docs(s, dir)
      val q0 = driftStats(d.where(col("doc_id") % 5 =!= 4).select(col("lang"),
        when(col("doc_id") % 11 === 3, concat(col("text"), lit(" v0")))
          .otherwise(col("text")).as("text")), "n0", "t0", "sq0")
      val q1 = driftStats(d.where(col("doc_id") % 7 =!= 2)
        .select(col("lang"), col("text")), "n1", "t1", "sq1")
      driftFinish(q0, q1)
    },

    // D28 (r9): C64 at INGEST — continuous distribution monitoring as
    // the new snapshot lands (the data-quality dashboard shape: the
    // reference stats are a FROZEN artifact of the previous snapshot;
    // the arriving corpus aggregates incrementally). The stream side is
    // one stateful per-lang aggregation (|langs| rows of state,
    // complete mode); the frozen v0 stats, totals, drift arithmetic and
    // the alert run batch-side over the |langs|-row sink output (the
    // D24 corpus-level-artifacts-batch-side stance). SAME oracle as
    // batch C64 — driver-checked parity of the whole monitoring table.
    Q("corpus_drift_stream", corpusDriftSql) { (s, dir) =>
      val q1 = Events.runStream(s, OutputMode.Complete) {
        val stream = Events.streamOf(s, dir, "documents")
          .where(col("doc_id") % 7 =!= 2)
          .select(col("lang"), col("text"))
        driftStats(stream, "n1", "t1", "sq1")
      }
      val d = docs(s, dir)
      val q0 = driftStats(d.where(col("doc_id") % 5 =!= 4).select(col("lang"),
        when(col("doc_id") % 11 === 3, concat(col("text"), lit(" v0")))
          .otherwise(col("text")).as("text")), "n0", "t0", "sq0")
      driftFinish(q0, q1)
    },


    // C19: deterministic stratified sampling — downsample over-
    // represented strata (the lang-rebalancing step of corpus curation)
    // by Knuth-hash-mod per row: pure function of the row, so the sample
    // is reproducible, reshuffle-stable, and needs no RNG state or
    // second pass. Per-stratum keep-rates as a CASE table.
    // Hash = affine map over the prime field Z_1000003 then % 100:
    // exact in both engines at ANY doc_id (max intermediate ~1.3e11,
    // no ANSI overflow), and the final residue depends on the whole
    // id — unlike a bare multiply % 100, which collapses to a fixed
    // permutation of doc_id % 100.
    Q("text_sample_stratified",
      """WITH s AS (
        |  SELECT * FROM documents
        |  WHERE ((doc_id % 1000003) * 131071 + 99991) % 1000003 % 100 <
        |    CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 80 ELSE 100 END)
        |SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .where(keepCoin(100) <
          when(col("lang") === "en", 50)
            .when(col("lang") === "fr", 80)
            .otherwise(100))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    },

    // C20: intra-document repetition — duplicate-adjacent-bigram fraction
    // and most-common-bigram share (the Gopher-class repetition filters).
    // Integer basis points; per-row KERNEL, zero shuffle — the relational
    // form (explode grams → groupBy) would shuffle the whole corpus to
    // compute a per-document statistic.
    Q("text_repetition", repetitionSql) { (s, dir) =>
      repetitionFrame(docs(s, dir)).orderBy(col("doc_id"))
    },

    // D22 (r9): C20 at INGEST — repetition filtering belongs at the
    // crawl front door (a looping page is droppable before it costs
    // another byte of pipeline). Stateless per-row kernel projection,
    // append mode; shares repetitionFrame verbatim with batch C20 and
    // is gated by the SAME oracle (driver-checked parity).
    Q("text_repetition_stream", repetitionSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append)(
          repetitionFrame(Events.streamOf(s, dir, "documents")))
        .orderBy(col("doc_id"))
    },

    // C21: benchmark-contamination check — flag training documents whose
    // distinct word-4-grams overlap a held-out probe set (doc_id % 20 = 0
    // stands in for the benchmark suite) above 1% of the doc's grams.
    // The probe gram set is BROADCAST deliberately: real decontamination
    // probes (benchmark suites) are bounded-small by construction, unlike
    // the open-vocabulary joins this repo refuses to broadcast.
    Q("text_contamination",
      """WITH docs_ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 4),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
        |g AS (
        |  SELECT DISTINCT a.doc_id, a.w||' '||b.w||' '||c.w||' '||d.w AS g
        |  FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |           JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2
        |           JOIN w d ON d.doc_id=a.doc_id AND d.i=a.i+3),
        |gn AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
        |probe AS (SELECT DISTINCT g FROM g WHERE doc_id % 20 = 0),
        |hits AS (
        |  SELECT g.doc_id, count(*) AS shared_grams
        |  FROM g JOIN probe ON g.g = probe.g
        |  WHERE g.doc_id % 20 <> 0
        |  GROUP BY g.doc_id)
        |SELECT h.doc_id, h.shared_grams,
        |  CAST((h.shared_grams * 10000) // gn.n_grams AS BIGINT) AS overlap_bp
        |FROM hits h JOIN gn ON gn.doc_id = h.doc_id
        |WHERE (h.shared_grams * 10000) // gn.n_grams >= 100
        |ORDER BY h.doc_id""".stripMargin) { (s, dir) =>
      // JIT kernel, not transform+concat_ws+array_distinct: the
      // interpreted HOF tree was the slowest query in the suite (4.7 s at
      // sf0.1); the kernel form is one compiled loop per row
      val g4 = graft.functions.Kernels.gramsN(words, 4)
      val grams = docs(s, dir).where(size(words) >= 4)
        .select(col("doc_id"), g4.as("gs"))
        .select(col("doc_id"), size(col("gs")).as("n_grams"), explode(col("gs")).as("g"))
      val probe = grams.where(col("doc_id") % 20 === 0).select(col("g")).distinct()
      grams.where(col("doc_id") % 20 =!= 0)
        .join(broadcast(probe), "g")
        .groupBy(col("doc_id"), col("n_grams"))
        .agg(count(lit(1)).as("shared_grams"))
        .select(col("doc_id"), col("shared_grams"),
          expr("(shared_grams * 10000) div n_grams").as("overlap_bp"))
        .where(col("overlap_bp") >= 100)
        .orderBy(col("doc_id"))
    },

    // C43: SPAN-level decontamination — C21 flags contaminated documents;
    // real decontamination (The Stack / FineWeb practice) removes the
    // contaminated SPANS and keeps the clean remainder, because dropping a
    // whole long document for one quoted benchmark item wastes data.
    // Composition of two proven pieces: C21's probe construction (distinct
    // 4-grams of the benchmark split, doc_id % 20 = 0, BROADCAST — probe
    // suites are bounded-small by construction) and C37's interval-union
    // coverage fold over positional gram hits (overlapping [pos, pos+4)
    // hit windows merge exactly; [[Dedup.spanCoverage]], the
    // map-side-combinable shape). Per surviving doc: probe-hit count,
    // removed tokens (union of hit spans), clean tokens, removed_bp.
    // 100 TB shape: the training-side gram stream NEVER shuffles — it
    // broadcast-joins the probe and partial-aggregates per doc; the one
    // shuffle carries ~one record per contaminated doc per partition.
    Q("text_decontaminate_spans", decontamSql) { (s, dir) =>
      val grams = Dedup.substringGrams(docs(s, dir), 4)
      val probe = grams.where(col("doc_id") % 20 === 0).select(col("h")).distinct()
      Dedup.spanCoverage(
        grams.where(col("doc_id") % 20 =!= 0)
          .join(broadcast(probe), Seq("h"), "left_semi"), 4)
        .select(col("doc_id"), col("n_tokens"),
          col("dup_gram_hits").as("probe_hits"),
          col("covered").as("removed"),
          (col("n_tokens") - col("covered")).as("clean_tokens"),
          col("dup_frac_bp").as("removed_bp"))
        .orderBy(col("doc_id"))
    },

    // D9: C43 at INGEST time — decontaminate documents as they land, the
    // deployment shape (the benchmark probe set is a slowly-changing
    // STATIC table; new crawl data streams through it). Gram explosion
    // and the probe semi-join are stateless per-row stream work (the
    // probe is static and broadcasts, exactly as in batch); the ONE
    // stateful aggregation collects each contaminated doc's hit
    // positions (state = one row per contaminated doc, bounded by its
    // gram count); the interval-union fold and presentation run batch
    // over the completed sink ([[Dedup.spanFold]] — the same fold the
    // batch query uses, so stream and batch cannot drift). Gated by the
    // SAME oracle as batch C43: driver-checked batch/stream parity, the
    // C30/D6 discipline.
    Q("text_decontaminate_stream", decontamSql) { (s, dir) =>
      Dedup.spanFold(Events.runStream(s, OutputMode.Complete) {
        val stream = Events.streamOf(s, dir, "documents")
        val probe = Dedup.substringGrams(
            docs(s, dir).where(col("doc_id") % 20 === 0), 4)
          .select(col("h")).distinct()
        Dedup.substringGrams(stream.where(col("doc_id") % 20 =!= 0), 4)
          .join(broadcast(probe), Seq("h"), "left_semi")
          .groupBy(col("doc_id"))
          .agg(first(col("n_tokens")).as("nt"),
            count(lit(1)).as("dup_gram_hits"),
            collect_list(col("pos")).as("ps"))
      }, 4)
        .select(col("doc_id"), col("n_tokens"),
          col("dup_gram_hits").as("probe_hits"),
          col("covered").as("removed"),
          (col("n_tokens") - col("covered")).as("clean_tokens"),
          col("dup_frac_bp").as("removed_bp"))
        .orderBy(col("doc_id"))
    },

    // C49 (r9): FUZZY decontamination — C21/C43 are exact n-gram
    // matchers, but current practice ALSO runs near-dup matching
    // against benchmark suites: a lightly-edited benchmark copy can
    // carry ZERO exact 4-grams (edit every 4th word — every 4-window
    // holds an edit) and still be contamination. Composition of proven
    // pieces: C4's banded-minhash probe (bench band keys broadcast —
    // 32 keys per item, the cheapest candidate source for the NEAR-DUP
    // decision) ∪ the gram-probe (the CONTAINMENT candidate source,
    // C21's shape), then EXACT 3-gram verification per candidate pair
    // — two integer decisions: whole-doc Jaccard ≥ 0.70 (near-copy of
    // a benchmark item) or benchmark-side containment ≥ 0.20 (enough
    // of the item survives the paraphrase; 0.20 is exactly the 3-gram
    // survival floor of the every-4th-word edit that zeroes 4-grams).
    // Flagged docs then get C43's span output against THEIR matched
    // bench items' grams (remove what matched, keep the rest).
    // FuzzyDecontamSpec plants that paraphrase and proves exact-4-gram
    // overlap is 0 while this operator flags it. All arithmetic is
    // integer; the oracle replays the full decision exactly.
    Q("text_decontaminate_fuzzy",
      """WITH docs_ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents
        |                 WHERE len(string_split(text,' ')) >= 3),
        |pg AS (SELECT doc_id, len(ws) AS n_tokens, gs-1 AS pos,
        |              array_to_string(ws[gs:gs+2], ' ') AS g
        |       FROM docs_ws, UNNEST(generate_series(1, len(ws)-2)) AS t(gs)),
        |g2 AS (SELECT DISTINCT doc_id, g FROM pg),
        |cnt AS (SELECT doc_id, count(*) AS c FROM g2 GROUP BY doc_id),
        |inter AS (SELECT t.doc_id AS doc_id, p.doc_id AS bench_id, count(*) AS ni
        |          FROM g2 t JOIN g2 p ON t.g = p.g
        |          WHERE t.doc_id % 20 <> 0 AND p.doc_id % 20 = 0
        |          GROUP BY t.doc_id, p.doc_id),
        |v AS (SELECT i.doc_id, i.bench_id,
        |        (ni * 10000) // (ct.c + cb.c - ni) AS jacc_bp,
        |        (ni * 10000) // cb.c AS cont_bp
        |      FROM inter i
        |      JOIN cnt ct ON ct.doc_id = i.doc_id
        |      JOIN cnt cb ON cb.doc_id = i.bench_id
        |      WHERE (ni * 10000) // (ct.c + cb.c - ni) >= 7000
        |         OR (ni * 10000) // cb.c >= 2000),
        |agg AS (SELECT doc_id, count(*) AS n_bench_matches,
        |          CAST(max(jacc_bp) AS BIGINT) AS max_jacc_bp,
        |          CAST(max(cont_bp) AS BIGINT) AS max_cont_bp
        |        FROM v GROUP BY doc_id),
        |hit AS (SELECT DISTINCT pg.doc_id, pg.n_tokens, pg.pos
        |        FROM pg JOIN v ON v.doc_id = pg.doc_id
        |        JOIN g2 b ON b.doc_id = v.bench_id AND b.g = pg.g),
        |m AS (SELECT doc_id, n_tokens, pos,
        |        coalesce(max(pos + 3) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev_end
        |      FROM hit),
        |cov AS (SELECT doc_id, any_value(n_tokens) AS n_tokens,
        |          CAST(sum(greatest(0, pos + 3 - greatest(prev_end, pos))) AS BIGINT) AS removed
        |        FROM m GROUP BY doc_id)
        |SELECT a.doc_id, a.n_bench_matches, a.max_jacc_bp, a.max_cont_bp,
        |       CAST(cov.n_tokens AS BIGINT) AS n_tokens, cov.removed,
        |       CAST(cov.n_tokens - cov.removed AS BIGINT) AS clean_tokens
        |FROM agg a JOIN cov ON cov.doc_id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin) { (s, dir) =>
      fuzzyDecontam(docs(s, dir)).orderBy(col("doc_id"))
    },

    // C55 (r9): context-window CHUNKING — split long documents into
    // overlapping max-length chunks (the step BEFORE C22's packing:
    // a doc longer than the training sequence cannot be packed whole;
    // HF-style striding keeps `overlap` tokens of context between
    // consecutive chunks). chunk i covers tokens [i·stride,
    // i·stride + max_len); n_chunks = ceil((n − max_len)/stride) + 1
    // for n > max_len else 1 — the last chunk is the one that reaches
    // the end (may be shorter), and no chunk is ever fully contained
    // in its predecessor. Emitting the full chunk TEXT puts the whole
    // rewrite under the hash gate (the remove_boilerplate stance).
    //
    // 100 TB shape: a pure per-row explode+slice projection — zero
    // joins, zero aggregation, byte blowup bounded by max_len/stride
    // (4/3 here); the only exchange is the presentation sort. Chunks
    // feed C22 unchanged (doc_id, tokens) downstream.
    Q("text_chunk_split", chunkSplitSql) { (s, dir) =>
      chunkSplit(docs(s, dir)).orderBy(col("doc_id"), col("chunk_id"))
    },

    // C80 (r11): the RAG INDEX BUILD — the end-to-end pipeline a
    // retrieval deployment runs over the corpus: C55's chunking → C61's
    // hashing-trick embedding per chunk (16-dim signed integer counts,
    // shifted +32 so every component is non-negative and floor-mean ==
    // truncating division in both engines) → C39's distributed integer
    // Lloyd k-means (K=8, 4 rounds, seeds = the 8 lowest chunk keys) →
    // the per-chunk cell assignment that IS the index. Every stage is
    // integer-decidable, and all three stages reuse the ONE shared
    // implementation (chunkSplit, featureHashVec, Cluster.fitOn /
    // kmeansChainCtes), so this gate also pins that the composed
    // pipeline equals its parts. 100 TB shape: chunk+embed is one
    // map-only pass (text never shuffles — the 16-long vector does),
    // Lloyd is C39's k·dim-bounded-collect loop, assignment rides the
    // centroid literals at scan speed; the output partitions by cell
    // exactly like the persisted ANN artifact (C8g) for probe-time
    // pruning. Hash-gated ×2 scales.
    Q("pipeline_rag_index", ragIndexSql) { (s, dir) =>
      val ch = chunkSplit(docs(s, dir))
        .select((col("doc_id") * 4096 + col("chunk_id")).as("vec_id"),
          col("doc_id"), col("chunk_id"),
          graft.functions.Kernels.featureHashVec(16)(split(col("chunk_text"), " ")).as("hv"))
      val x = ch.select(col("vec_id"),
        transform(col("hv"), v => v + lit(32L)).as("q"))
      val (assign, _, _) = Cluster.fitOn(s, x)
      ch.select(col("vec_id"), col("doc_id"), col("chunk_id"))
        .join(assign, "vec_id")
        .select(col("doc_id"), col("chunk_id"),
          col("cluster").cast("long").as("cluster"), col("dist"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // C81 (r11): the RAG PROBE — querying the C80 index: a probe text
    // hash-embeds into the same 16-dim integer space, routes to its
    // nearest trained cell (integer L2 against the k·dim centroid
    // literals — the IVF nprobe=1 read path), and ranks ONLY that
    // cell's chunks by exact integer L2, top-5. With C80/D33 this
    // completes the retrieval lifecycle: build, ingest, serve. Every
    // number integer ⇒ hash-gated; ties break (l2, chunk key) in both
    // engines. 100 TB shape: the probe set (10 queries) broadcasts into
    // an equi-join on the cell id of a cell-partitioned index — only
    // probed cells are scanned (the C8g partition-prune discipline),
    // the corpus never re-shuffles per query batch.
    Q("pipeline_rag_probe", ragProbeSql) { (s, dir) =>
      // r13 OPT: the chunk/embed frame materializes once — it feeds the
      // quantizer fit, the corpus probe side AND the final id join-back,
      // and each branch re-ran chunkSplit + the hash-embed kernel before.
      // r14: corpus-fat (chunk text fan-out × 16-dim vectors) ⇒
      // Pinned.fat — lineage-retaining persist, not localCheckpoint
      // (VERDICT #1).
      val ch = Pinned.fat(chunkSplit(docs(s, dir))
        .select((col("doc_id") * 4096 + col("chunk_id")).as("vec_id"),
          col("doc_id"), col("chunk_id"),
          graft.functions.Kernels.featureHashVec(16)(split(col("chunk_text"), " ")).as("hv")))
      val x = ch.select(col("vec_id"),
        transform(col("hv"), v => v + lit(32L)).as("q"))
      val (assign, _, cents) = Cluster.fitOn(s, x)
      val corpus = Cluster.withDerived(s, x).join(assign, "vec_id")
        .select(col("vec_id").as("c_vec"), col("cluster"),
          col("qd").as("cd"), col("qq").as("cc"))
      val qs0 = docs(s, dir).where(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"),
          transform(graft.functions.Kernels.featureHashVec(16)(words),
            v => v + lit(32L)).as("q"))
      val qs = Cluster.assigned(s, Cluster.withDerived(s, qs0), cents)
        .select(col("q_id"), col("cluster"), col("qd"), col("qq"))
      val scored = corpus.join(broadcast(qs), "cluster")
        .select(col("q_id"), col("c_vec"),
          (col("qq") - lit(2.0d) * graft.functions.Native.dot(s, col("qd"), col("cd"))
            + col("cc")).cast("long").as("l2"))
      val ranked = scored.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("q_id")).orderBy(col("l2"), col("c_vec"))))
        .where(col("rank") <= 5)
      ranked.join(ch.select(col("vec_id").as("c_vec"), col("doc_id"), col("chunk_id")), "c_vec")
        .select(col("q_id"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("chunk_id"), col("l2"))
        .orderBy(col("q_id"), col("rank"))
    },

    // D33 (r11): C80 at INGEST — the RAG index's write path: documents
    // arriving as a stream fan out to chunks, hash-embed, and take
    // their cell assignment against the FROZEN corpus-trained quantizer
    // immediately (the D11 frozen-model discipline applied to the full
    // chunk pipeline — at 100 TB this is how the retrieval index stays
    // current without re-clustering per batch; retraining is C8i's
    // trigger's job). The model trains batch-side before the stream
    // starts (Cluster.fitOn, k·dim literals), the stream is a stateless
    // explode + projection — no watermark, no state store; gated by the
    // SAME oracle as batch C80 (driver-checked batch/stream parity, the
    // D18 pattern).
    Q("pipeline_rag_assign_stream", ragIndexSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        val chB = chunkSplit(docs(s, dir))
          .select((col("doc_id") * 4096 + col("chunk_id")).as("vec_id"),
            graft.functions.Kernels.featureHashVec(16)(split(col("chunk_text"), " ")).as("hv"))
        val (_, _, cents) = Cluster.fitOn(s,
          chB.select(col("vec_id"), transform(col("hv"), v => v + lit(32L)).as("q")))
        val stream = Events.streamOf(s, dir, "documents")
        val chS = chunkSplit(stream)
          .select(col("doc_id"), col("chunk_id"),
            graft.functions.Kernels.featureHashVec(16)(split(col("chunk_text"), " ")).as("hv"))
          .select(col("doc_id"), col("chunk_id"),
            transform(col("hv"), v => v + lit(32L)).as("q"))
        Cluster.assigned(s, Cluster.withDerived(s, chS), cents)
          .select(col("doc_id"), col("chunk_id"),
            col("cluster").cast("long").as("cluster"), col("dist"))
      }
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // D18 (r9): C55 at INGEST — chunking as documents land (the shape a
    // write-path tokenizer service runs: every arriving doc fans out to
    // its training chunks immediately). Stateless per-row explode in
    // append mode — no watermark, no state store; gated by the SAME
    // oracle as batch C55 (driver-checked batch/stream parity).
    Q("text_chunk_split_stream", chunkSplitSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append)(
          chunkSplit(Events.streamOf(s, dir, "documents")))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // C56 (r9): OOV-rate evaluation — per-document out-of-vocabulary
    // share against a bounded reference vocabulary (the tokenizer/vocab
    // COVERAGE metric: which documents a fixed vocab serves badly —
    // high-OOV docs tokenize to garbage and get down-weighted or
    // re-routed). The reference vocab here is the corpus's own top-K
    // words (count desc, word asc — total order, deterministic in both
    // engines); pointing it at a stored vocab table gives the
    // deployment form. Integer bp output ⇒ hash-gated.
    //
    // 100 TB shape: the vocab table is DRIVER-BOUNDED (top-K via
    // TakeOrdered over the slim word-count agg) and BROADCASTS into a
    // left join on the exploded token stream; the per-doc agg is
    // count/sum — map-side combinable, so the corpus pays one slim
    // groupBy(word) pass and one partial-aggregated groupBy(doc) pass,
    // never a corpus-scale join.
    Q("text_oov_rate", oovRateSql) { (s, dir) =>
      val w = docs(s, dir).select(col("doc_id"), explode(words).as("t"))
      val vocab = w.groupBy(col("t")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t").asc).limit(OovVocabK)
        .select(col("t"), lit(1).as("iv"))
      w.join(broadcast(vocab), Seq("t"), "left_outer")
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_words"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_words"), col("n_oov"),
          expr("n_oov * 10000 div n_words").as("oov_bp"))
        .orderBy(col("doc_id"))
    },

    // D20 (r9): C56 at INGEST with the vocab as a FROZEN artifact — the
    // deployment shape (the reference vocab is trained once; scoring a
    // 100 TB stream against it must not re-derive it): the bounded
    // top-K vocab collects batch-side (K strings — the C39 centroid-
    // literal discipline) and compiles into the stream projection as an
    // isin literal, so per-doc OOV counting is one stateless
    // size(filter(...)) per row — no join, no state store, append
    // mode. Gated by the SAME oracle as batch C56.
    Q("text_oov_rate_stream", oovRateSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        val vocab = docs(s, dir).select(explode(words).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("t").asc).limit(OovVocabK)
          .collect().map(_.getString(0)).toSeq
        val stream = Events.streamOf(s, dir, "documents")
        stream.select(col("doc_id"),
            size(words).cast("long").as("n_words"),
            size(filter(words, w => !w.isin(vocab.map(lit(_)): _*)))
              .cast("long").as("n_oov"))
          .select(col("doc_id"), col("n_words"), col("n_oov"),
            expr("n_oov * 10000 div n_words").as("oov_bp"))
      }
        .orderBy(col("doc_id"))
    },

    // C22: greedy sequence packing — fill 512-token bins with documents
    // in id order, never splitting a document; the batch-construction
    // step before training. Packing is inherently sequential, so it runs
    // PER SHARD (doc_id div 100): shards pack in parallel (flatMapGroups,
    // custom per-group state — the batch twin of D2's sessionization),
    // the greedy scan inside a shard is exact. Shard size is bounded by
    // construction (at 100 TB: one shard = one storage partition), so
    // collecting a shard's (id, tokens) pairs in one task is safe. The
    // oracle replays the same greedy scan as a recursive CTE.
    Q("text_pack_sequences",
      """WITH RECURSIVE t AS (
        |  SELECT doc_id // 100 AS shard, doc_id,
        |    len(string_split(text, ' ')) AS tokens,
        |    row_number() OVER (PARTITION BY doc_id // 100 ORDER BY doc_id) AS rn
        |  FROM documents),
        |p(shard, rn, bin, fill) AS (
        |  SELECT shard, rn, 0, tokens FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.shard, t.rn,
        |    CASE WHEN p.fill + t.tokens > 512 THEN p.bin + 1 ELSE p.bin END,
        |    CASE WHEN p.fill + t.tokens > 512 THEN t.tokens ELSE p.fill + t.tokens END
        |  FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
        |SELECT p.shard, CAST(max(p.bin) + 1 AS BIGINT) AS n_bins,
        |  count(*) AS n_docs, CAST(sum(t.tokens) AS BIGINT) AS tokens,
        |  CAST((sum(t.tokens) * 10000) // ((max(p.bin) + 1) * 512) AS BIGINT) AS util_bp
        |FROM p JOIN t ON t.shard = p.shard AND t.rn = p.rn
        |GROUP BY p.shard ORDER BY p.shard""".stripMargin) { (s, dir) =>
      import s.implicits._
      val t = docs(s, dir).select(
        expr("doc_id div 100").as("shard"),
        col("doc_id"),
        size(words).cast("long").as("tokens")).as[(Long, Long, Long)]
      t.groupByKey(_._1)
        .flatMapGroups { (shard, it) =>
          // one shard's (id, tokens) pairs — bounded by shard size
          val ds = it.toIndexedSeq.sortBy(_._2)
          var bin = 0L; var fill = 0L
          var nDocs = 0L; var tok = 0L
          ds.foreach { case (_, _, tk) =>
            if (nDocs == 0L) { fill = tk }
            else if (fill + tk > 512L) { bin += 1; fill = tk }
            else fill += tk
            nDocs += 1; tok += tk
          }
          val nBins = bin + 1
          Iterator((shard, nBins, nDocs, tok, tok * 10000L / (nBins * 512L)))
        }
        .toDF("shard", "n_bins", "n_docs", "tokens", "util_bp")
        .orderBy(col("shard"))
    },

    // C59 (r9): the training-example CONSTRUCTOR — the step after C22's
    // bin accounting that actually EMITS model-ready token blocks
    // (GPT-2-style concat-and-chunk: docs in order, EOS-joined, split
    // into fixed 64-id blocks, shard tail dropped). Ids come from a
    // frozen top-K vocab (rank by count desc, word asc — a total
    // order), OOV -> 0, EOS = K+1. Emitting the full id sequence per
    // block puts every pack decision under the hash gate.
    // 100 TB shape: the vocab is DRIVER-BOUNDED (50 rows — the single-
    // partition rank window is over that bounded frame only) and
    // broadcasts into the token stream; per-doc offsets are a window
    // over SLIM (doc_id, n) rows partitioned BY SHARD (never global);
    // the corpus-scale stream pays one posexplode (inherent — the
    // output IS token-grain), one co-partitioned doc-keyed join to pick
    // up its shard offset, and one (shard, block)-keyed shuffle of
    // narrow (slot, id) rows — the floor for materializing a packed
    // corpus. collect_list groups are bounded at 64 by construction.
    Q("pipeline_tokenize_pack", tokenizePackSql) { (s, dir) =>
      val W = org.apache.spark.sql.expressions.Window
      val d = docs(s, dir)
      val wordCounts = d.select(explode(words).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w").asc).limit(TokPackVocabK)
      val vocab = wordCounts
        .withColumn("id", row_number().over(W.orderBy(col("c").desc, col("w").asc)).cast("long"))
        .select(col("w"), col("id"))
      val perDoc = d.select(col("doc_id"), expr("doc_id div 100").as("shard"),
        size(words).cast("long").as("n"))
      val offs = perDoc.select(col("doc_id"), col("shard"), col("n"),
        (sum(col("n") + 1L).over(W.partitionBy(col("shard")).orderBy(col("doc_id")))
          - (col("n") + 1L)).as("off"))
      val toks = d.select(col("doc_id"), posexplode(words).as(Seq("pos", "w")))
        .join(broadcast(vocab), Seq("w"), "left_outer")
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          coalesce(col("id"), lit(0L)).as("id"))
        .unionByName(perDoc.select(col("doc_id"), col("n").as("pos"),
          lit(TokPackVocabK + 1L).as("id")))
      toks.join(offs.select(col("doc_id"), col("shard"), col("off")), Seq("doc_id"))
        .select(col("shard"), expr(s"(off + pos) div $TokPackBlock").as("block"),
          expr(s"(off + pos) % $TokPackBlock").as("slot"), col("id"))
        .groupBy(col("shard"), col("block"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("id") === (TokPackVocabK + 1L), 1L).otherwise(0L)).as("n_eos"),
          array_join(
            transform(array_sort(collect_list(struct(col("slot"), col("id")))),
              x => x.getField("id").cast("string")), ",").as("ids"))
        .filter(col("cnt") === TokPackBlock.toLong)
        .select(col("shard"), col("block"), col("n_eos"), col("ids"))
        .orderBy(col("shard"), col("block"))
    },

    // D21 (r9): C59 at INGEST — packing as documents land, the
    // deployment shape for a streaming pretraining pipeline (blocks
    // ship to the trainer as soon as they fill; only the <64-id shard
    // remainder waits). The frozen vocab collects batch-side (50
    // entries — the D20 frozen-artifact stance) and rides the closure;
    // per-shard state is GENUINELY BOUNDED: (next block id, remainder
    // buffer < 64 ids) — ≤ 65 longs per shard no matter how much
    // history the shard has seen. flatMapGroupsWithState emits each
    // block exactly once when it fills (append mode — emitted blocks
    // are immutable, the streaming contract packing naturally has).
    // Pack order = arrival order; within a micro-batch the group sorts
    // by doc_id, so replaying the corpus file reproduces batch C59
    // exactly — gated by the SAME oracle (driver-checked parity).
    Q("pipeline_tokenize_pack_stream", tokenizePackSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append) {
        val sess = s
        import sess.implicits._
        val eos = TokPackVocabK + 1L
        val vocabMap: Map[String, Long] = docs(s, dir)
          .select(explode(words).as("w"))
          .groupBy(col("w")).agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("w").asc).limit(TokPackVocabK)
          .collect().zipWithIndex
          .map { case (r, i) => r.getString(0) -> (i + 1L) }.toMap
        val stream = Events.streamOf(s, dir, "documents")
        stream
          .select(col("doc_id"), expr("doc_id div 100").as("shard"), words.as("ws"))
          .as[(Long, Long, Seq[String])]
          .groupByKey(_._2)
          .flatMapGroupsWithState[(Long, Seq[Long]), (Long, Long, Long, String)](
            org.apache.spark.sql.streaming.OutputMode.Append(),
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
            (shard: Long, rows: Iterator[(Long, Long, Seq[String])],
             state: org.apache.spark.sql.streaming.GroupState[(Long, Seq[Long])]) =>
              val (startBlock, startBuf) = state.getOption.getOrElse((0L, Seq.empty[Long]))
              var block = startBlock
              var buf = startBuf.toVector
              val out = Vector.newBuilder[(Long, Long, Long, String)]
              rows.toVector.sortBy(_._1).foreach { case (_, _, ws) =>
                buf = buf ++ ws.map(w => vocabMap.getOrElse(w, 0L)) :+ eos
                while (buf.length >= TokPackBlock) {
                  val (b, rest) = buf.splitAt(TokPackBlock)
                  out += ((shard, block, b.count(_ == eos).toLong, b.mkString(",")))
                  block += 1; buf = rest
                }
              }
              state.update((block, buf))
              out.result().iterator
          }
          .toDF("shard", "block", "n_eos", "ids")
      }
        .orderBy(col("shard"), col("block"))
    },

    // C23: deterministic global shuffle — the reproducible corpus
    // ordering for training (pure function of doc_id, stable across
    // reruns/engines). Global contiguous positions WITHOUT a
    // single-partition window: range-partitioned sort, then zipWithIndex
    // adds per-partition offsets (one extra count job) — the
    // scale-correct way to number a sorted corpus. First 50 positions as
    // the gate.
    Q("text_global_shuffle",
      s"""WITH s AS (SELECT doc_id, ${Curation.md5KeySql} AS h FROM documents)
        |SELECT CAST(row_number() OVER (ORDER BY h, doc_id) AS BIGINT) AS pos, doc_id, h
        |FROM s ORDER BY pos LIMIT 50""".stripMargin) { (s, dir) =>
      val sorted = docs(s, dir)
        .select(col("doc_id"), Curation.md5Key.as("h"))
        .orderBy(col("h"), col("doc_id"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("h", org.apache.spark.sql.types.StringType)))
      val numbered = sorted.rdd.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(i + 1L, r.getLong(0), r.getString(1))
      }
      s.createDataFrame(numbered, schema).where(col("pos") <= 50).orderBy(col("pos"))
    },

    // C77 (r11): curriculum ORDER — the easy→hard phased training
    // schedule (curriculum learning, Bengio et al. 2009): rank the
    // corpus by C10's quality_bp (high quality = "easy" = phase 1),
    // cut into 4 equal phases by pure integer arithmetic on the rank
    // (phase = (4·(rn−1)) div n + 1 — no float quantile can flip a
    // boundary row between engines), then shuffle WITHIN each phase by
    // the deterministic Knuth coin so consecutive training batches stay
    // diverse while the phase progression holds. seq restarts at 1 per
    // phase via the closed-form offset ceil(n·(p−1)/4) = (n·(p−1)+3)
    // div 4 — the exact count of rows in phases < p under
    // phase(rn) = (4·(rn−1)) div n + 1, for EVERY n, not just n ≡ 0
    // mod 4 (r12 ADVICE fix: the floor form under-subtracted when
    // n·(p−1) % 4 ≠ 0, e.g. n=10 gave phase-2 seqs 2..3). Phases are
    // contiguous under the (phase, coin) sort, so no per-phase window
    // is needed.
    // 100 TB shape: the C23 discipline twice — NO global window
    // function; each global ordering is a range-partitioned sort +
    // zipWithIndex (per-partition offsets from one count job), and both
    // sorted passes move only (doc_id, quality_bp, phase, coin) slivers,
    // never text. All integer ⇒ hash-gated.
    Q("text_curriculum_order",
      s"""WITH q AS (${Curation.qualitySql("doc_id")}),
        |n AS (SELECT count(*) AS n FROM q),
        |r AS (SELECT doc_id, quality_bp,
        |        row_number() OVER (ORDER BY quality_bp DESC, doc_id) AS rn
        |      FROM q),
        |p AS (SELECT doc_id, quality_bp,
        |        CAST((4 * (rn - 1)) // n.n + 1 AS BIGINT) AS phase,
        |        ((doc_id % 1000003) * 131071 + 99991) % 1000003 AS coin
        |      FROM r CROSS JOIN n),
        |o AS (SELECT phase, doc_id, quality_bp,
        |        CAST(row_number() OVER (ORDER BY phase, coin, doc_id)
        |          - (n.n * (phase - 1) + 3) // 4 AS BIGINT) AS seq
        |      FROM p CROSS JOIN n)
        |SELECT phase, seq, doc_id, quality_bp
        |FROM o ORDER BY phase, seq""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val q = cardBase(docs(s, dir)).select(col("doc_id"), col("quality_bp"))
      val n = q.count()
      // pass 1: global difficulty rank — range-sort + zipWithIndex, the
      // C23 scale-correct numbering (a window over the full corpus would
      // serialize on one reducer)
      val rankSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("quality_bp", LongType),
        StructField("rn", LongType)))
      val ranked = s.createDataFrame(
        q.orderBy(col("quality_bp").desc, col("doc_id")).rdd.zipWithIndex.map {
          case (r, i) => org.apache.spark.sql.Row(r.getLong(0), r.getLong(1), i + 1L)
        }, rankSchema)
      val phased = ranked.select(col("doc_id"), col("quality_bp"),
        expr(s"cast((4 * (rn - 1)) div $n + 1 as bigint)").as("phase"),
        (((col("doc_id") % 1000003L) * 131071L + 99991L) % 1000003L).as("coin"))
      // pass 2: within-phase shuffle order; phases are contiguous under
      // (phase, coin, doc_id), so the per-phase seq is the global
      // position minus the phase's closed-form start offset
      val posSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("quality_bp", LongType),
        StructField("phase", LongType), StructField("pos", LongType)))
      val positioned = s.createDataFrame(
        phased.orderBy(col("phase"), col("coin"), col("doc_id")).rdd.zipWithIndex.map {
          case (r, i) => org.apache.spark.sql.Row(
            r.getLong(0), r.getLong(1), r.getLong(2), i + 1L)
        }, posSchema)
      positioned.select(col("phase"),
          expr(s"cast(pos - ($n * (phase - 1) + 3) div 4 as bigint)").as("seq"),
          col("doc_id"), col("quality_bp"))
        .orderBy(col("phase"), col("seq"))
    },

    // C78 (r11): fill-in-the-middle TRANSFORM — the FIM data
    // augmentation of code/infilling pretraining (Bavarian et al. 2022,
    // arXiv:2207.14255): a deterministic 50% of documents (the paper's
    // fim_rate, decided by the Knuth coin — pure function of doc_id, so
    // the same doc transforms identically on every engine/rerun) are
    // re-serialized in PSM order '<PRE>'+prefix+'<SUF>'+suffix+'<MID>'+
    // middle, with the two cut points derived from doc_id by integer
    // arithmetic guaranteeing three NON-EMPTY spans (a ∈ [1, len−2],
    // b ∈ [a+1, len−1]); the rest — including NULL-text docs, whose len
    // is NULL and so satisfies neither coin branch — route explicitly to
    // the orig pass-through (r12 ADVICE fix: previously a NULL-text doc
    // with coin=0 vanished from the output). Both engines
    // slice with character-based substr on the same integer offsets ⇒
    // hash-gated end-to-end, span-length audit columns included.
    // 100 TB shape: a pure stateless projection — zero shuffles except
    // the presentation sort; at scale this runs fused into the
    // tokenize+pack scan (C59), never as its own pass.
    Q("text_fim_transform",
      """WITH d AS (
        |  SELECT doc_id, text, length(text) AS len,
        |    ((doc_id % 1000003) * 131071 + 99991) % 1000003 % 2 AS coin
        |  FROM documents),
        |f AS (SELECT doc_id, text, len,
        |        1 + ((doc_id * 48271 + 11) % 1000003) % (len - 2) AS a
        |      FROM d WHERE coin = 0 AND len >= 3),
        |g AS (SELECT doc_id, text, len, a,
        |        a + 1 + ((doc_id * 16807 + 7) % 1000003) % (len - 1 - a) AS b
        |      FROM f),
        |out AS (
        |  SELECT doc_id, 'psm' AS mode,
        |    CAST(a AS BIGINT) AS n_prefix,
        |    CAST(b - a AS BIGINT) AS n_middle,
        |    CAST(len - b AS BIGINT) AS n_suffix,
        |    '<PRE>' || substr(text, 1, CAST(a AS INT))
        |      || '<SUF>' || substr(text, CAST(b + 1 AS INT), CAST(len - b AS INT))
        |      || '<MID>' || substr(text, CAST(a + 1 AS INT), CAST(b - a AS INT)) AS out_text
        |  FROM g
        |  UNION ALL
        |  SELECT doc_id, 'orig' AS mode, 0 AS n_prefix,
        |    CAST(len AS BIGINT) AS n_middle, 0 AS n_suffix, text AS out_text
        |  FROM d WHERE coin = 1 OR len < 3 OR len IS NULL)
        |SELECT doc_id, mode, n_prefix, n_middle, n_suffix, out_text
        |FROM out ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = docs(s, dir).select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"),
        (((col("doc_id") % 1000003L) * 131071L + 99991L) % 1000003L % 2).as("coin"))
      val fim = d.where(col("coin") === 0 && col("len") >= 3)
        .withColumn("a", expr("1 + ((doc_id * 48271 + 11) % 1000003) % (len - 2)"))
        .withColumn("b", expr("a + 1 + ((doc_id * 16807 + 7) % 1000003) % (len - 1 - a)"))
        .select(col("doc_id"), lit("psm").as("mode"),
          col("a").cast("long").as("n_prefix"),
          (col("b") - col("a")).cast("long").as("n_middle"),
          (col("len") - col("b")).cast("long").as("n_suffix"),
          concat(lit("<PRE>"), expr("substring(text, 1, cast(a as int))"),
            lit("<SUF>"), expr("substring(text, cast(b + 1 as int), cast(len - b as int))"),
            lit("<MID>"), expr("substring(text, cast(a + 1 as int), cast(b - a as int))")).as("out_text"))
      val orig = d.where(col("coin") === 1 || col("len") < 3 || col("len").isNull)
        .select(col("doc_id"), lit("orig").as("mode"), lit(0L).as("n_prefix"),
          col("len").as("n_middle"), lit(0L).as("n_suffix"), col("text").as("out_text"))
      fim.unionAll(orig).orderBy(col("doc_id"))
    },

    // C24: data-driven language rebalance — the two-pass reweighting
    // behind domain/language mixing: pass 1 computes per-stratum counts,
    // keep-rate = min(1, equal-share / observed-share) in integer basis
    // points; pass 2 filters by the same deterministic Knuth-hash-mod as
    // C19. Unlike C19's fixed CASE table, the rates here are COMPUTED
    // from the data (what a real mixing step does). The rate table is
    // |langs| rows — broadcast join.
    Q("text_lang_rebalance",
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_src FROM c),
        |rate AS (
        |  SELECT c.lang,
        |    CAST(least(10000, (tot.total * 10000) // (tot.n_src * c.cnt)) AS BIGINT) AS keep_bp
        |  FROM c CROSS JOIN tot),
        |kept AS (
        |  SELECT d.lang, d.n_chars FROM documents d JOIN rate r ON r.lang = d.lang
        |  WHERE ((d.doc_id % 1000003) * 131071 + 99991) % 1000003 % 10000 < r.keep_bp)
        |SELECT k.lang, r.keep_bp, count(*) AS n, CAST(sum(k.n_chars) AS BIGINT) AS chars
        |FROM kept k JOIN rate r ON r.lang = k.lang
        |GROUP BY k.lang, r.keep_bp ORDER BY k.lang""".stripMargin) { (s, dir) =>
      val d = docs(s, dir)
      val c = d.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val tot = c.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_src"))
      val rate = c.crossJoin(tot)
        .select(col("lang"),
          least(lit(10000L), expr("(total * 10000) div (n_src * cnt)")).cast("long").as("keep_bp"))
      d.join(broadcast(rate), "lang")
        .where(keepCoin(10000) < col("keep_bp"))
        .groupBy(col("lang"), col("keep_bp"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    },

    // C42: temperature-scaled mixture SCHEDULE — the data-mixing plan a
    // training run consumes (mT5/XLM-R-style T=1/2 sampling): per
    // (source, lang) stratum, token count → temperature weight
    // w = floor(sqrt(tokens)) (sqrt IS temperature 0.5; floor of a
    // correctly-rounded IEEE sqrt is deterministic across engines up to
    // 2^52 tokens/stratum ≈ 3 orders beyond a 100 TB corpus), then a
    // fixed token budget B = total/2 allocates proportionally and
    // rate_bp = allocated/available in basis points — >10000 means the
    // stratum REPEATS (epochs), the low-resource upsampling temperature
    // mixing exists to produce. All arithmetic integer-exact: the one
    // wide product B·w runs in decimal(38,0) (Spark) / HUGEINT (DuckDB)
    // — at 100 TB, B·w ≈ 1e13·3e6 overflows int64, the [[Fixed]] lesson.
    // 100 TB shape: ONE map-side-combinable groupBy(source, lang) over a
    // (source, lang, text)-pruned scan; the |strata|-row schedule then
    // crossJoins a broadcast 1-row total — no second corpus pass.
    Q("text_mixture_schedule", mixtureScheduleSql(
      """SELECT source, lang, n_docs, n_tokens, w_sqrt, alloc_tokens, rate_bp
        |FROM r ORDER BY source, lang""".stripMargin)) { (s, dir) =>
      mixtureSchedule(docs(s, dir)).orderBy(col("source"), col("lang"))
    },

    // C42b: APPLY the mixture schedule — materialize C42's plan into the
    // realized sample: each doc draws `rate_bp div 10000` whole copies
    // (upsampling epochs) plus one more iff the deterministic coin lands
    // under the fractional remainder — the reproducible, reshuffle-stable
    // realization of the temperature mixture (same coin as C19/C24/C29,
    // so the sample survives reruns and engines). The gate reports the
    // per-stratum realized totals; the per-doc `copies` column is what a
    // pipeline would explode into the training corpus. ONE shared
    // schedule definition with C42 ([[mixtureSchedule]]), so plan and
    // realization can never drift. Two corpus passes by construction
    // (count, then apply) — at 100 TB the |strata|-row schedule persists
    // beside the corpus and the apply pass joins it by broadcast; the
    // corpus never shuffles.
    Q("text_mixture_apply", mixtureApplySql) { (s, dir) =>
      mixtureApplied(docs(s, dir), mixtureSchedule(docs(s, dir)))
        .orderBy(col("source"), col("lang"))
    },

    // D13: C42b at INGEST time — the mixture realized as data lands:
    // the schedule is a slowly-changing STATIC plan (|strata| rows,
    // the legitimate broadcast); each arriving doc draws its epoch
    // copies + the deterministic fractional coin statelessly, and the
    // ONE stateful aggregation folds per-stratum realized totals.
    // Batch and stream consume the ENTIRE shared [[mixtureApplied]]
    // body and the same oracle (the C30/D6/D10/D12 discipline) — the
    // realization rule provably cannot drift between the nightly batch
    // and the ingest path.
    Q("text_mixture_apply_stream", mixtureApplySql) { (s, dir) =>
      Events.runStream(s, OutputMode.Complete)(
          mixtureApplied(Events.streamOf(s, dir, "documents"), mixtureSchedule(docs(s, dir))))
        .orderBy(col("source"), col("lang"))
    },

    // C26: corpus n-gram LM counts — the classic wordcount shape at
    // n-gram granularity (KenLM-style count collection). Explode → one
    // hash-aggregate shuffle with map-side partial aggregation; the
    // count>=threshold filter runs AFTER the partial agg, so at 100 TB
    // the shuffle carries one row per distinct gram per map partition,
    // not one per occurrence.
    Q("text_ngram_counts",
      """WITH docs_ws AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i FROM docs_ws),
        |g AS (SELECT a.w||' '||b.w||' '||c.w AS gram
        |      FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |               JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2)
        |SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g
        |GROUP BY gram HAVING count(*) >= 5 ORDER BY gram""".stripMargin) { (s, dir) =>
      docs(s, dir).where(size(words) >= 3)
        .select(explode(graft.functions.Kernels.gramsMultiN(words, 3)).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 5)
        .orderBy(col("gram"))
    },

    // C74/C75 shared frames are defined at the end of this object
    // (distinctNgramsFrame / distinctNgramsSql).
    //
    // C74 (r10): DISTINCT-n corpus DIVERSITY — distinct n-grams over
    // total n-grams (bp) per source for n ∈ 1/2/3, the distinct-n
    // metric generation-eval uses, pointed at curation: the number that
    // says whether dedup/filter stages actually reduced homogenization
    // (template-heavy sources read low distinct-3), monitored per
    // source so a single boilerplate feed can't hide inside a healthy
    // corpus average. All integer ⇒ hash-gated.
    // 100 TB shape: one explode per n through the SAME gram kernel the
    // dedup/LM family uses, ONE gram-keyed shuffle with map-side
    // combine on (source, n, gram) — tfidf's exchange class, the floor
    // for an exact corpus-wide distinct — then the rollup carries
    // |sources·3| slim rows. No count_distinct expand, no second pass.
    Q("text_distinct_ngrams",
      """WITH docs_ws AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |w AS (SELECT doc_id, source, unnest(ws) AS w,
        |        generate_subscripts(ws, 1) AS i FROM docs_ws),
        |g1 AS (SELECT source, w AS gram FROM w),
        |g2 AS (SELECT a.source, a.w||' '||b.w AS gram
        |       FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1),
        |g3 AS (SELECT a.source, a.w||' '||b.w||' '||c.w AS gram
        |       FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |                JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
        |u AS (SELECT 1 AS n, source, gram FROM g1
        |      UNION ALL SELECT 2, source, gram FROM g2
        |      UNION ALL SELECT 3, source, gram FROM g3),
        |agg AS (SELECT source, n, CAST(count(*) AS BIGINT) AS total_grams,
        |          CAST(count(DISTINCT gram) AS BIGINT) AS distinct_grams
        |        FROM u GROUP BY source, n)
        |SELECT source, CAST(n AS BIGINT) AS n, total_grams, distinct_grams,
        |  CAST(distinct_grams * 10000 // total_grams AS BIGINT) AS distinct_bp
        |FROM agg ORDER BY source, n""".stripMargin) { (s, dir) =>
      distinctNgramsFrame(docs(s, dir).select(col("source"), words.as("ws")))
        .orderBy(col("source"), col("n"))
    },

    // C75 (r10): dedup DIVERSITY GAIN — C74 before/after the C68
    // cascade, per source: THE number dedup reports exist to move
    // (distinct-n up = homogenization out), attributed to the exact
    // corpus the cascade keeps. Reads the PERSISTED cascade verdict
    // artifact (r11: Dedup.cascadeStagesArtifact — fingerprint-keyed,
    // parity-pinned by inv_cascade_artifact_parity) instead of
    // re-running pair mining + CC per report: at 100 TB a downstream
    // audit must consume the dedup decision, not recompute it. The
    // oracle still restates the FULL staged decision in SQL, so the
    // gate proves artifact-served verdicts ≡ the from-scratch cascade.
    // All integer ⇒ hash-gated. 100 TB shape: artifact scan + two C74
    // passes (one semi-joined to survivors); the final join carries
    // |sources·3| rows.
    Q("dedup_diversity_gain",
      s"""WITH RECURSIVE ${Dedup.cascadeCtes},
        |kept AS (
        |  SELECT s2.doc_id FROM s2
        |  LEFT JOIN nd ON nd.doc_id = s2.doc_id
        |  WHERE s2.exact_keep = 1 AND nd.doc_id IS NULL),
        |raw_d AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
        |kept_d AS (SELECT d.doc_id, d.source, string_split(d.text, ' ') AS ws
        |           FROM documents d JOIN kept ON kept.doc_id = d.doc_id),
        |${distinctNgramsSql("raw_d", "r")},
        |${distinctNgramsSql("kept_d", "k")}
        |SELECT r.source, CAST(r.n AS BIGINT) AS n, r.bp AS raw_bp,
        |  k.bp AS kept_bp, k.bp - r.bp AS gain_bp
        |FROM r_agg r JOIN k_agg k ON k.source = r.source AND k.n = r.n
        |ORDER BY r.source, r.n""".stripMargin) { (s, dir) =>
      val kept = Dedup.cascadeStagesArtifact(s, dir)
        .where(col("stage") === "kept").select(col("doc_id"))
      val raw = docs(s, dir).select(col("doc_id"), col("source"), words.as("ws"))
      def bp(d: org.apache.spark.sql.DataFrame) =
        distinctNgramsFrame(d.select(col("source"), col("ws")))
          .select(col("source"), col("n"), col("distinct_bp"))
      bp(raw).withColumnRenamed("distinct_bp", "raw_bp")
        .join(bp(raw.join(kept, Seq("doc_id"), "left_semi"))
          .withColumnRenamed("distinct_bp", "kept_bp"), Seq("source", "n"))
        .withColumn("gain_bp", col("kept_bp") - col("raw_bp"))
        .orderBy(col("source"), col("n"))
    },

    // C27: TF-IDF top terms per document. The idf is INTEGER-scaled
    // ((N*1000) div df) so both engines rank identical integers — a
    // ln()-based idf would hand the gate to cross-engine libm rounding.
    // Milli (not micro) fixed point bounds the score: score <= tf_max ·
    // 1000·N, which fits a signed 64-bit long for corpora to ~9·10^10
    // docs at tf_max 10^5 — three orders past 100 TB of 10 KB documents
    // (micro scaling would wrap negative, silently mis-ranking in Spark
    // while DuckDB raises, from N ~ 10^8). The df table is
    // open-vocabulary → shuffle join, deliberately NOT broadcast (same
    // stance as text_vocab_topk; a 100 TB corpus has a vocabulary far
    // beyond driver memory).
    Q("text_tfidf",
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM w) GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term, tf.tf, (n.n*1000)//df.df AS idf_sc,
        |              tf.tf*((n.n*1000)//df.df) AS score
        |       FROM tf JOIN df USING(term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk FROM sc)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(idf_sc AS BIGINT) AS idf_sc,
        |       CAST(score AS BIGINT) AS score
        |FROM r WHERE rk <= 3 ORDER BY doc_id, score DESC, term""".stripMargin) { (s, dir) =>
      val w = docs(s, dir).select(col("doc_id"), explode(words).as("term"))
      val tf = w.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      // derive df FROM tf (one row per distinct (doc, term), so rows per
      // term == distinct-doc count), with a tf-referencing predicate the
      // optimizer can't fold, so the derivation rides tf's exchange
      // instead of re-tokenizing the corpus through a separate distinct
      // (the r7 lm_kn lesson; see the C35 comment for why a bare
      // count(tf) is not enough)
      val dft = tf.groupBy(col("term"))
        .agg(count(when(col("tf") > 0, lit(1))).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n"))
      val sc = tf.join(dft, "term").crossJoin(n)
        .select(col("doc_id"), col("term"), col("tf"),
          expr("(n * 1000) div df").as("idf_sc"),
          (col("tf") * expr("(n * 1000) div df")).as("score"))
      val win = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      sc.withColumn("rk", row_number().over(win)).where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("idf_sc"), col("score"))
        .orderBy(col("doc_id"), col("score").desc, col("term"))
    },

    // C38: n-gram language-model document scoring — the CCNet/Wiki-LM
    // perplexity-filter shape with the float perplexity replaced by an
    // integer-exact statistic. A bigram model's conditional
    // probabilities p(w2|w1) = cnt(w1 w2) / Σ_x cnt(w1 x) are rational;
    // scoring each document by the AVERAGE conditional probability in
    // basis points ((c2*10000) div cp, summed, div n_bigrams — all
    // non-negative, so Spark's truncating div and DuckDB's flooring //
    // agree) keeps the whole count→probability→score path inside the
    // driver's hash gate, where log-space perplexity would hand it to
    // cross-engine libm. Bigrams are (w1, w2) COLUMN pairs built by one
    // zip_with over the token array (no gram-string assembly, no UDF).
    //
    // PLAN SHAPE (r6 verdict #1): the corpus tokenize+explode runs
    // EXACTLY ONCE. The position stream first partial-aggregates to
    // per-doc bigram counts `bgc` (doc_id, w1, w2, nd) — map-side
    // combinable, so repeated bigrams within a doc collapse before the
    // one corpus-scale exchange — and EVERYTHING downstream derives
    // from bgc: c2 = Σ_docs nd, cp = Σ_x c2(w1 x) (a proper
    // distribution), and the scoring probe re-keys bgc by (w1, w2),
    // scoring sum(nd·p) per doc. Both consumers sit above bgc's
    // exchange, so Spark's ReuseExchange collapses the second subtree
    // to a ReusedExchange — PlanSpec asserts ONE documents scan and a
    // fired reuse. The count-table joins stay UN-hinted (same stance as
    // text_tfidf: a 100 TB vocabulary outgrows any driver broadcast;
    // size stats decide per scale). Counts come from the corpus itself
    // (self-scoring, the dedup-adjacent "how predictable is this doc
    // given the corpus" signal); pointing `docs` at a reference corpus
    // gives CCNet's exact train-on-Wikipedia shape.
    Q("text_lm_score", lmScoreSql) { (s, dir) =>
      lmScores(s, dir).orderBy(col("doc_id"))
    },

    // C38b: Kneser-Ney-smoothed LM scoring — the smoothing the actual
    // CCNet/KenLM filter models ship (raw MLE conditionals like C38's
    // overweight frequent continuations; KN discounts each observed
    // bigram by d and redistributes the held-out mass by CONTINUATION
    // counts — "how many distinct contexts precede w2" — the
    // distributional-novelty correction). Same integer-exact stance and
    // the same single-bgc plan shape as C38 (see [[knScores]] for the
    // arithmetic and the decimal(38,0) overflow story); the extra
    // quantities (n1f, n1r, ntypes) are one more groupBy over the c2
    // TYPE table — vocabulary-bounded, never corpus-bounded — plus a
    // 1-row broadcast. Low kn_bp = unpredictable-under-smoothing docs,
    // the CCNet "tail" bucket.
    Q("text_lm_kn",
      s"""$lmCtes,
        |bgc AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS nd FROM bg GROUP BY 1, 2, 3),
        |cf AS (SELECT w1, CAST(count(*) AS BIGINT) AS n1f FROM c2 GROUP BY 1),
        |rv AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1r FROM c2 GROUP BY 1),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS ntypes FROM c2),
        |p AS (SELECT bgc.doc_id, bgc.nd,
        |        ((4 * c2.c2 - 3) * 10000) // (4 * cp.cp)
        |        + CAST((CAST(3 * cf.n1f AS HUGEINT) * rv.n1r * 10000)
        |               // (CAST(4 * cp.cp AS HUGEINT) * nt.ntypes) AS BIGINT) AS p_bp
        |      FROM bgc JOIN c2 USING (w1, w2) JOIN cp USING (w1) JOIN cf USING (w1)
        |               JOIN rv USING (w2) CROSS JOIN nt),
        |agg AS (SELECT doc_id, CAST(sum(nd) AS BIGINT) AS n_bigrams,
        |               CAST(sum(nd * p_bp) AS BIGINT) AS sum_pbp
        |        FROM p GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, sum_pbp, sum_pbp // n_bigrams AS kn_bp
        |FROM agg ORDER BY doc_id""".stripMargin) { (s, dir) =>
      knScores(s, dir).orderBy(col("doc_id"))
    },

    // C38d: interpolated TRIGRAM LM scoring — the n>2 generalization of
    // C38 (production KenLM filters are 4-5-gram; trigram is where the
    // order-mixing machinery appears): score = fixed-weight interpolation
    // (3·p3 + 2·p2 + p1) div 6 of trigram/bigram/unigram conditionals,
    // each an integer-exact truncating div in basis points (per-term
    // truncation is the documented contract; c·10⁴ ≤ ~1e16 at 100 TB —
    // inside BIGINT on both engines).
    // 100 TB shape — how the marginals avoid extra corpus passes: the
    // per-doc trigram count `tgc` is THE corpus-scale aggregation
    // (probe + c3 both sit above its exchange, the C38 reuse pattern),
    // and the bigram/unigram model tables derive from the trigram TYPE
    // table by marginalization: trigram-start pairs cover positions
    // 1..n-2, so adding each doc's three BOUNDARY items — the tail
    // bigram (w_{n-1}, w_n) and tail unigrams w_{n-1}, w_n — makes the
    // identity exact (c2 = Σ_w3 c3 ⊕ tail pairs; c1 = Σ_w2w3 c3 ⊕ tail
    // tokens). The boundary stream is 3 rows/doc on a second scan-speed
    // pass (the C37 scans-are-cheap trade, chosen over checkpointing a
    // corpus-scale mixed-arity stream), and its type table is a
    // vocabulary-bounded sliver, eagerly checkpointed because its two
    // consumers filter on arity (the C44 pushdown lesson). The ORACLE
    // computes c2/c1 directly from full position streams — a hash
    // mismatch would catch any error in the marginalization identity.
    Q("text_lm_trigram",
      """WITH docs_ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents
        |                 WHERE len(string_split(text,' ')) >= 3),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM docs_ws),
        |tg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2, c.w AS w3
        |       FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |                JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
        |c3 AS (SELECT w1,w2,w3, CAST(count(*) AS BIGINT) AS c3 FROM tg GROUP BY 1,2,3),
        |cp3 AS (SELECT w1,w2, CAST(sum(c3) AS BIGINT) AS cp3 FROM c3 GROUP BY 1,2),
        |bgp AS (SELECT a.doc_id, a.w AS x, b.w AS y FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1),
        |c2 AS (SELECT x,y, CAST(count(*) AS BIGINT) AS c2 FROM bgp GROUP BY 1,2),
        |cp2 AS (SELECT x, CAST(sum(c2) AS BIGINT) AS cp2 FROM c2 GROUP BY 1),
        |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM w GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w),
        |sp AS (SELECT tg.doc_id,
        |         (3*((c3.c3*10000)//cp3.cp3) + 2*((c2.c2*10000)//cp2.cp2) + ((c1.c1*10000)//n.n)) // 6 AS p
        |       FROM tg JOIN c3 USING (w1,w2,w3) JOIN cp3 USING (w1,w2)
        |               JOIN c2 ON c2.x = tg.w2 AND c2.y = tg.w3
        |               JOIN cp2 ON cp2.x = tg.w2
        |               JOIN c1 ON c1.w = tg.w3 CROSS JOIN n)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams, CAST(sum(p) AS BIGINT) AS sum_pbp,
        |       CAST(CAST(sum(p) AS BIGINT) // count(*) AS BIGINT) AS lm3_bp
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = docs(s, dir).where(size(words) >= 3)
      // r14 OPT (VERDICT #2 applied one order down, guide §2.3): dense
      // word-id dictionary — the probe spine joins five count tables on
      // 1-3 word STRING keys; ids make every downstream key an int (see
      // text_lm_backoff for the injectivity argument and A/B evidence)
      val dict = wordIds(base.select(explode(words).as("w")))
      def wid(slot: String, out: String) =
        broadcast(dict.select(col("w").as(slot), col("wid").as(out)))
      val tgc = base
        .select(col("doc_id"), explode(zip_with(
          zip_with(
            slice(words, lit(1), size(words) - 2), slice(words, lit(2), size(words) - 2),
            (a, b) => struct(a.as("w1"), b.as("w2"))),
          slice(words, lit(3), size(words) - 2),
          (p, c) => struct(p.getField("w1").as("w1"),
            p.getField("w2").as("w2"), c.as("w3")))).as("tg"))
        .select(col("doc_id"), col("tg.w1").as("s1"),
          col("tg.w2").as("s2"), col("tg.w3").as("s3"))
        .where(col("doc_id").isNotNull && col("s1").isNotNull &&
          col("s2").isNotNull && col("s3").isNotNull)
        .join(wid("s1", "w1"), "s1").join(wid("s2", "w2"), "s2")
        .join(wid("s3", "w3"), "s3")
        .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"))
        .agg(count(lit(1)).as("nd"))
        // r13 OPT (guide §2.4): every count table below is consumed
        // twice (its marginalization child + the probe spine) and the
        // lazy plan re-ran the whole explode/agg chain per branch —
        // each level checkpoints once (vocab-bounded slivers, Pinned)
        .localCheckpoint(true).transform(Pinned.track)
      val c3 = tgc.groupBy(col("w1"), col("w2"), col("w3"))
        .agg(sum(col("nd")).as("c3"))
        .localCheckpoint(true).transform(Pinned.track)
      val cp3 = c3.groupBy(col("w1"), col("w2")).agg(sum(col("c3")).as("cp3"))
        .localCheckpoint(true).transform(Pinned.track)
      val tails = base.select(explode(array(
          struct(element_at(words, -2).as("sa"), element_at(words, -1).as("sb")),
          struct(element_at(words, -2).as("sa"), lit(null).cast("string").as("sb")),
          struct(element_at(words, -1).as("sa"), lit(null).cast("string").as("sb")))).as("t"))
        .select(col("t.sa").as("sa"), col("t.sb").as("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("tc"))
        // boundary words are base tokens (inner sa map drops nothing);
        // sb maps through a LEFT join so arity-marking nulls survive
        .join(wid("sa", "wa"), Seq("sa"))
        .join(wid("sb", "wb"), Seq("sb"), "left")
        .select(col("wa"), col("wb"), col("tc"))
        .localCheckpoint(true) // vocab-bounded sliver; two arity-filtered consumers
        .transform(Pinned.track) // released by the consumer's drain (r8 advice)
      val c2 = cp3.select(col("w1").as("wa"), col("w2").as("wb"), col("cp3").as("c"))
        .unionAll(tails.where(col("wb").isNotNull)
          .select(col("wa"), col("wb"), col("tc").as("c")))
        .groupBy(col("wa"), col("wb")).agg(sum(col("c")).as("c2"))
        .localCheckpoint(true).transform(Pinned.track)
      val cp2 = c2.groupBy(col("wa")).agg(sum(col("c2")).as("cp2"))
        .localCheckpoint(true).transform(Pinned.track)
      val c1 = cp3.groupBy(col("w1")).agg(sum(col("cp3")).as("c"))
        .select(col("w1").as("wa"), col("c"))
        .unionAll(tails.where(col("wb").isNull).select(col("wa"), col("tc").as("c")))
        .groupBy(col("wa")).agg(sum(col("c")).as("c1"))
        .localCheckpoint(true).transform(Pinned.track)
      val nTot = c1.agg(sum(col("c1")).as("n"))
      tgc.join(c3, Seq("w1", "w2", "w3")).join(cp3, Seq("w1", "w2"))
        .join(c2.select(col("wa").as("w2"), col("wb").as("w3"), col("c2")), Seq("w2", "w3"))
        .join(cp2.select(col("wa").as("w2"), col("cp2")), Seq("w2"))
        .join(c1.select(col("wa").as("w3"), col("c1")), Seq("w3"))
        .crossJoin(broadcast(nTot))
        .select(col("doc_id"), col("nd"),
          expr("""(3 * ((c3 * 10000) div cp3)
                 | + 2 * ((c2 * 10000) div cp2)
                 | + ((c1 * 10000) div n)) div 6""".stripMargin).as("p"))
        .groupBy(col("doc_id"))
        .agg(sum(col("nd")).as("n_trigrams"),
          sum(col("nd") * col("p")).as("sum_pbp"))
        .select(col("doc_id"), col("n_trigrams"), col("sum_pbp"),
          expr("sum_pbp div n_trigrams").as("lm3_bp"))
        .orderBy(col("doc_id"))
    },

    // C38e: 4-gram STUPID-BACKOFF LM scoring — the order production
    // KenLM filter models actually run (4-5-gram; SURVEY C38d says so
    // itself) with the smoothing large-scale n-gram serving shipped
    // (Brants et al. 2007, "Large Language Models in Machine
    // Translation": score by the highest-order OBSERVED conditional,
    // backing off one order at a time with a fixed α multiplier —
    // no discount mass bookkeeping, which is what made it the web-scale
    // choice). Backoff triggers on PRUNED orders: a 4-gram/trigram/
    // bigram whose count is 1 is treated as unobserved (KenLM-style
    // singleton pruning — self-scoring would otherwise never back off,
    // since every probe gram trivially appears once), so
    //   S = (c4·10⁴) div cp4                       if c4 ≥ 2
    //       (2·S3) div 5                           else (α = 2/5)
    // nested down to the always-kept unigram S1 = (c1·10⁴) div N —
    // integer-exact per-term truncation at every level, the C38
    // contract, so the whole 4-level recursion stays inside the
    // cross-engine hash gate.
    // 100 TB shape — the C38d marginalization identity one level
    // deeper: the per-doc 4-gram count `fgc` is THE corpus-scale
    // aggregation (c4 and the probe both sit above its exchange), and
    // every lower-order table derives by marginalizing the 4-gram TYPE
    // table ⊕ per-doc BOUNDARY rows: 4-gram starts cover trigram
    // positions 1..n-3, so c3 = cp4 ⊕ tail trigram; trigram starts
    // cover bigrams 1..n-2, so c2 = cp3 ⊕ tail bigram; c1 = cp2 ⊕ tail
    // unigram; N = Σc1. The boundary stream is 3 rows/doc on a second
    // scan-speed pass (the C37 scans-are-cheap trade), its type table a
    // vocab-bounded checkpointed sliver with arity-filtered consumers
    // (the C44 pushdown lesson). The ORACLE recomputes c3/c2/c1 from
    // FULL position streams, so a hash mismatch catches any error in
    // the three chained marginalization identities.
    Q("text_lm_backoff",
      """WITH docs_ws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents
        |                 WHERE len(string_split(text,' ')) >= 4),
        |w AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws,1) AS i FROM docs_ws),
        |fg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2, c.w AS w3, d.w AS w4
        |       FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |                JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2
        |                JOIN w d ON d.doc_id=a.doc_id AND d.i=a.i+3),
        |c4 AS (SELECT w1,w2,w3,w4, CAST(count(*) AS BIGINT) AS c4 FROM fg GROUP BY 1,2,3,4),
        |cp4 AS (SELECT w1,w2,w3, CAST(sum(c4) AS BIGINT) AS cp4 FROM c4 GROUP BY 1,2,3),
        |tg AS (SELECT a.w AS x1, b.w AS x2, c.w AS x3
        |       FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1
        |                JOIN w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
        |c3 AS (SELECT x1,x2,x3, CAST(count(*) AS BIGINT) AS c3 FROM tg GROUP BY 1,2,3),
        |cp3 AS (SELECT x1,x2, CAST(sum(c3) AS BIGINT) AS cp3 FROM c3 GROUP BY 1,2),
        |bgp AS (SELECT a.w AS y1, b.w AS y2
        |        FROM w a JOIN w b ON b.doc_id=a.doc_id AND b.i=a.i+1),
        |c2 AS (SELECT y1,y2, CAST(count(*) AS BIGINT) AS c2 FROM bgp GROUP BY 1,2),
        |cp2 AS (SELECT y1, CAST(sum(c2) AS BIGINT) AS cp2 FROM c2 GROUP BY 1),
        |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM w GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM w),
        |sp AS (SELECT fg.doc_id,
        |         CASE WHEN c4.c4 >= 2 THEN (c4.c4*10000)//cp4.cp4
        |              WHEN c3.c3 >= 2 THEN (2*((c3.c3*10000)//cp3.cp3))//5
        |              WHEN c2.c2 >= 2 THEN (2*((2*((c2.c2*10000)//cp2.cp2))//5))//5
        |              ELSE (2*((2*((2*((c1.c1*10000)//n.n))//5))//5))//5 END AS p
        |       FROM fg JOIN c4 USING (w1,w2,w3,w4) JOIN cp4 USING (w1,w2,w3)
        |               JOIN c3 ON c3.x1=fg.w2 AND c3.x2=fg.w3 AND c3.x3=fg.w4
        |               JOIN cp3 ON cp3.x1=fg.w2 AND cp3.x2=fg.w3
        |               JOIN c2 ON c2.y1=fg.w3 AND c2.y2=fg.w4
        |               JOIN cp2 ON cp2.y1=fg.w3
        |               JOIN c1 ON c1.w=fg.w4 CROSS JOIN n)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_4grams, CAST(sum(p) AS BIGINT) AS sum_sbp,
        |       CAST(CAST(sum(p) AS BIGINT) // count(*) AS BIGINT) AS sbo_bp
        |FROM sp GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val base = docs(s, dir).where(size(words) >= 4)
      // r14 OPT (VERDICT #2, guide §2.3 — shuffle fewer bytes): the
      // probe spine joins SEVEN count tables on 1-4 word STRING keys,
      // and every count-table groupBy shuffled those strings too. A
      // dense word-id dictionary (distinct tokens → zipWithIndex) makes
      // every downstream key an int: the mapping is injective, so every
      // group, every count and every join match is IDENTICAL to the
      // string form, and ids never reach the output (doc_id + counts +
      // score only — the oracle gates that unchanged). The dictionary
      // is the vocab sliver (the KenLM vocab-table shape) and
      // broadcasts into the one gram-assembly pass; at cluster scale
      // that one token-keyed hash join replaces seven string-keyed
      // corpus shuffles.
      val dict = wordIds(base.select(explode(words).as("w")))
      def wid(slot: String, out: String) =
        broadcast(dict.select(col("w").as(slot), col("wid").as(out)))
      val fg0 = base.select(col("doc_id"), words.as("ws"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, size(ws) - 4),
            |  i -> named_struct('w1', ws[i], 'w2', ws[i+1],
            |                    'w3', ws[i+2], 'w4', ws[i+3]))""".stripMargin)).as("g"))
        .select(col("doc_id"), col("g.w1").as("s1"), col("g.w2").as("s2"),
          col("g.w3").as("s3"), col("g.w4").as("s4"))
        .where(col("doc_id").isNotNull && col("s1").isNotNull &&
          col("s2").isNotNull && col("s3").isNotNull && col("s4").isNotNull)
      // every gram word is a base token ⇒ the inner dict joins drop
      // nothing; after them the corpus-scale groupBy shuffles ints
      // (A/B-measured: the id spine won 7/8 interleaved pairs, median
      // 5.22 vs 5.84 s in the same window)
      val fgc = fg0
        .join(wid("s1", "w1"), "s1").join(wid("s2", "w2"), "s2")
        .join(wid("s3", "w3"), "s3").join(wid("s4", "w4"), "s4")
        .groupBy(col("doc_id"), col("w1"), col("w2"), col("w3"), col("w4"))
        .agg(count(lit(1)).as("nd"))
        // r13 OPT: every count level is consumed twice (marginalization
        // child + probe spine) — checkpoint each once (see text_lm_trigram)
        .localCheckpoint(true).transform(Pinned.track)
      val c4 = fgc.groupBy(col("w1"), col("w2"), col("w3"), col("w4"))
        .agg(sum(col("nd")).as("c4"))
        .localCheckpoint(true).transform(Pinned.track)
      val cp4 = c4.groupBy(col("w1"), col("w2"), col("w3")).agg(sum(col("c4")).as("cp4"))
        .localCheckpoint(true).transform(Pinned.track)
      // per-doc boundary rows: tail trigram, tail bigram, tail unigram —
      // grouped on strings (3 rows/doc), then mapped to ids: ta is
      // always a base token (inner join drops nothing); tb/tc map
      // through LEFT joins so the arity-marking nulls survive (null
      // word → null id, non-null boundary words always hit the dict)
      val tl0 = base.select(explode(array(
          struct(element_at(words, -3).as("sa"), element_at(words, -2).as("sb"),
            element_at(words, -1).as("sc")),
          struct(element_at(words, -2).as("sa"), element_at(words, -1).as("sb"),
            lit(null).cast("string").as("sc")),
          struct(element_at(words, -1).as("sa"), lit(null).cast("string").as("sb"),
            lit(null).cast("string").as("sc")))).as("t"))
        .select(col("t.sa").as("sa"), col("t.sb").as("sb"), col("t.sc").as("sc"))
        .groupBy(col("sa"), col("sb"), col("sc")).agg(count(lit(1)).as("tn"))
      val tails = tl0
        .join(wid("sa", "ta"), Seq("sa"))
        .join(wid("sb", "tb"), Seq("sb"), "left")
        .join(wid("sc", "tc"), Seq("sc"), "left")
        .select(col("ta"), col("tb"), col("tc"), col("tn"))
        .localCheckpoint(true) // vocab-bounded sliver; three arity-filtered consumers
        .transform(Pinned.track) // released by the consumer's drain (r8 advice)
      val c3 = cp4.select(col("w1").as("ta"), col("w2").as("tb"),
          col("w3").as("tc"), col("cp4").as("c"))
        .unionAll(tails.where(col("tc").isNotNull)
          .select(col("ta"), col("tb"), col("tc"), col("tn").as("c")))
        .groupBy(col("ta"), col("tb"), col("tc")).agg(sum(col("c")).as("c3"))
        .localCheckpoint(true).transform(Pinned.track)
      val cp3 = c3.groupBy(col("ta"), col("tb")).agg(sum(col("c3")).as("cp3"))
        .localCheckpoint(true).transform(Pinned.track)
      val c2 = cp3.select(col("ta"), col("tb"), col("cp3").as("c"))
        .unionAll(tails.where(col("tc").isNull && col("tb").isNotNull)
          .select(col("ta"), col("tb"), col("tn").as("c")))
        .groupBy(col("ta"), col("tb")).agg(sum(col("c")).as("c2"))
        .localCheckpoint(true).transform(Pinned.track)
      val cp2 = c2.groupBy(col("ta")).agg(sum(col("c2")).as("cp2"))
        .localCheckpoint(true).transform(Pinned.track)
      val c1 = cp2.select(col("ta"), col("cp2").as("c"))
        .unionAll(tails.where(col("tb").isNull).select(col("ta"), col("tn").as("c")))
        .groupBy(col("ta")).agg(sum(col("c")).as("c1"))
        .localCheckpoint(true).transform(Pinned.track)
      val nTot = c1.agg(sum(col("c1")).as("n"))
      fgc.join(c4, Seq("w1", "w2", "w3", "w4")).join(cp4, Seq("w1", "w2", "w3"))
        .join(c3.select(col("ta").as("w2"), col("tb").as("w3"),
          col("tc").as("w4"), col("c3")), Seq("w2", "w3", "w4"))
        .join(cp3.select(col("ta").as("w2"), col("tb").as("w3"), col("cp3")), Seq("w2", "w3"))
        .join(c2.select(col("ta").as("w3"), col("tb").as("w4"), col("c2")), Seq("w3", "w4"))
        .join(cp2.select(col("ta").as("w3"), col("cp2")), Seq("w3"))
        .join(c1.select(col("ta").as("w4"), col("c1")), Seq("w4"))
        .crossJoin(broadcast(nTot))
        .select(col("doc_id"), col("nd"), expr(
          """CASE WHEN c4 >= 2 THEN (c4 * 10000) div cp4
            |     WHEN c3 >= 2 THEN (2 * ((c3 * 10000) div cp3)) div 5
            |     WHEN c2 >= 2 THEN (2 * ((2 * ((c2 * 10000) div cp2)) div 5)) div 5
            |     ELSE (2 * ((2 * ((2 * ((c1 * 10000) div n)) div 5)) div 5)) div 5
            |END""".stripMargin).as("p"))
        .groupBy(col("doc_id"))
        .agg(sum(col("nd")).as("n_4grams"), sum(col("nd") * col("p")).as("sum_sbp"))
        .select(col("doc_id"), col("n_4grams"), col("sum_sbp"),
          expr("sum_sbp div n_4grams").as("sbo_bp"))
        .orderBy(col("doc_id"))
    },

    // D10: C38 at INGEST time — LM-score documents as they land, the
    // CCNet deployment shape (the model is trained batch-side on a
    // reference corpus; new crawl data streams through it and the score
    // gates admission). The bigram explosion is stateless per-row stream
    // work; the model join is a stream-static equi-join on (w1, w2) —
    // stateless, and deliberately UN-hinted (the model is
    // vocabulary-bounded but a 100 TB corpus's vocabulary outgrows any
    // driver broadcast: the text_tfidf stance; the local planner may
    // still choose broadcast at gate scale); the ONE stateful
    // aggregation folds per-doc (count, sum_p) — state = one slim row
    // per doc in the batch. Presentation (the exact integer div + sort)
    // runs batch over the completed sink. The stream consumes the
    // OCCURRENCE form of the same [[bigramPairs]] the batch scorer
    // aggregates — chained stateful aggregations are unsupported, so
    // occurrences join the model and the per-doc fold sums nd·p as
    // count/sum over occurrence rows, which is algebraically identical.
    // Gated by the SAME oracle as batch C38: driver-checked batch/stream
    // parity, the C30/D6/D9 discipline. Self-scoring here (stream ==
    // training corpus) so every stream bigram is observed in the model
    // and the inner join drops nothing; pointing the static side at a
    // reference corpus gives CCNet's train-on-Wikipedia shape, where the
    // inner join also implements its drop-unmodeled-bigrams choice.
    Q("text_lm_score_stream", lmScoreSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Complete) {
        val stream = Events.streamOf(s, dir, "documents")
        val bgc = bigramCounts(s, dir)
        val c2 = bgc.groupBy(col("w1"), col("w2")).agg(sum(col("nd")).as("c2"))
        val cp = c2.groupBy(col("w1")).agg(sum(col("c2")).as("cp"))
        val model = c2.join(cp, Seq("w1"))
          .select(col("w1"), col("w2"), expr("(c2 * 10000) div cp").as("p"))
        bigramPairs(stream)
          .join(model, Seq("w1", "w2"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"), sum(col("p")).as("sum_pbp"))
      }
        .select(col("doc_id"), col("n_bigrams"), col("sum_pbp"),
          expr("sum_pbp div n_bigrams").as("lm_bp"))
        .orderBy(col("doc_id"))
    },

    // C38c: LM percentile BUCKETS — CCNet's actual output artifact: the
    // corpus split into head/middle/tail thirds per language by LM
    // score (the paper trains per-bucket models and samples
    // head-heavy). Tertiles are ntile(3) over (lang) ordered by
    // (lm_bp DESC, doc_id) — the SQL-standard ntile both engines define
    // identically (leading groups take the remainder rows), made
    // deterministic by the doc_id tie-break, so the bucket BOUNDARIES
    // are gate-exact, not just the counts. Shares the [[lmScores]]
    // frame with C38/C18b (score and bucketing cannot drift) and the
    // lmCtes oracle prefix. 100 TB shape: the ntile window shuffles
    // slim (doc_id, lang, n_bigrams, lm_bp) rows hash-partitioned by
    // lang; the lang join prunes documents to (doc_id, lang) — text
    // never re-reads; per-(lang, bucket) presentation is a bounded agg.
    Q("text_lm_buckets",
      s"""$lmCtes,
         |lm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST(CAST(sum(p) AS BIGINT) // count(*) AS BIGINT) AS lm_bp
         |       FROM s GROUP BY doc_id),
         |j AS (SELECT d.lang, lm.doc_id, lm.n_bigrams, lm.lm_bp,
         |      ntile(3) OVER (PARTITION BY d.lang ORDER BY lm.lm_bp DESC, lm.doc_id) AS nt
         |      FROM lm JOIN documents d ON d.doc_id = lm.doc_id)
         |SELECT lang, CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
         |  count(*) AS n_docs, CAST(sum(n_bigrams) AS BIGINT) AS bigrams,
         |  CAST(min(lm_bp) AS BIGINT) AS min_bp, CAST(max(lm_bp) AS BIGINT) AS max_bp
         |FROM j GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin) { (s, dir) =>
      lmBucketed(s, dir)
        .groupBy(col("lang"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_bigrams")).as("bigrams"),
          min(col("lm_bp")).as("min_bp"), max(col("lm_bp")).as("max_bp"))
        .orderBy(col("lang"), col("bucket"))
    },

    // C42c: head-heavy LM-bucket MIXTURE — the CCNet sampling story
    // completed end-to-end: C38's LM scores → C38c's per-lang tertiles
    // → C42's integer allocation arithmetic, with the temperature
    // weight scaled by a 3/2/1 head/middle/tail multiplier (CCNet
    // samples predictable text hardest). One shared [[lmBucketed]]
    // frame with C38c (bucket boundaries and allocation can never
    // drift) and the same decimal(38,0)/HUGEINT wide-product stance as
    // C42 (B·w overflows int64 at corpus scale — the Fixed lesson).
    // rate_bp > 10000 = the stratum repeats (upsampling epochs).
    // 100 TB shape: the per-stratum table is |langs|·3 rows; the one
    // corpus-scale work is the shared lm scoring + the slim ntile
    // window C38c already pays; allocation is arithmetic over the
    // bounded strata crossJoined with a broadcast 1-row total.
    Q("text_mixture_lm",
      s"""$lmCtes,
         |lm AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |       CAST(CAST(sum(p) AS BIGINT) // count(*) AS BIGINT) AS lm_bp
         |       FROM s GROUP BY doc_id),
         |j AS (SELECT d.lang, lm.doc_id,
         |      len(string_split(d.text, ' ')) AS tokens,
         |      ntile(3) OVER (PARTITION BY d.lang ORDER BY lm.lm_bp DESC, lm.doc_id) AS nt
         |      FROM lm JOIN documents d ON d.doc_id = lm.doc_id),
         |strata AS (SELECT lang,
         |      CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
         |      CASE nt WHEN 1 THEN 3 WHEN 2 THEN 2 ELSE 1 END AS m,
         |      count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS n_tokens
         |      FROM j GROUP BY 1, 2, 3),
         |ww AS (SELECT *, m * CAST(floor(sqrt(n_tokens::DOUBLE)) AS BIGINT) AS w_m FROM strata),
         |t AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget,
         |             CAST(sum(w_m) AS BIGINT) AS wsum FROM ww)
         |SELECT lang, bucket, CAST(n_docs AS BIGINT) AS n_docs, n_tokens, w_m,
         |  CAST((CAST(budget AS HUGEINT) * w_m) // wsum AS BIGINT) AS alloc_tokens,
         |  CAST((CAST((CAST(budget AS HUGEINT) * w_m) // wsum AS HUGEINT) * 10000) // n_tokens AS BIGINT) AS rate_bp
         |FROM ww CROSS JOIN t ORDER BY lang, bucket""".stripMargin) { (s, dir) =>
      // eager checkpoint: strata is |langs|·3 rows consumed by BOTH the
      // totals aggregate and the final allocation join — without the
      // barrier each consumer re-runs the whole LM-scoring chain above
      // the fork (measured 3×: 4.4 s vs 1.5 s)
      val strata = lmBucketed(s, dir)
        .groupBy(col("lang"), col("bucket"),
          when(col("bucket") === "head", lit(3L))
            .when(col("bucket") === "middle", lit(2L))
            .otherwise(lit(1L)).as("m"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("n_tokens"))
        .localCheckpoint(true)
        .transform(Pinned.track)
      val ww = strata.withColumn("w_m",
        col("m") * floor(sqrt(col("n_tokens").cast("double"))).cast("long"))
      val t = ww.agg(expr("sum(n_tokens) div 2").as("budget"),
        sum(col("w_m")).as("wsum"))
      ww.crossJoin(broadcast(t))
        .select(col("lang"), col("bucket"), col("n_docs"), col("n_tokens"), col("w_m"),
          expr("CAST((CAST(budget AS DECIMAL(38,0)) * w_m) div wsum AS BIGINT)").as("alloc_tokens"),
          expr("""CAST((CAST((CAST(budget AS DECIMAL(38,0)) * w_m) div wsum AS DECIMAL(38,0)) * 10000)
                 |     div n_tokens AS BIGINT)""".stripMargin).as("rate_bp"))
        .orderBy(col("lang"), col("bucket"))
    },

    // C44: windowed co-occurrence + integer PMI — the word-association
    // statistic under GloVe/word2vec-style corpus analysis and
    // collocation mining. Pairs are tokens within distance <= 2,
    // canonicalized unordered (least/greatest) and counted once per
    // occurrence (j > i); the association score is the PMI RATIO in
    // basis points — p(x,y)/(p(x)p(y)) ∝ (cxy·N) / (cx·cy) — kept
    // rational instead of log-PMI so the whole statistic stays inside
    // the cross-engine integer gate (the C38 stance: log-space hands the
    // gate to libm). The wide product cxy·N·10⁴ reaches ~1e29 on a
    // 100 TB corpus (N ~ 1e13), so it multiplies in decimal(38,0)/
    // HUGEINT and divides once — the [[Fixed]] lesson.
    // 100 TB shape: the pair stream is built MAP-SIDE by zipping each
    // token array against its k-shifted self (no positional self-join —
    // that shuffle carries one row per token position, C37's flagged
    // failure shape), and unigrams ride the SAME item stream as
    // null-partner rows, so pair counts, both unigram join sides, and
    // the grand total all derive from ONE eagerly-checkpointed (wa, wb)
    // aggregate — the corpus tokenizes exactly once (the session-4
    // single-tokenize discipline, PlanSpec-pinned). Both type-table
    // joins are
    // deliberately un-hinted (vocabulary outgrows driver broadcast: the
    // text_tfidf stance); the 1-row total broadcasts; the cxy >= 5
    // support filter runs BEFORE the joins so only associated pairs
    // join at all; top-50 is TakeOrdered, never a global sort.
    Q("text_cooccurrence_pmi",
      """WITH dws AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
        |u AS (SELECT w, count(*) AS c FROM dws, UNNEST(ws) AS t(w) GROUP BY w),
        |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM u),
        |p AS (
        |  SELECT least(ws[i], ws[i+k]) AS wa, greatest(ws[i], ws[i+k]) AS wb,
        |         count(*) AS cxy
        |  FROM dws, UNNEST([1, 2]) AS o(k),
        |       UNNEST(generate_series(1, len(ws)-k)) AS t(i)
        |  GROUP BY 1, 2)
        |SELECT p.wa, p.wb, CAST(p.cxy AS BIGINT) AS cxy,
        |  CAST(cx.c AS BIGINT) AS cx, CAST(cy.c AS BIGINT) AS cy,
        |  CAST((CAST(p.cxy AS HUGEINT) * n.n * 10000)
        |       // (CAST(cx.c AS HUGEINT) * cy.c) AS BIGINT) AS pmi_bp
        |FROM p JOIN u cx ON cx.w = p.wa JOIN u cy ON cy.w = p.wb CROSS JOIN n
        |WHERE p.cxy >= 5
        |ORDER BY pmi_bp DESC, wa, wb LIMIT 50""".stripMargin) { (s, dir) =>
      // ONE item stream carries unigrams (wb NULL) and both pair shifts,
      // so the scan+explode runs once and every downstream table — pair
      // counts, both unigram sides, the grand total — derives from the
      // SAME (wa, wb) aggregate, whose exchange ReuseExchange collapses
      // (the C38/session-4 single-tokenize discipline; PlanSpec pins
      // one documents scan)
      val items = docs(s, dir).select(words.as("ws"))
        .select(explode(concat(
          transform(col("ws"),
            w => struct(w.as("wa"), lit(null).cast("string").as("wb"))) +:
          Seq(1, 2).map { k =>
            zip_with(
              slice(col("ws"), lit(1), greatest(size(col("ws")) - k, lit(0))),
              slice(col("ws"), lit(k + 1), greatest(size(col("ws")) - k, lit(0))),
              (a, b) => struct(least(a, b).as("wa"), greatest(a, b).as("wb")))
          }: _*)).as("it"))
        .select(col("it.wa").as("wa"), col("it.wb").as("wb"))
      // eager checkpoint: the four consumers filter the aggregate on its
      // grouping column (wb null vs not), and predicate pushdown drives
      // those differing filters BELOW the aggregate — structurally
      // different subtrees that defeat ReuseExchange and re-tokenize the
      // corpus per consumer (measured: 3 scans). The checkpointed TYPE
      // table is pair-TYPE-bounded (≤ distinct pairs observed — the
      // table a co-occurrence analysis materializes anyway) and every
      // consumer reads it, so the scan+explode provably runs once — the
      // dedup_clusters mining-once pattern.
      val counts = Pinned.track(
        items.groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("c"))
          .localCheckpoint(true))
      val pair = counts.where(col("wb").isNotNull && col("c") >= 5)
        .select(col("wa"), col("wb"), col("c").as("cxy"))
      def uni(as: String) = counts.where(col("wb").isNull)
        .select(col("wa").as(as), col("c"))
      val tot = counts.where(col("wb").isNull).agg(sum(col("c")).as("n"))
      pair
        .join(uni("ua").select(col("ua").as("wa"), col("c").as("cx")), Seq("wa"))
        .join(uni("ub").select(col("ub").as("wb"), col("c").as("cy")), Seq("wb"))
        .crossJoin(broadcast(tot))
        .select(col("wa"), col("wb"), col("cxy"), col("cx"), col("cy"),
          expr("""CAST((CAST(cxy AS DECIMAL(38,0)) * n * 10000)
                 |     div (CAST(cx AS DECIMAL(38,0)) * cy) AS BIGINT)""".stripMargin)
            .as("pmi_bp"))
        .orderBy(col("pmi_bp").desc, col("wa"), col("wb"))
        .limit(50)
    },

    // C45: training-shard manifest via a DISTRIBUTED weighted prefix
    // sum — the shard-writer's assignment step: the deterministically
    // shuffled corpus (C23's md5 order) packs into fixed-token-budget
    // shards in order, each doc assigned by its EXCLUSIVE token prefix
    // (a doc straddling a boundary belongs to the shard where it
    // starts). The naive form is a global-order window cumsum — a
    // single-partition sort of the corpus, the canonical scale failure.
    // Here the prefix decomposes two-level, the classic parallel
    // prefix-scan: the first two hex chars of the order key split the
    // ORDER into 256 lexicographic buckets; bucket token sums aggregate
    // partial (256 slim rows), the unpartitioned cumsum window runs over
    // those 256 rows ONLY (scale-independent — at 100 TB widen to 3-4
    // hex chars), offsets broadcast-join back, and the corpus-side
    // window is PARTITIONED by bucket, so its one exchange hash-
    // partitions slim (doc_id, h, tokens) rows with no global sort
    // anywhere. Budget 4096 tokens at gate scale (manifest rows =
    // corpus_tokens/budget; a production 100M-token budget keeps the
    // manifest driver-small at any corpus size).
    Q("text_shard_manifest",
      s"""WITH t AS (SELECT doc_id, len(${Curation.wordsSql}) AS tok FROM documents),
        |${shardManifestSql("t")}""".stripMargin) { (s, dir) =>
      shardManifest(docs(s, dir).select(col("doc_id"), Curation.md5Key.as("sh"),
        size(words).cast("long").as("tok")))
    },

    // C28: PII redaction — ordered regex scrub (email, IPv4, phone,
    // then an entity list standing in for NER output; the synthetic
    // corpus has no digits, so the entity pattern is what exercises the
    // replacement path end-to-end) plus a redaction count. Narrow
    // per-row codegen'd work, zero shuffles — scan speed at 100 TB.
    // NB DuckDB regexp_replace needs the 'g' flag; Spark replaces all
    // matches by default.
    // Counts are STAGE-WISE (each pattern counted on the text as already
    // redacted by the previous patterns), so n_red equals the number of
    // replacements actually performed — counting every pattern against
    // the original text would double-count overlaps (the entity word
    // inside an email address is gone by the time the entity pass runs).
    Q("text_pii_redact", piiRedactSql) { (s, dir) =>
      piiRedactFrame(docs(s, dir)).orderBy(col("doc_id"))
    },

    // D23 (r9): C28 at INGEST — redaction is the one transform that
    // MUST run before data is persisted anywhere downstream (PII kept
    // at rest is the liability, so production scrubbing sits in the
    // ingest path, not a later batch pass). Stateless per-row regex
    // projection, append mode; shares piiRedactFrame/piiStages verbatim
    // with batch C28 and is gated by the SAME oracle.
    Q("text_pii_redact_stream", piiRedactSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Append)(
          piiRedactFrame(Events.streamOf(s, dir, "documents")))
        .orderBy(col("doc_id"))
    },

    // C29: deterministic weighted (importance) sampling — keep
    // probability proportional to document length (keep_bp =
    // min(10000, chars*10000/400)), decided by the same Knuth-hash-mod
    // coin as C19/C24 so the sample is a pure function of doc_id:
    // reproducible across engines, reruns, and partitionings. One
    // filter + one partial-agg shuffle; no per-group state.
    Q("text_sample_weighted",
      """WITH k AS (
        |  SELECT source, n_chars FROM documents
        |  WHERE ((doc_id % 1000003) * 131071 + 99991) % 1000003 % 10000
        |        < least(10000, (n_chars * 10000) // 400))
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
        |       CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM k GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .where(keepCoin(10000)
          < least(lit(10000L), expr("(n_chars * 10000) div 400")))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).as("chars_kept"))
        .orderBy(col("source"))
    },

    // C46: DSIR-style IMPORTANCE RESAMPLING (Xie et al. 2023, "Data
    // Selection for Language Models via Importance Resampling") — the
    // target-corpus-matching selection step the mixture family lacked:
    // pick raw-corpus documents whose hashed-ngram distribution looks
    // like a TARGET corpus (in production: Wikipedia/books; here a
    // deterministic 10% self-split stands in — same coin family as
    // C19/C24/C29, so the split is reproducible across engines and
    // reruns). Faithful to the published construction: features are
    // BIGRAMS HASHED into B = 4096 buckets (the char-polynomial hash
    // C12/C31 already gate cross-engine, mod B), and both bag-of-bucket
    // models are add-one smoothed over the SAME B-bucket space:
    //   r(b)_bp = ((ct+1)·(totq+B)·10⁴) div ((cq+1)·(tott+B))
    // The paper's log-likelihood-ratio weight becomes the MEAN bucket
    // ratio in basis points (the C38 stance: replace the float log-sum
    // with an integer-exact rational so the whole path stays inside the
    // cross-engine hash gate); keep = deterministic coin <
    // min(10⁴, w_bp), the C29 resampling rule. Wide products run
    // decimal(38,0)/HUGEINT — (ct+1)·(totq+B)·10⁴ reaches ~1e30 at
    // 100 TB, the Fixed/C44 lesson.
    // 100 TB shape: the per-doc bucket count `fbc` is THE corpus-scale
    // aggregation (bucket computed INSIDE codegen during the explode —
    // no vocabulary table, no gram strings shuffled); BOTH models fold
    // out of one aggregate above fbc's exchange (a conditional sum per
    // side — a filtered target subtree would push the doc_id predicate
    // into a second corpus scan); the B-row model table BROADCASTS into
    // the probe, the 2-value total broadcasts, and the per-doc fold is
    // map-side combinable. One corpus scan, one corpus exchange, no
    // vocab-sized join — selection is a map over slim bucket rows.
    Q("text_importance_resample", dsirOracleSql) { (s, dir) =>
      val fbc = dsirBuckets(docs(s, dir))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("nd"))
      val grouped = fbc.join(broadcast(dsirModel(fbc)), Seq("b"))
        .select(col("doc_id"), col("nd"), dsirRatio.as("r_bp"))
        .groupBy(col("doc_id"))
        .agg(sum(col("nd")).as("n_feats"), sum(col("nd") * col("r_bp")).as("sum_rbp"))
      dsirFinish(grouped).orderBy(col("doc_id"))
    },

    // D14: C46 at INGEST time — DSIR importance resampling as documents
    // land, the deployment shape (the target/corpus bucket models are a
    // slowly-changing trained artifact; new crawl data streams through
    // them and the keep-coin gates admission — the C42b/D13 realization
    // discipline applied to importance weights). The bucket explosion
    // is stateless per-row stream work (the hash runs inside codegen);
    // the model join is stream-static against the B-row broadcast; the
    // ONE stateful aggregation folds per-doc (n_feats, sum_rbp) over
    // OCCURRENCE rows — chained stateful aggregations are unsupported,
    // so the stream consumes the occurrence form of the same
    // [[dsirBuckets]] stream the batch pre-aggregates, which is
    // algebraically identical (r_bp depends only on the bucket).
    // Presentation (w_bp, keep, sort) runs batch over the completed
    // sink. Gated by the SAME oracle as batch C46 — driver-checked
    // batch/stream parity, the C30/D6/D10 discipline.
    Q("text_importance_resample_stream", dsirOracleSql) { (s, dir) =>
      dsirFinish(Events.runStream(s, OutputMode.Complete) {
        val stream = Events.streamOf(s, dir, "documents")
        val model = dsirModel(
          dsirBuckets(docs(s, dir))
            .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("nd")))
        dsirBuckets(stream)
          .join(broadcast(model), Seq("b"))
          .select(col("doc_id"), dsirRatio.as("r_bp"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_feats"), sum(col("r_bp")).as("sum_rbp"))
      })
        .orderBy(col("doc_id"))
    },

    // C31: hashing-trick quality CLASSIFIER — the fastText-style linear
    // scorer every curation stack runs after the heuristic filters: each
    // token hashes into a 2^20 feature bucket (no vocabulary table, no
    // join), the bucket weight is an integer in [-1001, 1001], and the
    // document score is the plain weight sum with keep = score >= 0.
    // Weights here derive deterministically from the bucket hash (a
    // stand-in for trained weights — swapping in a learned table changes
    // one lookup, none of the plumbing); everything is integer
    // arithmetic, so the oracle restates the IDENTICAL hash relationally
    // and the full feature→weight→score path is hash-gated. Plan shape:
    // one JIT kernel pass at scan speed, zero shuffles except the
    // presentation sort — at 100 TB, classification is a map, not a join.
    Q("text_quality_classifier",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS j
        |  FROM documents),
        |chars AS (
        |  SELECT doc_id, j, ascii(unnest(string_split(tok, ''))) AS a,
        |         generate_subscripts(string_split(tok, ''), 1) AS i
        |  FROM toks WHERE len(tok) > 0),
        |th AS (
        |  SELECT doc_id, j, (sum(a * (1 + (131 * i) % 997)) % 1048576) AS hh
        |  FROM chars GROUP BY doc_id, j),
        |sc AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         sum(((hh * 2654435761) % 2003) - 1001) AS score
        |  FROM th GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(score AS BIGINT) AS score,
        |  CAST(CASE WHEN score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.Kernels.tokenWeightStats(words).as("st"))
        .select(col("doc_id"), col("st").getItem(0).as("n_tokens"),
          col("st").getItem(1).as("score"))
        .where(col("n_tokens") > 0) // all-empty docs don't tokenize in the oracle
        .select(col("doc_id"), col("n_tokens"), col("score"),
          when(col("score") >= 0, lit(1L)).otherwise(lit(0L)).as("keep"))
        .orderBy(col("doc_id"))
    },

    // C61 (r9): HASHING-TRICK document embeddings (Weinberger et al.
    // 2009 — the sklearn HashingVectorizer) — deterministic cheap doc
    // vectors with NO model, NO vocabulary table, NO training pass:
    // each token's feature index is hh % 16 and its sign the next hash
    // bit, over the SAME token hash as the C31 classifier family (one
    // feature space across scorer, weights table, and embeddings).
    // This is the bridge from raw text into the emb_* family (kmeans/
    // outlier/ANN run on any fixed-dim vector column) when no learned
    // encoder exists — and unlike learned embeddings it is INTEGER-
    // exact, so the full vector is inside the cross-engine hash gate.
    // 100 TB shape: one JIT kernel pass at scan speed (O(tokens) per
    // row, dense 16-long accumulator), zero shuffles except the
    // presentation sort — embedding is a map, not a join.
    Q("text_hash_embed",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS j
        |  FROM documents),
        |chars AS (
        |  SELECT doc_id, j, ascii(unnest(string_split(tok, ''))) AS a,
        |         generate_subscripts(string_split(tok, ''), 1) AS i
        |  FROM toks WHERE len(tok) > 0),
        |th AS (
        |  SELECT doc_id, j, (sum(a * (1 + (131 * i) % 997)) % 1048576) AS hh
        |  FROM chars GROUP BY doc_id, j),
        |e AS (
        |  SELECT doc_id, hh % 16 AS dim,
        |         CASE WHEN (hh // 16) % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM th),
        |g AS (SELECT doc_id, dim, CAST(sum(s) AS BIGINT) AS v
        |      FROM e GROUP BY doc_id, dim),
        |dd AS (SELECT d.doc_id, r.range AS dim FROM documents d, range(16) r)
        |SELECT dd.doc_id, CAST(dd.dim AS BIGINT) AS dim, COALESCE(g.v, 0) AS v
        |FROM dd LEFT JOIN g ON g.doc_id = dd.doc_id AND g.dim = dd.dim
        |ORDER BY dd.doc_id, dim""".stripMargin) { (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          posexplode(graft.functions.Kernels.featureHashVec(16)(words))
            .as(Seq("dim", "v")))
        .select(col("doc_id"), col("dim").cast("long").as("dim"), col("v"))
        .orderBy(col("doc_id"), col("dim"))
    },

    // C31b: the classifier with a REAL (stored, sparse) weights table —
    // the deployment shape for a TRAINED model: the corpus explodes to
    // (doc_id, bucket) pairs at scan speed, the weights table broadcasts
    // into a left join (absent bucket = weight 0), and the per-doc sum
    // aggregates map-side before the one doc_id shuffle. The oracle
    // regenerates the identical sparse table relationally and joins it
    // the same way, so the full token→bucket→stored-weight→score path
    // is hash-gated — C31 gates the hashing-trick scorer, this gates
    // the model-lookup plumbing a trained fastText-style table drops
    // into (Text.demoWeights is a DataFrame substitution away).
    Q("text_quality_classifier_weights", classifierWeightsSql) { (s, dir) =>
      qualityClassifierWeighted(docs(s, dir), demoWeights(s))
        .orderBy(col("doc_id"))
    },

    // D12: C31b at INGEST time — trained-classifier scoring as documents
    // land, the fastText-filter deployment shape (the weights table is a
    // slowly-changing model; new crawl data streams through it). The
    // token→bucket explosion and the broadcast weights join are
    // stateless stream work; the ONE stateful aggregation is the
    // per-doc (count, score) fold; the keep decision and presentation
    // sort run batch over the completed sink. The stream consumes the
    // ENTIRE [[qualityClassifierWeighted]] operator body — batch and
    // stream share one definition and one oracle (the C30/D6/D10
    // discipline), so the scoring rule provably cannot drift.
    Q("text_quality_classifier_stream", classifierWeightsSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Complete)(
          qualityClassifierWeighted(Events.streamOf(s, dir, "documents"), demoWeights(s)))
        .orderBy(col("doc_id"))
    },

    // C12: polynomial position-weighted fingerprint over characters —
    // fp = sum_i ascii(c_i) * (1 + (131·i mod 997)) mod 2^31-1. Pure
    // integer arithmetic, identical across engines; order-sensitive, so
    // permuted documents fingerprint differently (unlike bag hashes).
    Q("text_fingerprint",
      """WITH c AS (
        |  SELECT doc_id, ascii(unnest(string_split(text, ''))) AS a,
        |         generate_subscripts(string_split(text, ''), 1) AS i
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(sum(a * (1 + (131 * i) % 997)) % 2147483647 AS BIGINT) AS fp
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      docs(s, dir).select(col("doc_id"),
        expr("""aggregate(
          |  zip_with(split(text, ''), sequence(1, length(text)),
          |           (c, i) -> ascii(c) * (1 + (131 * i) % 997)),
          |  0L, (acc, v) -> acc + v) % 2147483647L""".stripMargin).as("fp"))
        .orderBy(col("doc_id"))
    })

  /** C74's diversity frame over (source, ws) — shared VERBATIM by
    * `text_distinct_ngrams` and the C75 gain audit, so the before/after
    * comparison measures the same statistic by construction. Plan: one
    * gram-keyed map-side-combined shuffle, then a |sources·3| rollup.
    */
  private def distinctNgramsFrame(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val u = Seq(1, 2, 3).map { n =>
      d.select(col("source"), lit(n.toLong).as("n"),
        explode(graft.functions.Kernels.gramsMultiN(col("ws"), n)).as("gram"))
    }.reduce(_.unionAll(_))
    u.groupBy(col("source"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"), col("n"))
      .agg(sum(col("c")).as("total_grams"), count(lit(1)).as("distinct_grams"))
      .select(col("source"), col("n"), col("total_grams"), col("distinct_grams"),
        expr("distinct_grams * 10000 div total_grams").as("distinct_bp"))
  }

  /** DuckDB restatement of [[distinctNgramsFrame]] over a CTE
    * `src`(doc_id, source, ws): emits CTEs `<p>_w`/`<p>_u`/`<p>_agg`
    * with `<p>_agg`(source, n, bp). Raw `|` margins — the consuming
    * oracle's outer stripMargin handles them (the urlCanonCtes
    * convention). `<p>_w` is MATERIALIZED: `<p>_u` reads it six times,
    * and inlined, each read re-ran `src` (the kept side's whole
    * near-dup closure), which ran out of memory under a 3 GB cap.
    */
  private def distinctNgramsSql(src: String, p: String): String =
    s"""${p}_w AS MATERIALIZED (SELECT doc_id, source, unnest(ws) AS w,
       |        generate_subscripts(ws, 1) AS i FROM $src),
       |${p}_u AS (
       |  SELECT 1 AS n, source, w AS gram FROM ${p}_w
       |  UNION ALL
       |  SELECT 2, a.source, a.w||' '||b.w FROM ${p}_w a
       |    JOIN ${p}_w b ON b.doc_id=a.doc_id AND b.i=a.i+1
       |  UNION ALL
       |  SELECT 3, a.source, a.w||' '||b.w||' '||c.w FROM ${p}_w a
       |    JOIN ${p}_w b ON b.doc_id=a.doc_id AND b.i=a.i+1
       |    JOIN ${p}_w c ON c.doc_id=a.doc_id AND c.i=a.i+2),
       |${p}_agg AS (SELECT source, n,
       |    CAST(count(DISTINCT gram) * 10000 // count(*) AS BIGINT) AS bp
       |  FROM ${p}_u GROUP BY source, n)"""
}
