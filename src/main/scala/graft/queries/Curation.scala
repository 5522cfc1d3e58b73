package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._

/** The curation rules the text, dedup and training queries share, each
  * written once in Scala and once as the DuckDB fragment its oracles
  * splice:
  *   - tokenization: [[words]] / [[wordsSql]];
  *   - the stopword list: [[stopwords]] / [[stopwordsSql]];
  *   - C10's quality battery: [[counts]] + [[qualityBp]] ([[quality]]
  *     adds both to a frame) / [[countsSql]] + [[qualityBpSql]]
  *     ([[qualitySql]]);
  *   - the train/val/test split: [[split]] / [[splitSql]];
  *   - the exact-dedup text normalization and its keep-first window:
  *     [[normText]], [[normDigest]], [[keepFirst]] / [[normSql]],
  *     [[keepFirstSql]];
  *   - the md5-order token-budget shard prefix: [[md5Key]] +
  *     [[shardPrefix]] / [[md5KeySql]] + [[shardPrefixSql]].
  *
  * A query that applies one of these rules takes it from here; each
  * Scala definition and its SQL twin change together.
  */
object Curation {

  /** Whitespace tokenization of `text`. */
  val words: Column = functions.split(col("text"), " ")
  val wordsSql: String = "string_split(text, ' ')"

  /** The function words C10 counts. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to")
  val stopwordsSql: String = stopwords.map(w => s"'$w'").mkString(",")

  /** How many of the tokens `ws` are stopwords. */
  def nStop(ws: Column): Column = size(filter(ws, w => w.isin(stopwords: _*)))
  def nStopSql(ws: String): String = s"len(list_filter($ws, w -> w IN ($stopwordsSql)))"

  /** C10's per-document counts: n_words, n_distinct, n_stop. */
  def counts: Seq[Column] = Seq(
    size(words).as("n_words"),
    size(array_distinct(words)).as("n_distinct"),
    nStop(words).as("n_stop"))
  val countsSql: String =
    s"len($wordsSql) AS n_words, len(list_distinct($wordsSql)) AS n_distinct, " +
      s"${nStopSql(wordsSql)} AS n_stop"

  /** C10's quality score in integer basis points over the [[counts]]
    * columns: a length term (40 per word up to 100), a stopword term
    * (10 per stopword, capped at the word count) and a diversity term,
    * each integer-divided so both engines agree on every row.
    */
  val qualityBp: Column =
    (least(col("n_words"), lit(100)) * 40
      + expr("(least(n_stop * 10, n_words) * 3000) div n_words")
      + expr("(n_distinct * 3000) div n_words")).cast("long")
  val qualityBpSql: String =
    "CAST(least(n_words, 100) * 40 + (least(n_stop * 10, n_words) * 3000) // n_words" +
      " + (n_distinct * 3000) // n_words AS BIGINT)"

  /** `cols`, the [[counts]] and `quality_bp` of every row of `d`. */
  def quality(d: DataFrame, cols: Column*): DataFrame =
    d.select(cols ++ counts: _*).withColumn("quality_bp", qualityBp)
  /** The SQL twin of [[quality]]: a query over `from`'s rows. */
  def qualitySql(cols: String, from: String = "documents"): String =
    s"SELECT *, $qualityBpSql AS quality_bp FROM (SELECT $cols, $countsSql FROM $from)"

  /** The deterministic split: doc_id mod 10 in 0-7 train, 8 val, 9 test. */
  val split: Column = when(col("doc_id") % 10 < 8, lit("train"))
    .when(col("doc_id") % 10 === 8, lit("val")).otherwise(lit("test"))
  val splitSql: String =
    "CASE WHEN doc_id % 10 < 8 THEN 'train' WHEN doc_id % 10 = 8 THEN 'val' ELSE 'test' END"

  /** Whitespace-collapse + lowercase: the exact-dedup key. */
  val normText: Column = lower(regexp_replace(trim(col("text")), "\\s+", " "))
  def normSql(text: String = "text"): String =
    s"lower(regexp_replace(trim($text), '\\s+', ' ', 'g'))"
  /** The 32-byte digest of [[normText]] the Spark side groups on. */
  val normDigest: Column = unhex(sha2(normText, 256))

  /** Exact dedup, keep-first: the rows of `d` that come first by doc_id
    * among those with the same normalized text, with their `rn` (= 1).
    */
  def keepFirst(d: DataFrame): DataFrame =
    d.withColumn("rn", row_number().over(
        Window.partitionBy(normDigest).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
  val keepFirstSql: String = s"row_number() OVER (PARTITION BY ${normSql()} ORDER BY doc_id)"

  /** The order key of the token-budget shard layout. */
  val md5Key: Column = md5(col("doc_id").cast("string").cast("binary"))
  val md5KeySql: String = "md5(CAST(doc_id AS VARCHAR))"

  /** The md5-order token prefix `pre` of every row of `b` (doc_id, sh =
    * [[md5Key]], tok, bk = the first two hex chars of sh): the tokens of
    * all rows before it in (sh, doc_id) order. Two-level, so no window
    * sorts the corpus: per-bucket token sums (at most 256 rows) get an
    * unpartitioned running sum that broadcasts back as each bucket's
    * offset, and the per-row window is partitioned by bucket.
    */
  def shardPrefix(b: DataFrame): DataFrame = {
    val off = b.groupBy(col("bk")).agg(sum(col("tok")).as("bt"))
      .select(col("bk"), coalesce(
        sum(col("bt")).over(
          Window.orderBy(col("bk")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).as("boff"))
    b.join(broadcast(off), Seq("bk"))
      .withColumn("pre", col("boff") + coalesce(
        sum(col("tok")).over(
          Window.partitionBy(col("bk")).orderBy(col("sh"), col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
  }
  /** The SQL twin of [[shardPrefix]] over `rel`'s (doc_id, tok) rows:
    * (doc_id, sh, tok, pre) in one global window.
    */
  def shardPrefixSql(rel: String): String =
    s"""SELECT doc_id, sh, tok, coalesce(sum(tok) OVER (ORDER BY sh, doc_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
       |FROM (SELECT *, $md5KeySql AS sh FROM $rel)""".stripMargin
}
