package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** File metadata handed to compat map functions — mirrors the reference's
  * `meta = {origin, url, pathname}` (/root/reference/lib/indexer.js:230).
  */
final case class FileMeta(origin: String, url: String, pathname: String)

/** Typed rejection of an ill-formed view definition or archive reference —
  * the reference's `SchemaError` (lib/view-def.js:4-10). Extends
  * IllegalArgumentException so pre-existing catch sites keep working.
  */
final class SchemaError(msg: String) extends IllegalArgumentException(msg)

/** How a view turns matched files into (key, value) entries. */
sealed trait MapSpec

/** Spark-first declarative map: a transform over the files DataFrame
  * `(origin, url, pathname, value)` that must return the same rows plus
  * `kb` (binary key), `key_json` and `value_json` — build them with
  * [[GraftFunctions.emitEntry]]. Stays inside Catalyst/codegen; this is
  * the form every built-in gate query uses.
  */
final case class MapDF(f: DataFrame => DataFrame) extends MapSpec

/** Compatibility map: the reference's `map(value, meta, emit)` shape
  * (/root/reference/README.md "damr.define"). Runs as a typed flatMap —
  * distributed but opaque to Catalyst; prefer [[MapDF]] for hot paths.
  * Emitted keys may be scalars or Seqs; values any JSON-renderable value.
  */
final case class MapFn(f: (String, FileMeta) => Seq[(Any, Any)]) extends MapSpec

/** Per-key fold, the reference's `reduce(acc, value, key)`. Built-ins
  * compile to native Spark aggregates (partial agg map-side); `Fold`
  * replays the reference's sequential fold in a map view's `get` order
  * (file url, emit seq, value JSON) via a sorted collect — use only
  * when the fold really is order-sensitive and per-key cardinality is
  * bounded, which is the reference's own operating regime.
  */
sealed trait Reduce
object Reduce {
  case object Count extends Reduce
  case object Sum extends Reduce
  case object Min extends Reduce
  case object Max extends Reduce
  final case class Fold(f: (Option[Any], Any, Any) => Any) extends Reduce

  /** Associative-commutative user fold — the SCALABLE custom reduce: runs
    * as a typed `Aggregator` with map-side partial aggregation (values
    * merge inside each partition before the shuffle), unlike [[Fold]]
    * which must collect a key's values to replay the reference's
    * sequential (acc, value, key) order. Use Assoc whenever the fold is
    * order-insensitive — at 100 TB the difference is a shuffle of
    * per-partition partials vs a shuffle of every emitted value.
    */
  final case class Assoc(merge: (Any, Any) => Any) extends Reduce
}

/** JSON-buffered Aggregator backing [[Reduce.Assoc]]: values and buffer
  * travel as JSON strings (empty string = identity), so one Aggregator
  * serves any JSON-valued fold with plain string encoders.
  */
private[core] class JsonMergeAggregator(f: (Any, Any) => Any)
    extends org.apache.spark.sql.expressions.Aggregator[String, String, String] {
  import org.apache.spark.sql.{Encoder, Encoders}
  override def zero: String = ""
  private def m(a: String, b: String): String =
    if (a.isEmpty) b
    else if (b.isEmpty) a
    else Json.render(f(Json.parse(a), Json.parse(b)))
  override def reduce(buf: String, v: String): String = m(buf, v)
  override def merge(b1: String, b2: String): String = m(b1, b2)
  override def finish(buf: String): String = buf
  override def bufferEncoder: Encoder[String] = Encoders.STRING
  override def outputEncoder: Encoder[String] = Encoders.STRING
}

/** A view definition: which files (glob patterns over pathname, the
  * reference's anymatch `path`), how to map them to entries, an optional
  * per-key reduce, and whether that reduce is MATERIALIZED at write time.
  *
  * `materialize = true` is the reference's `reducesLevel` trade
  * (lib/view.js:42-46): each index pass pre-folds the origin's entries
  * into a `folds/` state dir (per-origin PARTIAL folds, maintained by the
  * same partition overwrite as the entries; retraction re-folds the
  * affected origin), and `get`/`list` merge the per-origin partials
  * instead of re-aggregating every emitted value — read-heavy deployments
  * stop re-paying the fold per query. Requires an ASSOCIATIVE reduce
  * (Count/Sum/Min/Max/Assoc): per-origin partials of an order-sensitive
  * [[Reduce.Fold]] cannot merge, so Fold views always fold at read time.
  */
final case class ViewDef(
    path: Seq[String],
    map: MapSpec,
    reduce: Option[Reduce] = None,
    materialize: Boolean = false) {

  // `!`-pattern matcher set. DELIBERATE DIVERGENCE from the reference:
  // lib/indexer.js:361 uses anymatch ^1.3.2, whose any-of semantics let a
  // positive match win even when a `!` pattern also matches (and a lone
  // negated matcher matches only the non-excluded paths it was built
  // from) — so upstream, ['/multi/*.json','!/multi/3.json'] still
  // matches /multi/3.json. Graft instead implements the subtractive
  // anymatch-v3/picomatch/gitignore convention: `!`-prefixed patterns
  // are EXCLUSIONS — a pathname matches when some positive pattern
  // matches and no exclusion does; an all-negative set matches
  // everything not excluded. That is what view authors writing an
  // exclusion invariably mean. `\!` escapes a literal leading bang in a
  // positive pattern.
  @transient private lazy val (negGlobs, posGlobs) = {
    val (n, p) = path.partition(_.startsWith("!"))
    (n.map(_.substring(1)),
      p.map(g => if (g.startsWith("\\!")) g.substring(1) else g))
  }

  /** SQL regexp of the POSITIVE patterns (applied as a pushed-down filter
    * on pathname); `**` when every pattern is an exclusion.
    */
  def pathRegex: String =
    (if (posGlobs.nonEmpty) posGlobs else Seq("**"))
      .map(ViewDef.globToRegex).mkString("(", ")|(", ")")

  /** SQL regexp of the exclusions, when any. */
  def negPathRegex: Option[String] =
    if (negGlobs.isEmpty) None
    else Some(negGlobs.map(ViewDef.globToRegex).mkString("(", ")|(", ")"))

  /** The full matcher as a Column predicate over a pathname column —
    * both sides stay native `rlike` (codegen'd, pushdown-eligible).
    */
  def pathFilter(c: Column): Column =
    negPathRegex.foldLeft(c.rlike(pathRegex))((acc, neg) => acc && !c.rlike(neg))

  @transient private lazy val pathPattern =
    java.util.regex.Pattern.compile(pathRegex)
  @transient private lazy val negPattern =
    negPathRegex.map(java.util.regex.Pattern.compile)

  /** Driver-side glob test with `rlike` semantics (unanchored find over
    * the same regexes), for call sites where the pathname is already
    * known on the driver — a `filter(...).limit(1).count()` job per view
    * just to test a glob is a job too many.
    */
  def pathMatches(pathname: String): Boolean =
    pathPattern.matcher(pathname).find() &&
      !negPattern.exists(_.matcher(pathname).find())
}

object ViewDef {
  def apply(path: String, map: MapSpec): ViewDef = ViewDef(Seq(path), map, None)
  def apply(path: String, map: MapSpec, reduce: Reduce): ViewDef =
    ViewDef(Seq(path), map, Some(reduce))

  /** Glob → Java/RE2-safe regex: `**` crosses `/`, `*` and `?` don't. */
  def globToRegex(glob: String): String = {
    val sb = new StringBuilder("^")
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' if i + 1 < glob.length && glob.charAt(i + 1) == '*' =>
          sb.append(".*"); i += 1
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    sb.append('$').toString
  }
}

/** Column-level helpers for declarative maps. */
object GraftFunctions {
  import org.apache.spark.sql.{Row, SparkSession}
  import org.apache.spark.sql.api.java.UDF1
  import org.apache.spark.sql.types.StringType

  /** Order-preserving key bytes from typed key-element columns — the
    * native [[graft.functions.KeyEncode]] expression (no struct packing,
    * no UDF converter layer).
    */
  def keyBytes(elems: Column*): Column =
    graft.functions.Native.keyBytes(SparkSession.active, elems)

  /** Canonical key JSON via the same codec as [[keyBytes]], so key_json
    * and kb always agree.
    */
  def keyJsonOf(elems: Seq[Column]): Column =
    graft.functions.Native.keyJson(SparkSession.active, elems)

  /** Attach the three entry columns a [[MapDF]] must produce. */
  def emitEntry(df: DataFrame, keyElems: Seq[Column], value: Column): DataFrame =
    df.withColumn("kb", keyBytes(keyElems: _*))
      .withColumn("key_json", keyJsonOf(keyElems))
      .withColumn("value_json", valueJson(value))

  /** JSON rendering of an arbitrary (possibly nested) value column —
    * stays a Row UDF because it must walk any struct/array shape.
    */
  def valueJson(value: Column): Column = {
    val f = udf(new UDF1[Row, String] {
      override def call(row: Row): String = Json.render(row.get(0))
    }, StringType)
    f(struct(value))
  }
}
