package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, from_json}
import org.apache.spark.sql.types._

import graft.core._

/** One generated archive file: a one-record JSON document. */
final case class Doc(id: Long, lang: String, source: String, nChars: Long) {
  def json: String =
    s"""{"doc_id":$id,"lang":"$lang","source":"$source","n_chars":$nChars}"""
}

/** The benchmark's own model of every file it wrote, keyed by file URL
  * (origin URL + pathname). Every engine answer is checked against the
  * answer this model predicts.
  */
final class Model {
  val files: mutable.TreeMap[String, Doc] = mutable.TreeMap.empty

  def byId(id: Long): Option[Any] =
    files.valuesIterator.find(_.id == id).map(d => Vector(d.nChars.toDouble))

  /** Multi-value `get`: values in emitting-file order. */
  def byLang(lang: String): Option[Any] = {
    val vs = files.valuesIterator.filter(_.lang == lang).map(_.id.toDouble).toVector
    if (vs.isEmpty) None else Some(vs)
  }

  def langCount(lang: String): Option[Any] = {
    val n = files.valuesIterator.count(_.lang == lang)
    if (n == 0) None else Some(n.toDouble)
  }

  def langChars: Seq[Entry] =
    files.values.groupBy(_.lang).toSeq.sortBy(_._1)
      .map { case (l, ds) => Entry(l, ds.map(_.nChars).sum.toDouble) }

  /** `list("by-size", {gte|lte: key, limit, reverse})` restricted to one
    * language: keys are `[lang, n_chars, doc_id]`, ordered element-wise.
    */
  def sizeRange(lang: String, from: (Long, Long), reverse: Boolean, limit: Int): Seq[Entry] = {
    val inLang = files.values.filter(_.lang == lang).toSeq
      .map(d => (d.nChars, d.id)).sorted
    val picked =
      if (reverse) inLang.filter(k => Ordering[(Long, Long)].lteq(k, from)).reverse
      else inLang.filter(k => Ordering[(Long, Long)].gteq(k, from))
    picked.take(limit).map { case (n, id) =>
      Entry(Vector(lang, n.toDouble, id.toDouble), id.toDouble)
    }
  }
}

/** The engine workloads' inputs and views. Everything is derived from
  * the seed, so one seed always yields the same archive and edit stream.
  */
object Engine {
  val Langs: Vector[String] = Vector("en", "de", "es", "fr", "zh", "ja", "ru", "pt")
  val Views: Seq[String] = Seq("by-id", "by-lang", "by-size", "lang-count", "lang-chars")

  def originUrl(o: Int): String = s"dat://origin-$o"
  def pathname(f: Int): String = f"/doc-$f%06d.json"

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  private def mapBy(key: Seq[String], value: String): MapDF = MapDF { files =>
    val p = files.withColumn("j", from_json(col("value"), schema))
    GraftFunctions.emitEntry(p, key.map(k => col(s"j.$k")), col(s"j.$value"))
  }

  /** The five views: unique-key, multi-value and compound-key maps, a
    * materialized Count and a Sum folded at read time.
    */
  def define(db: Graft): Unit = {
    db.define("by-id", ViewDef(Seq("/*.json"), mapBy(Seq("doc_id"), "n_chars")))
    db.define("by-lang", ViewDef(Seq("/*.json"), mapBy(Seq("lang"), "doc_id")))
    db.define("by-size", ViewDef(Seq("/*.json"),
      mapBy(Seq("lang", "n_chars", "doc_id"), "doc_id")))
    db.define("lang-count", ViewDef(Seq("/*.json"), mapBy(Seq("lang"), "doc_id"),
      Some(Reduce.Count), materialize = true))
    db.define("lang-chars", ViewDef(Seq("/*.json"), mapBy(Seq("lang"), "n_chars"),
      Some(Reduce.Sum)))
  }

  def randomDoc(rng: java.util.SplittableRandom, id: Long): Doc =
    Doc(id, Langs(rng.nextInt(Langs.size)), s"src${rng.nextInt(20)}",
      50L + rng.nextInt(4950))

  /** Monotonic file stamps: every write gets an mtime strictly after the
    * previous one, so an edit is always newer than the last index pass.
    */
  final class Clock {
    private var last = 0L
    def next(): Long = { last = math.max(System.currentTimeMillis(), last + 1); last }
  }

  def writeFile(root: Path, pathname: String, body: String, stamp: Long): Long = {
    val p = root.resolve(pathname.stripPrefix("/"))
    val tmp = root.resolve("." + p.getFileName + ".tmp")
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    Files.write(tmp, bytes)
    Files.setLastModifiedTime(tmp, FileTime.fromMillis(stamp))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }

  /** Writes `origins` × `files` documents under `root`, one directory per
    * origin, and returns the archives plus the model of what was written.
    */
  def generate(seed: Long, root: Path, origins: Int, files: Int, clock: Clock)
      : (Seq[DirArchive], Model) = {
    val rng = new java.util.SplittableRandom(seed)
    val model = new Model
    val stamp = clock.next()
    val archives = (0 until origins).map { o =>
      val dir = Files.createDirectories(root.resolve(s"origin-$o"))
      (0 until files).foreach { f =>
        val d = randomDoc(rng, o.toLong * 1000000L + f)
        writeFile(dir, pathname(f), d.json, stamp)
        model.files(originUrl(o) + pathname(f)) = d
      }
      new DirArchive(originUrl(o), dir.toString)
    }
    (archives, model)
  }

  def deleteTree(p: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)

  def treeBytes(p: Path): (Long, Long) = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[Path])
      .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
    finally s.close()
  }

  def session(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-perfbench")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .getOrCreate()
}
