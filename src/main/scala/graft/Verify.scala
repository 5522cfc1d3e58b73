package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.tools.Session()
    new java.io.File(outDir).mkdirs()
    // Local-dev subset filter, the same contract as Bench's. A full run
    // is unfiltered, so the manifest below always reflects exactly what
    // this run produced: check.py then compares a filtered outDir 1:1
    // without counting absent queries as crashes.
    val selected = graft.tools.Session.only(SparkEntry.queries.toSeq)(_._1)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in hand-written SQL would otherwise make the
    // checker's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // A filtered outDir is indistinguishable from a complete run to a
    // checker that only reads queries.json — stamp the filter so a
    // SPARK_GRAFT_ONLY leak into a full or CI run can't masquerade as a
    // full green gate. (Separate file, not a queries.json shape change:
    // the checker parses that manifest as a plain list.)
    // Deleted first so an unfiltered rerun over the same outDir clears a
    // stale marker.
    val marker = Paths.get(s"$outDir/filtered.json")
    Files.deleteIfExists(marker)
    if (sys.env.contains("SPARK_GRAFT_ONLY"))
      Files.writeString(marker, s"""{"filtered": true, "only": ${selected.map(_._1).sorted.map(q).mkString("[", ",", "]")}}""")
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // release any checkpointed slivers the query pinned — the write
        // above is this plan's one materialization (Pinned contract)
        queries.Pinned.drain()
      } catch { case e: Throwable =>
        queries.Pinned.drain()
        val msg = Option(e.getMessage).filter(_.nonEmpty).getOrElse(e.toString)
        System.err.println(s"[verify] $name failed: ${msg.linesIterator.take(3).mkString(" | ")}")
        // a stale result from a previous run must not survive a failure —
        // the oracle compare would silently pass on the old data
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of EVERY query (oracle-gated or rows-only): a query that
    // crashed above has no result dir, and a checker that only walks
    // dirs would count it neither pass nor fail — the whole gate would
    // go green around a broken query
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.map(_._1).sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
