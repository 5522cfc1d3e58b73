package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's default 100-entry codegen cache recompiles a warm
      // pipeline_pretrain_* pass as much as the cold one; 4000 keeps
      // the generated classes of a whole run
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Local-dev subset filter: EXACT names, comma-separated — the same
    // contract as Bench's (one env var, one semantics; a substring match
    // here used to select different subsets than Bench for the same
    // value). The driver runs unfiltered, so the manifest below always
    // reflects exactly what this run produced — check.py then compares
    // a filtered outDir 1:1 without counting absent queries as crashes.
    // Refuses a zero-match filter loudly; warns on unknown names.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only.fold(SparkEntry.queries) { want =>
      val unknown = want -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARN: SPARK_GRAFT_ONLY names match no query: ${unknown.mkString(", ")}")
      SparkEntry.queries.filter { case (n, _) => want(n) }
    }
    require(selected.nonEmpty,
      s"SPARK_GRAFT_ONLY=${only.getOrElse(Nil).mkString(",")} matches no query")
    // A filtered outDir is indistinguishable from a complete run to a
    // checker that only reads queries.json — stamp the filter value so
    // a SPARK_GRAFT_ONLY leak into a driver/CI run can't masquerade as
    // a full green gate. (Separate file, not a queries.json shape
    // change: the driver's checker parses that manifest as a plain
    // list.) Deleted first so an unfiltered rerun over the same outDir
    // clears a stale marker.
    val marker = Paths.get(s"$outDir/filtered.json")
    Files.deleteIfExists(marker)
    only.foreach { want =>
      Files.writeString(marker,
        s"""{"filtered": true, "only": ${want.toSeq.sorted.map(n => "\"" + n + "\"").mkString("[", ",", "]")}}""")
    }
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
        val dir = Paths.get(s"$outDir/$name")
        if (Files.exists(dir)) {
          val walk = Files.walk(dir)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.delete(p))
          finally walk.close()
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of EVERY query (oracle-gated or rows-only): a query that
    // crashed above has no result dir, and a checker that only walks
    // dirs would count it neither pass nor fail — the whole gate would
    // go green around a broken query
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      selected.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
