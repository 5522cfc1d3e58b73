package graft
import org.apache.spark.sql.functions._
import graft.core._

/** Small-files scale smoke for the view engine: ingest many files across
  * many origins, incremental re-index, range reads, then a `compact()`
  * pass and a post-compaction re-read — the full lifecycle an
  * incrementally-maintained state table goes through. Sized by env:
  * `SPARK_GRAFT_SMOKE_FILES` (total files, default 200k across 20
  * origins). Numbers land in SURVEY §8.
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    // same env contract as Bench/Verify
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val totalFiles = sys.env.getOrElse("SPARK_GRAFT_SMOKE_FILES", "200000").toLong
    val origins = sys.env.getOrElse("SPARK_GRAFT_SMOKE_ORIGINS", "20").toInt
    val perOrigin = totalFiles / origins
    val spark = graft.tools.Session()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val nDocs = docs.count()
    // replicate the docs table up to perOrigin rows (small synthetic
    // corpus, big file count — the point is file-grain state, not bytes)
    val rep = spark.range((perOrigin + nDocs - 1) / nDocs).crossJoin(docs)
      .select((col("id") * nDocs + col("doc_id")).as("doc_id"), col("lang"), col("n_chars"))
      .where(col("doc_id") < perOrigin)
    // report what was actually indexed, not the requested knob: integer
    // division shrinks the real count, and non-dense source doc_ids can
    // collide pathnames (count rows ≠ count files)
    val actualPerOrigin = rep.select(countDistinct(col("doc_id"))).head().getLong(0)
    val actualFiles = actualPerOrigin * origins
    val state = java.nio.file.Files.createTempDirectory("graft-scale").toString
    val db = new Graft(spark, state)
    db.define("by-lang-size", ViewDef(Seq("/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))))
      GraftFunctions.emitEntry(parsed, Seq(col("j.lang"), col("j.n_chars"), col("j.doc_id")), col("j.n_chars"))
    }, None))
    // ONE map shared by both reduced views: the materialized/read-time
    // comparison below is only valid if the twins compute the same thing
    val langCountMap = MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType)))))
      GraftFunctions.emitEntry(parsed, Seq(col("j.lang")), lit(1))
    }
    db.define("lang-count", ViewDef(Seq("/*.json"), langCountMap, Some(Reduce.Count)))
    // materialized twin: folds maintained at write time
    db.define("lang-count-mat",
      ViewDef(Seq("/*.json"), langCountMap, Some(Reduce.Count), materialize = true))
    val t0 = System.nanoTime()
    (0 until origins).foreach { o =>
      val body = to_json(struct((col("doc_id") + o * perOrigin).as("doc_id"), col("lang"), col("n_chars")))
      db.index(new TableArchive(s"dat://origin-$o",
        rep.select(body.as("b"), col("doc_id")),
        pathname = concat(lit("/"), lpad(col("doc_id").cast("string"), 8, "0"), lit(".json")),
        value = col("b")))
    }
    val tIndex = (System.nanoTime() - t0) / 1e9
    // incremental: bump 1% of one origin's rows to fversion 2 — the
    // re-index must reprocess ~1% of files, not all of them
    // (partition-local merge keyed on fversion)
    val tInc0 = System.nanoTime()
    val body0 = to_json(struct(col("doc_id").as("doc_id"), col("lang"), col("n_chars")))
    db.index(new TableArchive("dat://origin-0",
      rep.select(body0.as("b"), col("doc_id")),
      pathname = concat(lit("/"), lpad(col("doc_id").cast("string"), 8, "0"), lit(".json")),
      value = col("b"),
      fversion = when(col("doc_id") % 100 === 0, lit(2L)).otherwise(lit(1L))))
    val tInc = (System.nanoTime() - tInc0) / 1e9
    def timedList(): (Long, Double) = {
      val t = System.nanoTime()
      val n = db.list("by-lang-size",
        ListOpts(gte = Some(Seq("en", 200L)), lt = Some(Seq("fr")), limit = Some(1000))).count()
      (n, (System.nanoTime() - t) / 1e9)
    }
    val (n1, tList) = timedList()
    // warmed, interleaved medians for the sub-second read comparison:
    // single-shot sub-second timings are noise. The materialized read
    // path scans |keys × origins| fold partials instead of re-aggregating
    // every raw entry
    val (counts, countsM) = (db.list("lang-count").count(), db.list("lang-count-mat").count())
    val reads = Bench.timeArms("fold" -> (() => db.list("lang-count").count()),
      "mat" -> (() => db.list("lang-count-mat").count()))
    val (tRed, tRedM) = (reads("fold").median, reads("mat").median)
    // FULL-ROW divergence check, not key cardinality: a double-folded
    // partial would keep the key set while corrupting per-key counts
    val a = db.list("lang-count"); val b = db.list("lang-count-mat")
    require(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "materialized read diverged from read-time fold")
    // small-files story: the bulk index + the incremental merge leave the
    // origin partitions as many task-grain files; compact() rewrites each
    // origin as one file and the same range list must get FASTER (or at
    // least not slower) while returning identical rows
    def parquetFileCount(view: String): Long = {
      val dir = java.nio.file.Paths.get(s"$state/$view/entries")
      if (!java.nio.file.Files.exists(dir)) 0L
      else {
        val s = java.nio.file.Files.walk(dir)
        try s.filter(p => p.toString.endsWith(".parquet")).count()
        finally s.close()
      }
    }
    val filesBefore = parquetFileCount("by-lang-size")
    val tc0 = System.nanoTime()
    db.compact("by-lang-size")
    val tCompact = (System.nanoTime() - tc0) / 1e9
    val filesAfter = parquetFileCount("by-lang-size")
    val (n2, tListAfter) = timedList()
    require(n1 == n2, s"compact() changed list() results: $n1 != $n2")
    println(f"[scale] indexed $actualFiles files x 3 views (one materialized) in $tIndex%.1f s (${3 * actualFiles / tIndex}%.0f entries/s)")
    println(f"[scale] incremental re-index (1%% of origin-0 changed) in $tInc%.1f s")
    println(f"[scale] range list limit=1000 -> $n1 rows in $tList%.2f s; reduced list -> $counts keys in $tRed%.2f s")
    println(f"[scale] reduced list, MATERIALIZED (folds) -> $countsM keys in $tRedM%.2f s (read-time fold was $tRed%.2f s)")
    println(f"[scale] compact(by-lang-size): $filesBefore -> $filesAfter parquet files in $tCompact%.1f s; same range list $tListAfter%.2f s (was $tList%.2f s)")

    // --- watch-mode breadth: N origins under continuous watch --------
    // (r5 verdict #8) ten directories watched concurrently by ONE
    // engine, files landing in all of them after the watches start —
    // the multi-archive daily shape. Reported figure: ingested
    // entries/s from first write to convergence, watch-driven end to
    // end (poll tick → listing diff → merge pass → readable state).
    val wOrigins = 10
    val wFiles = sys.env.getOrElse("SPARK_GRAFT_SMOKE_WATCH_FILES", "100").toInt
    val wdb = new Graft(spark,
      java.nio.file.Files.createTempDirectory("graft-scale-watch-state").toString)
    wdb.define("w-count", ViewDef(Seq("/*.json"), MapDF { files =>
      val parsed = files.withColumn("j", from_json(col("value"),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType)))))
      GraftFunctions.emitEntry(parsed, Seq(col("j.k")), lit(1))
    }, Some(Reduce.Count)))
    val wDirs = (0 until wOrigins).map(i =>
      java.nio.file.Files.createTempDirectory(s"graft-scale-watch-$i"))
    (0 until wOrigins).foreach(i =>
      wdb.watch(new DirArchive(s"dat://smoke-watch-$i", wDirs(i).toString),
        "300 milliseconds"))
    val tw0 = System.nanoTime()
    wDirs.zipWithIndex.foreach { case (d, i) =>
      (0 until wFiles).foreach { f =>
        java.nio.file.Files.writeString(d.resolve(f"$f%05d.json"),
          s"""{"k":"o$i"}""")
      }
    }
    def countOf(i: Int): Double =
      try wdb.getValue("w-count", s"o$i").map(_.asInstanceOf[Double]).getOrElse(0.0)
      catch { case _: Throwable => -1.0 } // read racing an overwrite: retry
    def converged(): Boolean = (0 until wOrigins).forall(i => countOf(i) == wFiles.toDouble)
    val wDeadline = System.currentTimeMillis() + 600000
    // evaluate convergence ONCE per tick and remember it: watch ticks keep
    // merging after convergence, so a second converged() call can race an
    // overwrite and read -1 — the loop would have exited green and the
    // re-check would fail with all counts at wFiles
    var wOk = converged()
    while (!wOk && System.currentTimeMillis() < wDeadline) {
      Thread.sleep(200); wOk = converged()
    }
    val tWatch = (System.nanoTime() - tw0) / 1e9
    require(wOk, "watch ingestion did not converge within 600 s; " +
      s"per-origin counts: ${(0 until wOrigins).map(countOf).mkString(",")}")
    println(f"[scale] watch: $wOrigins origins x $wFiles files each under continuous watch " +
      f"converged in $tWatch%.1f s (${wOrigins * wFiles / tWatch}%.0f entries/s end-to-end)")
    wdb.close()
    spark.stop()
  }
}
