package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling measurement for the similarity-search path: run the REAL gate
  * queries (ann_bruteforce, ann_ivf — through SparkEntry, no test
  * doubles) over synthetic clustered embeddings at two corpus sizes (4x
  * apart) and report wall time + IVF recall vs the exact baseline. The
  * 100 TB claim is that brute force pays the whole corpus per query
  * batch while IVF probes P of K cells — so IVF's advantage must GROW
  * with corpus size, at recall that stays useful. Deterministic
  * (hash-derived cluster centers + noise, no RNG state).
  */
object AnnScale {

  /** n unit-free 32-dim vectors in 50 hash-derived clusters: vector i =
    * center(i % 50) + ~20% noise — clustered like real embedding
    * corpora (the uniform-random case is ANN's pathological worst).
    */
  private def corpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      expr("""transform(sequence(0, 31), i -> cast(
        |  (cast(pmod(xxhash64(id % 50, i), 1000) as double) - 500) / 500
        |  + (cast(pmod(xxhash64(id, i), 200) as double) - 100) / 500
        |as float))""".stripMargin).as("embedding"),
      (col("id") % 50).cast("int").as("label"))

  def main(args: Array[String]): Unit = {
    val small = sys.env.getOrElse("SPARK_GRAFT_ANN_SMALL", "50000").toLong
    val spark = graft.tools.Session()
    Seq(small, small * 4).foreach { n =>
      // the gate queries read $dir/embeddings.parquet — stage the
      // synthetic corpus exactly where a real scale factor would live
      val dir = java.nio.file.Files.createTempDirectory(s"ann-scale-$n").toString
      corpus(spark, n).write.parquet(s"$dir/embeddings.parquet")
      // brute force pays the whole corpus on EVERY batch; IVF pays the
      // assignment once and probes p=4 of k=64 cells (16x pruning; the
      // gate query's k=8 is sized for the tiny sf tables, a real corpus
      // gets k ~ sqrt(n) cells) —
      // so the comparison is per-batch brute vs per-batch probe
      // of a BUILT index (assigned cells materialized, as a deployment
      // would persist them partitioned by cell)
      val k = 64; val p = 4
      val nq = graft.queries.Ann.NQ // brute's query/corpus split — must match
      val brute = SparkEntry.queries("ann_bruteforce")(spark, dir)
      val e = graft.queries.Ann.embsWithNorm(spark, dir)
      val bruteRows = e.where(col("vec_id") >= nq).count() // corpus side, measured
      // index build = train + assign + PERSIST PARTITIONED BY CELL —
      // the on-disk layout is the index: a probe that reads the
      // assigned table un-partitioned still scans the whole corpus no
      // matter how few cells it wants (hash joins don't prune storage)
      val idxPath = s"$dir/ivf_index"
      val t0 = System.nanoTime()
      val built = graft.queries.Ann.ivfBuild(e.where(col("vec_id") >= nq), k = k)
      built.assigned.write.partitionBy("cell").parquet(idxPath)
      val tIdx = (System.nanoTime() - t0) / 1e9
      val queries = e.where(col("vec_id") < nq).localCheckpoint(true)
      // STATIC cell pruning: the probed cells are known driver-side, so
      // the index read lists/scans ONLY those cells' partitions — rows
      // read is the quantity that scales (wall time at this toy size is
      // fixed-overhead-bound for every variant). NB a BATCH reads the
      // UNION of its queries' cells: per query the saving is p/k (16x
      // here), while a 10-query batch touches ~40 of 64 cells — the
      // shared scan is the amortization, not a contradiction
      val cells = graft.queries.Ann.ivfProbeCells(built, queries, p)
      def prunedIdx() = spark.read.parquet(idxPath)
        .where(col("cell").isin(cells.map(Int.box): _*))
      val rowsRead = prunedIdx().count()
      def probe() = graft.queries.Ann.ivfProbe(spark,
        built.copy(assigned = prunedIdx()), queries, p)
      val rs = Bench.timeArms("brute" -> (() => brute.count()), "probe" -> (() => probe().count()))
      val (tB, tP) = (rs("brute").median, rs("probe").median)
      // recall@5: fraction of the exact top-5 the IVF probe recovers
      def top(df: DataFrame): Map[Long, Set[Long]] = df
        .select(col("q_id"), col("n_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val bt = top(brute)
      def recallVs(cand: Map[Long, Set[Long]]): Double =
        bt.keys.toSeq.sorted.map(q =>
          (bt(q) intersect cand.getOrElse(q, Set.empty)).size.toDouble / bt(q).size)
          .sum / bt.size
      val recall = recallVs(top(probe()))
      println(f"[annscale] n=$n%d: brute/batch ${tB}%.2f s reads $bruteRows%d rows; " +
        f"ivf build ${tIdx}%.2f s (single-shot), probe/batch ${tP}%.2f s reads $rowsRead%d rows " +
        f"(${bruteRows.toDouble / rowsRead}%.1f x fewer; ${cells.size}/$k%d cells for $nq%d queries, " +
        f"k/p = ${k / p}%d x per query); batch timings median of ${Bench.repeats}, recall@5 $recall%.2f")
      // IVFPQ width compression, measured ON DISK against the FLOAT32
      // SOURCE table (what a deployment actually stores — writing the
      // engine's double-cast frame would inflate the ratio ~2x): parquet
      // bytes of (n_id, cell, 16-byte codes) vs the raw embedding
      // column; disk shows what a scan actually reads (in-memory width
      // ratio is 16x: 256 B of floats -> 16 one-byte codes). PQ
      // codebooks are RESIDUAL-trained: raw-vector PQ measured recall
      // ~0.05 on this crowded corpus (1000-member clusters share codes),
      // residual encoding restores the fine structure — see
      // Ann.IvfPqIndex.
      def dirBytes(path: String): Long = {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.getContentSummary(p).getLength
      }
      // reuse the ALREADY-BUILT coarse quantizer (`built`): re-training
      // a second one would both waste the Lloyd passes and leave the
      // pruning cells below coupled to bit-identical retraining.
      // k=256 codes/subspace (the full one-byte range — same 16 B/vector
      // encoded width as k=32): on this crowded corpus (n/50 near-tied
      // members per cluster) the recall limiter is PQ quantization noise
      // among near-ties, not cell coverage (IVF recall@5 is 1.00 above),
      // so the fix is FINER codebooks, not more cells — k=32 measured
      // recall@5 0.48 at n=200k, k=256 restores it (r5 verdict #3)
      val ivfpq = graft.queries.Ann.ivfPqBuild(built, m = 16, k = 256)
      // cluster rows into their cell partition before writing: without
      // the repartition every one of the 32 writer tasks emits a file
      // into all 64 cell dirs — 2048 tiny files whose per-file overhead
      // dwarfs the codes being measured
      ivfpq.encoded.repartition(col("cell"))
        .write.partitionBy("cell").parquet(s"$dir/ivfpq_encoded")
      spark.read.parquet(s"$dir/embeddings.parquet")
        .where(col("vec_id") >= nq)
        .select(col("vec_id"), col("embedding"))
        .write.parquet(s"$dir/raw_corpus")
      val (rawB, encB) = (dirBytes(s"$dir/raw_corpus"), dirBytes(s"$dir/ivfpq_encoded"))
      // prune with THIS index's own quantizer (ivfProbeCells invariant:
      // same queries, same p as the probe below). rerank scales with
      // CROWDING, not corpus size: this corpus packs n/50 near-tied
      // members per cluster, so the exact top-5's PQ scores sit inside
      // the quantization noise of hundreds of neighbors — re-rank must
      // cover that margin (FAISS users tune exactly this knob)
      val rr = math.max(200, (n / 125).toInt) // ≤0.8% of corpus re-ranked
      val pqCells = graft.queries.Ann.ivfProbeCells(ivfpq.ivf, queries, p)
      def pqProbeOnDisk() = graft.queries.Ann.ivfPqProbe(spark,
        ivfpq.copy(encoded = spark.read.parquet(s"$dir/ivfpq_encoded")
          .where(col("cell").isin(pqCells.map(Int.box): _*))),
        queries, p = p, rerank = rr)
      val tPq = Bench.timeArms("ivfpq" -> (() => pqProbeOnDisk().count()))("ivfpq").median
      val pqRecall = recallVs(top(pqProbeOnDisk()))
      println(f"[annscale] n=$n%d ivfpq: raw corpus ${rawB / 1024}%d KiB vs encoded index ${encB / 1024}%d KiB " +
        f"(${rawB.toDouble / encB}%.1f x smaller scan, x ${bruteRows.toDouble / rowsRead}%.1f x cell pruning), " +
        f"probe/batch ${tPq}%.2f s, recall@5 $pqRecall%.2f (residual PQ, rerank=$rr%d = " +
        f"${100.0 * rr / bruteRows}%.1f%% of corpus re-ranked exact)")
      queries.unpersist()
    }
    spark.stop()
  }
}
