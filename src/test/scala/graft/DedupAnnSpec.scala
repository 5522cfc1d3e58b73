package graft

import org.apache.spark.sql.functions._

import graft.queries.{Ann, Dedup, Relational, Text, Views}
import graft.SparkEntry

/** Cross-validation of the approximate operators against their exact
  * baselines — the checks the DuckDB oracle can't express (SURVEY.md
  * §2.C4/C5/C8).
  */
class DedupAnnSpec extends SparkSpec {

  private def q(name: String, dir: String) =
    SparkEntry.queries(name)(spark, dir)

  test("C37c rewrite: first occurrence kept, later spans cut, full coverage empties") {
    import spark.implicits._
    val dir = "target/tmp/substr-rewrite"
    val shared = "a b c d e f g h i j" // one 10-gram
    Seq(
      (0L, s"$shared k l"),        // owner: gram at pos 0 -> untouched, ABSENT
      (1L, s"x $shared y"),        // dup at pos 1 -> tokens 1..10 cut -> "x y"
      (2L, shared))                // dup at pos 0, whole doc covered -> ""
      .map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("dedup_substring_rewrite", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq == Seq(
      (1L, 12L, 10L, 2L, "x y"),
      (2L, 10L, 10L, 0L, "")))
    // conservation: removed + clean = original tokens
    assert(out.forall(r => r._2 == r._3 + r._4))
  }

  test("C1b soft weights: every copy kept, cluster mass sums to ~10000 bp") {
    import spark.implicits._
    val dir = "target/tmp/soft-weights"
    Seq((0L, "x y z"), (1L, "x y z"), (2L, "x y z"), (3L, "unique doc"))
      .map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("dedup_soft_weights", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (0L, 3L, 3333L), (1L, 3L, 3333L), (2L, 3L, 3333L), (3L, 1L, 10000L)))
  }

  test("C4 minhash-LSH finds exactly the exact-Jaccard pairs (tau=0.8)") {
    val dir = sf("sf0.01")
    val exact = q("dedup_ngram_jaccard", dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = q("dedup_minhash_lsh", dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain planted near-dup pairs")
    // verification filters false positives exactly, so LSH ⊆ exact always;
    // at j >= 0.8 with 32x4 banding, P(miss) ~ 0 → equality expected
    assert(lsh == exact, s"missed=${exact -- lsh} extra=${lsh -- exact}")
  }

  test("C4e dedup_minhash_int finds exactly the exact-Jaccard pairs (tau=0.8)") {
    // the integer-hash banding is a different permutation family than
    // C4's splitmix64 one, but the same 32×4 capture math applies:
    // P(miss) ≈ 0 at j >= 0.8 and verification is the SAME exact gram
    // Jaccard — so equality with the exact miner is expected here too
    val dir = sf("sf0.01")
    val exact = q("dedup_ngram_jaccard", dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val intPairs = q("dedup_minhash_int", dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain planted near-dup pairs")
    assert(intPairs == exact, s"missed=${exact -- intPairs} extra=${intPairs -- exact}")
  }

  test("C6c dedup_embedding_lsh_int: sound vs exact integer all-pairs; " +
      "strong pairs (cos>=0.9) fully captured") {
    val dir = sf("sf0.01")
    // exact integer all-pairs baseline, driver-side (500 vecs = 125k
    // pairs): same signed codes v = floor((e+1)*1000) - 1000, same
    // square-free tau = 0.5 test
    val vecs = graft.core.Tables(spark, dir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(v => math.floor((v.toDouble + 1.0) * 1000).toLong - 1000L).toArray)
      .sortBy(_._1)
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.indices.foldLeft(0L)((acc, i) => acc + a(i) * b(i))
    val exact = scala.collection.mutable.Set.empty[(Long, Long)]
    val strong = scala.collection.mutable.Set.empty[(Long, Long)]
    for (i <- vecs.indices; j <- i + 1 until vecs.length) {
      val (ia, va) = vecs(i); val (ib, vb) = vecs(j)
      val d = dot(va, vb); val na = dot(va, va); val nb = dot(vb, vb)
      if (d > 0 && 4L * d * d >= na * nb) {
        exact += ((ia, ib))
        if (100L * d * d >= 81L * na * nb) strong += ((ia, ib))
      }
    }
    val mined = q("dedup_embedding_lsh_int", dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "test data should contain tau=0.5 pairs")
    // soundness: verification is the exact test, so mined ⊆ exact always
    assert((mined -- exact).isEmpty, s"unsound pairs: ${(mined -- exact).take(3)}")
    // capture at cos 0.9 across 24 tables: miss ≈ (1-0.857^6)^24 ≈ 6e-6
    // — the near-identical pairs dedup actually hunts must ALL surface
    assert(strong.subsetOf(mined),
      s"missed strong pairs: ${(strong.toSet -- mined).take(3)}")
    // boundary-band recall (capture ≈ 0.89 at cos exactly 0.5 rises
    // steeply with cos): well above a 0.6 floor on this corpus
    val recall = (exact.toSet & mined).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall vs exact tau=0.5 pairs")
  }

  test("C5b dedup_simhash_int blocked join == brute-force hamming<=1 over int signatures") {
    val dir = sf("sf0.01")
    val sigs = spark.read.parquet(s"$dir/documents.parquet")
      .where(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.Kernels.simhashInt48(
          org.apache.spark.sql.functions.split(col("text"), " ")).as("sh"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        expr("cast(bit_count(a.sh ^ b.sh) as bigint)").as("hamming"))
      .where(col("hamming") <= 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val blocked = q("dedup_simhash_int", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty, "expected some hamming<=1 pairs in test data")
    // pigeonhole blocking is exact for hamming <= 1 over 2×24-bit blocks
    assert(blocked == brute, s"missed=${(brute -- blocked).take(3)} extra=${(blocked -- brute).take(3)}")
  }

  test("C79 cascade compaction: planted corpus exercises all six (stage, vs) outcomes") {
    val dir = Planted.cascadeDocs(spark)
    val out = q("pipeline_dedup_cascade_compact", dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2)).getOrElse("-"))))
      .toMap
    assert(out == Map(
      2L -> (("url", "corpus")), 9L -> (("kept", "-")),
      11L -> (("url", "increment")), 16L -> (("exact", "increment")),
      23L -> (("neardup", "corpus")), 30L -> (("kept", "-")),
      32L -> (("url", "increment")), 58L -> (("neardup", "increment"))),
      s"got $out")
  }

  test("C31b weights-table classifier == hashed classifier under the FULL weight table") {
    // the weights path must be a pure mechanism change: handing it a
    // DENSE table carrying exactly the weight the hashed kernel derives
    // per bucket must reproduce C31's output row for row
    val dir = sf("sf0.01")
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val full = spark.range(0, 1L << 20)
      .select(col("id").as("bucket"),
        (pmod(col("id") * lit(2654435761L), lit(2003L)) - lit(1001L)).as("weight"))
    val viaTable = Text.qualityClassifierWeighted(
        spark.read.parquet(s"$dir/documents.parquet"), full)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val hashed = q("text_quality_classifier", dir)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(hashed.nonEmpty && viaTable == hashed,
      s"diff=${(hashed.toSet diff viaTable.toSet).take(3)} / ${(viaTable.toSet diff hashed.toSet).take(3)}")
    // and the sparse demo table must actually diverge (the gate would
    // otherwise be re-gating C31 under a different name)
    val sparse = Text.qualityClassifierWeighted(
        spark.read.parquet(s"$dir/documents.parquet"), Text.demoWeights(spark))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(sparse.exists { case (id, s) => hashed.get(id).exists(_._2 != s) },
      "sparse weights produced identical scores — not a distinct operator")
  }

  test("C5 simhash blocked join == brute-force hamming<=3 pairs") {
    val dir = sf("sf0.01")
    val sigs = Dedup.simhashSignatures(spark.read.parquet(s"$dir/documents.parquet"))
    val brute = sigs.as("a").join(sigs.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"),
        expr("bit_count(a.sh ^ b.sh)").as("hamming"))
      .where(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    val blocked = q("dedup_simhash", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue)).toSet
    assert(brute.nonEmpty, "expected some hamming<=3 pairs in test data")
    // pigeonhole blocking is exact for hamming <= 3 over 4 blocks
    assert(blocked == brute, s"missed=${brute -- blocked} extra=${blocked -- brute}")
  }

  test("C8 hyperplane-LSH ANN reaches recall@5 >= 0.4 vs brute force") {
    val dir = sf("sf0.01")
    val exact = q("ann_bruteforce", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "empty brute-force baseline — recall undefined")
    val approx = q("ann_lsh", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ann_lsh recall@5 = $recall%.3f (|exact|=${exact.size}, |cand hits|=${(exact & approx).size})")
    assert(recall >= 0.4, f"recall $recall%.3f below 0.4")
  }

  test("C8m integer-LSH ANN reaches recall@5 >= 0.4 vs brute force (hash gate covers values)") {
    val dir = sf("sf0.01")
    val exact = q("ann_bruteforce", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "empty brute-force baseline — recall undefined")
    val approx = q("ann_lsh_int", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ann_lsh_int recall@5 = $recall%.3f (|exact|=${exact.size})")
    assert(recall >= 0.4, f"recall $recall%.3f below 0.4")
  }

  test("C8n integer-PQ ANN reaches recall@5 >= 0.4 vs brute force (hash gate covers values)") {
    val dir = sf("sf0.01")
    val exact = q("ann_bruteforce", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "empty brute-force baseline — recall undefined")
    val approx = q("ann_pq_int", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"ann_pq_int recall@5 = $recall%.3f (|exact|=${exact.size})")
    assert(recall >= 0.4, f"recall $recall%.3f below 0.4")
  }

  test("C8b IVF ANN: recall@5 beats the random-cell baseline; results verified-exact cosines") {
    val dir = sf("sf0.01")
    val exact = q("ann_bruteforce", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "empty brute-force baseline — recall undefined")
    val ivf = q("ann_ivf", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    info(f"ann_ivf recall@5 = $recall%.3f")
    // P=4 of K=8 cells; Lloyd-refined cells must beat blind cell luck
    // (P/K = 0.5 on direction-uniform data) by a real margin
    assert(recall >= 0.5, f"recall $recall%.3f below 0.5")
  }

  test("C8c PQ ANN: recall@5 vs brute force, and every reported cosine is EXACT") {
    val dir = sf("sf0.01")
    val brute = q("ann_bruteforce", dir).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val pq = q("ann_pq", dir).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    val recall = pq.count { case (key, _) => brute.contains(key) }.toDouble / brute.size
    info(f"ann_pq recall@5 = $recall%.3f")
    // rerank=50 of ~490 corpus vectors: quantization only selects
    // candidates, the re-rank is exact — recall must beat the LSH floor
    assert(recall >= 0.5, f"recall $recall%.3f below 0.5")
    // exact-rescore contract: any pair ALSO in the brute-force top-5
    // must carry the identical rounded cosine
    pq.foreach { case (key, cos) =>
      brute.get(key).foreach(bc =>
        assert(bc == cos, s"pair $key: pq cos $cos != brute cos $bc"))
    }
  }

  test("C8d IVFPQ: recall within the probed-cell ceiling; candidates only from probed cells") {
    val dir = sf("sf0.01")
    val brute = q("ann_bruteforce", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = q("ann_ivfpq", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = q("ann_ivf", dir)
      .select("q_id", "n_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivfpq).size.toDouble / brute.size
    info(f"ann_ivfpq recall@5 = $recall%.3f (ivf alone = ${(brute & ivf).size.toDouble / brute.size}%.3f)")
    // cell pruning caps what PQ can see: IVFPQ can't beat the same-cell
    // ceiling, but with rerank=50 it must land near plain IVF's recall
    // (same p/k pruning, exact re-rank on a wider candidate set)
    assert(recall >= 0.5, f"recall $recall%.3f below 0.5")
    // the pruning invariant itself: every returned neighbor must sit in
    // one of ITS query's p probed cells — a probe that quietly scanned
    // unprobed cells would only ever RAISE recall, so the threshold
    // above can't catch that regression. Rebuild the (deterministic)
    // index and replay the probe's own cell-selection rule.
    val e = Ann.embsWithNorm(spark, dir)
    val idx = Ann.ivfPqBuild(e.where(col("vec_id") >= Ann.NQ), kCells = 8, m = 16, k = 32)
    val cellOf = idx.encoded.select("n_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = idx.ivf.cents
    val probedOf: Map[Long, Set[Int]] = e.where(col("vec_id") < Ann.NQ)
      .select("vec_id", "emb", "nrm").collect().map { r =>
      val u0 = r.getSeq[Double](1).toArray
      val n = r.getDouble(2)
      val u = if (n > 0) u0.map(_ / n) else u0
      val scores = cents.map { c =>
        var sum = 0.0; var i = 0
        while (i < u.length) { sum += u(i) * c(i); i += 1 }
        sum
      }
      // same tie-break as argmaxCells: (-score, index)
      r.getLong(0) -> scores.zipWithIndex.sortBy { case (sc, i) => (-sc, i) }
        .take(4).map(_._2).toSet
    }.toMap
    ivfpq.foreach { case (q, n) =>
      assert(probedOf(q).contains(cellOf(n)),
        s"neighbor $n (cell ${cellOf(n)}) returned for query $q outside its probed cells ${probedOf(q)}")
    }
  }

  test("IVF index: probing the cell-pruned persisted index equals probing the full index") {
    // the deployment pattern ivfProbeCells documents: persist assigned
    // partitioned by cell, prune the read to the batch's probed cells,
    // probe the pruned index — results must be IDENTICAL to the unpruned
    // probe (same queries, same p), or static pruning silently drops
    // candidates
    val dir = sf("sf0.01")
    val e = Ann.embsWithNorm(spark, dir)
    val idx = Ann.ivfBuild(e.where(col("vec_id") >= Ann.NQ), k = 8)
    // 3 queries x p=2 probes at most 6 of the 8 cells — pruning is
    // GUARANTEED to occur, so the equality below can't degenerate into
    // comparing the full index against itself
    val queries = e.where(col("vec_id") < 3)
    val full = Ann.ivfProbe(spark, idx, queries, p = 2).collect().toSeq
    val tmp = java.nio.file.Files.createTempDirectory("ivf-idx").toString + "/idx"
    idx.assigned.write.partitionBy("cell").parquet(tmp)
    val cells = Ann.ivfProbeCells(idx, queries, p = 2)
    assert(cells.nonEmpty && cells.size < idx.cents.length,
      s"probed ${cells.size} of ${idx.cents.length} cells — nothing pruned")
    val pruned = spark.read.parquet(tmp)
      .where(col("cell").isin(cells.map(Int.box): _*))
    val viaPruned = Ann.ivfProbe(spark, idx.copy(assigned = pruned), queries, p = 2)
      .collect().toSeq
    assert(viaPruned == full,
      s"pruned-index probe diverged: ${viaPruned.size} vs ${full.size} rows")
  }

  test("C6-LSH: embedding-LSH pairs are a verified subset of the exact pairs") {
    val dir = sf("sf0.01")
    val exact = q("dedup_embedding", dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = q("dedup_embedding_lsh", dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // exact-cosine verification: nothing below tau survives, and every
    // surviving pair is in the exact result (LSH only prunes candidates)
    assert(lsh.forall(_._3 >= 0.5))
    assert(lsh.map(t => (t._1, t._2)).toSet.subsetOf(exact))
    info(s"embedding-LSH recall = ${lsh.size}/${exact.size}")
  }

  test("C6: embeddingPairsExact refuses past the 50k O(n²) ceiling, naming the scale paths") {
    import org.apache.spark.sql.functions.{array, col, lit}
    val tooBig = spark.range(50001L).select(
      col("id").as("vec_id"), array(lit(1.0)).as("emb"), lit(1.0).as("nrm"))
    val e = intercept[IllegalArgumentException] {
      graft.queries.Dedup.embeddingPairsExact(tooBig)
    }
    assert(e.getMessage.contains("dedup_embedding_lsh") &&
      e.getMessage.contains("dedup_semantic"),
      s"refusal must point at the scale paths, got: ${e.getMessage}")
    // one under the ceiling plans fine (guard is on input size, not output)
    val ok = spark.range(3L).select(
      col("id").as("vec_id"), array(lit(1.0)).as("emb"), lit(1.0).as("nrm"))
    assert(graft.queries.Dedup.embeddingPairsExact(ok).count() == 3L)
  }

  test("q17b approx_count_distinct within 5% of the exact distinct counts") {
    val dir = sf("sf0.01")
    val exact = q("q17_count_distinct", dir).select("l_returnflag", "n_parts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = q("q17b_approx_distinct", dir).select("l_returnflag", "approx_parts").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05, s"$k: approx=$ap exact=$ex")
    }
  }

  test("C4b: distributed connected components == union-find on the pair set") {
    val dir = sf("sf0.01")
    val pairs = q("dedup_ngram_jaccard", dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find oracle
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toSeq
      .groupBy(_._2).map { case (root, ms) => root -> ms.map(_._1).sorted.mkString(",") }

    val got = q("dedup_clusters", dir).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("ccMinPropagation witness == production CC on random graphs and a deep chain") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // random sparse graphs: many small components, shuffled ids
    (1 to 3).foreach { trial =>
      val n = 60 + trial * 40
      val ids = rnd.shuffle((0L until n * 3L).toVector).take(n)
      val edges = (1 until n).flatMap { i =>
        if (rnd.nextDouble() < 0.6) Some((ids(i), ids(rnd.nextInt(i)))) else None
      }
      val p = edges.toDF("a_id", "b_id")
      val prod = Dedup.connectedComponents(p, smallGraphThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val wit = Dedup.ccMinPropagation(p)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(wit == prod, s"trial $trial: witness != production")
    }
    // a 60-deep chain in adversarial (descending) id order: the worst
    // case for plain propagation — the min label must walk the whole
    // chain; pins the maxRounds headroom and the fixpoint logic
    val chain = (0L until 60L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val chainLabels = Dedup.ccMinPropagation(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(chainLabels.forall(_._2 == 0L), "chain must collapse to label 0")
    assert(chainLabels.length == 61)
    // negative control: the gate's edge-consistency arm fires on a
    // labeling that splits a component (any crossing edge is caught)
    val broken = Seq((1L, 1L), (2L, 2L)).toDF("id", "label") // edge 1-2 crosses
    val la = broken.select(col("id").as("a_id"), col("label").as("la"))
    val lb = broken.select(col("id").as("b_id"), col("label").as("lb"))
    val viol = Seq((1L, 2L)).toDF("a_id", "b_id")
      .join(la, "a_id").join(lb, "b_id").where(col("la") =!= col("lb")).count()
    assert(viol == 1L, "edge-consistency check must catch a split component")
  }

  test("property: prefix-filtered ngram join == brute-force jaccard on random corpora") {
    // the prefix filter is the one place where a subtle math slip loses
    // pairs SILENTLY (a float tau already did once) — drive it with
    // seeded random corpora, heavy shared vocabulary (stop-word-like
    // grams), edited near-dup copies, and two different tau values
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = Vector.tabulate(30)(i => s"w$i") // small vocab → shared grams
    def doc(len: Int): String =
      Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for ((tauNum, tauDen) <- Seq((4, 5), (7, 10))) {
      val base = (0 until 60).map(i => (i.toLong, doc(5 + rnd.nextInt(20))))
      // planted near-dups: copies with 0-2 word edits
      val edited = (0 until 30).map { i =>
        val (id, text) = base(rnd.nextInt(base.size))
        val ws = text.split(" ").toBuffer
        (0 until rnd.nextInt(3)).foreach { _ =>
          ws(rnd.nextInt(ws.size)) = vocab(rnd.nextInt(vocab.size))
        }
        (100L + i, ws.mkString(" "))
      }
      val df = (base ++ edited).toDF("doc_id", "text")
      val got = graft.queries.Dedup.ngramJaccardPairs(df, tauNum, tauDen)
        .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // brute-force oracle on driver
      val tau = tauNum.toDouble / tauDen
      def grams(t: String): Set[String] = {
        val ws = t.split(" ")
        if (ws.length < 3) Set.empty
        else (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").toSet
      }
      val all = (base ++ edited).map { case (id, t) => (id, grams(t)) }
        .filter(_._2.nonEmpty)
      val expected = (for {
        (ia, ga) <- all; (ib, gb) <- all if ia < ib
        inter = (ga & gb).size
        if inter.toDouble / (ga.size + gb.size - inter) >= tau
      } yield (ia, ib)).toSet
      assert(expected.nonEmpty, s"tau=$tauNum/$tauDen: degenerate test corpus")
      assert(got == expected,
        s"tau=$tauNum/$tauDen missed=${expected -- got} extra=${got -- expected}")
    }
  }

  test("connectedComponents accepts any pair source: simhash pairs vs union-find (both paths)") {
    val dir = sf("sf0.01")
    val pairList = q("dedup_simhash", dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairList.nonEmpty)
    // threshold 0 forces the DISTRIBUTED pointer-doubling iteration —
    // small test graphs would otherwise only ever exercise the driver
    // union-find fast path
    val distributed = Dedup.components(
        q("dedup_simhash", dir).select("a_id", "b_id"),
        smallGraphThreshold = 0L)
    val labels = distributed.labels
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val fastCC = Dedup.components(q("dedup_simhash", dir).select("a_id", "b_id"))
    val fast = fastCC.labels
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(fast == labels, "fast path and distributed path diverged")
    // only the small-graph path vouches for a size a broadcast can rely on
    assert(fastCC.small && !distributed.small)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairList.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(x => x -> find(x)).toMap
    assert(labels == expected, s"labels=$labels expected=$expected")
  }

  test("batched hyperplaneSigs is bit-identical to the per-table kernel") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val df = (0 until 200).map(i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian()))).toDF("id", "emb")
    val l = 16; val bits = 6
    val batched = df.select(col("id"),
      graft.functions.Kernels.hyperplaneSigs(col("emb"), lit(l), lit(bits)).as("sigs"))
    val single = df.select(col("id"),
      array((0 until l).map(t =>
        graft.functions.Kernels.hyperplaneSig(col("emb"), lit(t), lit(bits))): _*).as("sigs"))
    val a = batched.orderBy("id").collect().map(_.getSeq[Long](1))
    val b = single.orderBy("id").collect().map(_.getSeq[Long](1))
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("C30b: bloom pre-filter stays exact under FORCED false positives") {
    // the property the oracle can't stress: at 3% fpp on real data FPs
    // may never fire. Build the same 4-branch plan with a deliberately
    // tiny, high-fpp filter so false positives certainly occur, and
    // assert the result still equals the plain anti-join — i.e. the
    // approximation is structurally unable to reach the output.
    import spark.implicits._
    val corpus = (0L until 2000L).map(k => Tuple1(k * 7L)).toDF("hl")
    val batch = ((0L until 300L).map(k => k * 7L) ++ // true dups
      (0L until 700L).map(k => 1000000L + k))        // new keys
      .zipWithIndex.map { case (hl, id) => (id.toLong, hl) }.toDF("id", "hl")
    val bloom = corpus.stat.bloomFilter("hl", 100L, 0.5) // undersized on purpose
    val might = graft.functions.Native.bloomMightContain(spark, bloom, col("hl"))
    val positives = batch.where(might)
    val fps = positives.count() - 300
    assert(fps > 0, s"test filter produced no false positives (fps=$fps) — vacuous")
    val hits = corpus.join(broadcast(positives.select(col("hl"))), Seq("hl"), "left_semi")
      .select(col("hl")).distinct()
    val got = batch.where(!might)
      .unionByName(positives.join(broadcast(hits), Seq("hl"), "left_anti"))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    val expected = batch.join(corpus, Seq("hl"), "left_anti")
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(got == expected, s"missed=${expected -- got} extra=${got -- expected}")
    // every inserted corpus key must probe positive (no false negatives —
    // a false negative would leak a duplicate into the corpus forever)
    assert(corpus.where(!might).count() == 0)
  }

  test("property: incrementalExact == incrementalExactBloom on random corpora across fpp regimes") {
    // the library pair under randomized overlap/dup structure — exact
    // equality must hold for ANY filter quality, including one built
    // with a wildly wrong expectedItems (fpp near 1)
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val vocabN = 40 + trial * 20
      def doc(): String = Seq.fill(4 + rnd.nextInt(6))("t" + rnd.nextInt(vocabN)).mkString(" ")
      val corpus = (0 until 400).map(i => (10000L + i, doc())).toDF("doc_id", "text")
      val corpusTexts = corpus.select("text").collect().map(_.getString(0))
      val batch = (0 until 300).map { i =>
        val t = if (rnd.nextInt(10) < 3) corpusTexts(rnd.nextInt(corpusTexts.length)) else doc()
        (i.toLong, t)
      }.toDF("doc_id", "text")
      val exact = graft.queries.Dedup.incrementalExact(batch, corpus)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // expectedItems deliberately undersized on odd trials — high fpp
      val bloom = graft.queries.Dedup.corpusBloom(corpus,
        expectedItems = if (trial % 2 == 1) 10L else -1L)
      val bloomed = graft.queries.Dedup.incrementalExactBloom(batch, corpus, bloom)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.nonEmpty && bloomed == exact,
        s"trial $trial: missed=${exact -- bloomed} extra=${bloomed -- exact}")
    }
  }

  test("C30/C30b: incremental dedup forms agree; the bloom-negative shortcut is non-vacuous") {
    val dir = sf("sf0.01")
    val plain = q("dedup_incremental", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloomed = q("dedup_incremental_bloom", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.nonEmpty && bloomed == plain,
      s"missed=${plain -- bloomed} extra=${bloomed -- plain}")
    // the scale claim is that MOST of a mostly-new batch skips the join:
    // rebuild the filter the query builds and check the negative branch
    // actually carries rows at this SF
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val norm = lower(regexp_replace(trim(col("text")), "\\s+", " "))
    val n = d.select(col("doc_id"), xxhash64(norm).as("hl"))
    val corpus = n.where(pmod(col("doc_id"), lit(3)) =!= 0)
    val bloom = corpus.stat.bloomFilter("hl", math.max(1L, corpus.count()), 0.03)
    val might = graft.functions.Native.bloomMightContain(spark, bloom, col("hl"))
    val negatives = n.where(pmod(col("doc_id"), lit(3)) === 0).where(!might).count()
    assert(negatives > 0, "no batch digest tested bloom-negative — shortcut untested")
  }

  test("C32 dedup_semantic: removal edges lie inside exact-cosine clusters (sf0.01)") {
    val dir = sf("sf0.01")
    // exact-cosine pairs at the same tau — union-find them into the
    // ground-truth components
    val exact = q("dedup_embedding", dir)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    exact.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val sem = q("dedup_semantic", dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // within-cell cosine is verified exact, so every semantic removal
    // edge must connect two members of one TRUE cluster — cells can only
    // split components (lower recall), never invent them
    sem.foreach { case (removed, rep) =>
      assert(parent.contains(removed) && find(removed) == find(rep),
        s"semantic edge ($removed -> $rep) not inside an exact cluster")
    }
    info(s"semantic removals = ${sem.length}, exact pairs = ${exact.length}")
  }

  test("C32 dedup_semantic: planted near-dups collapse into one component (recall >= 0.9)") {
    // the quantizer must put a planted twin in its original's cell
    // essentially always, so SemDeDup's within-cell verification finds
    // the pair; ordinary cluster-mates sit below tau 0.98, so the recall
    // measured is the twins', not a trivial whole-cluster collapse
    // (asserted below)
    val (df, twins) = Planted.semanticTwins(spark)
    val labels = graft.queries.Dedup.semanticDedup(spark, df, k = 8, tau = 0.98)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // non-vacuity: if whole clusters collapsed (intra-cluster cosine
    // above tau), removals would approach |base| - |clusters| ~ 390 and
    // twin recall would be trivially 1 — the removal count must stay in
    // the vicinity of the planted-pair count for the recall to mean
    // anything
    assert(labels.length < 100,
      s"${labels.length} removals — clusters collapsed wholesale, twin recall is vacuous")
    // rebuild full component membership: removed -> rep, rep -> itself
    val comp = labels.toMap
    def root(x: Long): Long = comp.getOrElse(x, x)
    val hit = twins.count { case (twinId, origId) => root(twinId) == root(origId) }
    info(s"planted-twin recall = $hit/25 (${labels.length} removals)")
    assert(hit >= 23, s"only $hit/25 planted twins collapsed")
  }

  test("C33 dedup_incremental_minhash == the same rule computed from the exact pair miner") {
    val dir = sf("sf0.01")
    val d = spark.read.parquet(s"$dir/documents.parquet")
    // ground truth: ALL near-dup pairs from the exact prefix-filtered
    // miner, then the same drop rule replayed on the driver
    val exact = graft.queries.Dedup.ngramJaccardPairs(d, 4, 5)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    val batchIds = d.where("doc_id % 3 = 0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def inBatch(x: Long) = x % 3 == 0
    val corpusDup = exact.flatMap { case (a, b) =>
      (if (inBatch(a) && !inBatch(b)) Some(a) else None) ++
        (if (inBatch(b) && !inBatch(a)) Some(b) else None)
    }.toSet
    val survivors = batchIds -- corpusDup
    val bp = exact.filter { case (a, b) => survivors(a) && survivors(b) }
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    bp.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nonMin = parent.keys.filter(x => find(x) != x).toSet
    val expected = survivors -- nonMin
    val got = q("dedup_incremental_minhash", dir)
      .collect().map(_.getLong(0)).toSet
    // 32x4 banding capture probability ~1 at j >= 0.8 + exact verify →
    // set equality expected, as in the C4 spec
    assert(corpusDup.nonEmpty, "no planted cross near-dups — vacuous")
    assert(got == expected, s"missed=${expected -- got} extra=${got -- expected}")
  }

  test("no duplicate query names across suites") {
    // the authoritative composition — a dup anywhere in it silently
    // drops a query from the toMap-built driver contract
    val names = SparkEntry.allQ.map(_.name)
    assert(names.distinct.size == names.size,
      s"dups: ${names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }}")
  }
}
