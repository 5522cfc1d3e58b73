package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.media.Multimodal
import graft.queries.{Ann, Dedup, Pinned, Similar}

/** Exact recall of the similarity families: each family's verifier runs
  * once over its bucketed candidates and once over all pairs (the
  * [[Similar.allPairs]] generator), on sf0.001 and the planted corpora.
  * sf0.001's embeddings hold no pair at cos >= 0.5 (sf0.01's hold one),
  * so the float embedding families run on the planted twins and the
  * integer ones, which need 64-dim vectors, on the planted 64-dim
  * groups, where all pairs must find at least every planted pair. Verification is exact, so the bucketed rows, scores included,
  * are always a subset of the all-pairs rows. Where candidate generation
  * is exact (pigeonhole hamming blocks, the prefix-filtered AllPairs
  * join) or capture is ~1 (32×4 minhash bands at jaccard >= 0.8 miss
  * with probability ~5e-8), the two must be equal.
  */
class SimilarRecallSpec extends SparkSpec {

  private lazy val cascade = Planted.cascadeDocs(spark, "target/tmp/recall-cascade")
  private lazy val twins = {
    val dir = "target/tmp/recall-twins"
    Planted.semanticTwins(spark)._1.select(col("vec_id"), col("emb").as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }
  private lazy val groups64 = Planted.embeddingGroups(spark, "target/tmp/recall-groups64")
  private def docs(dir: String) = Tables(spark, dir, "documents")

  /** The rows of `bucketed` and of `all`, collected in one job. */
  private def rows(bucketed: DataFrame, all: DataFrame): (Set[Row], Set[Row]) =
    try {
      val tagged = bucketed.withColumn("all_", lit(false))
        .unionByName(all.withColumn("all_", lit(true))).collect()
      val (a, b) = tagged.partition(_.getAs[Boolean]("all_"))
      def strip(rs: Array[Row]) = rs.map(r => Row.fromSeq(r.toSeq.init)).toSet
      (strip(b), strip(a))
    } finally Pinned.drain()

  /** A family: name, whether bucketed == all-pairs, its corpora, and its
    * pairs under a candidate generator.
    */
  private case class Family(name: String, exact: Boolean, dirs: () => Seq[String],
      pairs: (String, Similar.Candidates) => DataFrame)

  private val docDirs = () => Seq(sf(), cascade)
  private val embDirs = () => Seq(twins)
  private val emb64Dirs = () => Seq(groups64._1)
  /** Pairs each planted corpus must yield over all pairs. */
  private def planted(dir: String): Int = if (dir == groups64._1) groups64._2 else 0

  private val families = Seq(
    Family("ngram prefix AllPairs (tau 4/5)", exact = true, docDirs, (d, g) =>
      Dedup.ngramJaccardPairsOnGsets(Dedup.gramSets(docs(d)), 4, 5,
        materializePrefix = false, gen = g)),
    Family("minhash 32x4", exact = true, docDirs, (d, g) => Dedup.minhashLshPairs(docs(d), 4, 5, g)),
    Family("minhash int 32x4", exact = true, docDirs, (d, g) => Dedup.minhashIntPairs(docs(d), g)),
    Family("simhash 4x16 bits, radius 3", exact = true, docDirs, (d, g) =>
      Dedup.simhashPairs(docs(d), g)),
    Family("simhash int 2x24 bits, radius 1", exact = true, docDirs, (d, g) =>
      Dedup.simhashIntPairs(docs(d), g)),
    Family("phash 4x16 bits, radius 3", exact = true, docDirs, (d, g) =>
      Similar.hammingPairs(Multimodal.dHash(Multimodal.mediaFromDocuments(spark, d)).toDF(),
        "media_id", "phash", 4, 16, 3, g)),
    Family("embedding hyperplane LSH", exact = false, embDirs, (d, g) =>
      Dedup.embeddingLshPairs(spark, Ann.embsWithNorm(spark, d), g)),
    Family("embedding integer LSH", exact = false, emb64Dirs, (d, g) =>
      Dedup.embeddingLshIntPairs(spark, d, g)),
    Family("semantic IVF cells", exact = false, embDirs, (d, g) => {
      val e = Ann.embsWithNorm(spark, d)
      val n = e.count()
      Dedup.semanticPairs(spark,
        Ann.ivfBuild(e, Dedup.semanticCellCount(n), knownCount = n).assigned, 0.5, g)
    }),
    Family("semantic integer cells", exact = false, emb64Dirs, (d, g) =>
      Dedup.semanticIntPairs(spark, d, g)))

  families.foreach { f =>
    test(s"${f.name}: bucketed pairs ${if (f.exact) "==" else "⊆"} the verifier over all pairs") {
      val found = f.dirs().map { dir =>
        val (bucketed, all) = rows(f.pairs(dir, Similar.buckets), f.pairs(dir, Similar.allPairs))
        assert(bucketed.subsetOf(all), s"$dir: unverified rows ${(bucketed -- all).take(3)}")
        if (f.exact)
          assert(bucketed == all, s"$dir: missed ${(all -- bucketed).take(3)}")
        assert(all.size >= planted(dir), s"$dir: ${all.size} all-pairs rows, ${planted(dir)} planted")
        info(s"$dir: ${bucketed.size} of ${all.size} all-pairs rows")
        all.size
      }
      assert(found.sum > 0, "no corpus has a qualifying pair: the check is vacuous")
    }
  }
}
