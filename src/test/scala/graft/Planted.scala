package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hand-planted corpora shared by the near-dup specs. */
object Planted {

  /** The C79 cascade corpus (documents table under `dir`), planted so
    * every (stage, vs) outcome of the cascade compaction occurs:
    * increment = doc_id % 7 IN (2, 4); messy-url canon siblings are
    * (3p, 3p+2).
    */
  def cascadeDocs(spark: SparkSession, dir: String = "target/tmp/cascade-compact"): String = {
    import spark.implicits._
    def w(n: Int, tag: String) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val A = w(12, "a"); val B = w(12, "b"); val C = w(22, "c"); val D = w(22, "d")
    Seq(
      (0L, A), (1L, C),            // corpus
      (2L, A),                     // canon sibling of corpus 0 → url/corpus
      (9L, B), (11L, w(12, "e")),  // canon pair in-increment: 9 min-keeps, 11 url/increment
      (16L, B),                    // exact dup of surviving 9 → exact/increment
      (23L, C + " extra"),         // jacc 0.95 with corpus 1 → neardup/corpus
      (30L, D), (32L, w(12, "f")), // canon pair in-increment: 30 keeps, 32 url/increment
      (58L, D + " tail")           // jacc 0.95 with surviving 30 → neardup/increment
    ).map { case (id, t) => (id, t, "en", "synth", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** 8 well-separated gaussian clusters of 16-dim vectors (400) plus 25
    * planted near-dup twins (copy + tiny noise, cosine ~0.9999): a
    * (vec_id, emb, nrm) frame and the (twin id, original id) pairs.
    * Noise scale matters: at sigma 1.5 on |center| ~ 20, intra-cluster
    * cosine sits ~0.92, below tau 0.98, so ordinary cluster-mates are
    * not near-dups at that tau.
    */
  def semanticTwins(spark: SparkSession): (DataFrame, Seq[(Long, Long)]) = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val dim = 16
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian() * 5))
    val base = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.toIndexedSeq.map(_ + rnd.nextGaussian() * 1.5))
    }
    val twins = (0 until 25).map { j =>
      val (origId, v) = base(rnd.nextInt(base.size))
      (1000L + j, origId, v.map(_ + rnd.nextGaussian() * 0.001))
    }
    val df = (base ++ twins.map { case (id, _, v) => (id, v) })
      .toDF("vec_id", "emb")
      .select(col("vec_id"), col("emb"),
        sqrt(graft.functions.Native.dot(spark, col("emb"), col("emb"))).as("nrm"))
    (df, twins.map { case (id, orig, _) => (id, orig) })
  }

  /** A 64-dim `embeddings` table under `dir`: 120 random unit vectors,
    * and for the first 20 of them two noisy copies each (cosine ~0.98
    * to the original and to each other). The 20 groups of three plant 60
    * pairs above the integer near-dup families' cosine 0.5, where two
    * random directions in 64 dims almost never reach it. Returns the dir
    * and the planted pair count.
    */
  def embeddingGroups(spark: SparkSession, dir: String): (String, Int) = {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def unit(v: Seq[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = Seq.fill(120)(unit(Seq.fill(64)(rnd.nextGaussian())))
    val groups = 20
    val copies = base.take(groups).flatMap(b => Seq.fill(2)(unit(b.map(_ + rnd.nextGaussian() * 0.02))))
    (base ++ copies).zipWithIndex.map { case (v, i) => (i.toLong, v, i % 10) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    (dir, groups * 3)
  }
}
