package graft.media

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns — SURVEY.md §2.C13.
  *
  * Media travels as an opaque `binary` payload plus TYPED metadata; all
  * heavy per-item work (decode, resize, frame sampling, feature
  * extraction) runs as `mapPartitions` over `Dataset[MediaRow]` so each
  * task touches its partition's payloads once, with no shuffle and no
  * driver involvement. At 100 TB the payload column stays columnar in
  * parquet (never materialized unless selected), partitioning follows the
  * storage layout, and per-partition batching amortizes codec setup
  * exactly like an Arrow-batched UDF would.
  *
  * THE CODEC IS A STUB: this container has no image/audio libraries, so
  * [[StubCodec]] is a clearly-marked deterministic fake. The Spark-side
  * contract — schemas, typed encoders, partition-wise batch shape,
  * lazy payload access — is real and spec-tested; swapping in a real
  * codec changes only the bodies of [[StubCodec]].
  */
final case class MediaMeta(
    mediaType: String, // "image" | "audio" | "video"
    width: Int,
    height: Int,
    durationMs: Long,
    codec: String)

final case class MediaRow(
    media_id: Long,
    payload: Array[Byte],
    meta: MediaMeta)

final case class Frame(
    media_id: Long,
    frame_idx: Int,
    width: Int,
    height: Int,
    pixels: Array[Byte])

final case class MediaFeature(
    media_id: Long,
    mediaType: String,
    dim: Int,
    vector: Array[Float])

final case class MediaHash(media_id: Long, phash: Long)

/** A cross-modal (image, caption) PAIR — the LAION-style row shape:
  * opaque image bytes beside the text that describes them. Pair-level
  * operators must treat the two identities INDEPENDENTLY (same image
  * re-captioned, same caption re-illustrated are different dup classes).
  */
final case class PairRow(pair_id: Long, payload: Array[Byte], caption: String)

/** The codec seam: everything per-item and media-specific — decode,
  * resize, feature extraction — goes through this trait, and ONLY the
  * trait. The Spark-side pipelines ([[Multimodal]]) close over a `Codec`
  * value inside `mapPartitions`, so an implementation must be
  * `Serializable` (it ships to executors once per task, like any closure
  * capture). Swapping the stub for a real libjpeg/ffmpeg-backed codec is
  * providing another implementation of these three methods — zero
  * changes to schemas, encoders, partitioning, or any `Multimodal`
  * method (MultimodalSpec proves it by running the same pipeline through
  * a second impl).
  */
trait Codec extends Serializable {

  /** Decode one frame of the payload to a w×h byte grid. */
  def decodeFrame(payload: Array[Byte], frameIdx: Int, w: Int, h: Int): Array[Byte]

  /** Resample a frame to w2×h2. */
  def resize(src: Frame, w2: Int, h2: Int): Frame

  /** Embed the payload as a `dim`-dimensional unit vector. */
  def features(payload: Array[Byte], dim: Int): Array[Float]
}

/** Deterministic fake codec — STUB standing in for libjpeg/ffmpeg/etc.
  * Every output is a pure function of (payload bytes, parameters), so
  * specs can assert exact results and re-runs are stable.
  */
object StubCodec extends Codec {

  private def mix(seed: Long, i: Long): Long = {
    var x = seed ^ (i * 0x9E3779B97F4A7C15L)
    x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL
    x ^= (x >>> 33); x *= 0xC4CEB9FE1A85EC53L
    x ^ (x >>> 33)
  }

  private def payloadSeed(payload: Array[Byte]): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < payload.length) { h = 31 * h + payload(i); i += 1 }
    h
  }

  /** "Decode" one frame: pixels are a deterministic byte pattern. */
  override def decodeFrame(payload: Array[Byte], frameIdx: Int, w: Int, h: Int): Array[Byte] = {
    val seed = mix(payloadSeed(payload), frameIdx.toLong)
    val px = new Array[Byte](w * h)
    var i = 0
    while (i < px.length) { px(i) = (mix(seed, i.toLong) & 0xFF).toByte; i += 1 }
    px
  }

  /** "Resize" by nearest-neighbor point sampling of the fake pixel grid —
    * shape-correct and deterministic (no averaging; a real codec would
    * typically box-filter).
    */
  override def resize(src: Frame, w2: Int, h2: Int): Frame = {
    val px = new Array[Byte](w2 * h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        val sx = x * src.width / w2
        val sy = y * src.height / h2
        px(y * w2 + x) = src.pixels(sy * src.width + sx)
        x += 1
      }
      y += 1
    }
    Frame(src.media_id, src.frame_idx, w2, h2, px)
  }

  /** "Feature-extract": a deterministic unit-normalized float vector. */
  override def features(payload: Array[Byte], dim: Int): Array[Float] = {
    val seed = payloadSeed(payload)
    val v = Array.tabulate(dim)(i => ((mix(seed, i.toLong) % 1000L) / 1000.0f))
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    if (n == 0) v else v.map(_ / n)
  }
}

object Multimodal {

  /** Sample frames every `stepMs` from each media item. One partition
    * decodes its items sequentially — codec state could be reused across
    * the iterator exactly as a real decoder would be.
    */
  def sampleFrames(media: Dataset[MediaRow], stepMs: Long,
      codec: Codec = StubCodec): Dataset[Frame] = {
    require(stepMs > 0, s"stepMs must be positive (got $stepMs)")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        val nFrames = math.max(1L, m.meta.durationMs / stepMs).toInt
        (0 until nFrames).iterator.map { idx =>
          Frame(m.media_id, idx, m.meta.width, m.meta.height,
            codec.decodeFrame(m.payload, idx, m.meta.width, m.meta.height))
        }
      }
    }
  }

  /** Resize frames partition-wise (no shuffle). */
  def resizeFrames(frames: Dataset[Frame], w: Int, h: Int,
      codec: Codec = StubCodec): Dataset[Frame] = {
    require(w > 0 && h > 0, s"target dims must be positive (got $w x $h)")
    import frames.sparkSession.implicits._
    frames.mapPartitions(_.map(f => codec.resize(f, w, h)))
  }

  /** Per-item feature vectors, partition-wise. */
  def extractFeatures(media: Dataset[MediaRow], dim: Int,
      codec: Codec = StubCodec): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m =>
      MediaFeature(m.media_id, m.meta.mediaType, dim, codec.features(m.payload, dim))))
  }

  /** Perceptual difference-hash (dHash) per media item — the image
    * near-dup signature LAION-style pipelines dedup scraped images with:
    * decode frame 0, resize to a 9×8 luma grid through the [[Codec]]
    * seam, then 64 bits of "is this pixel brighter than its right
    * neighbor". The thumbnail decodes DIRECTLY at 9×8 (codecs decode at
    * a target size — libjpeg scaled decode), so the hash is a pure
    * function of the payload BYTES alone, never of per-item metadata:
    * identical payloads hash identically for ANY codec, which is the
    * subset-soundness theorem the gated query rides on (decoding at
    * native size first would let two byte-identical payloads diverge
    * through their metadata dims — the sf0.1 gate caught exactly that).
    * Partition-wise: decode + hash at scan speed, no shuffle.
    */
  def dHash(media: Dataset[MediaRow], codec: Codec = StubCodec): Dataset[MediaHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.map(m => MediaHash(m.media_id, dHashOf(m.payload, codec))))
  }

  /** The per-payload dHash kernel [[dHash]] maps with — factored out so
    * pair-level operators hash the image HALF of a PairRow through the
    * very same function (the mediaRowOf one-definition discipline).
    */
  def dHashOf(payload: Array[Byte], codec: Codec = StubCodec): Long = {
    val px = codec.decodeFrame(payload, 0, 9, 8)
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if ((px(y * 9 + x) & 0xFF) > (px(y * 9 + x + 1) & 0xFF))
          h |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    h
  }

  /** Exact-hash duplicate groups: (canonical = min media_id, n ≥ 2).
    * The groupBy shuffles only (media_id, 8 B hash) — the payload
    * column never moves.
    */
  def phashDupGroups(media: Dataset[MediaRow], codec: Codec = StubCodec): DataFrame = {
    import org.apache.spark.sql.functions._
    dHash(media, codec).toDF()
      .groupBy(col("phash"))
      .agg(min(col("media_id")).as("media_id"), count(lit(1)).as("n"))
      .where(col("n") > 1)
      .select(col("media_id"), col("n"))
  }

  /** Near-dup candidate pairs at Hamming distance ≤ `maxHamming`,
    * banded-LSH style: the 64-bit hash splits into 4 × 16-bit bands;
    * pairs collide if ANY band matches exactly, then verify with
    * `bit_count(xor)` (codegen'd). By pigeonhole the recall is TOTAL
    * for maxHamming ≤ 3 (4 bands, ≤ 3 differing bits ⇒ some band is
    * untouched) — the same guarantee-shape as the simhash text dedup
    * (Dedup C5). Self-join happens per band BUCKET (hash equality),
    * never all-pairs.
    */
  def phashNearDupPairs(media: Dataset[MediaRow], maxHamming: Int,
      codec: Codec = StubCodec): DataFrame = {
    import org.apache.spark.sql.functions._
    graft.queries.Similar.hammingPairs(dHash(media, codec).toDF(), "media_id", "phash",
        4, 16, maxHamming)
      .select(col("a_id"), col("b_id"))
  }

  /** The one synth mapping documents-row → MediaRow (the contract the
    * media oracles recompute relationally) — shared by the batch table
    * and the streaming ingest source so the two can never drift.
    */
  def mediaRowOf(id: Long, text: String, nChars: Long): MediaRow = {
    val kind = (id % 3) match {
      case 0 => "image"; case 1 => "audio"; case _ => "video"
    }
    MediaRow(id, text.getBytes("UTF-8"),
      MediaMeta(kind, 16 + (id % 4).toInt * 8, 16 + (id % 3).toInt * 8,
        1000L + (nChars % 5000L), "stub"))
  }

  /** Synthesize a media table from `documents` (this container ships no
    * real media): payload = UTF-8 text bytes, typed metadata derived
    * deterministically. The real thing is the SHAPE — binary column +
    * struct metadata in parquet, typed Dataset on top.
    */
  def mediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"), col("lang"))
      .map(r => mediaRowOf(r.getLong(0), r.getString(1), r.getLong(2)))
  }

  // ------------------------------------- cross-modal (image, caption)

  /** Synthesize the image bytes of a pair from its reduced key — a
    * 32-byte arithmetic pattern the pair oracles recompute relationally
    * (`((key*31 + i*17) % 256)` at byte position i). The REDUCTION is the
    * point: image identity derives from `n_chars % 64` while the caption
    * is the full text, so the two dup keys are genuinely independent —
    * the same image recurs under different captions and vice versa,
    * which is what makes pair-level dedup a conjunction and not a
    * restatement of either single-modality operator.
    */
  def pairImageBytes(key: Long): Array[Byte] =
    Array.tabulate(32)(i => ((key * 31 + i * 17) % 256).toByte)

  /** The one synth mapping documents-row → cross-modal pair (shared by
    * any batch/stream form, the mediaRowOf discipline).
    */
  def pairRowOf(id: Long, text: String, nChars: Long): PairRow =
    PairRow(id, pairImageBytes(nChars % 64), text)

  /** Synthesize the (image, caption) pair table from `documents`. */
  def pairsFromDocuments(spark: SparkSession, dir: String): Dataset[PairRow] = {
    import spark.implicits._
    graft.core.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .map(r => pairRowOf(r.getLong(0), r.getString(1), r.getLong(2)))
  }

  /** Feature-hash IMAGE BYTES into a dim-dimensional signed-count
    * vector — the image analog of text_hash_embed (C61): byte at
    * 1-based position p with value a hashes to
    * `hh = (a · (1 + (131·p) % 997)) % 2²⁰`, lands in dimension
    * `hh % dim` with sign from bit `(hh / dim) % 2`. Exactly C61's rule
    * with byte positions standing where tokens stood, so the whole
    * binary → vector path is SQL-restatable and hash-gates (a real
    * deployment swaps in `Codec.features` here — the plumbing this
    * gates is binary column → bounded integer vector → the ANN family).
    */
  def byteHashEmbed(payload: Array[Byte], dim: Int): Array[Long] = {
    val v = new Array[Long](dim)
    var i = 0
    while (i < payload.length) {
      val a = payload(i) & 0xFF
      val hh = (a.toLong * (1L + (131L * (i + 1)) % 997L)) % 1048576L
      val d = (hh % dim).toInt
      v(d) += (if ((hh / dim) % 2 == 0) 1L else -1L)
      i += 1
    }
    v
  }

  /** Ingest-time image dedup: a new media batch against an
    * already-indexed corpus — C30's shape on the perceptual key. The
    * corpus contributes only its (distinct) 8 B phash index — at scale
    * the index persists beside the corpus; the corpus payloads are
    * never re-read, never joined at full width. Batch-internal
    * collisions collapse in the same map-side-combinable groupBy.
    */
  def phashIncremental(corpus: Dataset[MediaRow], delta: Dataset[MediaRow],
      codec: Codec = StubCodec): DataFrame = {
    import org.apache.spark.sql.functions._
    val idx = dHash(corpus, codec).toDF().select(col("phash")).distinct()
    dHash(delta, codec).toDF()
      .join(idx, Seq("phash"), "left_anti")
      .groupBy(col("phash"))
      .agg(min(col("media_id")).as("media_id"), count(lit(1)).as("n_batch_dups"))
      .select(col("media_id"), col("n_batch_dups"))
  }
}
