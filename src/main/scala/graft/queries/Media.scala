package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.media.Multimodal

/** C13 multimodal queries — the driver-gated face of the binary-column
  * pipeline. [[Multimodal.mediaFromDocuments]] synthesizes MediaRow
  * (binary payload + typed metadata) DETERMINISTICALLY from `documents`
  * (kind = doc_id mod 3, dims/duration affine in doc_id/n_chars), so a
  * DuckDB oracle can recompute the metadata relationally — hash-gating
  * the real Spark side: the typed Dataset, the struct metadata schema,
  * and the mapPartitions feature pipeline the codec plugs into. The
  * feature VECTORS themselves are codec output (stub, spec-verified for
  * determinism/unit norm/swap); their SQL-expressible envelope rides
  * through [[Multimodal.extractFeatures]] here so the whole path runs
  * under the gate.
  */
object Media {

  /** Shared C13e/D8 oracle: the ingest-dedup decision restated on text
    * equality (the payload bytes) — batch and stream gate identically.
    */
  /** Shared C13j/D30 oracle: the ingest-time PAIR-dedup decision
    * restated on the synth keys (image = n_chars%64, caption = text) —
    * batch and stream gate identically against it.
    */
  private val pairIncrSql: String =
    """WITH delta AS (
      |  SELECT doc_id, n_chars % 64 AS k, text FROM documents WHERE doc_id % 7 = 3),
      |agg AS (SELECT k, text, min(doc_id) AS pair_id, count(*) AS n_batch_dups
      |        FROM delta GROUP BY k, text)
      |SELECT pair_id, n_batch_dups FROM agg
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM documents b
      |  WHERE b.doc_id % 7 != 3 AND b.n_chars % 64 = agg.k AND b.text = agg.text)
      |ORDER BY pair_id""".stripMargin

  /** The (phash, caption-digest) signature frame of a pair set — the
    * ONE place the pair dup-key is computed (batch dedup, incremental
    * probe, and the stream twin all build through it, so the conjunction
    * key cannot drift between forms). One pass: decode+dHash in the
    * typed map, sha2 as a column.
    */
  private def pairSignatures(
      pairs: org.apache.spark.sql.Dataset[graft.media.PairRow]): org.apache.spark.sql.DataFrame = {
    val sess = pairs.sparkSession
    import sess.implicits._
    pairs.map(p => (p.pair_id, Multimodal.dHashOf(p.payload), p.caption))
      .toDF("pair_id", "phash", "caption")
      .select(col("pair_id"), col("phash"), sha2(col("caption"), 256).as("cdig"))
  }

  /** C13f oracle: DuckDB recomputes the 64-bit dHash bit-exactly (see
    * the query comment for the HUGEINT unsigned-64 emulation), then
    * mines the same 4×16-bit pigeonhole bands and popcount-verifies
    * hamming ≤ 3. The fmix64 step ladder runs as a list_reduce over
    * step indices [1..5] so the accumulator appears symbolically (an
    * inlined form would copy the innermost expression 2⁵ times).
    * Constants: 31-fold seed 1125899906842597; golden-ratio increment
    * 0x9E3779B97F4A7C15 = 11400714819323198485 (fits HUGEINT whole —
    * i ≤ 71 keeps i·G < 2⁷⁰); fmix64 c1 = 0xFF51AFD7ED558CCD split as
    * hi 4283543511 / lo 3981806797; c2 = 0xC4CEB9FE1A85EC53 split as
    * hi 3301882366 / lo 444984403.
    */
  private val phashNearDupSql: String = {
    // fmix64 ladder body, shared by the seed and per-pixel mixes
    val fmix =
      """(x, st) -> CASE
        |        WHEN st = 2 THEN (x * 3981806797 + ((x * 4283543511) % 4294967296) * 4294967296) % 18446744073709551616
        |        WHEN st = 4 THEN (x * 444984403 + ((x * 3301882366) % 4294967296) * 4294967296) % 18446744073709551616
        |        ELSE xor(x, x // 8589934592) END""".stripMargin
    s"""WITH d AS (SELECT doc_id AS media_id, text FROM documents),
       |ps AS (SELECT media_id,
       |  list_reduce(list_prepend(CAST(1125899906842597 AS HUGEINT),
       |      list_transform(range(1, length(text) + 1),
       |        i -> CAST(ord(substr(text, i, 1)) AS HUGEINT))),
       |    (h, b) -> (h * 31 + b) % 18446744073709551616) AS pseed
       |  FROM d),
       |sd AS (SELECT media_id,
       |  list_reduce(list_prepend(pseed, [CAST(1 AS HUGEINT),2,3,4,5]),
       |    $fmix) AS seed
       |  FROM ps),
       |px AS (SELECT media_id,
       |  list_transform(range(0, 72), i ->
       |    list_reduce(list_prepend(
       |        xor(seed, (CAST(i AS HUGEINT) * 11400714819323198485) % 18446744073709551616),
       |        [CAST(1 AS HUGEINT),2,3,4,5]),
       |      $fmix) % 256) AS pxs
       |  FROM sd),
       |hw AS (SELECT media_id,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(0, 32), b ->
       |      CASE WHEN pxs[(b // 8) * 9 + (b % 8) + 1] > pxs[(b // 8) * 9 + (b % 8) + 2]
       |        THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE CAST(0 AS BIGINT) END)),
       |    (a, v) -> a + v) AS lo,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(range(32, 64), b ->
       |      CASE WHEN pxs[(b // 8) * 9 + (b % 8) + 1] > pxs[(b // 8) * 9 + (b % 8) + 2]
       |        THEN CAST(1 AS BIGINT) << CAST(b - 32 AS INT) ELSE CAST(0 AS BIGINT) END)),
       |    (a, v) -> a + v) AS hi
       |  FROM px),
       |ph AS (SELECT media_id,
       |  CAST(CAST(hi AS HUGEINT) * 4294967296 + lo
       |    - CASE WHEN hi >= 2147483648 THEN 18446744073709551616 ELSE 0 END AS BIGINT) AS phash,
       |  lo, hi FROM hw),
       |${Similar.hammingPairsSql("ph", "media_id", "phash", 4, 16, 3)}""".stripMargin
  }

  private val phashIncrSql: String =
    """WITH delta AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 3),
      |agg AS (SELECT text, min(doc_id) AS media_id, count(*) AS n_batch_dups
      |        FROM delta GROUP BY text)
      |SELECT media_id, n_batch_dups FROM agg
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM documents b WHERE b.doc_id % 7 != 3 AND b.text = agg.text)
      |ORDER BY media_id""".stripMargin

  val all: Seq[Q] = Seq(

    // C13a: metadata aggregation THROUGH Dataset[MediaRow] — media type
    // mix, average frame width, duration envelope. The oracle recomputes
    // the same metadata from documents (the synth mapping is the spec).
    Q("media_meta_agg",
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
        |    16 + (doc_id % 4) * 8 AS width,
        |    16 + (doc_id % 3) * 8 AS height,
        |    1000 + (n_chars % 5000) AS duration_ms
        |  FROM documents)
        |SELECT media_type, count(*) AS n,
        |  round(avg(width), 4) AS avg_width,
        |  CAST(max(duration_ms) AS BIGINT) AS max_duration_ms
        |FROM m GROUP BY media_type ORDER BY media_type""".stripMargin) { (s, dir) =>
      Multimodal.mediaFromDocuments(s, dir).toDF()
        .select(col("meta.mediaType").as("media_type"),
          col("meta.width").as("width"),
          col("meta.durationMs").as("duration_ms"))
        .groupBy(col("media_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("width")), 4).as("avg_width"),
          max(col("duration_ms")).cast("long").as("max_duration_ms"))
        .orderBy(col("media_type"))
    },

    // C13b: the feature-extraction pipeline end-to-end (decode path
    // through the Codec seam, partition-wise, no shuffle until the
    // presentation sort). The vectors are codec output and not
    // SQL-expressible; their envelope (id, type carried through
    // MediaFeature) is, and gates that the pipeline ran per item.
    Q("media_features",
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.extractFeatures(Multimodal.mediaFromDocuments(s, dir), 32).toDF()
        .select(col("media_id"), col("mediaType").as("media_type"))
        .orderBy(col("media_id"))
    },

    // C13c: frame sampling through the Codec seam — every stepMs=700
    // within each item's duration, decode-fanout inside mapPartitions
    // (0 shuffles until the per-item re-aggregation). The oracle
    // recomputes the sampling arithmetic (frame count = max(1,
    // duration/step)) and the decoded size contract (width*height bytes
    // per frame) relationally, gating the flatMap multiplicity and the
    // codec's size contract; pixel CONTENT stays codec output,
    // spec-verified in MultimodalSpec.
    Q("media_frame_sample",
      """WITH m AS (SELECT doc_id AS media_id,
        |  16 + (doc_id % 4) * 8 AS w, 16 + (doc_id % 3) * 8 AS h,
        |  greatest(1, (1000 + (n_chars % 5000)) // 700) AS n_frames
        |  FROM documents)
        |SELECT media_id, CAST(n_frames AS BIGINT) AS n_frames,
        |  CAST(n_frames * w * h AS BIGINT) AS px_bytes
        |FROM m ORDER BY media_id""".stripMargin) { (s, dir) =>
      Multimodal.sampleFrames(Multimodal.mediaFromDocuments(s, dir), stepMs = 700).toDF()
        .groupBy(col("media_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(length(col("pixels"))).as("px_bytes"))
        .orderBy(col("media_id"))
    },

    // C13d: perceptual-hash (dHash) dedup through the full decode →
    // resize → hash path, gated PER ITEM — every media row emits its
    // hash-group canonical (min id) and group size, so the oracle pins
    // the entire hash PARTITION STRUCTURE, not just the duplicated
    // sliver (which is empty at sf0.01): a spurious collision or a
    // missed duplicate changes some row at any scale. ORACLE SOUNDNESS:
    // decode/resize are pure functions of payload bytes, so identical
    // payloads ALWAYS share a dHash; the converse (distinct payloads
    // never collide) holds on this data because the stub's decode seeds
    // a 64-bit mix from the payload — expected birthday collisions
    // among n distinct payloads ≈ n²/2⁶⁵ (~2·10⁻¹¹ at sf0.1), and the
    // gate data is fixed, so the equality is deterministic (verified at
    // sf0.01/sf0.1/sf1). With a REAL codec the hash deliberately merges
    // near-identical images — that recall path (banded buckets,
    // Hamming ≤ 3 total recall by pigeonhole) is MediaPhashSpec's
    // controlled-codec territory, the same division of labor as
    // media_features' vectors. Scale shape: one window shuffle of
    // (media_id, 8 B hash) — the payload never moves.
    Q("media_phash_dedup",
      """SELECT doc_id AS media_id,
        |  min(doc_id) OVER (PARTITION BY text) AS canonical_id,
        |  count(*) OVER (PARTITION BY text) AS n
        |FROM documents ORDER BY media_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("phash"))
      Multimodal.dHash(Multimodal.mediaFromDocuments(s, dir)).toDF()
        .select(col("media_id"),
          min(col("media_id")).over(w).as("canonical_id"),
          count(lit(1)).over(w).as("n"))
        .orderBy(col("media_id"))
    },

    // C13e: ingest-time image dedup — a new media batch against the
    // corpus's persisted phash index (C30's incremental shape on the
    // perceptual key): batch items whose hash collides with the corpus
    // drop, batch-internal collisions collapse to the min-id canonical.
    // Oracle = the same decision on text equality (stub soundness as
    // C13d: identical payloads always collide, spurious collisions are
    // a ~n²/2⁶⁵ birthday event on fixed data, verified at all scales).
    Q("media_phash_incremental", phashIncrSql) { (s, dir) =>
      val m = Multimodal.mediaFromDocuments(s, dir)
      Multimodal.phashIncremental(
          m.where(pmod(col("media_id"), lit(7)) =!= 3),
          m.where(pmod(col("media_id"), lit(7)) === 3))
        .orderBy(col("media_id"))
    },

    // D8: the STREAMING twin — media ingest as a file stream through
    // the same synth mapping (shared mediaRowOf, so batch and stream
    // can never drift), dHash partition-wise on the stream, stream-
    // static LEFT ANTI join against the corpus phash index (stateless —
    // the static side is a probe table), one stateful groupBy
    // collapsing batch-internal collisions (state = one row per
    // surviving hash), AvailableNow → complete-mode sink. Gated by
    // the SAME oracle as the batch form — driver-checked batch/stream
    // parity, the D6 discipline on the perceptual key.
    Q("media_phash_stream", phashIncrSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Complete) {
        import s.implicits._
        val stream = Events.streamOf(s, dir, "documents")
          .where(pmod(col("doc_id"), lit(7)) === 3)
          .select(col("doc_id"), col("text"), col("n_chars"))
          .as[(Long, String, Long)]
          .map { case (id, t, n) => Multimodal.mediaRowOf(id, t, n) }
        val idx = Multimodal.dHash(
            Multimodal.mediaFromDocuments(s, dir)
              .where(pmod(col("media_id"), lit(7)) =!= 3))
          .toDF().select(col("phash")).distinct()
        Multimodal.dHash(stream).toDF()
          .join(idx, Seq("phash"), "left_anti")
          .groupBy(col("phash"))
          .agg(min(col("media_id")).as("media_id"), count(lit(1)).as("n_batch_dups"))
      }
        .select(col("media_id"), col("n_batch_dups"))
        .orderBy(col("media_id"))
    },

    // C13f (r9): perceptual NEAR-dup pairs — hamming distance ≤ 3 on
    // the 64-bit dHash via PIGEONHOLE banding (the C5 simhash machinery
    // on the media key, and the method image pipelines run for
    // re-encoded/resized copies exact phash equality misses): split the
    // hash into 4×16-bit bands; a pair differing in ≤3 bits MUST agree
    // on ≥1 band (3 < 4 — candidates are PROVABLY complete, no recall
    // loss), then bit_count(xor) verifies exactly. Scale shape: the
    // corpus shuffles once as slim (media_id, 8 B hash) band rows on
    // uniform 16-bit keys; within-bucket pairs are quadratic in BUCKET
    // size only (random hashes → 2¹⁶ uniform buckets); the payload
    // never moves.
    //
    // FULL HASH GATE (r12, the dedup_simhash_int discipline on the
    // media key): the dHash is already a 64-bit integer, and the whole
    // stub chain — payloadSeed's 31-multiplier byte fold, the fmix64
    // xorshift-multiply cascade, the 9×8 brighter-than-right-neighbor
    // bit grid — is wrapping unsigned-64 arithmetic, which DuckDB
    // restates exactly in HUGEINT: the two fmix64 multiplier constants
    // split into 32-bit halves so x·c mod 2⁶⁴ =
    // (x·c_lo + ((x·c_hi) mod 2³²)·2³²) mod 2⁶⁴ stays inside
    // signed-128 (x·c directly would need 2¹²⁸), x >>> 33 is
    // `x // 2³³` on the non-negative representation, and the final
    // signed Long assembles from two BIGINT half-words (`**` returns
    // DOUBLE and drops low bits) with a −2⁶⁴ shift past the sign bit.
    // The oracle then mines the SAME 4×16-bit pigeonhole bands and
    // verifies bit_count(xor) ≤ 3 — signature, candidates, and
    // verification all bit-identical across engines.
    // `inv_phash_neardup_sound` stays as the independent per-pair
    // distance recheck + hamming-0 completeness witness;
    // MediaHammingSpec drives a planted codec through distances 1/3
    // (caught) and 4 (verified away).
    Q("media_phash_neardup", phashNearDupSql) { (s, dir) =>
      phashNearDupPairs(
          Multimodal.dHash(Multimodal.mediaFromDocuments(s, dir)).toDF())
        .orderBy(col("a_id"), col("b_id"))
    },

    // Driver gate for C13f (WHERE 1=0 oracle): soundness — every
    // emitted pair's independently recomputed hamming ≤ 3 — plus the
    // hamming-0 completeness witness: every same-phash pair implied by
    // the C13d dup groups must be present in the pair set.
    Q("inv_phash_neardup_sound",
      """SELECT CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS BIGINT) AS a_id,
        |  CAST(NULL AS BIGINT) AS b_id FROM documents WHERE 1=0""".stripMargin) { (s, dir) =>
      val h = Multimodal.dHash(Multimodal.mediaFromDocuments(s, dir)).toDF()
      val pairs = phashNearDupPairs(h)
      val unsound = pairs
        .join(h.select(col("media_id").as("a_id"), col("phash").as("pa")), "a_id")
        .join(h.select(col("media_id").as("b_id"), col("phash").as("pb")), "b_id")
        .where(expr("bit_count(pa ^ pb)") > 3 ||
          expr("bit_count(pa ^ pb)") =!= col("hamming"))
        .select(lit("unsound").as("kind"), col("a_id"), col("b_id"))
      // hamming-0 witness: all same-hash pairs (a < b) must be emitted
      val exact = Similar.buckets(Similar.Keyed(h, "media_id", Seq("phash"), unique = true))
      val missing = exact.join(pairs, Seq("a_id", "b_id"), "left_anti")
        .select(lit("missing_exact").as("kind"), col("a_id"), col("b_id"))
      unsound.unionByName(missing).orderBy(col("kind"), col("a_id"), col("b_id"))
    },

    // C13g (r10): CROSS-MODAL pair dedup — the LAION-style (image,
    // caption) row where the two identities are INDEPENDENT (the pair
    // synth derives image bytes from a reduced key, so the same image
    // recurs under different captions and vice versa — Multimodal
    // .pairImageBytes scaladoc). A pair is a duplicate only when BOTH
    // keys match: dHash on the image payload (the C13d perceptual key,
    // through the same dHashOf kernel) ∧ sha2 of the caption (the C1
    // exact-text key). Per pair: min-id canonical + group size — the
    // C13d gate shape on the conjunction, so a collapsed caption-dup
    // with a different image (or the reverse) changes rows at any
    // scale. 100 TB shape: ONE pass over pairs (decode+hash+digest at
    // scan speed), then a single window shuffle of (pair_id, 8 B hash,
    // 32 B digest) — the payload and caption never move.
    Q("media_text_pair_dedup",
      """SELECT doc_id AS pair_id,
        |  min(doc_id) OVER (PARTITION BY n_chars % 64, text) AS canonical_id,
        |  count(*) OVER (PARTITION BY n_chars % 64, text) AS n
        |FROM documents ORDER BY pair_id""".stripMargin) { (s, dir) =>
      val sig = pairSignatures(Multimodal.pairsFromDocuments(s, dir))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("phash"), col("cdig"))
      sig.select(col("pair_id"),
          min(col("pair_id")).over(w).as("canonical_id"),
          count(lit(1)).over(w).as("n"))
        .orderBy(col("pair_id"))
    },

    // C13j (r10): ingest-time PAIR dedup — C13g's decision at the
    // incremental boundary (C13e's shape on the conjunction key): a new
    // pair batch probes the corpus's persisted (phash, caption-digest)
    // index, colliding pairs drop, batch-internal collisions collapse
    // to the min-id canonical. The corpus contributes only its distinct
    // 40 B signature index — payloads and captions are never re-read.
    Q("media_text_pair_incremental", pairIncrSql) { (s, dir) =>
      val m = Multimodal.pairsFromDocuments(s, dir)
      val idx = pairSignatures(m.filter(p => p.pair_id % 7 != 3))
        .select(col("phash"), col("cdig")).distinct()
      pairSignatures(m.filter(p => p.pair_id % 7 == 3))
        .join(idx, Seq("phash", "cdig"), "left_anti")
        .groupBy(col("phash"), col("cdig"))
        .agg(min(col("pair_id")).as("pair_id"), count(lit(1)).as("n_batch_dups"))
        .select(col("pair_id"), col("n_batch_dups"))
        .orderBy(col("pair_id"))
    },

    // D30 (r10): the STREAMING twin — cross-modal pairs as an ingest
    // stream through the same pairRowOf synth (shared, so batch and
    // stream can never drift), dHash+digest partition-wise on the
    // stream via the SAME pairSignatures frame, stream-static LEFT ANTI
    // join against the corpus signature index (stateless — the static
    // side is a probe table), one stateful groupBy collapsing
    // batch-internal collisions (state = one row per surviving
    // signature), AvailableNow → complete-mode sink. Gated by the
    // SAME oracle as C13j — driver-checked batch/stream parity, the D8
    // discipline on the conjunction key.
    Q("media_text_pair_stream", pairIncrSql) { (s, dir) =>
      Events.runStream(s, OutputMode.Complete) {
        import s.implicits._
        val stream = Events.streamOf(s, dir, "documents")
          .where(pmod(col("doc_id"), lit(7)) === 3)
          .select(col("doc_id"), col("text"), col("n_chars"))
          .as[(Long, String, Long)]
          .map { case (id, t, n) => Multimodal.pairRowOf(id, t, n) }
        val idx = pairSignatures(
            Multimodal.pairsFromDocuments(s, dir).filter(p => p.pair_id % 7 != 3))
          .select(col("phash"), col("cdig")).distinct()
        pairSignatures(stream)
          .join(idx, Seq("phash", "cdig"), "left_anti")
          .groupBy(col("phash"), col("cdig"))
          .agg(min(col("pair_id")).as("pair_id"), count(lit(1)).as("n_batch_dups"))
      }
        .select(col("pair_id"), col("n_batch_dups"))
        .orderBy(col("pair_id"))
    },

    // C13h (r10): image HASH-EMBED — the image analog of C61
    // text_hash_embed: feature-hash the payload BYTES into a 16-dim
    // signed-count vector (byte positions standing where C61's tokens
    // stood — Multimodal.byteHashEmbed), making the binary column a
    // first-class citizen of the embedding family. The byte→dim→sign
    // rule is SQL-restatable, so the whole binary → integer-vector path
    // HASH-gates (a real deployment swaps Codec.features in; what this
    // gates is the plumbing: binary column → bounded vector → C13i's
    // ANN). One scan, no shuffle but the presentation sort.
    Q("media_hash_embed",
      """WITH b AS (
        |  SELECT doc_id, r.range AS i,
        |         ((n_chars % 64) * 31 + r.range * 17) % 256 AS a
        |  FROM documents, range(32) r),
        |th AS (SELECT doc_id, i,
        |         (a * (1 + (131 * (i + 1)) % 997)) % 1048576 AS hh FROM b),
        |e AS (SELECT doc_id, hh % 16 AS dim,
        |         CASE WHEN (hh // 16) % 2 = 0 THEN 1 ELSE -1 END AS s FROM th),
        |g AS (SELECT doc_id, dim, CAST(sum(s) AS BIGINT) AS v
        |      FROM e GROUP BY doc_id, dim),
        |dd AS (SELECT d.doc_id, r.range AS dim FROM documents d, range(16) r)
        |SELECT dd.doc_id AS pair_id, CAST(dd.dim AS BIGINT) AS dim,
        |  COALESCE(g.v, 0) AS v
        |FROM dd LEFT JOIN g ON g.doc_id = dd.doc_id AND g.dim = dd.dim
        |ORDER BY pair_id, dim""".stripMargin) { (s, dir) =>
      val sess = s
      import sess.implicits._
      Multimodal.pairsFromDocuments(s, dir)
        .map(p => (p.pair_id, Multimodal.byteHashEmbed(p.payload, 16)))
        .toDF("pair_id", "v")
        .select(col("pair_id"), posexplode(col("v")).as(Seq("dim", "v")))
        .select(col("pair_id"), col("dim").cast("long").as("dim"), col("v"))
        .orderBy(col("pair_id"), col("dim"))
    },

    // C13i (r10): the C13h vectors FEEDING THE ANN FAMILY — brute-force
    // top-5 cosine over image hash-embeddings, pair_id < 10 as queries
    // (C7's frame on the media column: broadcast query set, corpus
    // scanned never shuffled, round(cos,6)+n_id deterministic ranking).
    // Integer-derived doubles make the cosine bit-identical across
    // engines, so unlike the float C7 family this one hash-gates with
    // no recall gate needed. Ties at cos=1.0 (image-dup cohorts) are
    // the point: the ranking must break them identically to the oracle.
    Q("media_ann",
      s"""WITH b AS (
        |  SELECT doc_id, r.range AS i,
        |         ((n_chars % 64) * 31 + r.range * 17) % 256 AS a
        |  FROM documents, range(32) r),
        |th AS (SELECT doc_id, i,
        |         (a * (1 + (131 * (i + 1)) % 997)) % 1048576 AS hh FROM b),
        |e AS (SELECT doc_id, hh % 16 AS dim,
        |         CASE WHEN (hh // 16) % 2 = 0 THEN 1 ELSE -1 END AS s FROM th),
        |g AS (SELECT doc_id, dim, CAST(sum(s) AS BIGINT) AS v
        |      FROM e GROUP BY doc_id, dim),
        |n AS (SELECT doc_id, sqrt(CAST(sum(v * v) AS DOUBLE)) AS nrm
        |      FROM g GROUP BY doc_id),
        |d AS (SELECT q.doc_id AS q_id, c.doc_id AS n_id,
        |        CAST(sum(q.v * c.v) AS DOUBLE) AS dot
        |      FROM g q JOIN g c ON c.dim = q.dim
        |      WHERE q.doc_id < 10 AND c.doc_id >= 10
        |      GROUP BY 1, 2),
        |scored AS (SELECT q_id, n_id, dot / (nq.nrm * nc.nrm) AS cos
        |           FROM d JOIN n nq ON nq.doc_id = q_id
        |                  JOIN n nc ON nc.doc_id = n_id),
        |${Similar.topKSql(5)}""".stripMargin) { (s, dir) =>
      val sess = s
      import sess.implicits._
      val emb = Multimodal.pairsFromDocuments(s, dir)
        .map(p => (p.pair_id, Multimodal.byteHashEmbed(p.payload, 16)))
        .toDF("pair_id", "iv")
        .select(col("pair_id"),
          transform(col("iv"), v => v.cast("double")).as("emb"))
        .withColumn("nrm",
          sqrt(graft.functions.Native.dot(s, col("emb"), col("emb"))))
      val queries = emb.where(col("pair_id") < 10)
        .select(col("pair_id").as("q_id"), col("emb").as("qemb"),
          col("nrm").as("qnrm"))
      Similar.topK(Similar.probe(emb.where(col("pair_id") >= 10), queries)
        .select(col("q_id"), col("pair_id").as("n_id"),
          Similar.cosine(s, col("qemb"), col("emb"), col("qnrm"), col("nrm")).as("cos")), 5)
    })

  /** C13f core over any (media_id, phash) frame: 4×16-bit pigeonhole
    * banding → within-bucket candidates → exact bit_count verify ≤ 3.
    */
  private[graft] def phashNearDupPairs(h: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Similar.hammingPairs(h, "media_id", "phash", 4, 16, 3)
      .withColumn("hamming", col("hamming").cast("long"))
}
