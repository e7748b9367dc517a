package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata structs, plus partition-wise
  * decode / feature-extract / resize / frame-sample operators.
  *
  * Decode kernels: the two codec-free formats are REAL — binary PPM
  * images and PCM WAV audio are parsed byte-by-byte
  * ([[MediaCodecs]]) and their features computed from actual
  * pixels/samples. Compressed formats (JPEG/MP3/H.264) would need
  * codec libraries this container doesn't have, so they fall back to
  * a deterministic byte-stat stub (clearly marked below). Everything
  * around the kernels is real and tested: the schema, the typed
  * Dataset plumbing, the mapPartitions batch shape (decode libraries
  * amortize per-partition init, exactly like a Pandas-UDF batch), and
  * the size-aware repartitioning that keeps a 100 TB blob scan
  * balanced when payload sizes are skewed.
  */
object Multimodal {

  case class Blob(doc_id: Long, payload: Array[Byte], width: Int, height: Int, format: String)
  case class Features(doc_id: Long, n_bytes: Int, features: Array[Double])
  case class Frame(doc_id: Long, frame_idx: Int, payload: Array[Byte])

  /** Stand-in media table: documents' text bytes as the payload, with
    * deterministic metadata (what an ingest job would carry alongside
    * real media).
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      (col("n_chars") % 1024 + 1).cast("int").as("width"),
      (col("n_chars") % 768 + 1).cast("int").as("height"),
      lit("raw").as("format"))

  /** Partition-wise feature extraction over blobs. Dispatches on the
    * blob's declared format:
    *  - `ppm` → REAL binary-PPM decode ([[MediaCodecs.decodePpm]]):
    *    header parse + per-channel pixel statistics over actual RGB;
    *  - `wav` → REAL PCM-WAV decode ([[MediaCodecs.decodeWavPcm16]]):
    *    RIFF chunk walk + amplitude/zero-crossing stats over samples;
    *  - anything else, or a payload that fails its format's parse →
    *    the byte-stat STUB (compressed codecs don't exist in this
    *    container) — corrupt blobs degrade to byte features instead of
    *    killing the scan.
    * Codec-requiring formats would initialize their library once per
    * partition here (the mapPartitions shape exists for that).
    */
  def decodeFeatures(blobs: Dataset[Blob]): Dataset[Features] = {
    import blobs.sparkSession.implicits._
    blobs.mapPartitions { it =>
      // per-partition init would go here (codec / model load)
      it.map { b =>
        val decoded: Option[Array[Double]] = b.format match {
          case "ppm" => MediaCodecs.decodePpm(b.payload).map(MediaCodecs.ppmFeatures)
          case "wav" => MediaCodecs.decodeWavPcm16(b.payload).map(MediaCodecs.wavFeatures)
          case _ => None
        }
        val feats = decoded.getOrElse(byteStatFeatures(b.payload))
        Features(b.doc_id, b.payload.length, feats)
      }
    }
  }

  /** Fallback kernel: deterministic byte statistics as an 8-dim
    * "feature" — the stand-in for formats whose decoder needs a codec
    * library, and the degraded path for corrupt payloads.
    */
  private def byteStatFeatures(bytes: Array[Byte]): Array[Double] = {
    val n = bytes.length
    val feats = new Array[Double](8)
    var i = 0
    while (i < n) {
      feats(i % 8) += (bytes(i) & 0xff) / 255.0
      i += 1
    }
    feats.map(_ / math.max(n / 8, 1))
  }

  /** "Resize": deterministic byte subsampling standing in for a pixel
    * resample — keeps every `factor`-th byte. The Spark shape (typed
    * map, schema preserved) is the real thing.
    */
  def resize(blobs: Dataset[Blob], factor: Int): Dataset[Blob] = {
    import blobs.sparkSession.implicits._
    blobs.map { b =>
      val out = b.payload.indices.collect { case i if i % factor == 0 => b.payload(i) }
      b.copy(payload = out.toArray,
        width = math.max(b.width / factor, 1), height = math.max(b.height / factor, 1))
    }
  }

  /** "Frame sampling": split a payload into fixed-size windows (1→N
    * rows, the video-frame extraction shape).
    */
  def sampleFrames(blobs: Dataset[Blob], frameBytes: Int, everyNth: Int): Dataset[Frame] = {
    import blobs.sparkSession.implicits._
    blobs.flatMap { b =>
      b.payload.grouped(frameBytes).zipWithIndex
        .collect { case (chunk, i) if i % everyNth == 0 => Frame(b.doc_id, i, chunk) }
    }
  }

  /** Spread a size-skewed blob table evenly across tasks. Range
    * partitioning BY size is the wrong tool here (it equalizes row
    * counts and concentrates all the large blobs into the top range —
    * maximal byte skew); a uniform hash of the id balances bytes in
    * expectation whenever each task holds many blobs, with residual
    * skew bounded by the single largest blob (which no row-level
    * partitioning can subdivide — oversized media needs chunking at
    * ingest, cf. [[sampleFrames]]).
    */
  def balanceBySize(df: DataFrame, partitions: Int): DataFrame =
    df.repartition(partitions, col("doc_id"))

  /** Oracle-checkable frame sampling: every `stride`-th fixed-size
    * window of each document's payload, with a digest per frame — the
    * video-frame-extraction shape (1→N generator) as a relational
    * query. Frames are cut on the character dimension so both engines
    * window identically; the binary-payload face of the same op is
    * [[sampleFrames]].
    */
  def frameSample(s: SparkSession, dir: String,
      frameChars: Int = 128, stride: Int = 2): DataFrame =
    Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          expr(s"greatest((length(text) + ${frameChars - 1}) div $frameChars, 1)").cast("int") - 1,
          lit(stride))).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        md5(expr(s"substring(text, frame_idx * $frameChars + 1, $frameChars)")).as("frame_md5"),
        length(expr(s"substring(text, frame_idx * $frameChars + 1, $frameChars)")).as("frame_chars"))

  def frameSampleSql(frameChars: Int = 128, stride: Int = 2): String =
    s"""WITH f AS (
          SELECT doc_id, text,
                 unnest(range(0, greatest((length(text) + ${frameChars - 1}) // $frameChars, 1), $stride)) AS frame_idx
          FROM documents)
        SELECT doc_id, frame_idx,
               md5(substring(text, (frame_idx * $frameChars + 1)::INT, $frameChars)) AS frame_md5,
               length(substring(text, (frame_idx * $frameChars + 1)::INT, $frameChars)) AS frame_chars
        FROM f"""

  // ---- perceptual-hash image near-dedup (q141) ----

  /** Synthetic grayscale P6 corpus for the image-near-dedup operator:
    * real PPM FILES (header + raster), generated deterministically per
    * doc so the fixture contains near-duplicate structure by
    * construction — docs share a base pattern per group `g = doc_id
    * div 4`, and variant `r = doc_id mod 4` inverts ~r% of pixels
    * (variant 0 is the clean base). The pixel formula is deliberately
    * SQL-expressible: the q141 oracle re-derives the pixel grid, the
    * block sums, the dHash, AND the banded join relationally — no
    * trained literals — while the ENGINE path round-trips actual P6
    * bytes through the real [[MediaCodecs.decodePpm]] kernel. The `g`
    * term must MODULATE the gradients (coefficients depend on g), not
    * just offset the values: an additive-only g cancels in dHash's
    * adjacent-block differences and every group collides (measured:
    * 1605 spurious cross-group pairs at sf0.01 with an additive g,
    * zero with this formula).
    */
  private[operators] val phashW = 36
  private[operators] val phashH = 32

  private[operators] def syntheticPpmBytes(docId: Long): Array[Byte] = {
    val g = docId / 4; val r = docId % 4
    val header = s"P6\n$phashW $phashH\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + phashW * phashH * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = header.length
    var y = 0
    while (y < phashH) {
      var x = 0
      while (x < phashW) {
        val base = (x * (13 + g % 19) + y * (31 + g % 23) + x * y * (1 + g % 5) + g) % 256
        val v = (if ((x + phashW * y + g) % 97 < r) 255 - base else base).toInt
        out(i) = v.toByte; out(i + 1) = v.toByte; out(i + 2) = v.toByte
        i += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** Per-doc perceptual hash: generate the P6 bytes, decode them with
    * the REAL kernel (a failed decode here is a bug, not data — the
    * generator emits well-formed P6), dHash the pixels. mapPartitions
    * batch shape like [[decodeFeatures]]; 8 output bytes per image —
    * the 100 TB point of perceptual hashing is that the dedup join
    * never touches the images again.
    */
  def perceptualHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val img = MediaCodecs.decodePpm(syntheticPpmBytes(id)).getOrElse(
            throw new IllegalStateException(s"generated PPM failed decode: doc $id"))
          (id, MediaCodecs.dHash64(img))
        }
      }.toDF("doc_id", "phash")
  }

  /** Image near-duplicate pairs via Hamming-distance LSH banding — the
    * q21 MinHash band machinery applied to the 64-bit dHash: 4 bands
    * of 16 bits; two images are COMPARED only if some whole band
    * matches (hash-partitioned equi-join on (band, band_val) — never
    * all-pairs), then the exact popcount filter keeps pairs within
    * `maxHamming` bits. Recall contract: a pair differing in k bits is
    * guaranteed found when k < 4 (pigeonhole gives a clean band) and
    * found with the usual LSH probability above — the oracle mirrors
    * the banding exactly, so engine ≡ oracle regardless of where
    * recall lands. Scale shape: the banded table is 4 rows × 16 bytes
    * per image; bucket sizes stay near-uniform because dHash bands of
    * non-identical images are high-entropy (measured max bucket 12 at
    * sf0.1); the distinct() dedups pairs sharing several bands.
    */
  def imageNearDupPairs(s: SparkSession, dir: String, maxHamming: Int = 6): DataFrame =
    hammingBandPairs(
      perceptualHashes(s, dir).select(col("doc_id"), col("phash").as("fp")), maxHamming)

  /** The shared Hamming-LSH banding core (q141 images, q143 audio):
    * any (doc_id, fp: 64-bit) fingerprint table → candidate pairs via
    * the 4×16-bit band equi-join, exact popcount filter, distinct.
    * One implementation so the two modalities' dedup joins cannot
    * drift; the SQL mirror is [[bandedPairsSql]].
    */
  private def hammingBandPairs(hashes: DataFrame, maxHamming: Int): DataFrame =
    pairsFromBanded(bandedOf(hashes), maxHamming)

  /** (doc_id, fp) → the 4×16-bit band rows — THE banded layout, shared
    * by the pair joins and the stored retrieval index (q195). */
  private def bandedOf(hashes: DataFrame): DataFrame = {
    val bandCols = array((0 until 4).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("fp"), 16 * b).bitwiseAND(lit(65535L)).as("band_val"))): _*)
    hashes.select(col("doc_id"), col("fp"), explode(bandCols).as("bd"))
      .select(col("doc_id"), col("fp"),
        col("bd.band").as("band"), col("bd.band_val").as("band_val"))
  }

  private def pairsFromBanded(banded: DataFrame, maxHamming: Int): DataFrame = {
    val a = banded.select(col("band"), col("band_val"),
      col("doc_id").as("doc_a"), col("fp").as("ha"))
    val b = banded.select(col("band"), col("band_val"),
      col("doc_id").as("doc_b"), col("fp").as("hb"))
    a.join(b, Seq("band", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** The STORED banded phash index (the q83 stored-index discipline for
    * the image modality): 4 band rows × 16 bytes per image, built once
    * per corpus dir — dedup (q141) and retrieval (q195) both serve
    * from it, and at 100 TB it is the only thing the similarity path
    * ever reads (the images stay cold).
    */
  private def phashIndex(s: SparkSession, dir: String): DataFrame =
    graft.ArtifactCache.cached("Multimodal.phashIndex", dir, s)(
      bandedOf(perceptualHashes(s, dir).select(col("doc_id"), col("phash").as("fp"))))

  /** q195: perceptual-hash radius retrieval from the stored index —
    * "find catalog images within `maxHamming` bits of these query
    * images": bounded probe batch (the ANN-family query discipline),
    * band equi-join against the index with the probe side broadcast,
    * exact popcount radius filter (the q144 threshold-not-ranking
    * form), distinct across bands. Candidate IO is the probes' band
    * buckets only — never a scan of the hash table, never the images.
    */
  def phashSearch(s: SparkSession, dir: String, maxHamming: Int = 10,
      queryMod: Int = 100, maxBatch: Int = 1024): DataFrame = {
    val index = phashIndex(s, dir)
    val probes = bandedOf(perceptualHashes(s, dir)
      .filter(col("doc_id") % queryMod === 0)
      .orderBy(col("doc_id").asc).limit(maxBatch)
      .select(col("doc_id"), col("phash").as("fp")))
      .select(col("band"), col("band_val"),
        col("doc_id").as("query_id"), col("fp").as("qfp"))
    index.join(broadcast(probes), Seq("band", "band_val"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id").as("match_id"),
        bit_count(col("fp").bitwiseXOR(col("qfp"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SQL mirror of [[hammingBandPairs]]: wraps a CTE chain ending in
    * `p(doc_id, fp)` with the same banding + popcount filter. */
  private def bandedPairsSql(pCtes: String, maxHamming: Int): String =
    s"""WITH $pCtes,
        banded AS (
          SELECT doc_id, fp, b.b AS band, (fp >> (16*b.b)::INT) & 65535 AS band_val
          FROM p, range(0, 4) b(b)
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               bit_count(xor(a.fp, b.fp))::INT AS hamming
        FROM banded a JOIN banded b ON a.band = b.band AND a.band_val = b.band_val
        WHERE a.doc_id < b.doc_id AND bit_count(xor(a.fp, b.fp)) <= $maxHamming"""

  /** The fully-relational oracle: DuckDB rebuilds the pixel grid from
    * the generator formula, sums the 4×4 blocks (integer block SUMS
    * compare identically to the engine's luma sums: grayscale r=g=b=v
    * makes luma 8v, and 8·s>8·s' ⟺ s>s'), assembles the dHash with
    * bit_or (bit 63 as the min-long literal — DuckDB's `<<` range-
    * errors at 63), and replays the same banding + popcount filter.
    */
  /** The px→p pixel→fingerprint CTE chain (the fully-relational dHash
    * re-derivation) — shared by the dedup oracle (q141) and the
    * retrieval oracle (q195). */
  private def phashPCtes: String =
    s"""px AS (
          SELECT d.doc_id, (d.doc_id // 4) AS g, (d.doc_id % 4) AS r, x.x AS x, y.y AS y
          FROM documents d, range(0, $phashW) x(x), range(0, $phashH) y(y)
        ),
        v AS (
          SELECT doc_id, x // 4 AS bx, y // 4 AS by,
                 CASE WHEN (x + $phashW*y + g) % 97 < r
                      THEN 255 - ((x * (13 + g % 19) + y * (31 + g % 23) + x * y * (1 + g % 5) + g) % 256)
                      ELSE (x * (13 + g % 19) + y * (31 + g % 23) + x * y * (1 + g % 5) + g) % 256 END AS val
          FROM px
        ),
        s AS (SELECT doc_id, bx, by, sum(val)::BIGINT AS sv FROM v GROUP BY 1, 2, 3),
        bits AS (
          SELECT a.doc_id,
                 CASE WHEN a.sv > b.sv THEN
                   CASE WHEN a.by*8 + a.bx = 63 THEN (-9223372036854775807 - 1)::BIGINT
                        ELSE 1::BIGINT << ((a.by*8 + a.bx)::INT) END
                 ELSE 0::BIGINT END AS bit
          FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.by = b.by AND b.bx = a.bx + 1
          WHERE a.bx < 8
        ),
        p AS (SELECT doc_id, bit_or(bit)::BIGINT AS fp FROM bits GROUP BY 1)"""

  def imageNearDupSql(maxHamming: Int = 6): String =
    bandedPairsSql(phashPCtes, maxHamming)

  def phashSearchSql(maxHamming: Int = 10, queryMod: Int = 100,
      maxBatch: Int = 1024): String =
    s"""WITH $phashPCtes,
        banded AS (
          SELECT doc_id, fp, b.b AS band, (fp >> (16*b.b)::INT) & 65535 AS band_val
          FROM p, range(0, 4) b(b)
        ),
        q AS (SELECT doc_id AS query_id, fp AS qfp FROM p
              WHERE doc_id % $queryMod = 0 ORDER BY doc_id LIMIT $maxBatch),
        qb AS (
          SELECT query_id, qfp, b.b AS band, (qfp >> (16*b.b)::INT) & 65535 AS band_val
          FROM q, range(0, 4) b(b)
        )
        SELECT DISTINCT qb.query_id, banded.doc_id AS match_id,
               bit_count(xor(banded.fp, qb.qfp))::INT AS hamming
        FROM banded JOIN qb ON banded.band = qb.band AND banded.band_val = qb.band_val
        WHERE banded.doc_id <> qb.query_id
          AND bit_count(xor(banded.fp, qb.qfp)) <= $maxHamming"""

  // ---- cross-modal duplication audit (q200) ----

  /** Where the modalities DISAGREE about duplication — the curation
    * signal neither single-modality pass can produce: `image_only`
    * pairs share near-identical images under different text (stolen
    * image / re-caption), `text_only` pairs share near-identical text
    * under different images (template spam / re-skin), `both` is
    * ordinary rehosting. Full-outer of q141's phash pairs against
    * q23's exact-Jaccard text pairs on the (a, b) key (both sides
    * emit a < b, so the keys align); each side keeps its evidence
    * column (hamming / jaccard) nullable. Scale: a join of two
    * already-bounded PAIR tables — the corpus itself is not touched
    * again.
    */
  def crossModalDupAudit(s: SparkSession, dir: String): DataFrame = {
    val ip = imageNearDupPairs(s, dir)
    val tp = Dedup.exactNearDuplicates(s, dir)
      .select(col("a_id"), col("b_id"), col("jaccard"))
    ip.join(tp, col("doc_a") === col("a_id") && col("doc_b") === col("b_id"),
        "full_outer")
      .select(
        coalesce(col("doc_a"), col("a_id")).as("doc_a"),
        coalesce(col("doc_b"), col("b_id")).as("doc_b"),
        col("hamming"), col("jaccard"),
        when(col("doc_a").isNotNull && col("a_id").isNotNull, lit("both"))
          .when(col("doc_a").isNotNull, lit("image_only"))
          .otherwise(lit("text_only")).as("dup_class"))
  }

  /** Composed oracle: both published pair oracles as derived tables
    * (the q114 WITH-inside-derived-table move), full-outer joined. */
  def crossModalDupAuditSql(): String =
    s"""WITH ip AS (SELECT * FROM (${imageNearDupSql()}) t),
        tp AS (SELECT * FROM (${Dedup.nearDuplicatesSql()}) t)
        SELECT coalesce(ip.doc_a, tp.a_id) AS doc_a,
               coalesce(ip.doc_b, tp.b_id) AS doc_b,
               ip.hamming, tp.jaccard,
               CASE WHEN ip.doc_a IS NOT NULL AND tp.a_id IS NOT NULL THEN 'both'
                    WHEN ip.doc_a IS NOT NULL THEN 'image_only'
                    ELSE 'text_only' END AS dup_class
        FROM ip FULL JOIN tp ON ip.doc_a = tp.a_id AND ip.doc_b = tp.b_id"""

  // ---- audio-fingerprint near-dedup (q143) ----

  /** Synthetic PCM-WAV corpus, q141's design applied to audio: real
    * RIFF/fmt/data files (mono, 8 kHz, 16-bit, 1625 samples = 65
    * frames × 25) generated deterministically per doc. Sample =
    * envelope × carrier: the CARRIER `((t·37 + t² mod 101) mod 128) −
    * 64` is shared (scaling a shared waveform preserves every energy
    * comparison — that is WHY a per-frame envelope is the
    * discriminating part), and the ENVELOPE is a cubic in the frame
    * index with g-MODULATED coefficients mod 251 — the q141 lesson
    * squared: linear/affine g-mixing (tried: +g offsets, LCG walks)
    * leaves adjacent-frame energy ORDERINGS correlated across groups
    * (measured 315k spurious cross-group pairs at sf0.1); the cubic
    * with 19·23·5 coefficient classes leaves 112. Variant r drops ~r%
    * of samples to zero (dropout damage) — the near-dup structure.
    */
  private[operators] def syntheticWavBytes(docId: Long): Array[Byte] = {
    val nSamples = 1625
    val g = docId / 4; val r = docId % 4
    val out = java.nio.ByteBuffer.allocate(44 + 2 * nSamples)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + 2 * nSamples)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(2 * nSamples)
    var t = 0
    while (t < nSamples) {
      val f = t / 25
      val s =
        if ((t + g) % 101 < r) 0L
        else {
          val env = (f * (13 + g % 19) + f.toLong * f * (1 + g % 23) +
            f.toLong * f * f * (1 + g % 5) + g * 131) % 251 + 1
          val w = ((t * 37 + (t * t) % 101) % 128) - 64
          env * w
        }
      out.putShort(s.toShort) // |env·w| ≤ 251·64 = 16064 < 2^15
      t += 1
    }
    out.array()
  }

  /** Per-doc audio fingerprint through the REAL WAV kernel: generate
    * the RIFF bytes, decode with [[MediaCodecs.decodeWavPcm16]],
    * fingerprint the samples ([[MediaCodecs.audioFingerprint64]]).
    */
  def audioFingerprints(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val a = MediaCodecs.decodeWavPcm16(syntheticWavBytes(id)).getOrElse(
            throw new IllegalStateException(s"generated WAV failed decode: doc $id"))
          (id, MediaCodecs.audioFingerprint64(a))
        }
      }.toDF("doc_id", "fp")
  }

  /** Audio near-duplicate pairs — [[hammingBandPairs]] over the audio
    * fingerprints; same banding, same scale shape as q141. */
  def audioNearDupPairs(s: SparkSession, dir: String, maxHamming: Int = 6): DataFrame =
    hammingBandPairs(audioFingerprints(s, dir), maxHamming)

  /** Fully-relational oracle: samples from the generator formula,
    * exact Σ s² frame energies, the 64 adjacent comparisons assembled
    * with bit_or, then the shared banding fragment. */
  def audioNearDupSql(maxHamming: Int = 6): String =
    bandedPairsSql("""smp AS (
          SELECT d.doc_id, (d.doc_id // 4) AS g, (d.doc_id % 4) AS r, t.t AS t
          FROM documents d, range(0, 1625) t(t)
        ),
        v AS (
          SELECT doc_id, t // 25 AS f,
                 CASE WHEN (t + g) % 101 < r THEN 0
                      ELSE (((t // 25) * (13 + g % 19) + (t // 25) * (t // 25) * (1 + g % 23)
                             + (t // 25) * (t // 25) * (t // 25) * (1 + g % 5) + g * 131) % 251 + 1)
                           * (((t * 37 + (t * t) % 101) % 128) - 64) END AS s
          FROM smp
        ),
        e AS (SELECT doc_id, f, sum(s * s)::BIGINT AS ev FROM v GROUP BY 1, 2),
        bits AS (
          SELECT a.doc_id,
                 CASE WHEN a.ev > b.ev THEN
                   CASE WHEN a.f = 63 THEN (-9223372036854775807 - 1)::BIGINT
                        ELSE 1::BIGINT << (a.f::INT) END
                 ELSE 0::BIGINT END AS bit
          FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
          WHERE a.f < 64
        ),
        p AS (SELECT doc_id, bit_or(bit)::BIGINT AS fp FROM bits GROUP BY 1)""", maxHamming)


  // ---- video segment-level near-dedup (q153) ----

  /** Synthetic "video" corpus: 8 PPM frames per document, each frame's
    * base pattern seeded by `gg = group·8 + frame_idx` (q141's pixel
    * formula with gg as the group parameter — so a group's four
    * variants share all eight base frames), and variant `r = doc_id
    * mod 4` INVERTS whole frames where `(idx + g) mod 11 < r` (re-
    * encode damage on a contiguous-ish subset). Two variants share a
    * frame exactly when BOTH left it clean or BOTH inverted it, which
    * the thresholds make `(idx+g) mod 11 ∉ [min(ra,rb), max(ra,rb))`
    * — deterministic non-trivial overlap counts.
    */
  private[operators] def syntheticFramePpm(gg: Long, invert: Boolean): Array[Byte] = {
    val header = s"P6\n$phashW $phashH\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + phashW * phashH * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    var i = header.length
    var y = 0
    while (y < phashH) {
      var x = 0
      while (x < phashW) {
        val base = (x * (13 + gg % 19) + y * (31 + gg % 23) + x * y * (1 + gg % 5) + gg) % 256
        val v = (if (invert) 255 - base else base).toInt
        out(i) = v.toByte; out(i + 1) = v.toByte; out(i + 2) = v.toByte
        i += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** Per-(doc, frame) perceptual hash through the real decode kernel —
    * the frame-sampling (1→N) shape of [[perceptualHashes]]. */
  def videoFrameHashes(s: SparkSession, dir: String, frames: Int = 8): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.flatMap { id =>
          val g = id / 4; val r = id % 4
          (0 until frames).iterator.map { idx =>
            val invert = (idx + g) % 11 < r
            val img = MediaCodecs.decodePpm(syntheticFramePpm(g * frames + idx, invert))
              .getOrElse(throw new IllegalStateException(s"frame decode: doc $id idx $idx"))
            (id, idx, MediaCodecs.dHash64(img))
          }
        }
      }.toDF("doc_id", "frame_idx", "phash")
  }

  /** Video segment-level duplicate pairs: documents sharing ≥
    * `minShared` time-aligned frames with IDENTICAL perceptual hash —
    * the copied-segment detector (re-uploads, edits of the same
    * footage). The join keys on (frame_idx, phash): exact 64-bit frame
    * fingerprints are selective enough that banding is unnecessary at
    * the frame level (a hash bucket holds a group's aligned variants,
    * not the corpus), and time alignment keeps the semantics
    * "same segment", not "similar imagery anywhere". One equi-join +
    * one pair-keyed count at any scale.
    */
  def videoSegmentDupPairs(s: SparkSession, dir: String,
      frames: Int = 8, minShared: Int = 2): DataFrame = {
    val fh = videoFrameHashes(s, dir, frames)
    val a = fh.select(col("frame_idx"), col("phash"), col("doc_id").as("doc_a"))
    val b = fh.select(col("frame_idx"), col("phash"), col("doc_id").as("doc_b"))
    a.join(b, Seq("frame_idx", "phash"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Fully-relational oracle: q141's phash CTE chain with the frame
    * index threaded through (gg = g·frames + idx seeds the pattern,
    * whole-frame inversion under the variant rule), then the aligned
    * exact-match pair count. */
  def videoSegmentDupSql(frames: Int = 8, minShared: Int = 2): String =
    s"""WITH px AS (
          SELECT d.doc_id, (d.doc_id // 4) AS g, (d.doc_id % 4) AS r,
                 fi.fi AS frame_idx, x.x AS x, y.y AS y
          FROM documents d, range(0, $frames) fi(fi),
               range(0, $phashW) x(x), range(0, $phashH) y(y)
        ),
        v AS (
          SELECT doc_id, frame_idx, x // 4 AS bx, y // 4 AS by,
                 CASE WHEN (frame_idx + g) % 11 < r
                      THEN 255 - ((x * (13 + (g*$frames+frame_idx) % 19) + y * (31 + (g*$frames+frame_idx) % 23)
                                   + x * y * (1 + (g*$frames+frame_idx) % 5) + (g*$frames+frame_idx)) % 256)
                      ELSE (x * (13 + (g*$frames+frame_idx) % 19) + y * (31 + (g*$frames+frame_idx) % 23)
                            + x * y * (1 + (g*$frames+frame_idx) % 5) + (g*$frames+frame_idx)) % 256 END AS val
          FROM px
        ),
        s AS (SELECT doc_id, frame_idx, bx, by, sum(val)::BIGINT AS sv
              FROM v GROUP BY 1, 2, 3, 4),
        bits AS (
          SELECT a.doc_id, a.frame_idx,
                 CASE WHEN a.sv > b.sv THEN
                   CASE WHEN a.by*8 + a.bx = 63 THEN (-9223372036854775807 - 1)::BIGINT
                        ELSE 1::BIGINT << ((a.by*8 + a.bx)::INT) END
                 ELSE 0::BIGINT END AS bit
          FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.frame_idx = b.frame_idx
                           AND a.by = b.by AND b.bx = a.bx + 1
          WHERE a.bx < 8
        ),
        p AS (SELECT doc_id, frame_idx, bit_or(bit)::BIGINT AS phash
              FROM bits GROUP BY 1, 2)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS n_shared
        FROM p a JOIN p b ON a.frame_idx = b.frame_idx AND a.phash = b.phash
                          AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= $minShared"""

  // ---- aspect-ratio bucketed batch packing (q171) ----

  /** Variable-geometry synthetic P6 corpus for the packing operator:
    * per-doc dimensions `w = 16 + (7·id mod 33)`, `h = 16 + (13·id mod
    * 29)` (coprime strides → 33×29 distinct geometries cycling through
    * the corpus), flat fill `id mod 256`. The ENGINE recovers
    * geometry and luma mass by decoding the actual bytes with the real
    * kernel; the oracle re-derives both from the formula (flat
    * grayscale: Σ luma = 8·fill·w·h exactly).
    */
  private[operators] def syntheticSizedPpm(docId: Long): Array[Byte] = {
    val w = 16 + ((docId * 7) % 33).toInt
    val h = 16 + ((docId * 13) % 29).toInt
    val fill = (docId % 256).toByte
    val header = s"P6\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + w * h * 3)
    System.arraycopy(header, 0, out, 0, header.length)
    java.util.Arrays.fill(out, header.length, out.length, fill)
    out
  }

  /** Aspect-ratio bucketed batch packing — the vision-training batch
    * assembly step: variable-geometry images can't share a tensor
    * batch, so images are BUCKETED by quantized aspect ratio
    * (`4w div h` — quarter-steps of w/h) and packed into fixed-size
    * batches inside each bucket (deterministic doc_id order). Output
    * is the BATCH MANIFEST: per (bucket, batch) the member count,
    * pixel mass, and the exact aspect micro-range the batch spans —
    * what the loader prefetches against.
    *
    * The geometry comes from the REAL decode (header parse + raster
    * validation + luma sum over actual bytes), never from trusted
    * metadata — the 100 TB lesson being that stored width/height lie.
    * The per-bucket row_number window is the packing order; partitions
    * are per-bucket (a few dozen buckets): a production packer
    * range-shards each bucket and packs shards independently — batch
    * membership is the contract, global batch NUMBERING is not, which
    * is why the manifest aggregates per batch rather than per image.
    * All columns are exact integers.
    */
  def aspectBucketPacking(s: SparkSession, dir: String,
      batchSize: Int = 8): DataFrame = {
    import s.implicits._
    val decoded = Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val img = MediaCodecs.decodePpm(syntheticSizedPpm(id)).getOrElse(
            throw new IllegalStateException(s"generated PPM failed decode: doc $id"))
          var luma = 0L
          var o = 0
          while (o < img.rgb.length) {
            luma += 2 * (img.rgb(o) & 0xff) + 5 * (img.rgb(o + 1) & 0xff) +
              (img.rgb(o + 2) & 0xff)
            o += 3
          }
          (id, img.width.toLong, img.height.toLong, luma)
        }
      }.toDF("doc_id", "w", "h", "luma")
    decoded
      .withColumn("bucket", expr("(w * 4) div h"))
      .withColumn("batch_id", expr(s"(row_number() OVER (PARTITION BY bucket ORDER BY doc_id ASC) - 1) div $batchSize"))
      .groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("n_images"),
        sum(col("w") * col("h")).as("sum_pixels"),
        sum(col("luma")).as("sum_luma"),
        min(expr("(w * 1000000) div h")).as("ar_min_micro"),
        max(expr("(w * 1000000) div h")).as("ar_max_micro"))
  }

  def aspectBucketPackingSql(batchSize: Int = 8): String =
    s"""WITH g AS (
          SELECT doc_id, 16 + (doc_id * 7) % 33 AS w, 16 + (doc_id * 13) % 29 AS h,
                 8 * (doc_id % 256) * (16 + (doc_id * 7) % 33) * (16 + (doc_id * 13) % 29) AS luma
          FROM documents),
        b AS (SELECT doc_id, w, h, luma, (w * 4) // h AS bucket FROM g),
        r AS (SELECT *, (row_number() OVER (PARTITION BY bucket ORDER BY doc_id ASC) - 1) // $batchSize AS batch_id
              FROM b)
        SELECT bucket, batch_id, count(*)::BIGINT AS n_images,
               sum(w * h)::BIGINT AS sum_pixels,
               sum(luma)::BIGINT AS sum_luma,
               min((w * 1000000) // h)::BIGINT AS ar_min_micro,
               max((w * 1000000) // h)::BIGINT AS ar_max_micro
        FROM r GROUP BY 1, 2"""

  // ---- audio silence-ratio gate (q172) ----

  /** Audio quality gate over REAL WAV decode — the audio-corpus
    * counterpart of q48's text heuristics: per clip, the dropout ratio
    * (zero samples — transmission/decode damage) and the count of
    * LOW-ENERGY frames (Σs² below a threshold over 25-sample frames —
    * silence/near-silence a speech pipeline drops before wasting
    * transcription compute on it). Gate: keep clips with ≤ 10% zero
    * samples AND ≤ 8 silent frames. Same fixture and decode kernel as
    * q143 (one generator, two operators); everything but `zero_frac`
    * is exact integer arithmetic, and the verdict compares integers.
    */
  def audioSilenceGate(s: SparkSession, dir: String,
      frameLen: Int = 25, energyMin: Long = 2000000L,
      maxZeroPct: Int = 10, maxSilentFrames: Long = 8): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents").select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val a = MediaCodecs.decodeWavPcm16(syntheticWavBytes(id)).getOrElse(
            throw new IllegalStateException(s"generated WAV failed decode: doc $id"))
          val n = a.samples.length
          var zeros = 0L
          var silent = 0L
          var f = 0
          while (f * frameLen < n) {
            var e = 0L
            var j = f * frameLen
            val end = math.min(j + frameLen, n)
            while (j < end) {
              val v = a.samples(j).toLong
              if (v == 0L) zeros += 1
              e += v * v
              j += 1
            }
            if (e < energyMin) silent += 1
            f += 1
          }
          (id, n.toLong, zeros, silent)
        }
      }.toDF("doc_id", "n_samples", "n_zero", "n_silent_frames")
      .select(col("doc_id"), col("n_samples"), col("n_zero"), col("n_silent_frames"),
        (col("n_zero").cast("double") / col("n_samples").cast("double")).as("zero_frac"),
        // integer-space verdict: zeros·100 ≤ n·maxZeroPct, never a float
        (col("n_zero") * 100 <= col("n_samples") * maxZeroPct &&
          col("n_silent_frames") <= maxSilentFrames).as("kept"))
  }

  def audioSilenceGateSql(frameLen: Int = 25, energyMin: Long = 2000000L,
      maxZeroPct: Int = 10, maxSilentFrames: Long = 8): String =
    s"""WITH smp AS (
          SELECT d.doc_id, (d.doc_id // 4) AS g, (d.doc_id % 4) AS r, t.t AS t
          FROM documents d, range(0, 1625) t(t)
        ),
        v AS (
          SELECT doc_id, t // $frameLen AS f,
                 CASE WHEN (t + g) % 101 < r THEN 0
                      ELSE (((t // 25) * (13 + g % 19) + (t // 25) * (t // 25) * (1 + g % 23)
                             + (t // 25) * (t // 25) * (t // 25) * (1 + g % 5) + g * 131) % 251 + 1)
                           * (((t * 37 + (t * t) % 101) % 128) - 64) END AS s
          FROM smp
        ),
        fr AS (SELECT doc_id, f, sum(s * s)::BIGINT AS e,
                      sum(CASE WHEN s = 0 THEN 1 ELSE 0 END)::BIGINT AS z,
                      count(*)::BIGINT AS n
               FROM v GROUP BY 1, 2),
        agg AS (SELECT doc_id, sum(n)::BIGINT AS n_samples, sum(z)::BIGINT AS n_zero,
                       sum(CASE WHEN e < $energyMin THEN 1 ELSE 0 END)::BIGINT AS n_silent_frames
                FROM fr GROUP BY 1)
        SELECT doc_id, n_samples, n_zero, n_silent_frames,
               n_zero::DOUBLE / n_samples::DOUBLE AS zero_frac,
               (n_zero * 100 <= n_samples * $maxZeroPct
                 AND n_silent_frames <= $maxSilentFrames) AS kept
        FROM agg"""

  // ---- video scene-change segmentation (q173) ----

  /** Scene-change detection over the q153 frame fingerprints: a CUT is
    * a consecutive-frame pair whose perceptual hashes differ by more
    * than `maxHamming` bits (adjacent frames of one scene share their
    * gradient structure; a cut replaces it). Output per video: frame
    * count, cut count, scene count (cuts + 1), and the largest
    * inter-frame jump — the segmentation a sampling pipeline uses to
    * pick one representative frame per scene instead of every-Nth
    * (q44). The lead window partitions per (8-frame) video — bounded
    * partitions at any corpus size; hashes ride the same real
    * decode-kernel path as q153.
    */
  def videoSceneChanges(s: SparkSession, dir: String,
      frames: Int = 8, maxHamming: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx").asc)
    videoFrameHashes(s, dir, frames)
      .withColumn("nxt", lead(col("phash"), 1).over(w))
      .withColumn("step",
        when(col("nxt").isNotNull,
          bit_count(col("phash").bitwiseXOR(col("nxt"))).cast("long")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("step") > maxHamming, 1L).otherwise(0L)).as("n_cuts"),
        (sum(when(col("step") > maxHamming, 1L).otherwise(0L)) + 1).as("n_scenes"),
        max(col("step")).as("max_step"))
  }

  def videoSceneChangesSql(frames: Int = 8, maxHamming: Int = 16): String =
    s"""WITH px AS (
          SELECT d.doc_id, (d.doc_id // 4) AS g, (d.doc_id % 4) AS r,
                 fi.fi AS frame_idx, x.x AS x, y.y AS y
          FROM documents d, range(0, $frames) fi(fi),
               range(0, $phashW) x(x), range(0, $phashH) y(y)
        ),
        v AS (
          SELECT doc_id, frame_idx, x // 4 AS bx, y // 4 AS by,
                 CASE WHEN (frame_idx + g) % 11 < r
                      THEN 255 - ((x * (13 + (g*$frames+frame_idx) % 19) + y * (31 + (g*$frames+frame_idx) % 23)
                                   + x * y * (1 + (g*$frames+frame_idx) % 5) + (g*$frames+frame_idx)) % 256)
                      ELSE (x * (13 + (g*$frames+frame_idx) % 19) + y * (31 + (g*$frames+frame_idx) % 23)
                            + x * y * (1 + (g*$frames+frame_idx) % 5) + (g*$frames+frame_idx)) % 256 END AS val
          FROM px
        ),
        s AS (SELECT doc_id, frame_idx, bx, by, sum(val)::BIGINT AS sv
              FROM v GROUP BY 1, 2, 3, 4),
        bits AS (
          SELECT a.doc_id, a.frame_idx,
                 CASE WHEN a.sv > b.sv THEN
                   CASE WHEN a.by*8 + a.bx = 63 THEN (-9223372036854775807 - 1)::BIGINT
                        ELSE 1::BIGINT << ((a.by*8 + a.bx)::INT) END
                 ELSE 0::BIGINT END AS bit
          FROM s a JOIN s b ON a.doc_id = b.doc_id AND a.frame_idx = b.frame_idx
                           AND a.by = b.by AND b.bx = a.bx + 1
          WHERE a.bx < 8
        ),
        p AS (SELECT doc_id, frame_idx, bit_or(bit)::BIGINT AS phash
              FROM bits GROUP BY 1, 2),
        st AS (
          SELECT doc_id, phash,
                 lead(phash) OVER (PARTITION BY doc_id ORDER BY frame_idx ASC) AS nxt
          FROM p)
        SELECT doc_id, count(*)::BIGINT AS n_frames,
               sum(CASE WHEN bit_count(xor(phash, nxt)) > $maxHamming THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
               (sum(CASE WHEN bit_count(xor(phash, nxt)) > $maxHamming THEN 1 ELSE 0 END) + 1)::BIGINT AS n_scenes,
               max(CASE WHEN nxt IS NOT NULL THEN bit_count(xor(phash, nxt))::BIGINT END) AS max_step
        FROM st GROUP BY 1"""

  /** Oracle-checkable metadata/digest query over the media table. */
  def metaDigest(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(
      col("doc_id"),
      octet_length(col("payload")).as("n_bytes"),
      sha2(col("payload"), 256).as("sha256"),
      col("width"), col("height"), col("format"))

  val metaDigestSql: String =
    """SELECT doc_id,
          octet_length(encode(text)) AS n_bytes,
          sha256(text) AS sha256,
          (n_chars % 1024 + 1)::INT AS width,
          (n_chars % 768 + 1)::INT AS height,
          'raw' AS format
       FROM documents"""
}
