package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.MediaOps
import graft.util.Tables.load

/** Multimodal-column queries over documents-derived media payloads
  * (binary column + typed metadata; see graft.multimodal.MediaOps for
  * the stub boundary). Kind assignment is doc_id % 3: 0=image, 1=audio,
  * 2=video — mirrored literally in the oracle SQL.
  */
object LlmMultimodal {

  private def media(s: SparkSession, dir: String) =
    MediaOps.mediaFromDocuments(s, load(s, dir, "documents"))

  // ---------------------------------------------------------------------
  // qm01 — image decode (stub) metadata: byte length + derived dims.
  // The decode itself is the mapPartitions stage; the oracle reproduces
  // the deterministic dimension formula from the UTF-8 byte length.
  val qm01 = Q(
    "qm01_image_metadata",
    """WITH m AS (SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |           FROM documents WHERE doc_id % 3 = 0),
      |d AS (SELECT media_id, n_bytes,
      |        GREATEST(1, CAST(FLOOR(SQRT(CAST(n_bytes AS DOUBLE))) AS BIGINT)) AS width
      |      FROM m)
      |SELECT media_id, width, (n_bytes + width - 1) // width AS height,
      |  CAST(3 AS BIGINT) AS channels, n_bytes
      |FROM d
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    val imgs = MediaOps.decodeImages(media(s, dir).filter(col("kind") === "image"))
    imgs.select(
        col("media_id"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("channels").cast("long").as("channels"),
        col("n_bytes"))
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------------
  // qm02 — video frame sampling (64-byte frames, every 4th): per-media
  // sampled-frame count and byte coverage. The oracle recomputes both
  // from the byte length with the same stride arithmetic.
  val qm02 = Q(
    "qm02_frame_sampling",
    """WITH m AS (SELECT doc_id AS media_id, CAST(octet_length(encode(text)) AS BIGINT) AS n
      |           FROM documents WHERE doc_id % 3 = 2),
      |f AS (SELECT media_id, n, (n + 63) // 64 AS nf FROM m)
      |SELECT media_id,
      |  CAST(len(range(0, nf, 4)) AS BIGINT) AS n_sampled_frames,
      |  CAST(list_reduce(list_transform(range(0, nf, 4), fr -> least(64, n - fr * 64)),
      |       (a, b) -> a + b) AS BIGINT) AS sampled_bytes
      |FROM f
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    MediaOps.sampleFrames(media(s, dir).filter(col("kind") === "video"),
        frameBytes = 64, stride = 4)
      .groupBy("media_id")
      .agg(
        count(lit(1)).as("n_sampled_frames"),
        sum(length(col("frame_bytes")).cast("long")).as("sampled_bytes"))
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------------
  // qm03 — audio decode (stub): sample counts + RMS loudness. The oracle
  // re-derives the signed-8-bit PCM fake from the UTF-8 payload by
  // hex-expanding the BLOB (DuckDB has no byte indexing on BLOBs); the
  // squared-sample fold runs in byte order on both sides, so the double
  // RMS is bit-exact (0.0 + x == x for the non-negative squares, so the
  // init-less list_reduce equals Spark's 0-seeded loop).
  val qm03 = Q(
    "qm03_audio_rms",
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |             CAST(octet_length(encode(text)) AS BIGINT) AS n
      |           FROM documents WHERE doc_id % 3 = 1),
      |b AS (SELECT media_id, n,
      |        list_transform(range(1, n+1),
      |          i -> CAST(('0x' || substr(hx, CAST(2*i-1 AS INT), 2)) AS BIGINT)) AS bytes
      |      FROM m),
      |s AS (SELECT media_id, n,
      |        list_transform(bytes, x -> CASE WHEN x >= 128 THEN x - 256 ELSE x END) AS sb
      |      FROM b)
      |SELECT media_id, CAST(16000 AS BIGINT) AS sample_rate, n AS n_samples,
      |  CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
      |       ELSE sqrt(list_reduce(list_transform(sb,
      |              x -> (CAST(x AS DOUBLE)/CAST(128 AS DOUBLE)) * (CAST(x AS DOUBLE)/CAST(128 AS DOUBLE))),
      |              (a, c) -> a + c) / CAST(n AS DOUBLE))
      |  END AS rms
      |FROM s
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    MediaOps.decodeAudios(media(s, dir).filter(col("kind") === "audio"))
      .select(col("media_id"), col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples"), col("rms"))
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------------
  // qm04 — image feature extraction: the normalized 8-bin byte histogram
  // the stub decoder computes per image, flattened to (media_id, bin,
  // frac) rows so the oracle compares scalars. The oracle re-derives the
  // histogram by hex-expanding the payload; frac is count/n in double on
  // both sides (bit-exact).
  val qm04 = Q(
    "qm04_image_features",
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |             CAST(octet_length(encode(text)) AS BIGINT) AS n
      |           FROM documents WHERE doc_id % 3 = 0),
      |b AS (SELECT media_id, n,
      |        list_transform(range(1, n+1),
      |          i -> CAST(('0x' || substr(hx, CAST(2*i-1 AS INT), 2)) AS BIGINT)) AS bytes
      |      FROM m),
      |h AS (SELECT media_id, n, CAST(r.b AS INT) AS bin,
      |        len(list_filter(bytes, x -> x // 32 = r.b)) AS cnt
      |      FROM b, range(0, 8) r(b))
      |SELECT media_id, bin,
      |  CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
      |       ELSE CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) END AS frac
      |FROM h
      |ORDER BY media_id, bin""".stripMargin) { (s, dir) =>
    MediaOps.decodeImages(media(s, dir).filter(col("kind") === "image"))
      .select(col("media_id"), posexplode(col("features")).as(Seq("bin", "frac")))
      .orderBy("media_id", "bin")
  }

  // ---------------------------------------------------------------------
  // qm05 — multimodal × similarity composition: top-5 most-similar
  // images per probe (media_id < 30) by cosine over the extracted
  // histogram features — decode → feature-extract → broadcast-probe
  // scoring, the same brute-force anatomy as qs01 (probe side broadcast,
  // corpus scanned once, per-probe top-k). Zero-byte images are dropped
  // on both sides (their histogram is the zero vector → cosine NaN).
  val qm05 = Q(
    "qm05_image_similarity",
    s"""WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
       |             CAST(octet_length(encode(text)) AS BIGINT) AS n
       |           FROM documents WHERE doc_id % 3 = 0 AND octet_length(encode(text)) > 0),
       |b AS (SELECT media_id, n,
       |        list_transform(range(1, n+1),
       |          i -> CAST(('0x' || substr(hx, CAST(2*i-1 AS INT), 2)) AS BIGINT)) AS bytes
       |      FROM m),
       |f AS (SELECT media_id,
       |        list_transform(range(0, 8),
       |          b -> CAST(len(list_filter(bytes, x -> x // 32 = b)) AS DOUBLE) / CAST(n AS DOUBLE)) AS feat
       |      FROM b),
       |s AS (SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
       |        ${DuckSql.cosine("q.feat", "c.feat")} AS sim
       |      FROM f q, f c WHERE q.media_id < 30 AND c.media_id <> q.media_id)
       |SELECT query_id, neighbor_id, rank, sim FROM (
       |  SELECT query_id, neighbor_id, sim,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM s) ranked
       |WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    // the feature relation stays cached under imageFeatures' caller-
    // owns-the-cache contract; the harness (Bench/Verify) clears between
    // queries, while library callers use imageFeatures/imageSimilarityTop
    // directly and unpersist after their final action
    imageSimilarityTop(imageFeatures(media(s, dir)))
  }

  /** The decoded image-feature relation `(media_id, features)` behind
    * qm05, PERSISTED — and the CALLER OWNS THE CACHE: probes and corpus
    * both read it, and without the persist the decode (the expensive
    * stage on real codecs) runs twice. Call `.unpersist()` on the
    * returned frame after the final action over anything derived from it
    * (CacheContractSpec pins the release; Bench/Verify clearCache covers
    * the harness path).
    */
  def imageFeatures(mediaDs: org.apache.spark.sql.Dataset[MediaOps.MediaRow]): DataFrame =
    MediaOps.decodeImages(mediaDs.filter(col("kind") === "image"))
      .filter(col("n_bytes") > 0)
      .select(col("media_id"), col("features"))
      .persist()

  /** Top-5 most-similar images per probe over a feature relation from
    * [[imageFeatures]] (broadcast-probe brute force, qs01 anatomy).
    */
  def imageSimilarityTop(feats: DataFrame): DataFrame = {
    val probes = feats.filter(col("media_id") < 30)
      .select(col("media_id").as("query_id"), col("features").as("qf"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    feats.crossJoin(broadcast(probes))
      .filter(col("media_id") =!= col("query_id"))
      .select(col("query_id"), col("media_id").as("neighbor_id"),
        graft.functions.VectorFns.cosine(col("qf"), col("features")).as("sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select("query_id", "neighbor_id", "rank", "sim")
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------------
  // qm06 — cross-video frame dedup: which video pairs share sampled
  // frame CONTENT (the multimodal twin of qd01 — near-identical videos,
  // re-encodes, and clip/compilation overlap show up as shared frames
  // long before any embedding model runs). Composition of the qm02
  // sampling stage with the dedup family's hash-join anatomy: distinct
  // (video, frame-hash) pairs, self-join on the 64-bit frame hash,
  // per-pair shared-frame count. The oracle re-derives the same frames
  // by hex-slicing the payload and joins on the hex STRING, so the
  // hash-compare also polices hash collisions (same policy as qd11/qt14).
  // Scale: the frame relation is |videos| × frames/stride rows, the join
  // is a hash equi-join on uniformly distributed 8-byte keys, and only
  // frames appearing in ≥ 2 videos produce pairs — never all-pairs of
  // videos.
  val qm06 = Q(
    "qm06_frame_dedup",
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |             CAST(octet_length(encode(text)) AS BIGINT) AS n
      |           FROM documents WHERE doc_id % 3 = 2),
      |f AS (SELECT media_id, substr(hx, CAST(2*fr*64+1 AS INT), 128) AS fhex
      |      FROM m, UNNEST(range(0, (n+63)//64, 4)) AS u(fr)),
      |d AS (SELECT DISTINCT media_id, fhex FROM f)
      |SELECT a.media_id AS media_a, b.media_id AS media_b,
      |  CAST(COUNT(*) AS BIGINT) AS n_shared_frames
      |FROM d a JOIN d b ON a.fhex = b.fhex AND a.media_id < b.media_id
      |GROUP BY 1, 2
      |ORDER BY media_a, media_b""".stripMargin) { (s, dir) =>
    val frames = MediaOps.sampleFrames(media(s, dir).filter(col("kind") === "video"),
        frameBytes = 64, stride = 4)
      .select(col("media_id"), xxhash64(col("frame_bytes")).as("h"))
      .distinct()
    frames.as("a")
      .join(frames.as("b"),
        col("a.h") === col("b.h") && col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"))
      .agg(count(lit(1)).as("n_shared_frames"))
      .orderBy("media_a", "media_b")
  }

  // ---------------------------------------------------------------------
  // qm07 — REAL WAV decode: payloads are genuine RIFF/WAVE files
  // (MediaOps.Wav.build wraps the document bytes as 8-bit mono PCM) and
  // MediaOps.Wav.parse decodes them by actually walking the container —
  // magic check, chunk scan, sample rate READ FROM THE fmt CHUNK, data
  // length from the data chunk header. Nothing in this path trusts
  // metadata outside the bytes. The oracle re-derives every output from
  // the raw document bytes plus the public WAV construction rules
  // (8-bit WAV PCM is unsigned excess-128); the squared-sample fold
  // runs in byte order on both sides, so rms is bit-exact (same
  // init-less-list_reduce argument as qm03).
  val qm07 = Q(
    "qm07_wav_decode",
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |             CAST(octet_length(encode(text)) AS BIGINT) AS n
      |           FROM documents WHERE doc_id % 3 = 1),
      |b AS (SELECT media_id, n,
      |        list_transform(range(1, n+1),
      |          i -> CAST(('0x' || substr(hx, CAST(2*i-1 AS INT), 2)) AS BIGINT)) AS bytes
      |      FROM m)
      |SELECT media_id, CAST(16000 AS BIGINT) AS sample_rate, n AS n_samples,
      |  CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
      |       ELSE sqrt(list_reduce(list_transform(bytes,
      |              x -> ((CAST(x AS DOUBLE) - CAST(128 AS DOUBLE)) / CAST(128 AS DOUBLE))
      |                 * ((CAST(x AS DOUBLE) - CAST(128 AS DOUBLE)) / CAST(128 AS DOUBLE))),
      |              (a, c) -> a + c) / CAST(n AS DOUBLE))
      |  END AS rms
      |FROM b
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    val audio = media(s, dir).filter(col("kind") === "audio")
    MediaOps.decodeWavs(MediaOps.wrapAsWav(audio, sampleRate = 16000))
      .select(col("media_id"), col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples"), col("rms"))
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------------
  // qm08 — REAL BMP decode: payloads are genuine 24-bit Windows DIB
  // files (MediaOps.Bmp.build lays the document bytes out as a
  // square-ish pixel grid with bottom-up rows and 4-byte row padding,
  // per the spec) and MediaOps.Bmp.parse decodes them by reading the
  // actual container — magic, pixel-data offset, header fields, row
  // stride — then histograms the real pixel rows. The oracle re-derives
  // dims and histogram from the raw bytes plus the public construction
  // rules; grid padding shows up as extra bin-0 mass (pb − n zero
  // bytes), computed integrally on both sides. frac is one double
  // division per row — bit-exact cross-engine.
  val qm08 = Q(
    "qm08_bmp_decode",
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |             CAST(octet_length(encode(text)) AS BIGINT) AS n
      |           FROM documents WHERE doc_id % 3 = 0),
      |g AS (SELECT media_id, hx, n, GREATEST(1, (n + 2) // 3) AS npix FROM m),
      |d AS (SELECT media_id, hx, n, npix,
      |        GREATEST(1, CAST(FLOOR(SQRT(CAST(npix AS DOUBLE))) AS BIGINT)) AS width
      |      FROM g),
      |e AS (SELECT media_id, hx, n, width, (npix + width - 1) // width AS height FROM d),
      |b AS (SELECT media_id, width, height, width * height * 3 AS pb, n,
      |        list_transform(range(1, n+1),
      |          i -> CAST(('0x' || substr(hx, CAST(2*i-1 AS INT), 2)) AS BIGINT)) AS bytes
      |      FROM e),
      |h AS (SELECT media_id, width, height, pb, CAST(r.b AS BIGINT) AS bin,
      |        len(list_filter(bytes, x -> x // 32 = r.b))
      |          + CASE WHEN r.b = 0 THEN pb - n ELSE 0 END AS cnt
      |      FROM b, range(0, 8) r(b))
      |SELECT media_id, CAST(width AS BIGINT) AS width, CAST(height AS BIGINT) AS height,
      |  CAST(pb AS BIGINT) AS n_pixel_bytes, bin,
      |  CAST(cnt AS DOUBLE) / CAST(pb AS DOUBLE) AS frac
      |FROM h
      |ORDER BY media_id, bin""".stripMargin) { (s, dir) =>
    val imgs = media(s, dir).filter(col("kind") === "image")
    MediaOps.decodeBmps(MediaOps.wrapAsBmp(imgs))
      .select(col("media_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_bytes").as("n_pixel_bytes"),
        posexplode(col("features")).as(Seq("bin", "frac")))
      .select(col("media_id"), col("width"), col("height"), col("n_pixel_bytes"),
        col("bin").cast("long").as("bin"), col("frac"))
      .orderBy("media_id", "bin")
  }

  // ---------------------------------------------------------------------
  // qm09 — segmental audio stats from REAL WAV decode: zero crossings +
  // mean |first difference| of the PRE-EMPHASIZED signal (d_j = s_j −
  // s_{j−1}, the standard high-pass before ZCR/energy analysis — raw
  // excess-128 samples derived from text bytes never cross zero; the
  // differenced signal does, and its stats vary per document). Same
  // genuine RIFF/WAVE payloads and shared chunk walk as qm07. ZCR is
  // pure INTEGER arithmetic (strict sign-product < 0 — no float
  // compares to disagree at a boundary); mean |d| is an exact integer
  // sum with ONE correctly-rounded division — both bit-identical
  // cross-engine by construction. The oracle re-derives everything from
  // the raw document bytes + the public WAV construction rules, exactly
  // as qm07/qm08 do. Plan shape: one mapPartitions decode pass, zero
  // shuffles before the final sort — linear at any corpus size.
  val qm09 = Q(
    "qm09_wav_stats",
    """WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
      |             CAST(octet_length(encode(text)) AS BIGINT) AS n
      |           FROM documents WHERE doc_id % 3 = 1),
      |b AS (SELECT media_id, n,
      |        list_transform(range(1, n+1),
      |          i -> CAST(('0x' || substr(hx, CAST(2*i-1 AS INT), 2)) AS BIGINT) - 128) AS s
      |      FROM m),
      |d AS (SELECT media_id, n,
      |        list_transform(range(2, n+1), i -> s[CAST(i AS INT)] - s[CAST(i-1 AS INT)]) AS dd
      |      FROM b)
      |SELECT media_id, CAST(16000 AS BIGINT) AS sample_rate, n AS n_samples,
      |  CAST(len(list_filter(range(2, len(dd)+1),
      |    i -> dd[CAST(i-1 AS INT)] * dd[CAST(i AS INT)] < 0)) AS BIGINT) AS n_zero_crossings,
      |  CASE WHEN n <= 1 THEN CAST(0 AS DOUBLE)
      |       ELSE CAST(COALESCE(list_sum(list_transform(dd, x -> abs(x))), 0) AS DOUBLE)
      |            / CAST(n - 1 AS DOUBLE)
      |  END AS mean_abs_delta
      |FROM d
      |ORDER BY media_id""".stripMargin) { (s, dir) =>
    val audio = media(s, dir).filter(col("kind") === "audio")
    MediaOps.decodeWavStats(MediaOps.wrapAsWav(audio, sampleRate = 16000))
      .select(col("media_id"), col("sample_rate").cast("long").as("sample_rate"),
        col("n_samples"), col("n_zero_crossings"), col("mean_abs_delta"))
      .orderBy("media_id")
  }

  // ---------------------------------------------------------------------
  // qm10/qm11 — image PERCEPTUAL near-dup: the image twin of the text
  // near-dup family (SimHash qd05/qd10). qm10 lands the 8×8-DCT pHash
  // relation from REAL BMP decodes (MediaOps.bmpPhash: container walk →
  // integer gray → 8×8 average pooling → fixed-point integer DCT-II →
  // median-threshold bits); qm11 mines near-dup pairs from it with
  // qd10's banding anatomy widened by Hamming-ball probing: 4 bands of
  // 16 bits, probe side explodes each band key's Hamming-≤2 ball (137
  // keys/band), so a pair at distance ≤ 10 has — by pigeonhole — some
  // band with ≤ floor(10/4) = 2 flipped bits and is REACHED EXACTLY
  // (recall 1.0 at the τ=10 verify, PhashBandingSpec pins it vs brute
  // force). The oracle therefore replays qm11 as the brute-force
  // all-pairs join over its own re-derived hashes — a stronger check
  // than replaying the banding: it proves the probe construction loses
  // nothing. Every arithmetic step is 64-bit integer (fixed-point DCT
  // table shared from MediaOps.DctT — ONE source for Scala and SQL), so
  // the hashes agree bit-for-bit.
  //
  // 100 TB shape: hashing is one mapPartitions decode pass; the join
  // shuffles band keys only (548 probe rows/image — the Manku-style
  // block-combination layout cuts that constant if needed; same plan
  // family). Never all-pairs: PlanSpec's cartesian audit covers qm11.
  private val PhashMaxHamming = 10
  private val PhashProbeDeltas: Seq[Long] =
    Seq(0L) ++ (0 until 16).map(1L << _) ++
      (for { p <- 0 until 16; q <- p + 1 until 16 } yield (1L << p) | (1L << q))

  // DuckDB CTE prefix re-deriving the pHash relation `hsh(media_id, w,
  // h, phash)` from the raw document bytes + the public BMP grid rule
  // (build→parse is identity on pixel content, qm08's argument).
  private val dctLit: String = MediaOps.DctT
    .map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
  // Shared m/g0/g1/d/b CTE prefix: the public BMP grid rule + the
  // zero-padded pixel-byte LIST (1-based, like every DuckDB list) from
  // the raw document bytes. ONE source of truth for qm10/qm11/qm12 —
  // `minDim` is the pooling target below which an image drops.
  private def bmpGridCtes(minDim: Int): String =
    s"""m AS (SELECT doc_id AS media_id, hex(encode(text)) AS hx,
       |        CAST(octet_length(encode(text)) AS BIGINT) AS n
       |      FROM documents WHERE doc_id % 3 = 0),
       |g0 AS (SELECT media_id, hx, n, GREATEST(1, (n+2)//3) AS npix FROM m),
       |g1 AS (SELECT media_id, hx, n, npix,
       |         GREATEST(1, CAST(FLOOR(SQRT(CAST(npix AS DOUBLE))) AS BIGINT)) AS w FROM g0),
       |d AS (SELECT media_id, hx, n, w, (npix + w - 1)//w AS h FROM g1
       |      WHERE w >= $minDim AND (npix + w - 1)//w >= $minDim),
       |b AS (SELECT media_id, w, h,
       |        list_transform(range(1, w*h*3+1),
       |          i -> CASE WHEN i <= n THEN CAST(('0x' || substr(hx, CAST(2*i-1 AS INT), 2)) AS BIGINT)
       |                    ELSE 0 END) AS bytes
       |      FROM d)""".stripMargin

  private val phashCtes: String =
    s"""${bmpGridCtes(8)},
       |cv AS (SELECT media_id, w, h,
       |         list_transform(range(0, 64), q ->
       |           (list_sum(list_transform(
       |              list_filter(range(0, w*h),
       |                p -> ((p // w) * 8) // h = q // 8 AND ((p % w) * 8) // w = q % 8),
       |              p -> bytes[CAST(3*p+1 AS INT)] + bytes[CAST(3*p+2 AS INT)] + bytes[CAST(3*p+3 AS INT)])) * 256)
       |           // len(list_filter(range(0, w*h),
       |                p -> ((p // w) * 8) // h = q // 8 AND ((p % w) * 8) // w = q % 8))) AS cell
       |       FROM b),
       |acs AS (SELECT media_id, w, h,
       |         list_transform(range(1, 64), t ->
       |           list_sum(list_transform(range(0, 64), q ->
       |             cell[CAST(q+1 AS INT)]
       |               * ($dctLit)[CAST(t//8+1 AS INT)][CAST(q%8+1 AS INT)]
       |               * ($dctLit)[CAST(t%8+1 AS INT)][CAST(q//8+1 AS INT)]))) AS coefs
       |       FROM cv),
       |ph AS (SELECT media_id, w, h, coefs, list_sort(coefs)[32] AS med FROM acs),
       |hsh AS (SELECT media_id, w, h,
       |          CAST(list_sum(list_transform(range(0, 63),
       |            k -> CASE WHEN coefs[CAST(k+1 AS INT)] > med
       |                      THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS phash
       |        FROM ph)""".stripMargin

  /** qm11 core over any ImagePhash-shaped frame (media_id, phash):
    * Hamming-≤2 ball band probing + τ-verify. Factored out so
    * PhashBandingSpec can pin banded == brute-force on planted corpora.
    */
  def phashNearDupPairs(sig: DataFrame, tau: Int = PhashMaxHamming): DataFrame = {
    require(tau <= 11, s"4x16 bands with Hamming-2 probes guarantee recall only to 11, got $tau")
    val bandKeys = array((0 until 4).map(b =>
      shiftright(col("phash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)
    val index = sig.select(col("media_id"), col("phash"),
      posexplode(bandKeys).as(Seq("band", "band_key")))
    // the probe ball stays an ARRAY transform over one literal (codegen
    // stays method-sized; 137 inlined XOR expressions would not — qs08's
    // JIT lesson)
    val probes = index.select(col("media_id"), col("phash"), col("band"),
      explode(transform(typedlit(PhashProbeDeltas),
        dlt => col("band_key").bitwiseXOR(dlt))).as("band_key"))
    probes.as("a")
      .join(index.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("id_a"), col("b.media_id").as("id_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= tau)
      .orderBy("hamming", "id_a", "id_b")
  }

  val qm10 = Q(
    "qm10_image_phash",
    s"""WITH $phashCtes
       |SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height, phash
       |FROM hsh ORDER BY media_id""".stripMargin) { (s, dir) =>
    MediaOps.decodePhashes(
        MediaOps.wrapAsBmp(media(s, dir).filter(col("kind") === "image")))
      .select(col("media_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"), col("phash"))
      .orderBy("media_id")
  }

  val qm11 = Q(
    "qm11_phash_neardup",
    s"""WITH $phashCtes
       |SELECT a.media_id AS id_a, b.media_id AS id_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM hsh a JOIN hsh b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashMaxHamming
       |ORDER BY hamming, id_a, id_b""".stripMargin) { (s, dir) =>
    phashNearDupPairs(
      MediaOps.decodePhashes(
        MediaOps.wrapAsBmp(media(s, dir).filter(col("kind") === "image"))).toDF())
  }

  // ---------------------------------------------------------------------
  // qm12 — image RESIZE: box-average each real BMP down to a 4×4 color
  // thumbnail (the preprocessing step before any vision-model feature
  // extraction; pHash's 8×8 gray pooling is the same kernel
  // specialized). One mapPartitions decode pass over the container
  // (bottom-up rows, stride padding), 16 rows per image; per-channel
  // averages are integer sums with ONE exactly-rounded division, so the
  // oracle re-derives identical doubles from the raw document bytes +
  // the public grid rule (build→parse is identity on pixel content,
  // qm08's argument). Sub-4×4 images drop, like qm10's sub-8×8 rule.
  // 100 TB shape: zero shuffles before the final sort — embarrassingly
  // parallel decode, the same plan family as qm01/qm08.
  private val ThumbT = 4

  val qm12 = Q(
    "qm12_image_resize",
    s"""WITH ${bmpGridCtes(ThumbT)},
       |c AS (SELECT media_id, w, h, ry.cy AS cy, rx.cx AS cx,
       |        len(list_filter(range(0, w*h),
       |          k -> ((k // w) * $ThumbT) // h = ry.cy
       |           AND ((k % w) * $ThumbT) // w = rx.cx)) AS n_px,
       |        list_sum(list_transform(range(0, w*h),
       |          k -> CASE WHEN ((k // w) * $ThumbT) // h = ry.cy
       |                     AND ((k % w) * $ThumbT) // w = rx.cx
       |               THEN bytes[CAST(3*k+1 AS INT)] ELSE 0 END)) AS s0,
       |        list_sum(list_transform(range(0, w*h),
       |          k -> CASE WHEN ((k // w) * $ThumbT) // h = ry.cy
       |                     AND ((k % w) * $ThumbT) // w = rx.cx
       |               THEN bytes[CAST(3*k+2 AS INT)] ELSE 0 END)) AS s1,
       |        list_sum(list_transform(range(0, w*h),
       |          k -> CASE WHEN ((k // w) * $ThumbT) // h = ry.cy
       |                     AND ((k % w) * $ThumbT) // w = rx.cx
       |               THEN bytes[CAST(3*k+3 AS INT)] ELSE 0 END)) AS s2
       |      FROM b, range(0, $ThumbT) ry(cy), range(0, $ThumbT) rx(cx))
       |SELECT media_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
       |  CAST(cy AS BIGINT) AS cy, CAST(cx AS BIGINT) AS cx,
       |  CAST(n_px AS BIGINT) AS n_px,
       |  CAST(s0 AS DOUBLE) / CAST(n_px AS DOUBLE) AS c0,
       |  CAST(s1 AS DOUBLE) / CAST(n_px AS DOUBLE) AS c1,
       |  CAST(s2 AS DOUBLE) / CAST(n_px AS DOUBLE) AS c2
       |FROM c
       |ORDER BY media_id, cy, cx""".stripMargin) { (s, dir) =>
    MediaOps.decodeThumbs(
        MediaOps.wrapAsBmp(media(s, dir).filter(col("kind") === "image")), ThumbT)
      .select(col("media_id"), col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("cy").cast("long").as("cy"), col("cx").cast("long").as("cx"),
        col("n_px"), col("c0"), col("c1"), col("c2"))
      .orderBy("media_id", "cy", "cx")
  }

  val all: Seq[Q] =
    Seq(qm01, qm02, qm03, qm04, qm05, qm06, qm07, qm08, qm09, qm10, qm11, qm12)
}
