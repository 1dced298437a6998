package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A media asset: opaque bytes + typed metadata — the engine-side shape of
  * an image/audio/video column at 100 TB (content stays binary; all typed
  * operations go through metadata or extracted features).
  */
case class MediaRow(media_id: Long, media: Array[Byte],
    width: Int, height: Int, format: String)

/** Extracted features for one asset. */
case class MediaFeatures(media_id: Long, width: Int, height: Int,
    n_bytes: Int, features: Array[Float])

/** Multimodal columns (LLM-pipeline tier): binary media columns with typed
  * metadata, plus decode / feature-extract plumbing.
  *
  * No EXTERNAL codecs exist in this environment, so `decodeStub` is a
  * clearly-marked deterministic FAKE (byte histogram as "pixels") — swap it
  * for a real codec (JNI/javacv) without touching the Spark plumbing, which
  * is the part under test: binary-safe schema, mapPartitions batch shape
  * (decoder init once per partition, not per row), partitioned feature
  * extraction, and metadata queries that never deserialize the payload.
  * Two tiers ARE fully real on the stock JDK and run as such: PNG/JPEG
  * pixels through `javax.imageio` (q77b) and WAV/PCM audio through
  * `javax.sound.sampled` (q141 — WAV is codec-free, so the whole
  * synthesize → container → decode → feature loop is genuine and
  * oracle-hashed end to end).
  *
  * The fixture derives a binary column from documents deterministically —
  * at scale this is a real bytes column read from parquet/data lake.
  */
object Multimodal {

  /** Fixture: documents.text as bytes + synthesized metadata. No
    * pre-repartition: per-row metadata/hash work is cheaper than shuffling
    * the payload (A/B-measured: q28 plain 0.16s vs spread 0.29s at sf0.1);
    * at cluster scale the scan arrives as many splits already.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        col("text").cast("binary").as("media"),
        (pmod(col("doc_id"), lit(4)) * 32 + 64).cast("int").as("width"),
        (pmod(col("doc_id"), lit(3)) * 32 + 64).cast("int").as("height"),
        element_at(array(lit("png"), lit("jpeg"), lit("webp")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("format"))
      .as[MediaRow]
  }

  /** STUB decoder — deterministic byte histogram standing in for real pixel
    * decoding. Real implementation: decode `media` with an image library
    * and emit normalized channel statistics. The signature and batch shape
    * are the real contract.
    */
  private[operators] def decodeStub(media: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < media.length) {
      hist((media(i) & 0xff) >> 4) += 1f
      i += 1
    }
    val n = math.max(media.length, 1).toFloat
    hist.map(_ / n)
  }

  /** REAL pure-JVM image decode (javax.imageio — PNG/JPEG/BMP/GIF ship with
    * the JDK): 16-bin luminance histogram over the decoded pixels,
    * normalized — the same output contract as `decodeStub`, on actual
    * pixels. MultimodalSpec drives an in-test PNG through the
    * mapPartitions path with this decoder; the oracle-checked q29 keeps the
    * stub because the fixture's payloads are text-derived, not images.
    */
  def decodeImage(media: Array[Byte]): Array[Float] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(media))
    require(img != null, "payload is not a decodable image")
    val hist = new Array[Float](16)
    var y = 0
    while (y < img.getHeight) {
      var x = 0
      while (x < img.getWidth) {
        val rgb = img.getRGB(x, y)
        val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000
        hist(lum >> 4) += 1f
        x += 1
      }
      y += 1
    }
    val n = math.max(img.getWidth.toLong * img.getHeight, 1L).toFloat
    hist.map(_ / n)
  }

  /** Feature extraction: mapPartitions so a real decoder would be
    * initialized once per partition and fed a stream of rows (the Spark-side
    * batch shape of a Pandas-UDF/Arrow pipeline), never per row. The decoder
    * is pluggable: `decodeStub` (default, fixture-safe) or `decodeImage`
    * (real javax.imageio pixels).
    */
  def extractFeatures(media: Dataset[MediaRow],
      decode: Array[Byte] => Array[Float] = decodeStub): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // real codecs acquire native resources here, once per partition;
      // rows with no payload are skipped (a decoder cannot fabricate one)
      rows.filter(_.media != null).map { r =>
        MediaFeatures(r.media_id, r.width, r.height, r.media.length,
          decode(r.media))
      }
    }
  }

  // ---- Perceptual image hash (q77) ----------------------------------------

  /** dHash grid geometry: 9 columns × 8 rows of box-filtered luminance →
    * 8 adjacent-pair comparisons per row = 64 bits.
    */
  val GridW = 9
  val GridH = 8

  /** 64-bit dHash over a GridW×GridH luminance grid (row-major): bit k is
    * set when cell (r, c+1) is brighter than cell (r, c) — the classic
    * difference hash, invariant to global brightness/contrast shifts and
    * stable under small local perturbations.
    */
  def dhash64(grid: Array[Float]): Long = {
    var h = 0L
    var bit = 0
    var r = 0
    while (r < GridH) {
      var c = 0
      while (c < GridW - 1) {
        if (grid(r * GridW + c + 1) > grid(r * GridW + c)) h |= 1L << bit
        bit += 1
        c += 1
      }
      r += 1
    }
    h
  }

  /** REAL pixel path: box-filtered GridW×GridH grayscale from a decodable
    * image (javax.imageio), each cell the mean luminance of its pixel
    * block — the downsample step of a production dHash. Spec-driven on
    * planted PNGs; the registered q77 uses `gridStub` because the fixture
    * payloads are text-derived.
    */
  def gridFromImage(media: Array[Byte]): Array[Float] = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(media))
    require(img != null, "payload is not a decodable image")
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Float](GridW * GridH)
    var r = 0
    while (r < GridH) {
      var c = 0
      while (c < GridW) {
        val (x0, x1) = (c * w / GridW, math.max((c + 1) * w / GridW, c * w / GridW + 1))
        val (y0, y1) = (r * h / GridH, math.max((r + 1) * h / GridH, r * h / GridH + 1))
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val rgb = img.getRGB(x, y)
            sum += (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            x += 1
          }
          y += 1
        }
        out(r * GridW + c) = sum.toFloat / ((x1 - x0) * (y1 - y0))
        c += 1
      }
      r += 1
    }
    out
  }

  /** STUB grid — the payload's bytes laid row-major into GridW×GridH cells,
    * each cell the mean of its byte range: deterministic, codec-free, same
    * output contract as `gridFromImage`. Swappable exactly like decodeStub.
    */
  def gridStub(media: Array[Byte]): Array[Float] = {
    val cells = GridW * GridH
    val out = new Array[Float](cells)
    val n = media.length
    if (n == 0) return out
    var i = 0
    while (i < cells) {
      val lo = i * n / cells
      val hi = math.max((i + 1) * n / cells, lo + 1)
      var sum = 0L
      var j = lo
      while (j < math.min(hi, n)) {
        sum += media(j) & 0xff
        j += 1
      }
      out(i) = sum.toFloat / math.max(math.min(hi, n) - lo, 1)
      i += 1
    }
    out
  }

  /** Per-asset 64-bit perceptual hash, computed in the same
    * mapPartitions batch shape as extractFeatures (decoder init once per
    * partition). Output columns (`id`, `fp`) feed Dedup.hammingPairs64
    * directly.
    */
  def perceptualHashes(media: Dataset[MediaRow],
      grid: Array[Byte] => Array[Float] = gridStub): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.filter(_.media != null).map(r => (r.media_id, dhash64(grid(r.media))))
    }.toDF("id", "fp")
  }

  /** q77: perceptual near-dup profile over the media column — every asset's
    * dHash plus how many other assets sit within Hamming distance 3
    * (candidates from the 4-chunk pigeonhole join, never all-pairs). The
    * image analogue of q22's SimHash pass; real-pixel dHash is
    * property-checked on planted perturbed PNGs in MultimodalSpec.
    *
    * Shape for 100 TB: hash in the scan pass (8 bytes/asset leaves the
    * scan), ids+fingerprint-only chunk join, per-id count — payload bytes
    * never shuffle.
    */
  def q77(spark: SparkSession, dir: String): DataFrame =
    neardupProfile(perceptualHashes(mediaTable(spark, dir)))

  /** The q77 profile tail over any (id, fp) fingerprint frame: Hamming ≤ 3
    * neighbor counts, left-joined back so isolated assets report 0. q77
    * (stub grid), q77b (real decode) and q143 (audio) share it.
    *
    * Two scale rules, both measured:
    *
    *  - the (id, fp) frame is checkpointed ONCE: downstream it is
    *    read several times (class agg, join-back, presentation sort's
    *    range sampling), and uncached each execution re-ran the whole
    *    decode subtree — q143 was 14.95 s at sf0.1 on exactly this
    *    (VERDICT r17);
    *  - identical fingerprints collapse to (fp, multiplicity) CLASSES
    *    BEFORE the pigeonhole join. Near-dup corpora are precisely the
    *    inputs where fingerprints repeat, and an id-level self-join is
    *    quadratic in the largest identical-fp class — the r18 sf10 sweep
    *    died on it (550k clips but only 450 distinct contours ⇒ ~1.2k-clip
    *    classes ⇒ ~10⁹ intermediate id-pairs, disk-full at 75 GB of
    *    shuffle). Over classes the join is |distinct fp|-sized and the
    *    multiplicities restore every per-id count exactly: n_neighbors of
    *    a clip with fingerprint f = (m(f) − 1) + Σ_{g≠f, H(f,g)≤3} m(g) —
    *    same number the id-level join produced, hash-identical output.
    */
  def neardupProfile(fp: DataFrame): DataFrame = {
    val fpC = Materialize(fp)
    // classes is NOT checkpointed: it is |distinct fp|-sized and one cheap
    // agg over the checkpointed fp blocks — a checkpoint here would add a
    // whole eager job to a sub-second frame (q143's sf0.1 wall is fixed
    // job latency, not data)
    val classes = fpC.groupBy(col("fp")).agg(count(lit(1)).as("m"))
    // classes keyed by the fp value itself (a_id = a's fp — distinct by
    // construction, so a_id < b_id dedup works unchanged); H=0 neighbors
    // never pair here (same id) and come from the own-class m−1 term
    val pairs = Dedup.hammingPairs64(
      classes.select(col("fp").as("id"), col("fp")), maxHamming = 3)
    val cls = classes.select(col("fp").as("id"), col("m"))
    val near = pairs.select(col("a_id").as("id"), col("b_id").as("nb"))
      .unionAll(pairs.select(col("b_id").as("id"), col("a_id").as("nb")))
      .join(cls.select(col("id").as("nb"), col("m").as("nm")), Seq("nb"))
      .groupBy(col("id")).agg(sum(col("nm")).as("near"))
    val perFp = cls.join(near, Seq("id"), "left")
      .select(col("id").as("fp"),
        (coalesce(col("near"), lit(0L)) + col("m") - 1L).as("nn"))
    // null fps (possible for degenerate payloads) never equi-join: they
    // fall out of perFp's key and coalesce to 0, as the id-level join did
    fpC.join(perFp, Seq("fp"), "left")
      .select(col("id").as("media_id"), col("fp").as("phash"),
        coalesce(col("nn"), lit(0L)).as("n_neighbors"))
      .orderBy(col("media_id"))
  }

  /** q77b: the REAL-decode twin of q77 (VERDICT r11 "What's missing #3") —
    * the same dHash → pigeonhole → profile pipeline, but over the committed
    * [[graft.sources.MediaFixture]] PNG table with `gridFromImage`
    * (javax.imageio) supplying the luminance grid instead of the byte
    * stub. The fixture stores the encoded pixels twice: as PNG bytes (what
    * this query decodes) and as the raw `px` luminance array (what the
    * DuckDB oracle rebuilds the grid from) — so the oracle row fails if
    * the codec round-trip returns anything but the encoded pixels, putting
    * a hash on the decode path that was previously property-checked only.
    * Ignores `dir` by design: the fixture is repo-committed model data,
    * not driver testdata.
    */
  def q77b(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val media = spark.read.parquet(graft.sources.MediaFixture.fixtureDir)
      .select(col("media_id"), col("media"))
      .as[(Long, Array[Byte])]
    // perceptualHashes' mapPartitions batch shape with the real decoder —
    // 8 bytes/asset leave the scan; payload bytes never shuffle
    val fp = media.mapPartitions { rows =>
      rows.map { case (id, bytes) => (id, dhash64(gridFromImage(bytes))) }
    }.toDF("id", "fp")
    neardupProfile(fp)
  }

  /** Metadata/bytes query over the binary column — md5/length/prefix are
    * computed without any decode, oracle-checked against DuckDB blob
    * functions.
    */
  def q28(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).toDF()
      .select(
        col("media_id"),
        length(col("media")).as("n_bytes"),
        md5(col("media")).as("media_md5"),
        lower(hex(substring(col("media"), 1, 8))).as("head_hex"),
        col("width"), col("height"), col("format"))
      .orderBy(col("media_id"))

  /** Feature pipeline query (stub decode → 16-dim features), oracle-checked.
    * The normalized Float features are back-multiplied by the byte count to
    * recover the EXACT histogram counts (a float holds count/n correctly
    * rounded, so round(f*n) == count for any count < ~8M), and the reported
    * ratios are then re-derived in double — making every output column
    * bit-reproducible by an oracle that just counts bytes per nibble.
    */
  def q29(spark: SparkSession, dir: String): DataFrame = {
    val nb = greatest(col("n_bytes"), lit(1))
    extractFeatures(mediaTable(spark, dir)).toDF()
      .select(col("media_id"), col("n_bytes"),
        round(element_at(col("features"), 1).cast("double") * nb)
          .cast("long").as("c0"),
        round(element_at(col("features"), 16).cast("double") * nb)
          .cast("long").as("c15"))
      .select(col("media_id"), col("n_bytes"), col("c0"), col("c15"),
        round(col("c0") / greatest(col("n_bytes"), lit(1)), 4).as("f0"),
        round(col("c15") / greatest(col("n_bytes"), lit(1)), 4).as("f15"))
      .orderBy(col("media_id"))
  }

  /** DuckDB mirror of the REGISTERED q77 path (gridStub → dhash64 →
    * Hamming ≤ 3 neighbor counts), generated from the same constants.
    *
    * Validity: the fixture text is pure ASCII (q29's verified premise), so
    * byte j of the media payload is ascii(substr(text, j+1, 1)). The
    * engine's grid means are Float where the oracle's list_avg is DOUBLE —
    * safe because unequal cell means differ by ≥ 1/(cnt_a·cnt_b) (rationals
    * over small denominators, ≥ ~1e-3 at fixture cell widths) while float32
    * rounding error is ≤ ~2e-5 at byte scale, so every `>` comparison
    * agrees; exactly-equal rationals round to equal values in both widths.
    * The 64-bit hash is assembled in HUGEINT and re-centered to signed
    * (q34's winnowOracle idiom); the pigeonhole join is mirrored by exact
    * all-pairs bit_count(xor) ≤ 3 — complete for the engine too, since a
    * ≤ 3-bit difference always shares one of 4 exact 16-bit chunks.
    * The real-pixel dHash path stays property-checked on planted PNGs
    * (MultimodalSpec); this row pins the registered stub path end-to-end.
    */
  /** The 64 dHash bit terms over a `grid` list column (1-based DuckDB
    * indexing), assembled in HUGEINT — shared by the q77 (stub-grid) and
    * q77b (real-pixel) oracles so both mirror `dhash64` from the same
    * generated SQL.
    */
  private def dhashTermsSql: String =
    (0 until GridH * (GridW - 1)).map { k =>
      val left = (k / (GridW - 1)) * GridW + (k % (GridW - 1)) + 1 // 1-based
      s"CASE WHEN grid[${left + 1}] > grid[$left] THEN ${BigInt(1) << k} ELSE 0 END"
    }.mkString(" + ")

  private def dhashOracle: String = {
    val cells = GridW * GridH            // 72 grid cells
    val M = BigInt(1) << 64
    val H = BigInt(1) << 63
    val terms = dhashTermsSql
    s"""WITH d AS (
       |  SELECT doc_id AS media_id, text,
       |    octet_length(CAST(text AS BLOB)) AS n
       |  FROM documents WHERE text IS NOT NULL),
       |cells AS (
       |  SELECT media_id, i.i AS i,
       |    list_avg(list_transform(
       |      generate_series(
       |        CAST((i.i * n) // $cells + 1 AS BIGINT),
       |        CAST(least(greatest(((i.i + 1) * n) // $cells,
       |                            (i.i * n) // $cells + 1), n) AS BIGINT)),
       |      j -> ascii(substr(text, CAST(j AS INT), 1)))) AS m
       |  FROM d, unnest(generate_series(0, ${cells - 1})) AS i(i)
       |  WHERE n > 0),
       |g AS (SELECT media_id, list(m ORDER BY i) AS grid
       |      FROM cells GROUP BY media_id),
       |hh AS (SELECT media_id, CAST($terms AS HUGEINT) AS uh FROM g),
       |hs AS (
       |  SELECT media_id,
       |    CAST(CASE WHEN uh >= $H THEN uh - $M ELSE uh END AS BIGINT) AS phash
       |  FROM hh
       |  UNION ALL
       |  SELECT media_id, CAST(0 AS BIGINT) AS phash FROM d WHERE n = 0),
       |p AS (SELECT a.media_id AS a_id, b.media_id AS b_id
       |      FROM hs a, hs b
       |      WHERE a.media_id < b.media_id
       |        AND bit_count(xor(a.phash, b.phash)) <= 3),
       |deg AS (SELECT id, COUNT(*) AS nn FROM (
       |          SELECT a_id AS id FROM p
       |          UNION ALL SELECT b_id AS id FROM p) GROUP BY id)
       |SELECT hs.media_id, hs.phash,
       |  CAST(coalesce(deg.nn, 0) AS BIGINT) AS n_neighbors
       |FROM hs LEFT JOIN deg ON deg.id = hs.media_id
       |ORDER BY media_id""".stripMargin
  }

  /** DuckDB mirror of q77b: rebuild the luminance grid from the fixture's
    * `px` array (cell i = mean of its 4×4 block — the pixels are constant
    * per block, so the mean is the exact block value in both Float and
    * DOUBLE), then the same generated dHash bit terms, signed re-center,
    * all-pairs Hamming ≤ 3, and neighbor counts as the q77 oracle. The
    * engine never reads `px` and the oracle never reads `media`, so a
    * codec round-trip that returns anything but the encoded pixels
    * hash-mismatches this row.
    */
  private def q77bOracle: String = {
    import graft.sources.MediaFixture.{Block, W}
    val cells = GridW * GridH
    val M = BigInt(1) << 64
    val H = BigInt(1) << 63
    s"""WITH m AS (
       |  SELECT media_id, px
       |  FROM read_parquet('${graft.sources.MediaFixture.fixtureDir}/*.parquet')),
       |cells AS (
       |  SELECT media_id, i.i AS i,
       |    list_avg(list_transform(generate_series(0, ${Block * Block - 1}),
       |      j -> px[(i.i // $GridW * $Block + j // $Block) * $W
       |              + (i.i % $GridW * $Block + j % $Block) + 1])) AS mval
       |  FROM m, unnest(generate_series(0, ${cells - 1})) AS i(i)),
       |g AS (SELECT media_id, list(mval ORDER BY i) AS grid
       |      FROM cells GROUP BY media_id),
       |hh AS (SELECT media_id, CAST($dhashTermsSql AS HUGEINT) AS uh FROM g),
       |hs AS (
       |  SELECT media_id,
       |    CAST(CASE WHEN uh >= $H THEN uh - $M ELSE uh END AS BIGINT) AS phash
       |  FROM hh),
       |p AS (SELECT a.media_id AS a_id, b.media_id AS b_id
       |      FROM hs a, hs b
       |      WHERE a.media_id < b.media_id
       |        AND bit_count(xor(a.phash, b.phash)) <= 3),
       |deg AS (SELECT id, COUNT(*) AS nn FROM (
       |          SELECT a_id AS id FROM p
       |          UNION ALL SELECT b_id AS id FROM p) GROUP BY id)
       |SELECT hs.media_id, hs.phash,
       |  CAST(coalesce(deg.nn, 0) AS BIGINT) AS n_neighbors
       |FROM hs LEFT JOIN deg ON deg.id = hs.media_id
       |ORDER BY media_id""".stripMargin
  }

  // ---- Video modality (q144) ----------------------------------------------

  /** Video fixture geometry: tiny uncompressed frames so a fixture of
    * hundreds of clips stays KBs — the CONTAINER structure, not the pixel
    * count, is what this tier exercises.
    */
  val VideoW = 16
  val VideoH = 12
  val VideoFps = 10
  /** Every k-th frame is feature-extracted — the frame-sampling step a
    * 100 TB video corpus cannot skip (decode cost scales with frames
    * touched, so the sampler must run INSIDE the per-clip decode, never
    * as a post-decode filter).
    */
  val VideoSampleEvery = 4

  /** Deterministic 8-bit luminance of clip `mediaId`, frame f, pixel
    * (x, y) — a pure-integer recurrence (q141's audio discipline): the
    * engine PARSES the container bytes, the oracle recomputes the
    * recurrence, so any parse bug (chunk walking, header offsets, row
    * order, stride padding) breaks the hash.
    */
  @inline private[graft] def videoPixel(mediaId: Long, f: Int, x: Int,
      y: Int): Int =
    ((mediaId * 31 + f.toLong * 101 + y.toLong * 17 + x.toLong * 7) % 251).toInt

  /** Frames per clip: 8 + (id % 5) · 4 — five duration classes, exercising
    * the ceil arithmetic of every-k-th sampling.
    */
  @inline private[graft] def videoFrames(mediaId: Long): Int =
    (8 + (mediaId % 5) * 4).toInt

  /** A REAL RIFF/AVI container around the recurrence frames: 'hdrl' with
    * a canonical 56-byte avih (frame count, dimensions, rate) and one
    * 'strl' (strh 'vids'/'DIB ', strf BITMAPINFOHEADER), then 'movi' with
    * one '00db' uncompressed-DIB chunk per frame — 24-bit BGR rows
    * BOTTOM-UP (the DIB contract; parsing top-down is the classic bug the
    * oracle hash would catch). Uncompressed DIB is a standard AVI codec,
    * so the bytes are a structurally valid, codec-free video file — the
    * q141 WAV argument one modality over. VideoW·3 is 4-byte aligned, so
    * rows carry no pad bytes at this geometry.
    */
  private[graft] def aviBytes(mediaId: Long): Array[Byte] = {
    val n = videoFrames(mediaId)
    val frameBytes = VideoW * VideoH * 3
    def chunk(tag: String, body: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(8 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put(tag.getBytes("US-ASCII")).putInt(body.length).put(body)
      b.array()
    }
    def list(kind: String, body: Array[Byte]): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(12 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("LIST".getBytes("US-ASCII")).putInt(4 + body.length)
        .put(kind.getBytes("US-ASCII")).put(body)
      b.array()
    }
    val avih = {
      val b = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(1000000 / VideoFps) // microseconds per frame
        .putInt(frameBytes * VideoFps) // max bytes per second
        .putInt(0).putInt(0x10) // padding, flags (AVIF_HASINDEX off)
        .putInt(n) // total frames
        .putInt(0).putInt(1) // initial frames, streams
        .putInt(frameBytes) // suggested buffer
        .putInt(VideoW).putInt(VideoH)
        .putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    val strh = {
      val b = java.nio.ByteBuffer.allocate(56)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("vids".getBytes("US-ASCII")).put("DIB ".getBytes("US-ASCII"))
        .putInt(0).putShort(0).putShort(0).putInt(0)
        .putInt(1).putInt(VideoFps) // scale, rate -> fps
        .putInt(0).putInt(n)
        .putInt(frameBytes).putInt(-1).putInt(0)
        .putShort(0).putShort(0).putShort(VideoW.toShort)
        .putShort(VideoH.toShort)
      b.array()
    }
    val strf = {
      val b = java.nio.ByteBuffer.allocate(40)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(40).putInt(VideoW).putInt(VideoH)
        .putShort(1).putShort(24) // planes, bpp
        .putInt(0) // BI_RGB (uncompressed)
        .putInt(frameBytes).putInt(0).putInt(0).putInt(0).putInt(0)
      b.array()
    }
    def frame(f: Int): Array[Byte] = {
      val px = new Array[Byte](frameBytes)
      var i = 0
      var row = VideoH - 1 // DIB rows are stored bottom-up
      while (row >= 0) {
        var x = 0
        while (x < VideoW) {
          val v = videoPixel(mediaId, f, x, row).toByte
          px(i) = v; px(i + 1) = v; px(i + 2) = v // B, G, R
          i += 3; x += 1
        }
        row -= 1
      }
      px
    }
    val movi = list("movi",
      (0 until n).map(f => chunk("00db", frame(f)))
        .foldLeft(Array.emptyByteArray)(_ ++ _))
    val hdrl = list("hdrl", chunk("avih", avih) ++
      list("strl", chunk("strh", strh) ++ chunk("strf", strf)))
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    val out = java.nio.ByteBuffer.allocate(8 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(body.length).put(body)
    out.array()
  }

  /** Fixture video table: one AVI clip per document id (synthesis rides
    * mapPartitions — the q141 stand-in-for-the-scan pattern).
    */
  def videoTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NO ids-repartition before synthesis, and that is a MEASURED choice
    // (r18 A/B at sf10): forcing the decode onto defaultParallelism=32
    // reduce tasks ran 2× SLOWER than inheriting the scan's natural
    // splits (153 s vs 70 s — 32-way concurrent decode allocation beats
    // the heap around; the pruned scan already yields ~14 splits at sf10
    // and the 1-split fixture scales are latency-bound regardless). At
    // lake scale the payload scan brings its own thousands of splits.
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, aviBytes(id))))
      .toDF("media_id", "media")
  }

  /** Parsed clip: avih metadata + the raw '00db' frame payloads in order.
    * A REAL RIFF walk — tags and sizes drive the cursor; nothing is
    * assumed about chunk order beyond the AVI grammar (hdrl before movi).
    */
  private[graft] final case class AviClip(nFrames: Int, width: Int,
      height: Int, usPerFrame: Int, frames: Vector[Array[Byte]])

  private[graft] def parseAvi(bytes: Array[Byte]): AviClip = {
    val b = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val t = new Array[Byte](4); b.get(t); new String(t, "US-ASCII")
    }
    require(tag() == "RIFF", "not a RIFF container")
    b.getInt // riff size
    require(tag() == "AVI ", "not an AVI")
    var nFrames = -1; var w = -1; var h = -1; var us = -1
    val frames = Vector.newBuilder[Array[Byte]]
    def walk(end: Int): Unit =
      while (b.position() < end) {
        val t = tag()
        val size = b.getInt
        val next = b.position() + size + (size & 1) // chunks are word-aligned
        t match {
          case "LIST" =>
            tag() // list kind; descend either way — the walk is grammar-free
            walk(next)
          case "avih" =>
            us = b.getInt; b.getInt; b.getInt; b.getInt
            nFrames = b.getInt; b.getInt; b.getInt; b.getInt
            w = b.getInt; h = b.getInt
            b.position(next)
          case "00db" =>
            val px = new Array[Byte](size); b.get(px)
            frames += px
            b.position(next)
          case _ => b.position(next)
        }
      }
    walk(bytes.length)
    val fs = frames.result()
    require(nFrames == fs.length,
      s"avih claims $nFrames frames, movi carries ${fs.length}")
    AviClip(nFrames, w, h, us, fs)
  }

  /** q144: video-container modality — the third media column (image q77b,
    * audio q141): REAL AVI parse + every-[[VideoSampleEvery]]-th-frame
    * luminance features, all exact integers so the DuckDB oracle
    * regenerates the recurrence and hash-checks the parse (chunk walk,
    * avih offsets, bottom-up row order). Output per sampled frame:
    * (media_id, n_frames, width, height, frame_no, sum_lum) — metadata
    * from the header, features from the payload, the header/payload
    * consistency require()d in the parse. Payload leaves the plan at the
    * decode (integers out of mapPartitions); the only exchange is the
    * presentation sort. Unsampled frames are never feature-extracted —
    * at 100 TB the sampler IS the cost model.
    */
  def q144VideoFrames(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    videoTable(spark, dir)
      .select(col("media_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, bytes) =>
        val clip = parseAvi(bytes)
        val stride = clip.width * 3
        (0 until clip.nFrames by VideoSampleEvery).map { f =>
          val px = clip.frames(f)
          var sum = 0L
          var y = 0
          while (y < clip.height) {
            val rowOff = (clip.height - 1 - y) * stride // bottom-up
            var x = 0
            while (x < clip.width) {
              sum += px(rowOff + x * 3) & 0xff // B plane (B=G=R here)
              x += 1
            }
            y += 1
          }
          (id, clip.nFrames, clip.width, clip.height, f, sum)
        }
      })
      .toDF("media_id", "n_frames", "width", "height", "frame_no", "sum_lum")
      .orderBy(col("media_id"), col("frame_no"))
  }

  private val videoOracle: String =
    s"""WITH f AS (
       |  SELECT doc_id AS media_id,
       |    CAST(8 + (doc_id % 5) * 4 AS INT) AS n_frames, fr.f AS f
       |  FROM documents,
       |    LATERAL (SELECT unnest(generate_series(
       |      0, CAST(8 + (doc_id % 5) * 4 AS INT) - 1,
       |      $VideoSampleEvery)) AS f) fr),
       |px AS (
       |  SELECT media_id, n_frames, f,
       |    SUM((media_id * 31 + f * 101 + y.y * 17 + x.x * 7) % 251)
       |      AS sum_lum
       |  FROM f,
       |    unnest(generate_series(0, ${VideoH - 1})) AS y(y),
       |    unnest(generate_series(0, ${VideoW - 1})) AS x(x)
       |  GROUP BY media_id, n_frames, f)
       |SELECT media_id, n_frames,
       |  CAST($VideoW AS INT) AS width, CAST($VideoH AS INT) AS height,
       |  CAST(f AS INT) AS frame_no, CAST(sum_lum AS BIGINT) AS sum_lum
       |FROM px ORDER BY media_id, frame_no""".stripMargin

  // ---- Audio modality (q141) ----------------------------------------------

  /** Audio window size (samples) for the q141 feature pass. */
  val AudioWindow = 256

  /** Deterministic PCM16 sample i of clip `mediaId` — a pure-integer
    * recurrence so the DuckDB oracle can regenerate the exact waveform:
    * the engine DECODES the WAV bytes (a real `javax.sound.sampled` parse)
    * and the oracle recomputes the recurrence, so a decode bug anywhere
    * (header offsets, endianness, sign) breaks the hash.
    */
  @inline private[graft] def audioSample(mediaId: Long, i: Int): Int =
    (((mediaId * 31 + i.toLong * 17) % 4096) - 2048).toInt

  /** Samples per clip: 800 + (id % 5) · 400 — five distinct durations so
    * the partial-final-window arithmetic is exercised on the fixture.
    */
  @inline private[graft] def audioLen(mediaId: Long): Int =
    (800 + (mediaId % 5) * 400).toInt

  /** A canonical 44-byte-header mono PCM16 little-endian WAV around the
    * recurrence samples — REAL audio bytes (playable), not a stub: WAV is
    * codec-free, so the full synthesize → container → decode loop runs on
    * the stock JDK.
    */
  private[graft] def wavBytes(mediaId: Long): Array[Byte] =
    wavBytesOf(audioLen(mediaId), i => audioSample(mediaId, i))

  private[graft] def wavBytesOf(n: Int, sample: Int => Int): Array[Byte] = {
    val dataSize = n * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(1.toShort) // mono
      .putInt(8000) // sample rate
      .putInt(8000 * 2) // byte rate
      .putShort(2.toShort) // block align
      .putShort(16.toShort) // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataSize)
    var i = 0
    while (i < n) { buf.putShort(sample(i).toShort); i += 1 }
    buf.array()
  }

  /** Fixture audio table: one WAV clip per document id. Payload synthesis
    * rides mapPartitions (at scale this column is read from the lake, not
    * synthesized — the synthesis stands in for the scan, everything after
    * it is the real path).
    */
  def audioTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // no ids-repartition before synthesis — measured 2× slower at sf10
    // (see videoTable)
    Tables.documents(spark, dir).select(col("doc_id")).as[Long]
      .mapPartitions(_.map(id => (id, wavBytes(id))))
      .toDF("media_id", "media")
  }

  /** q141: REAL audio decode + windowed feature extraction — the audio
    * member of the multimodal tier (image q77b's discipline: a genuine
    * JDK decode in the engine, an arithmetic mirror in the oracle). Each
    * clip's WAV bytes parse through `javax.sound.sampled.AudioSystem`
    * inside mapPartitions (decoder per partition, payload never shuffles);
    * per [[AudioWindow]]-sample window the features are exact integers —
    * energy as the sum of squared samples, zero crossings as strict sign
    * changes between adjacent in-window samples — so the whole decode path
    * is hash-checked, not spot-checked. Output:
    * (media_id, window_no, n_samples, sum_sq, zero_crossings).
    *
    * Scale shape: one payload-bearing scan, per-row decode, output rows =
    * clips × windows of INTEGERS (the payload leaves the plan at decode,
    * q77's 8-bytes-leave-the-scan argument); the only exchange is the
    * presentation sort.
    */
  def q141AudioFeatures(spark: SparkSession, dir: String): DataFrame =
    audioFeaturesOf(audioTable(spark, dir), AudioWindow)
      .select(col("media_id"), col("window_no"),
        col("n_samples").cast("int").as("n_samples"),
        col("sum_sq"), col("zero_crossings"))
      // materialize the clips×windows INTEGER frame before the
      // presentation sort: orderBy's range-partitioner sampling is a
      // separate execution, and uncached it re-ran the synth+decode
      // subtree — the ×19.1 sf1→sf10 decade blowup of r17's sweep
      // (SCALE_CHECK_sf10_r17 finding 3). Payload left the plan at
      // decode; what checkpoints is 5 longs per window.
      .transform(Materialize(_))
      .orderBy(col("media_id"), col("window_no"))

  /** q141's decode + windowed-feature pass over ANY (media_id, media) WAV
    * frame, parameterized by window size: q141 reports at [[AudioWindow]];
    * q143 fingerprints at [[AudioFpWindow]] (finer windows — a contour
    * needs more than the handful of 256-sample windows a short clip has).
    */
  private[graft] def audioFeaturesOf(clips: DataFrame,
      window: Int): DataFrame = {
    val spark = clips.sparkSession
    import spark.implicits._
    clips
      .select(col("media_id"), col("media")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes) =>
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = in.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian, s"unexpected WAV shape for clip $id: $fmt")
          val data = in.readAllBytes()
          in.close()
          val n = data.length / 2
          val windows = (n + window - 1) / window
          (0 until windows).map { w =>
            val from = w * window
            val until = math.min(from + window, n)
            var sumSq = 0L
            var zc = 0L
            var prev = 0
            var i = from
            while (i < until) {
              val s = ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff))
              sumSq += s.toLong * s
              if (i > from && (s < 0) != (prev < 0)) zc += 1
              prev = s
              i += 1
            }
            (id, w, until - from, sumSq, zc)
          }
        }
      }
      .toDF("media_id", "window_no", "n_samples", "sum_sq", "zero_crossings")
  }

  // ---- Audio near-dup (q143) ----------------------------------------------

  /** Fingerprint window (samples): finer than [[AudioWindow]] so a short
    * clip still yields a 25–75-point energy contour (4–10 points is too
    * little entropy for a 62-bit fingerprint — measured: same-length
    * clips collided at Hamming 0).
    */
  val AudioFpWindow = 32

  /** Perturbed-twin planting for the near-dup fixture: every
    * [[AudioPertStride]]-th clip gets a copy at id + [[AudioPertBase]]
    * whose every [[AudioPertEvery]]-th sample is lifted by
    * [[AudioPertAmp]] — a small additive hum. The contour comparisons
    * flip only where adjacent window energies are close; at the SHIPPED
    * constants every planted pair lands within the Hamming ≤ 3 bound
    * (measured on sf0.01's 50 twins in round 18, README's q143 entry: dist
    * h0:29 h1:9 h2:6 h3:6, max 3 — an earlier draft's "~40/50, max 5"
    * described a pre-final larger-amp constant set).
    */
  val AudioPertBase = 1000000000L
  val AudioPertStride = 10L
  val AudioPertEvery = 3
  val AudioPertAmp = 100

  /** q143's clip table: the q141 clips plus the planted perturbed twins. */
  def audioNeardupTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // no ids-repartition before synthesis — measured 2× slower at sf10
    // (see videoTable)
    val ids = Tables.documents(spark, dir).select(col("doc_id")).as[Long]
    val base = ids.mapPartitions(_.map(id => (id, wavBytes(id))))
    val pert = ids.filter(_ % AudioPertStride == 0).mapPartitions(_.map(id =>
      (id + AudioPertBase, wavBytesOf(audioLen(id), i =>
        audioSample(id, i) +
          (if (i % AudioPertEvery == 0) AudioPertAmp else 0)))))
    base.union(pert).toDF("media_id", "media")
  }

  /** One 31-bit contour half: bit j compares the energy at contour slot
    * (j·W) div 31 against slot ((j+step) mod 31 · W) div 31 — resampling
    * the W-window sequence onto a fixed 31-slot ring, so clips of
    * different lengths fingerprint into the same space. The two halves
    * use ring strides 1 and 7: the first fingerprint cut paired the
    * energy contour with a ZERO-CROSSING contour, but the fixture's
    * regular waveforms make per-window crossing counts near-constant —
    * 31 dead bits, which both voided half the distance and made two
    * pigeonhole chunks a single mega-bucket (the q87 skew trap,
    * self-inflicted). Two comparison strides over the same energies keep
    * every 16-bit chunk high-entropy (measured: 124–144 distinct values
    * per chunk over 550 fixture clips). Pure Spark SQL higher-order
    * functions (no UDF); DuckDB mirrors the identical arithmetic.
    */
  private def fpHalfSql(arr: String, step: Int): String =
    s"aggregate(sequence(0, 30), 0L, (acc, j) -> acc * 2 + " +
      s"if(element_at($arr, cast(((j * size($arr)) div 31) + 1 as int)) >= " +
      s"element_at($arr, cast(((pmod(j + $step, 31) * size($arr)) div 31)" +
      s" + 1 as int)), 1L, 0L))"

  /** q143: audio near-dup — the audio member of the near-dedup family
    * (text MinHash q21/SimHash q22, embedding q24, image dHash q77/q77b).
    * Each clip's REAL WAV decode (q141's pass at [[AudioFpWindow]])
    * yields an energy + zero-crossing contour; the two 31-bit contour
    * halves pack into one 62-bit fingerprint, and q77's
    * pigeonhole-Hamming profile tail reports each clip's Hamming ≤ 3
    * neighbor count. Zero new join machinery — the fingerprint is the
    * only audio-specific code.
    *
    * Scale shape: payload leaves the plan at decode (8 B fingerprint per
    * clip shuffles, never WAV bytes); candidate pairs come from the
    * 4-chunk pigeonhole join, never all-pairs — the oracle's all-pairs
    * mirror is fixture-sized only.
    */
  def q143AudioNeardup(spark: SparkSession, dir: String): DataFrame =
    neardupProfile(audioFingerprints(audioNeardupTable(spark, dir)))
      .withColumnRenamed("phash", "fp")

  /** (id, fp) energy-contour fingerprints over any (media_id, media) WAV
    * frame — q143's hash step, spec-drivable on planted clips.
    */
  def audioFingerprints(clips: DataFrame): DataFrame =
    audioFeaturesOf(clips, AudioFpWindow)
      .groupBy(col("media_id"))
      .agg(sort_array(collect_list(struct(
        col("window_no"), col("sum_sq")))).as("ws"))
      // The energies array is bound ONCE per row as a lambda variable
      // (transform over a 1-element wrapper): splicing
      // `transform(ws, w -> w.sum_sq)` textually into each element_at
      // re-materialized the array per lookup — 2 halves x 31 bits x 2
      // lookups = 124 interpreted array builds per clip, measured as
      // ~2 s of q143's 3.5 s wall at sf0.1 (r18 decomposition:
      // feats 0.9 s, +agg 0.15 s, +fp expr ~2 s). Same HOF-only
      // arithmetic, same bits, ~62x fewer array materializations.
      .select(col("media_id").as("id"),
        expr(s"element_at(transform(array(transform(ws, w -> w.sum_sq)), " +
          s"es -> ${fpHalfSql("es", 1)} * 2147483648L" +
          s" + ${fpHalfSql("es", 7)}), 1)")
          .as("fp"))

  private def q143Oracle: String = {
    def fpHalfDuck(arr: String, step: Int): String =
      s"SUM(CASE WHEN $arr[((j * len($arr)) // 31) + 1] >= " +
        s"$arr[(((j + $step) % 31 * len($arr)) // 31) + 1] " +
        s"THEN (CAST(1 AS BIGINT) << (30 - j)) ELSE 0 END)"
    s"""WITH ids AS (
       |  SELECT doc_id AS media_id, doc_id AS src, FALSE AS pert
       |  FROM documents
       |  UNION ALL
       |  SELECT doc_id + $AudioPertBase, doc_id, TRUE
       |  FROM documents WHERE doc_id % $AudioPertStride = 0),
       |s AS (
       |  SELECT media_id, i,
       |    ((src * 31 + i * 17) % 4096) - 2048 +
       |      CASE WHEN pert AND i % $AudioPertEvery = 0
       |           THEN $AudioPertAmp ELSE 0 END AS v,
       |    i // $AudioFpWindow AS w
       |  FROM ids,
       |    UNNEST(generate_series(0, CAST(800 + (src % 5) * 400 AS INT) - 1))
       |      AS u(i)),
       |f AS (
       |  SELECT media_id, w, SUM(v * v) AS e
       |  FROM s GROUP BY media_id, w),
       |arr AS (SELECT media_id, list(e ORDER BY w) AS es
       |        FROM f GROUP BY media_id),
       |bits AS (
       |  SELECT media_id,
       |    ${fpHalfDuck("es", 1)} AS fpe,
       |    ${fpHalfDuck("es", 7)} AS fpz
       |  FROM arr, UNNEST(generate_series(0, 30)) AS g(j)
       |  GROUP BY media_id),
       |hs AS (SELECT media_id,
       |         CAST(fpe * 2147483648 + fpz AS BIGINT) AS fp FROM bits),
       |p AS (SELECT a.media_id AS a_id, b.media_id AS b_id
       |      FROM hs a, hs b
       |      WHERE a.media_id < b.media_id
       |        AND bit_count(xor(a.fp, b.fp)) <= 3),
       |deg AS (SELECT id, COUNT(*) AS nn FROM (
       |          SELECT a_id AS id FROM p
       |          UNION ALL SELECT b_id AS id FROM p) GROUP BY id)
       |SELECT hs.media_id, hs.fp,
       |  CAST(coalesce(deg.nn, 0) AS BIGINT) AS n_neighbors
       |FROM hs LEFT JOIN deg ON deg.id = hs.media_id
       |ORDER BY media_id""".stripMargin
  }

  private val audioOracle: String =
    s"""WITH s AS (
       |  SELECT doc_id AS media_id, i,
       |    ((doc_id * 31 + i * 17) % 4096) - 2048 AS v,
       |    i // $AudioWindow AS window_no
       |  FROM documents,
       |    UNNEST(generate_series(0, CAST(800 + (doc_id % 5) * 400 AS INT) - 1))
       |      AS u(i)),
       |l AS (
       |  SELECT media_id, window_no, v,
       |    lag(v) OVER (PARTITION BY media_id, window_no ORDER BY i) AS pv
       |  FROM s)
       |SELECT media_id, CAST(window_no AS INT) AS window_no,
       |  CAST(COUNT(*) AS INT) AS n_samples,
       |  CAST(SUM(v * v) AS BIGINT) AS sum_sq,
       |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) <> (pv < 0))
       |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_crossings
       |FROM l GROUP BY media_id, window_no
       |ORDER BY media_id, window_no""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q141_audio_features", q141AudioFeatures, Some(audioOracle)),
    QueryDef("q143_audio_neardup", q143AudioNeardup, Some(q143Oracle)),
    QueryDef("q144_video_frames", q144VideoFrames, Some(videoOracle)),
    // oracle added round 9: the registered stub path IS SQL-mirrorable
    // (byte-grid means + adjacent-pair bits + all-pairs Hamming); the
    // real-pixel decode stays property-checked (planted PNGs, MultimodalSpec)
    QueryDef("q77_image_neardup", q77, Some(dhashOracle)),
    // round 12: the real javax.imageio decode path gets its own oracle row
    // over the committed PNG fixture (engine decodes `media`, oracle
    // recomputes from `px`)
    QueryDef("q77b_image_neardup_decoded", q77b, Some(q77bOracle)),
    QueryDef("q28_multimodal_meta", q28,
      Some("""SELECT doc_id AS media_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |  md5(text) AS media_md5,
        |  lower(hex(substring(text, 1, 8))) AS head_hex,
        |  CAST((doc_id % 4) * 32 + 64 AS INT) AS width,
        |  CAST((doc_id % 3) * 32 + 64 AS INT) AS height,
        |  ['png','jpeg','webp'][CAST(doc_id % 3 AS INT) + 1] AS format
        |FROM documents ORDER BY media_id""".stripMargin)),
    // the fixture text is pure ASCII (verified: octet_length == length for
    // every doc), so per-char ascii() equals the byte the stub histograms
    QueryDef("q29_media_features", q29,
      Some("""WITH d AS (
        |  SELECT doc_id AS media_id,
        |    CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        |    CAST(len(list_filter(generate_series(1, length(text)),
        |      i -> (ascii(substr(text, i, 1)) // 16) = 0)) AS BIGINT) AS c0,
        |    CAST(len(list_filter(generate_series(1, length(text)),
        |      i -> (ascii(substr(text, i, 1)) // 16) = 15)) AS BIGINT) AS c15
        |  FROM documents)
        |SELECT media_id, n_bytes, c0, c15,
        |  round(CAST(c0 AS DOUBLE) / greatest(n_bytes, 1), 4) AS f0,
        |  round(CAST(c15 AS DOUBLE) / greatest(n_bytes, 1), 4) AS f15
        |FROM d ORDER BY media_id""".stripMargin)))
}
