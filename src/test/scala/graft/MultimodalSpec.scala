package graft

import graft.operators.{MediaRow, Multimodal}
import org.scalatest.funsuite.AnyFunSuite

/** Plumbing checks for the multimodal tier: binary round-trip fidelity,
  * feature shape — everything real except the
  * decode math, which is an explicit stub.
  */
class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("media table: binary payload round-trips byte-exact") {
    val rows = Multimodal.mediaTable(spark, dir).collect()
    assert(rows.length === 500)
    val docs = Tables.documents(spark, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(50).foreach { m =>
      assert(new String(m.media, "UTF-8") === docs(m.media_id))
    }
  }

  test("feature extraction: 16-dim normalized histogram per asset") {
    val feats = Multimodal.extractFeatures(Multimodal.mediaTable(spark, dir))
      .collect()
    assert(feats.length === 500)
    feats.foreach { f =>
      assert(f.features.length === 16)
      val sum = f.features.sum
      assert(math.abs(sum - 1.0f) < 1e-3, s"histogram should normalize, got $sum")
    }
  }

  test("real PNG decode through the mapPartitions path (javax.imageio)") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // two real PNGs: solid black (luminance 0 -> bin 0) and solid white
    // (luminance 255 -> bin 15)
    def png(rgb: Int): Array[Byte] = {
      val img = new BufferedImage(8, 4, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 4; x <- 0 until 8) img.setRGB(x, y, rgb)
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
    import spark.implicits._
    val media = Seq(
      MediaRow(0L, png(0x000000), 8, 4, "png"),
      MediaRow(1L, png(0xffffff), 8, 4, "png")).toDS()
    val feats = Multimodal.extractFeatures(media, Multimodal.decodeImage)
      .collect().sortBy(_.media_id)
    assert(feats.length === 2)
    assert(feats(0).features(0) === 1.0f)   // all-black pixels in bin 0
    assert(feats(1).features(15) === 1.0f)  // all-white pixels in bin 15
    feats.foreach(f => assert(math.abs(f.features.sum - 1.0f) < 1e-3))
  }

  /** Perceptual near-dup on REAL planted PNGs: a textured base image, a
    * slightly-perturbed copy (few pixels nudged — dHash must stay within
    * Hamming 3, pairing them), an unrelated texture and the inverted base
    * (far in dHash space — must NOT pair with base). Runs the actual
    * pipeline (gridFromImage → dhash64 → hammingPairs64).
    */
  test("perceptual hash pairs planted near-dup PNGs, not unrelated ones") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    val W = 72
    val H = 64
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(W, H, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until H; x <- 0 until W) {
        val g = f(x, y) & 0xff
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
      }
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, "png", out)
      out.toByteArray
    }
    // deterministic texture with strong cell-to-cell gradients so the
    // dHash bits are well-defined (no near-tie cells a perturbation flips)
    val base = (x: Int, y: Int) => ((x * 13 + y * 31) % 17) * 15
    val perturbed = (x: Int, y: Int) =>
      if (x < 3 && y < 3) base(x, y) + 8 else base(x, y) // few pixels nudged
    val unrelated = (x: Int, y: Int) => ((x * 7 + y * 3) % 23) * 11
    val inverted = (x: Int, y: Int) => 255 - base(x, y)
    import spark.implicits._
    val media = Seq(
      MediaRow(0L, png(base), W, H, "png"),
      MediaRow(1L, png(perturbed), W, H, "png"),
      MediaRow(2L, png(unrelated), W, H, "png"),
      MediaRow(3L, png(inverted), W, H, "png")).toDS()
    val fp = Multimodal.perceptualHashes(media, Multimodal.gridFromImage)
    val pairs = operators.Dedup.hammingPairs64(fp, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"perturbed copy must pair with base: $pairs")
    assert(!pairs.contains((0L, 2L)) && !pairs.contains((0L, 3L)),
      s"unrelated/inverted must not pair with base: $pairs")
    // determinism: same inputs, same hashes
    val h1 = fp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val h2 = Multimodal.perceptualHashes(media, Multimodal.gridFromImage)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h1 === h2)
    // inverted image flips every well-defined comparison: Hamming(base,
    // inverted) is near 64
    assert(java.lang.Long.bitCount(h1(0L) ^ h1(3L)) > 32)
  }

  test("q77 profile covers every asset with banded neighbor counts") {
    val got = Multimodal.q77(spark, dir).collect()
    assert(got.length === 500)
    // symmetric counts: sum of n_neighbors is even (each pair counted twice)
    val total = got.map(_.getLong(2)).sum
    assert(total % 2 === 0)
  }

  /** q77b fixture integrity + planted structure: the committed parquet's
    * `px` must match regeneration from source (no silent fixture drift),
    * the real decode must return exactly the encoded luminances, and the
    * neighbor profile must realize the PLANTED Hamming design — pairs at
    * distance 1/2/1/3 are mutual neighbors, the distance-5 pair and the
    * six standalone assets are not. The DuckDB oracle re-derives the same
    * profile from `px`; this spec is the engine-side ground truth for the
    * planted distances themselves.
    */
  test("q77b: committed PNG fixture decodes to planted hashes and neighbor profile") {
    import graft.sources.MediaFixture
    val rows = spark.read.parquet(MediaFixture.fixtureDir)
      .select("media_id", "media", "px").collect()
    assert(rows.length === MediaFixture.NumAssets)
    rows.foreach { r =>
      val id = r.getLong(0).toInt
      // committed px == regenerated pattern (fixture drift guard)
      assert(r.getSeq[Int](2) === MediaFixture.pixels(id).toSeq, s"px drift id=$id")
      // real decode returns the encoded block grid exactly
      val grid = Multimodal.gridFromImage(r.getAs[Array[Byte]](1))
      assert(grid.map(_.toInt).toSeq === MediaFixture.cellGrid(id).toSeq,
        s"decode drift id=$id")
    }
    val profile = Multimodal.q77b(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val neighbors = Set(0L, 8L, 1L, 9L, 2L, 10L, 3L, 11L)
    profile.foreach { case (id, nn) =>
      assert(nn === (if (neighbors(id)) 1L else 0L), s"profile id=$id nn=$nn")
    }
  }

  /** q141's WAV path is REAL: the synthesized bytes must parse through
    * javax.sound.sampled as the declared container (8 kHz mono PCM16 LE),
    * the decoded samples must equal the integer recurrence the oracle
    * regenerates, and the partial final window must carry the remainder.
    */
  test("audio clips parse as real WAV and decode to the exact recurrence") {
    val id = 7L
    val bytes = Multimodal.wavBytes(id)
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val fmt = in.getFormat
    assert(fmt.getSampleRate === 8000f && fmt.getChannels === 1 &&
      fmt.getSampleSizeInBits === 16 && !fmt.isBigEndian,
      s"WAV container drifted: $fmt")
    val data = in.readAllBytes(); in.close()
    val n = data.length / 2
    assert(n === Multimodal.audioLen(id))
    (0 until n).foreach { i =>
      val s16 = ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff))
      assert(s16 === Multimodal.audioSample(id, i), s"sample $i drifted")
    }
    // windowed features on the fixture: every clip's windows sum to its
    // length, and the final window carries the exact remainder
    val rows = Multimodal.q141AudioFeatures(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4)))
    rows.groupBy(_._1).foreach { case (mid, ws) =>
      val len = Multimodal.audioLen(mid)
      assert(ws.map(_._3).sum === len, s"clip $mid windows != length")
      val last = ws.maxBy(_._2)
      val rem = len % Multimodal.AudioWindow
      assert(last._3 === (if (rem == 0) Multimodal.AudioWindow else rem))
      // a clip is never silent under the recurrence
      assert(ws.map(_._4).sum > 0)
    }
  }

  /** q144: the synthesized bytes must be a structurally real RIFF/AVI
    * (magic tags at the canonical offsets), the parser must enforce
    * header/payload consistency, recover the exact recurrence pixels
    * through the bottom-up DIB row order, and the registered query must
    * sample every 4th frame with the right ceil arithmetic.
    */
  test("video clips parse as real AVI containers; tampered headers fail loudly") {
    val id = 13L
    val bytes = Multimodal.aviBytes(id)
    def tagAt(off: Int): String = new String(bytes, off, 4, "US-ASCII")
    assert(tagAt(0) === "RIFF" && tagAt(8) === "AVI " && tagAt(12) === "LIST")
    val clip = Multimodal.parseAvi(bytes)
    assert(clip.nFrames === Multimodal.videoFrames(id))
    assert(clip.width === Multimodal.VideoW &&
      clip.height === Multimodal.VideoH)
    assert(clip.usPerFrame === 1000000 / Multimodal.VideoFps)
    // pixel (x=3, y=2) of frame 1 through the bottom-up DIB layout
    val stride = Multimodal.VideoW * 3
    val off = (Multimodal.VideoH - 1 - 2) * stride + 3 * 3
    assert((clip.frames(1)(off) & 0xff) === Multimodal.videoPixel(id, 1, 3, 2))
    // header/payload consistency: a tampered avih frame count must not
    // parse (the 32-bit LE count sits 24 bytes into the avih body; the
    // avih chunk follows RIFF(12) + LIST hdr(12) + 'avih'+size(8))
    val tampered = bytes.clone()
    tampered(12 + 12 + 8 + 16) = (clip.nFrames + 1).toByte
    intercept[IllegalArgumentException](Multimodal.parseAvi(tampered))
    // sampling arithmetic on the registered query: ceil(n / 4) rows/clip
    val rows = Multimodal.q144VideoFrames(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(4)))
    rows.groupBy(_._1).foreach { case (mid, fs) =>
      val n = Multimodal.videoFrames(mid)
      assert(fs.forall(_._2 === n))
      assert(fs.length === (n + Multimodal.VideoSampleEvery - 1) /
        Multimodal.VideoSampleEvery, s"clip $mid sampled ${fs.length}")
      assert(fs.map(_._3).sorted.toSeq ===
        (0 until n by Multimodal.VideoSampleEvery).toSeq)
    }
  }

  /** q143: the energy-contour fingerprint must pull a PERTURBED clip (the
    * planted small additive hum) within the Hamming ≤ 3 near-dup bound of
    * its source while keeping an unrelated clip far — the audio analogue
    * of the planted-PNG dHash test, over the REAL WAV decode path.
    */
  test("audio fingerprint pairs a perturbed clip with its source, not strangers") {
    import spark.implicits._
    val srcId = 42L
    val clips = Seq(
      (srcId, Multimodal.wavBytes(srcId)),
      // the q143 planted perturbation, applied to clip 42 directly
      (srcId + Multimodal.AudioPertBase,
        Multimodal.wavBytesOf(Multimodal.audioLen(srcId), i =>
          Multimodal.audioSample(srcId, i) +
            (if (i % Multimodal.AudioPertEvery == 0) Multimodal.AudioPertAmp
             else 0))),
      (7L, Multimodal.wavBytes(7L)) // unrelated clip, same length class
    ).toDF("media_id", "media")
    val fps = Multimodal.audioFingerprints(clips).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val near = ham(fps(srcId), fps(srcId + Multimodal.AudioPertBase))
    val far = ham(fps(srcId), fps(7L))
    assert(near <= 3, s"perturbed twin drifted to Hamming $near")
    assert(far > 3, s"unrelated clip landed at Hamming $far")
    // and the registered profile reports the planted pair on the fixture:
    // every perturbed id has >= 1 neighbor at these constants (measured)
    val prof = Multimodal.q143AudioNeardup(spark, dir)
      .filter(org.apache.spark.sql.functions.col("media_id") >=
        Multimodal.AudioPertBase)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(prof.nonEmpty && prof.forall(_._2 >= 1),
      s"planted twins missing neighbors: ${prof.filter(_._2 < 1).mkString(",")}")
  }
}
