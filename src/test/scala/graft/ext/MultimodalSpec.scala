package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.SparkSuite

/** Multimodal plumbing: schema, determinism, partition-wise extraction. */
class MultimodalSpec extends SparkSuite {

  /** Decode-included twin of `dedup_audio_fp`: fingerprints decoded in
    * the same execution instead of read from the standing table. */
  private def audioFpPairs(media: Dataset[Multimodal.MediaRow],
      maxDist: Int): DataFrame =
    Multimodal.bandedHammingPairs(Multimodal.audioFingerprints(media),
      bands = 9, bits = 7, maxDist)

  test("media table: binary payload + typed metadata, stable schema") {
    val m = Multimodal.mediaTable(spark, sfDir)
    assert(m.schema.fieldNames.toSeq ==
      Seq("doc_id", "media_type", "n_bytes", "content"))
    val row = m.head()
    assert(row.content.nonEmpty && row.n_bytes == row.content.length)
    assert(Set("image", "audio", "video").contains(row.media_type))
  }

  test("decode stub is deterministic and fixed-width") {
    val bytes = "some media payload".getBytes("UTF-8")
    val a = Multimodal.decodeStub(bytes, 8)
    val b = Multimodal.decodeStub(bytes, 8)
    assert(a.toSeq == b.toSeq)
    assert(a.length == 8)
    assert(Multimodal.decodeStub("other".getBytes, 8).toSeq != a.toSeq)
  }

  test("feature extraction runs partition-wise and survives repartitioning") {
    val m = Multimodal.mediaTable(spark, sfDir)
    val f1 = Multimodal.extractFeatures(m).collect()
      .map(f => f.doc_id -> f.feature.toSeq).toMap
    val f2 = Multimodal.extractFeatures(m.repartition(7)).collect()
      .map(f => f.doc_id -> f.feature.toSeq).toMap
    assert(f1 == f2)
    assert(f1.values.forall(_.length == 8))
  }

  test("real image decode: PNG and BMP of the same raster give identical " +
      "features with true dimensions") {
    import java.awt.image.BufferedImage
    // 7×5 deterministic raster: pixel = f(x, y), all channels exercised
    val img = new BufferedImage(7, 5, BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 7)
      img.setRGB(x, y, ((x * 36) << 16) | ((y * 51) << 8) | (x * y * 7))
    def encoded(fmt: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, bos), s"no $fmt writer")
      bos.toByteArray
    }
    val spark0 = spark
    import spark0.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, "image", encoded("png").length, encoded("png")),
      Multimodal.MediaRow(2L, "image", encoded("bmp").length, encoded("bmp")),
      // not an image: must fall back to the stub, not throw
      Multimodal.MediaRow(3L, "image", 9, "not_a_png".getBytes("UTF-8")),
      // audio stays stubbed even if the payload IS a decodable image
      Multimodal.MediaRow(4L, "audio", encoded("png").length, encoded("png"))
    ).toDS()
    val f = Multimodal.extractFeatures(media).collect()
      .map(m => m.doc_id -> m.feature).toMap
    // true decoded dimensions + the "real decode" marker
    assert(f(1L)(0) == 7.0f && f(1L)(1) == 5.0f && f(1L)(7) == 1.0f)
    // channel means: x*36 over x=0..6 → mean 108; y*51 over y=0..4 → 102
    assert(f(1L)(3) == 108.0f && f(1L)(4) == 102.0f)
    // lossless formats of the same raster decode to the same pixels →
    // bit-identical features (incl. the pixel checksum)
    assert(f(1L).toSeq == f(2L).toSeq)
    // fallback and non-image rows use the stub (no marker semantics)
    assert(f(3L).toSeq == Multimodal.decodeStub("not_a_png".getBytes("UTF-8"), 8).toSeq)
    assert(f(4L).toSeq == Multimodal.decodeStub(encoded("png"), 8).toSeq)
  }

  test("synthetic image corpus: PNG round trip matches the closed form " +
      "including the pixel checksum the SQL oracle cannot state") {
    import org.apache.spark.sql.functions.col
    val media = Multimodal.syntheticImages(spark, sfDir)
      .filter(col("doc_id") < 100)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.nonEmpty)
    feats.foreach { m =>
      val id = m.doc_id
      val (w, h) = ((2 + id % 7).toInt, (2 + id % 5).toInt)
      val p = ((id % 256).toInt << 16) | ((id * 7 % 256).toInt << 8) |
        (id * 13 % 256).toInt
      var crc = 1L
      (0 until w * h).foreach(_ => crc = crc * 31 + p)
      val f = m.feature
      assert(f(0) == w.toFloat && f(1) == h.toFloat)
      assert(f(2) == ((crc >>> 16) & 0xFFFFFF).toFloat, s"checksum, id=$id")
      assert(f(3) == (id % 256).toFloat && f(4) == (id * 7 % 256).toFloat &&
        f(5) == (id * 13 % 256).toFloat)
      assert(f(7) == 1.0f, "real decode marker")
    }
  }

  test("synthetic audio corpus: WAV round trip through the real RIFF " +
      "parser matches the closed form") {
    import org.apache.spark.sql.functions.col
    val media = Multimodal.syntheticAudio(spark, sfDir)
      .filter(col("doc_id") < 100)
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.nonEmpty)
    feats.foreach { m =>
      val id = m.doc_id
      val n = (64 + id % 128).toInt
      val samples = (0 until n).map(i => (id * 31 + i * 17) % 256 - 128)
      val f = m.feature
      assert(f(0) == n.toFloat && f(1) == 8000f && f(2) == 1f)
      assert(f(3) == samples.sum.toFloat, s"sum, id=$id")
      assert(f(4) == samples.map(s => s * s).sum.toFloat, s"sumsq, id=$id")
      assert(f(5) == samples.map(math.abs).max.toFloat)
      assert(f(7) == 1.0f, "real decode marker")
    }
  }

  test("audio decode: non-WAV bytes fall back to the stub, never throw") {
    assert(Multimodal.decodeAudio("definitely not RIFF".getBytes, 8).isEmpty)
    assert(Multimodal.decodeAudio(Array[Byte](), 8).isEmpty)
  }

  test("video decode: MJPEG AVI round trip through the independent RIFF " +
      "walk — counts, dims, timing exact; truncation detected") {
    // hand-built clip: 3 frames of a 24×16 solid JPEG at 25 fps
    val img = new java.awt.image.BufferedImage(
      24, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 24) img.setRGB(x, y, 0x608050)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpeg = bos.toByteArray
    val avi = Multimodal.buildAvi(24, 16, 40000, Seq.fill(3)(jpeg))
    val f = Multimodal.decodeVideo(avi, 8).get
    assert(f(0) == 3f, "frames observed in movi")
    assert(f(1) == 24f && f(2) == 16f, "decoded frame-0 dimensions")
    assert(f(3) == 40000f, "µs per frame from avih")
    val lum = 0.299 * 0x60 + 0.587 * 0x80 + 0.114 * 0x50
    assert(math.abs(f(4) - lum) <= 4.0, s"luma ${f(4)} vs $lum")
    assert(f(5) == 2f, "every-2nd-frame sampling decodes ceil(3/2) frames")
    assert(f(6) == 3f && f(7) == 1f, "header agrees; real-decode marker")

    // truncation mid-movi: the walk stops cleanly at the cut, so the
    // observed frame count drops below the header claim — exactly the
    // header_consistent=false signal the declared query would emit
    val cut = avi.take(avi.length - jpeg.length / 2)
    val t = Multimodal.decodeVideo(cut.toArray, 8).get
    assert(t(0) == 2f && t(6) == 3f, "truncated clip: 2 parsed vs 3 claimed")
  }

  test("video decode: word-aligned odd-size chunks parse correctly") {
    // JPEG payloads are frequently odd-length; force one explicitly so
    // the RIFF pad byte is exercised no matter what the encoder emits
    val img = new java.awt.image.BufferedImage(
      16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, 0x707070)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val base = bos.toByteArray
    // ImageIO tolerates trailing garbage after EOI, so parity is ours
    val odd = if (base.length % 2 == 1) base else base :+ 0.toByte
    val avi = Multimodal.buildAvi(16, 16, 50000, Seq(odd, odd, odd, odd))
    val f = Multimodal.decodeVideo(avi, 8).get
    assert(f(0) == 4f && f(1) == 16f && f(5) == 2f,
      "all four odd-size frames must be found and the sampled half decode")
  }

  test("scene cuts: hand-built two-scene clip flags exactly the planted " +
      "boundary; a single-scene clip flags none") {
    import spark.implicits._
    def solid(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val a = solid(0x404040); val b = solid(0x808080)
    // clip 1: A A A B B (cut at frame 3); clip 2: A A A A (no cut)
    val clips = Seq(
      Multimodal.MediaRow(1L, "video", 0,
        Multimodal.buildAvi(16, 16, 20000, Seq(a, a, a, b, b))),
      Multimodal.MediaRow(2L, "video", 0,
        Multimodal.buildAvi(16, 16, 20000, Seq(a, a, a, a))))
    val got = Multimodal.videoSceneCuts(clips.toDS(), threshold = 24.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1 else r.getInt(3))).toSeq
    assert(got == Seq((1L, 5L, 1L, 3), (2L, 4L, 0L, -1)))
  }

  test("scene cuts: standing luma-table path ≡ decode-included path " +
      "row-for-row on the cut-video corpus") {
    val standing = Multimodal.sceneCutsFromLumas(
        Multimodal.videoLumaTable(spark, sfDir), threshold = 24.0)
      .collect().toSeq
    val decoded = Multimodal.videoSceneCuts(
        Multimodal.syntheticCutVideos(spark, sfDir), threshold = 24.0)
      .collect().toSeq
    assert(standing.nonEmpty)
    assert(standing == decoded)
  }

  test("video decode: non-AVI bytes fall back to the stub, never throw") {
    assert(Multimodal.decodeVideo("not a RIFF at all".getBytes, 8).isEmpty)
    assert(Multimodal.decodeVideo(Array[Byte](), 8).isEmpty)
    // RIFF but not AVI (a WAV header) must be rejected by the form check
    val wavish = "RIFF".getBytes ++ Array[Byte](8, 0, 0, 0) ++
      "WAVE".getBytes ++ Array[Byte](0, 0, 0, 0)
    assert(Multimodal.decodeVideo(wavish, 8).isEmpty)
  }

  test("offset sampling: stride arithmetic on the binary column") {
    val s = Multimodal.sampleOffsets(Multimodal.mediaTable(spark, sfDir), 10)
      .collect()
    s.foreach { r =>
      val offs = r.getSeq[Int](2)
      assert(offs.head == 0 && offs.forall(_ % 10 == 0))
    }
  }

  test("resize: nearest-neighbor picks the exact source pixels (4x4 -> 2x2)") {
    import spark.implicits._
    // quadrant image: TL=10, TR=20, BL=30, BR=40 (gray levels); 2x2
    // output samples src (0,0),(2,0),(0,2),(2,2) = one per quadrant
    val img = new java.awt.image.BufferedImage(4, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 4) {
      val g = (if (y < 2) 10 else 30) + (if (x < 2) 0 else 10)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val media = Seq(Multimodal.MediaRow(1L, "image", bos.size(), bos.toByteArray)).toDS()
    val r = Multimodal.resizeFeatures(media, 2, 2).head()
    assert((r.getInt(1), r.getInt(2)) === (2, 2))
    // mean of {10, 20, 30, 40} = 25 exactly, every channel
    assert((r.getDouble(3), r.getDouble(4), r.getDouble(5)) === (25.0, 25.0, 25.0))
    assert(r.getBoolean(6))
  }

  test("dHash: decode of a gradient PNG reproduces the encoded 64 bits") {
    // round-trip with hand-picked patterns, not md5: all-zero, all-one,
    // alternating, one lone bit — the encode/decode bit order must agree
    for (t <- Seq(0L, -1L, 0x5555555555555555L, 1L << 37, 0x00ff00ff00ff00ffL)) {
      val png = Multimodal.gradientPng(t)
      assert(Multimodal.dHash64(png) === Some(t),
        s"dHash round-trip broke for ${t.toHexString}")
    }
  }

  test("dHash: corpus fingerprints equal their md5 targets end-to-end") {
    // the full distributed path (synthesize → decode → downsample →
    // hash) must land exactly on targetDHash for every image doc
    import spark.implicits._
    val ids = Seq(3L, 6L, 21L, 4242L)
    val media = ids.toDF("doc_id").as[Long].map { id =>
      val b = Multimodal.gradientPng(Multimodal.targetDHash(id))
      Multimodal.MediaRow(id, "image", b.length, b)
    }
    val got = Multimodal.imageDHashes(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach(id => assert(got(id) === Multimodal.targetDHash(id)))
  }

  test("image phash: planted near-dups are all recalled at hamming 1, " +
      "exact copies at hamming 0") {
    import spark.implicits._
    val base = (1L to 40L).map { i =>
      val b = Multimodal.gradientPng(Multimodal.targetDHash(i))
      Multimodal.MediaRow(i, "image", b.length, b)
    }
    // 1-bit perturbations (near) and exact copies of the first 10
    val near = (1L to 10L).map { i =>
      val b = Multimodal.gradientPng(Multimodal.targetDHash(i) ^ (1L << (i % 64)))
      Multimodal.MediaRow(100 + i, "image", b.length, b)
    }
    val exact = (11L to 20L).map { i =>
      val b = Multimodal.gradientPng(Multimodal.targetDHash(i))
      Multimodal.MediaRow(100 + i, "image", b.length, b)
    }
    val pairs = Multimodal.imagePhashPairs(
        spark.createDataset(base ++ near ++ exact), maxDist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    (1L to 10L).foreach(i => assert(pairs((i, 100 + i)) === 1,
      s"planted 1-bit pair $i missed or mis-distanced"))
    (11L to 20L).foreach(i => assert(pairs((i, 100 + i)) === 0,
      s"planted exact pair $i missed or mis-distanced"))
    // md5-uniform corpus: no spurious base-base pair within maxDist
    assert(pairs.keys.forall { case (a, b) => b > 100 },
      s"unexpected corpus-corpus near-pairs: ${pairs.keys.filter(_._2 <= 100)}")
  }

  test("aHash: solid image hashes to zero; exact copies agree; a bright " +
      "half lights exactly its rows") {
    // solid: no pixel exceeds the mean (64·g == s) → all bytes 0
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) {
        val v = f(x, y); img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val solid = Multimodal.aHash8(png((_, _) => 100)).map(_.toSeq)
    assert(solid === Some(Seq.fill(8)(0)))
    // top half bright: rows 0-3 all above the mean, rows 4-7 all below
    val half = Multimodal.aHash8(png((_, y) => if (y < 4) 200 else 50)).get
    assert(half.toSeq === Seq(255, 255, 255, 255, 0, 0, 0, 0))
    val a = Multimodal.aHash8(Multimodal.gradientPng(Multimodal.targetDHash(42L)))
      .map(_.toSeq)
    val b = Multimodal.aHash8(Multimodal.gradientPng(Multimodal.targetDHash(42L)))
      .map(_.toSeq)
    assert(a === b && a.isDefined)
  }

  test("resize: undecodable bytes fall through flagged, not thrown") {
    import spark.implicits._
    val junk = Seq(Multimodal.MediaRow(2L, "image", 4, Array[Byte](1, 2, 3, 4))).toDS()
    val r = Multimodal.resizeFeatures(junk, 2, 2).head()
    assert(!r.getBoolean(6) && r.getInt(1) === 0)
  }

  test("audio fingerprint: gain-invariant (the near-dup property), " +
      "DC-shift-sensitive, and byte-order exact") {
    val s = Array(10, -20, 30, -5, 0, 7, -7, 100, -99, 3)
    val fp = Multimodal.energyDiffFingerprint(s)
    // positive gain preserves every |s(i+1)| > |s(i)| comparison
    assert(Multimodal.energyDiffFingerprint(s.map(_ * 3)) === fp)
    // a large DC shift reorders amplitudes -> different fingerprint
    assert(Multimodal.energyDiffFingerprint(s.map(_ + 50)) !== fp)
    // hand value: bits where |next| > |cur|
    val expect = (0 until 9).foldLeft(0L) { (acc, i) =>
      if (math.abs(s(i + 1)) > math.abs(s(i))) acc | (1L << i) else acc
    }
    assert(fp === expect)
  }

  test("video fingerprint: real AVI+JPEG decode recovers the md5 target " +
      "bits exactly; planted pairs recalled at hamming 1") {
    val fps = Multimodal.videoFingerprints(
      Multimodal.syntheticVideoPairs(spark, sfDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps.nonEmpty)
    fps.foreach { case (id, fp) =>
      val p = (id - 2) / 3
      val want = Multimodal.videoTarget62(p / 2) ^ (p % 2)
      assert(fp === want, s"JPEG-noise margin breached for clip $id")
      assert(fp >= 0L && fp < (1L << 62),
        s"fingerprint must stay in the sign-safe 62-bit space: $id")
    }
    val pairs = Multimodal.videoFpPairs(
      Multimodal.syntheticVideoPairs(spark, sfDir), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = fps.keys.filter { id =>
      (id - 2) / 3 % 2 == 0 && fps.contains(id + 3)
    }.map(id => (id, id + 3)).toSet
    assert(planted.nonEmpty)
    val found = pairs.map(p => (p._1, p._2)).toSet
    assert(planted.subsetOf(found), "pigeonhole banding must recall every pair")
    pairs.filter(p => planted((p._1, p._2)))
      .foreach(p => assert(p._3 === 1, s"planted flip is exactly 1 bit: $p"))
  }

  test("standing fingerprint tables serve the decode path's exact rows " +
      "(memoized decode = index build, query = banded join)") {
    // video: standing-table pairs ≡ decode-included pairs, row for row
    val viaMemo = Multimodal.bandedHammingPairs(
      Multimodal.videoFpTable(spark, sfDir), bands = 4, bits = 16, maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val viaDecode = Multimodal.videoFpPairs(
      Multimodal.syntheticVideoPairs(spark, sfDir), maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(viaMemo === viaDecode)
    // audio: same contract on the audio axis
    val aMemo = Multimodal.bandedHammingPairs(
      Multimodal.audioFpTable(spark, sfDir), bands = 9, bits = 7, maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val aDecode = audioFpPairs(
      Multimodal.syntheticAudioPairs(spark, sfDir), maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(aMemo === aDecode)
    // image dHash (phash): standing-table planted report ≡ the
    // decode-included twin, row for row
    val pMemo = Multimodal.imagePhashPlantedQuery(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val pDecode = Multimodal.imagePhashPlantedDecodeQuery(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(pMemo === pDecode)
    assert(pMemo.nonEmpty)
    // image aHash: standing table ≡ per-execution decode
    val iMemo = Multimodal.imageAHashTable(spark, sfDir)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.toSeq).toSeq
    val iDecode = Multimodal.imageAHashes(spark, sfDir)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))
      .collect().map(_.toSeq).toSeq
    assert(iMemo === iDecode)
    // and the standing-table query plan decodes NOTHING: it is a scan
    // of the memoized parquet (no SerializeFromObject from a
    // mapPartitions decode stage anywhere in the plan)
    val plan = Multimodal.bandedHammingPairs(
      Multimodal.videoFpTable(spark, sfDir), 4, 16, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject"), plan)
  }

  test("audio near-dup: real WAV decode reproduces the closed-form " +
      "fingerprints; every planted pair recalled at hamming <= 4") {
    // decode-path differential: fingerprint(decode(wav)) must equal the
    // fingerprint computed straight from the md5 closed form
    val viaWav = Multimodal.syntheticAudioPairs(spark, sfDir)
      .collect().map { r =>
        val s = Multimodal.audioSamples(r.content).get
        r.doc_id -> Multimodal.energyDiffFingerprint(s)
      }.toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    def closedForm(id: Long): Long = {
      val p = (id - 1) / 3; val g = p / 2; val m = p % 2
      val s = (0 until 64).map { i =>
        val blk = md.digest(s"aud:$g:${i / 16}".getBytes("UTF-8"))
        (blk(i % 16) & 0xFF) - 128 + (if (m == 1 && i < 4) 3 else 0)
      }.toArray
      Multimodal.energyDiffFingerprint(s)
    }
    assert(viaWav.nonEmpty)
    viaWav.foreach { case (id, fp) =>
      assert(fp === closedForm(id), s"decode drift for clip $id")
    }
    // planted recall through the declared banded-join surface
    val pairs = audioFpPairs(
      Multimodal.syntheticAudioPairs(spark, sfDir), maxDist = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = viaWav.keys.filter { id =>
      val p = (id - 1) / 3; p % 2 == 0 && viaWav.contains(id + 3)
    }.map(id => (id, id + 3)).toSet
    assert(planted.nonEmpty)
    assert(planted.subsetOf(pairs.map(p => (p._1, p._2)).toSet),
      "every planted pair must be recalled (pigeonhole banding)")
    pairs.filter(p => planted((p._1, p._2))).foreach { p =>
      assert(p._3 <= 4, s"planted wobble flips at most 4 bits: $p")
    }
  }
}
