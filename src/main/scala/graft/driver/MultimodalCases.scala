package graft
package driver

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.driver.Fixtures._

/** Multimodal plumbing (§2.6): media synthesis, decode and image near-dup. */
object MultimodalCases {

  /** doc_id-keyed near-dup PNG fixture, materialized ONCE per sfDir to /tmp
    * parquet and re-read from there: the synthesis udf is deterministic but
    * dominates the operator's runtime, and image corpora arrive from storage
    * in production — benches (reps, scale curves) should measure the
    * near-dup operator over a scanned binary column, not PNG encoding.
    */
  private def imageFixture(s: SparkSession, dir: String): DataFrame = {
    val path = s"/tmp/graft_fixtures/imgs_${sfTag(dir)}"
    // layout note (r21): a multi-file fixture was tried and REVERTED — the
    // downstream operator is persist-based (banded cache + self-join), and
    // a 32-block unmaterialized cache under AQE's concurrent stage futures
    // measured ~2.3x WORSE than the single-file layout (bench 1.15→2.61 s;
    // details in OPTIMIZATION_r21.md "negative results").
    ensureFixture(path, sourceToken(dir, "documents")) {
      val mkPng = udf((id: Long) => graft.multimodal.BinaryOps.neardupFixturePng(id))
      Tables.load(s, dir, "documents")
        .select(col("doc_id"), mkPng(col("doc_id")).as("img"))
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  val cases: Seq[Case] = Seq(
    // §2.6 multimodal plumbing end-to-end: synthesize deterministic media
    // per doc, decode header metadata batch-wise, stride-sample frames.
    // Metadata is arithmetic on doc_id, so DuckDB can oracle the result.
    Case("q_multimodal", (s, dir) => {
      import graft.multimodal.BinaryOps
      val mk = udf((id: Long) => BinaryOps.fakeImage(
        (id % 16 + 1).toInt, (id % 8 + 1).toInt, (id % 4 + 1).toInt))
      val media = Tables.load(s, dir, "documents")
        .select(col("doc_id"), mk(col("doc_id")).as("content"))
      BinaryOps.sampleFrames(BinaryOps.decodeMeta(media, "content", "meta"), "meta", stride = 2)
        .select(col("doc_id"), col("frame_idx"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy("doc_id", "frame_idx")
    }, oracle =
      """SELECT doc_id,
        |  CAST(unnest(range(0, doc_id % 4 + 1, 2)) AS INTEGER) AS frame_idx,
        |  CAST(doc_id % 16 + 1 AS INTEGER) AS width,
        |  CAST(doc_id % 8 + 1 AS INTEGER) AS height
        |FROM documents ORDER BY doc_id, frame_idx""".stripMargin),

    // §2.6 REAL media decode end-to-end (VERDICT r6 #1): per doc,
    // synthesize PNG + JPEG (ImageIO writers) + WAV (RIFF PCM16) + MJPEG
    // AVI (RIFF writer, r7) from deterministic doc_id-derived content,
    // decode back through the four real codec paths (in-repo PNG
    // Inflater, javax.imageio JPEG, javax.sound WAV, RIFF walk + ImageIO
    // per AVI frame), digest the decoded pixels/samples. The oracle is
    // a golden-vector table: digests depend only on doc_id % 16, and the
    // JDK codecs are deterministic for fixed input on a fixed JRE.
    Case("q_media_decode", (s, dir) => {
      import graft.multimodal.BinaryOps
      val mkPng = udf((id: Long) => {
        val w = (id % 16 + 1).toInt; val h = (id % 8 + 1).toInt
        BinaryOps.encodeImage("png", w, h, BinaryOps.rawRgbFrame(w, h))
      })
      val mkJpg = udf((id: Long) => {
        val w = (id % 16 + 1).toInt; val h = (id % 8 + 1).toInt
        BinaryOps.encodeImage("jpg", w, h, BinaryOps.rawRgbFrame(w, h))
      })
      val mkWav = udf((id: Long) => {
        val w = (id % 16 + 1).toInt; val h = (id % 8 + 1).toInt
        BinaryOps.fakeWav(8000, 1, w * h * 10)
      })
      val mkAvi = udf((id: Long) => {
        val w = (id % 16 + 1).toInt; val h = (id % 8 + 1).toInt
        BinaryOps.fakeAvi(w, h, 3)
      })
      val base = Tables.load(s, dir, "documents").select(col("doc_id"),
        mkPng(col("doc_id")).as("png"), mkJpg(col("doc_id")).as("jpg"),
        mkWav(col("doc_id")).as("wav"), mkAvi(col("doc_id")).as("avi"))
      val dec = BinaryOps.decodeVideoFrames(
        BinaryOps.decodeWavSamples(
          BinaryOps.decodeImageRgb(
            BinaryOps.decodeImageRgb(base, "png", "png_px"), "jpg", "jpg_px"),
          "wav", "wav_s"),
        "avi", "avi_f")
      dec.select(col("doc_id"),
          md5(col("png_px")).as("png_digest"),
          md5(col("jpg_px")).as("jpg_digest"),
          md5(col("wav_s.pcm")).as("wav_digest"),
          col("wav_s.n_samples").as("wav_frames"),
          md5(concat(element_at(col("avi_f"), 1).getField("rgb"),
            element_at(col("avi_f"), 2).getField("rgb"),
            element_at(col("avi_f"), 3).getField("rgb"))).as("avi_digest"),
          size(col("avi_f")).as("avi_frames"))
        .orderBy("doc_id")
    }, oracle =
      // Golden-vector oracle: decoded-media digests depend only on
      // doc_id % 16 (the synthesis parameters); values were computed once
      // from the real decode paths and pinned (JDK codecs are deterministic).
      """WITH g(m, png_digest, jpg_digest, wav_digest, avi_digest) AS (VALUES
        |(0, '693e9af84d3dfcc71e640e005bdc5e2e', '693e9af84d3dfcc71e640e005bdc5e2e', '7807427774d5b35604f5ae4c65b35282', '11b461f55c17e4c67be9d2917bfd08d8'),
        |(1, 'e17158222aec6d466e5121e14e23ce83', '9a131a557b238e3cacbfb9f087219556', '3bf1b7aafd8f643584e3f8de7c0af80a', '341df35866add2820a89a0bea50c4731'),
        |(2, '612d0b2f6e8252229cce58dc1516e483', '36602677cebc5ac661fcf525c3e82988', '5774314ac21bd3d4e2ce597ef36a33bf', '462ebd78b254244d48a74a4d43ef9f47'),
        |(3, '98daf3ea7c45a824dc6e44e23821eca8', '27a0c7852819c5d4c497ec6030cb0458', '9a79d547e39273c7cb733870ec325467', '5bf46d72b516199f0c6ea9ba2ef67fd6'),
        |(4, 'b1a531aaec0f4c404a07f6f34ae9d1be', 'aa66e23c41f25d71b1555a1ac56c4c53', 'b46c5afa6798acb2c0b67e9a4a163932', 'a910ea2b4f7d42c1ca53de69aff21039'),
        |(5, 'c44b7f54a868eb0e91c4f9665af6e87f', '456c91d421b0807af73043f747fc4488', 'ba7e60b9cae9612c4c0be0f2ef598f05', 'b56e7b1ea97df29f700a56193bcaf7b7'),
        |(6, 'acc7104aac5cff6b2d7156b9f5cce0cf', '4a6b0f5af859c0f9c4e503303f2829a9', 'ef88f63c505d55ad37962ad1eb0b0bc9', 'e68161ead0246dd6617680a986752ed6'),
        |(7, 'a7f9a666f6dd4ca64e0aeba1a548ffcf', '7fad4f81788a4935a3aae082af17f7ac', 'ffd50b0746a48bf92f57b82466bdab9f', '34e6420e8f48ee14f7ce1283f2841387'),
        |(8, '612d0b2f6e8252229cce58dc1516e483', 'bd70d170931174b57871abb381359ed0', '5774314ac21bd3d4e2ce597ef36a33bf', '2fd5076441bb4c3a68f3d22416b393e2'),
        |(9, '3902df23397646bcf5388d56bcf8cb52', '37d20efbae4308882f77ee133f0493b9', 'b7d3face5899332fa7dce18890567c52', '7422b33617c51305a64e9bc7430e6440'),
        |(10, '3685de7ce759dde8eb3d62973bf9e573', '6ab9f8bd6a651c7f93e8b97157cf1187', '91027d0f77d6ddf4727822ba3cf62257', '287d30e38104ea40723d762fa7ea338f'),
        |(11, '2a249bf3874d7a911f80153884de96d4', '8561759fb315a1db02c6ef72ecd475a5', '4de920044bbbb85e84ecd9429ca5cede', '12fd6da7806473c32070efd9b800cd29'),
        |(12, '3a6c747bb7bfad6dffd8e6dc33e72735', 'caefd885ad23441d2bdf02908649a497', '4c1ceb63c15571cd0475c14eeafc85f6', '32f082c50f31f34ef3fd36b3b44bc4c9'),
        |(13, '5d371212bded5c731dc9b0e9afe4c5bf', '2b86541ca9a8f1c160704c8588915b59', '0b156c94be64de76358a3c5a6dae8567', 'e8f8025f0584adbafe086494be7969be'),
        |(14, 'a9310e413fe17b896e499e2613c86d21', '0b8a65fc1e2ff89bda0fd3c6df89edf5', '682cb6c0edd157fbf80b67e4534d179e', 'aa3b4cc7e06fd76d9b5509bb48e3f4b8'),
        |(15, '64d29ef5647de0558890fb0ae8fa8cdc', 'b179911ddfb52f155969cddb6a581567', '04b7373a7261d0a5fb6c4d23e6035529', '3d15184fa2426434ab8f5d61284c6ecd'))
        |SELECT d.doc_id, g.png_digest, g.jpg_digest, g.wav_digest,
        |  CAST((d.doc_id % 16 + 1) * (d.doc_id % 8 + 1) * 10 AS INTEGER) AS wav_frames,
        |  g.avi_digest, CAST(3 AS INTEGER) AS avi_frames
        |FROM documents d JOIN g ON d.doc_id % 16 = g.m
        |ORDER BY d.doc_id""".stripMargin),

    // §2.6 image near-dup via perceptual hash — HASH-EXACT: images are
    // lossless PNGs of a closed-form 9x8 gray pattern (r=g=b makes the
    // BT.601 luma the pixel value exactly, and a 9x8 source makes the
    // dHash grid sampling the identity), consecutive doc_ids share a base
    // pattern with a few perturbed pixels (the planted near-dups), and
    // every stage — dHash bits, 11 pigeonhole bands, bucket cap, hamming
    // verify, greedy drop — is integer arithmetic DuckDB replays
    // independently.
    Case("q_image_neardup", (s, dir) => {
      val imgs = imageFixture(s, dir)
      val fanned = imgs.repartition(s.sparkContext.defaultParallelism)
      val pairs = Dedup.imageNearDupPairs(fanned, "doc_id", "img", maxHamming = 10)
      Dedup.dropNearDups(imgs, "doc_id", pairs).select("doc_id").orderBy("doc_id")
    }, oracle =
      // Full independent dHash near-dup recompute: the closed-form 9x8 gray
      // pixels, 64 right-neighbor comparisons, maxHamming+1=11 pigeonhole
      // bands (same i*64/11 offset arithmetic as Dedup.imageNearDupPairs),
      // 1000-cap buckets, hamming<=10 verify, greedy id_b drop.
      {
      val bandRows = (0 until 11).map { i =>
        val off = i * 64 / 11
        val width = (i + 1) * 64 / 11 - off
        s"($i, $off, ${(1L << width) - 1})"
      }.mkString(", ")
      raw"""WITH px AS (
        |  SELECT d.doc_id, i.i,
        |    ((i.i*i.i*3 + i.i*((d.doc_id//2) % 97) + (d.doc_id//2)*11) % 256
        |      + CASE WHEN d.doc_id % 2 = 1 AND (i.i*7 + d.doc_id//2) % 13 = 0 THEN 5 ELSE 0 END) % 256 AS v
        |  FROM documents d, (SELECT unnest(range(0, 72)) AS i) i
        |), grid AS (
        |  SELECT r.r, c.c FROM (SELECT unnest(range(0, 8)) AS r) r, (SELECT unnest(range(0, 8)) AS c) c
        |), sigs AS (
        |  SELECT p0.doc_id,
        |    sum(CASE WHEN p1.v > p0.v THEN (1::UBIGINT << (g.r*8 + g.c))::HUGEINT ELSE 0::HUGEINT END)::UBIGINT AS sig
        |  FROM grid g
        |  JOIN px p0 ON p0.i = g.r*9 + g.c
        |  JOIN px p1 ON p1.doc_id = p0.doc_id AND p1.i = g.r*9 + g.c + 1
        |  GROUP BY p0.doc_id
        |), bands AS (
        |  SELECT doc_id, sig, b.band_idx, (sig >> b.off) & b.mask::UBIGINT AS band_val
        |  FROM sigs, (VALUES $bandRows) b(band_idx, off, mask)
        |), capped AS (
        |  SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY band_idx, band_val) <= 1000
        |), pairs AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.sig AS sig_a, b.sig AS sig_b
        |  FROM capped a JOIN capped b USING (band_idx, band_val)
        |  WHERE a.doc_id < b.doc_id
        |), close_pairs AS (
        |  SELECT id_a, id_b FROM pairs WHERE bit_count(xor(sig_a, sig_b)) <= 10
        |)
        |SELECT d.doc_id FROM documents d
        |WHERE NOT EXISTS (SELECT 1 FROM close_pairs c WHERE c.id_b = d.doc_id)
        |ORDER BY doc_id""".stripMargin
    })
  )
}
