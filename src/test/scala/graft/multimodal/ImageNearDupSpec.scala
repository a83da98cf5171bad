package graft.multimodal

import graft.SparkSpec
import graft.dedup.Dedup
import org.apache.spark.sql.Row

/** Perceptual-hash (dHash) image near-dup: hash invariances on the pure
  * function, then the banded pair pipeline end-to-end on planted
  * duplicates — identical images, lossy JPEG re-encodes, and a 2x
  * nearest-neighbor upscale must pair; unrelated images must not.
  */
class ImageNearDupSpec extends SparkSpec {

  /** Content-rich deterministic frame (quadratic pattern — diverse
    * brightness comparisons, unlike the linear gradient of rawRgbFrame
    * whose dHash would be constant across seeds).
    */
  private def quadRgb(w: Int, h: Int, seed: Int): Array[Byte] = {
    val out = new Array[Byte](w * h * 3)
    var i = 0
    while (i < w * h) {
      val v = (i * i * 3 + i * seed + seed * seed) & 0xff
      out(i * 3) = v.toByte; out(i * 3 + 1) = v.toByte; out(i * 3 + 2) = v.toByte
      i += 1
    }
    out
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("dHash64 is invariant under exact 2x nearest-neighbor upscale") {
    val (w, h) = (18, 16)
    val src = quadRgb(w, h, 7)
    val up = new Array[Byte](w * 2 * h * 2 * 3)
    var y = 0
    while (y < h * 2) {
      var x = 0
      while (x < w * 2) {
        val si = ((y / 2) * w + x / 2) * 3
        val di = (y * (w * 2) + x) * 3
        up(di) = src(si); up(di + 1) = src(si + 1); up(di + 2) = src(si + 2)
        x += 1
      }
      y += 1
    }
    // floor(floor(c*2w/9)/2) == floor(c*w/9), so the sampled grid is
    // identical and the hash must be bit-equal, not merely close
    assert(BinaryOps.dHash64(src, w, h) == BinaryOps.dHash64(up, w * 2, h * 2))
  }

  test("dHash64: JPEG re-encode stays within a few bits; distinct content is far") {
    val (w, h) = (36, 32)
    val a = quadRgb(w, h, 3)
    val hashA = BinaryOps.dHash64(a, w, h)
    val Some((_, _, aJpeg)) = BinaryOps.decodeJpeg(BinaryOps.encodeImage("jpg", w, h, a))
    val hashAJpeg = BinaryOps.dHash64(aJpeg, w, h)
    assert(hamming(hashA, hashAJpeg) <= 10,
      s"JPEG re-encode moved the hash ${hamming(hashA, hashAJpeg)} bits")
    val hashB = BinaryOps.dHash64(quadRgb(w, h, 101), w, h)
    assert(hamming(hashA, hashB) > 10,
      s"unrelated images only ${hamming(hashA, hashB)} bits apart")
  }

  test("imageNearDupPairs finds planted dups (exact, jpeg re-encode, upscale) and no false pairs") {
    val (w, h) = (36, 32)
    val base = quadRgb(w, h, 3)
    val png = BinaryOps.encodeImage("png", w, h, base)
    val jpg = BinaryOps.encodeImage("jpg", w, h, base)
    val up = BinaryOps.encodeImage("png", w * 2, h * 2,
      BinaryOps.resizeNearest(base, w, h, w * 2, h * 2))
    val far1 = BinaryOps.encodeImage("png", w, h, quadRgb(w, h, 101))
    val far2 = BinaryOps.encodeImage("png", w, h, quadRgb(w, h, 57))
    val rows = Seq((1L, png), (2L, jpg), (3L, up), (4L, far1), (5L, far2))
    val df = spark.createDataFrame(rows).toDF("id", "img")
    val pairs = Dedup.imageNearDupPairs(df, "id", "img", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"png~jpeg pair missing: $pairs")
    assert(pairs.contains((1L, 3L)), s"png~upscale pair missing: $pairs")
    assert(pairs.contains((2L, 3L)), s"jpeg~upscale pair missing: $pairs")
    assert(!pairs.exists(p => p._1 >= 4L || p._2 >= 4L),
      s"false pair against unrelated images: $pairs")
  }

  test("imageNearDupPairs: non-image payloads drop out instead of failing") {
    val (w, h) = (18, 16)
    val png = BinaryOps.encodeImage("png", w, h, quadRgb(w, h, 3))
    val rows = Seq(
      Row(1L, png), Row(2L, png),
      Row(3L, "not an image".getBytes("UTF-8")), Row(4L, null))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("img", org.apache.spark.sql.types.BinaryType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val pairs = Dedup.imageNearDupPairs(df, "id", "img")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("neardupFixturePng matches the oracle's exact-integer closed form at big ids") {
    // regression for the r12 sf1-sweep find: (id/2).toInt overflowed for
    // ids past 2^31 (replica offsets are i*1e9), flipping moduli negative
    // and silently diverging from the DuckDB oracle's pixel formula
    for (id <- Seq(0L, 1L, 1641L, 1000000007L, 5000001641L, 9000001642L)) {
      val png = BinaryOps.neardupFixturePng(id)
      val (w, h, rgb) = BinaryOps.decodeImageRgbBytes(png).get
      assert((w, h) == (9, 8))
      val grp = id / 2
      val odd = id % 2 == 1
      (0 until 72).foreach { i =>
        var v = Math.floorMod(i * i * 3 + i * Math.floorMod(grp, 97L) + grp * 11L, 256L).toInt
        if (odd && Math.floorMod(i * 7 + grp, 13L) == 0L) v = (v + 5) % 256
        assert((rgb(i * 3) & 0xff) == v, s"id=$id px=$i")
      }
    }
  }

  test("maxHamming = 0 blocks on the whole 64-bit signature") {
    // one 64-bit band: its mask must keep every bit — a zero mask sends
    // every image to one bucket, which the cap then drops whole
    val (w, h) = (36, 32)
    val a = BinaryOps.encodeImage("png", w, h, quadRgb(w, h, 3))
    val b = BinaryOps.encodeImage("png", w, h, quadRgb(w, h, 101))
    val df = spark.createDataFrame(Seq((1L, a), (2L, a), (3L, b))).toDF("id", "img")
    val pairs = Dedup.imageNearDupPairs(df, "id", "img", maxHamming = 0, maxBucketSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0)))
  }

  test("bucket cap drops degenerate (e.g. solid-color) floods") {
    val (w, h) = (18, 16)
    // 30 identical solid images all share every band: over any cap < 30
    // the flood is dropped, while a distinct planted pair still pairs
    val solid = BinaryOps.encodeImage("png", w, h, Array.fill(w * h * 3)(100.toByte))
    val pair = BinaryOps.encodeImage("png", w, h, quadRgb(w, h, 3))
    val rows = (1L to 30L).map(i => (i, solid)) ++ Seq((31L, pair), (32L, pair))
    val df = spark.createDataFrame(rows).toDF("id", "img")
    val pairs = Dedup.imageNearDupPairs(df, "id", "img", maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((31L, 32L)), s"expected only the planted pair: $pairs")
  }
}
