package graft

import graft.multimodal.Multimodal

/** Multimodal decode paths beyond the declared m* queries: pooled
  * frames, pooled images and windowed audio at parameters the queries
  * do not use, replayed from the closed-form generation formula, plus
  * the PNG/WAV/AVI codec round-trip and the AVI parser's format
  * handling. */
class MultimodalSpec extends SparkSpec {

  test("pooledFrames generalizes beyond the declared query: stride 3, 3x3 pool, ragged edges") {
    val docs = graft.core.Tables.documents(spark, sf)
    val media = Multimodal.fromDocuments(docs)
    val out = Multimodal.pooledFrames(media, every = 3, pool = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)) ->
        (r.getInt(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getDouble(8))).toMap
    assert(out.nonEmpty)
    // independent replay from the generation formula for a few videos
    val vids = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 3 == 2).take(5)
    for (id <- vids) {
      val w = Multimodal.Codec.vidW(id); val h = Multimodal.Codec.vidH(id)
      val nf = Multimodal.Codec.vidFrames(id)
      for (f <- 0 until nf by 3; by <- 0 until (h + 2) / 3; bx <- 0 until (w + 2) / 3) {
        val xs = (bx * 3) until math.min(bx * 3 + 3, w)
        val ys = (by * 3) until math.min(by * 3 + 3, h)
        val sums = Array.tabulate(3)(c =>
          (for (y <- ys; x <- xs) yield Multimodal.Codec.vidByte(id, f, x, y, c).toLong).sum)
        val nPx = xs.size * ys.size
        val got = out((id, f, bx, by))
        assert(got === ((nPx, sums(0), sums(1), sums(2),
          sums.sum.toDouble / (3 * nPx))), s"id=$id f=$f b=($bx,$by)")
      }
      // stride honored: no frame index that is not a multiple of 3
      assert(!out.keys.exists(k => k._1 == id && k._2 % 3 != 0))
    }
  }

  test("pooledImages generalizes beyond the declared query: 3x3 pool, ragged edges") {
    val docs = graft.core.Tables.documents(spark, sf)
    val media = Multimodal.fromDocuments(docs.filter("doc_id % 3 = 0"))
    val out = Multimodal.pooledImages(media, pool = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        (r.getInt(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out.nonEmpty)
    val imgs = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 3 == 0).take(5)
    for (id <- imgs) {
      val w = Multimodal.Codec.imgW(id); val h = Multimodal.Codec.imgH(id)
      for (by <- 0 until (h + 2) / 3; bx <- 0 until (w + 2) / 3) {
        val xs = (bx * 3) until math.min(bx * 3 + 3, w)
        val ys = (by * 3) until math.min(by * 3 + 3, h)
        val sum = (for (y <- ys; x <- xs) yield Multimodal.Codec.gray(id, x, y).toLong).sum
        val nPx = xs.size * ys.size
        assert(out((id, bx, by)) === ((nPx, sum, sum.toDouble / nPx)),
          s"id=$id b=($bx,$by)")
      }
    }
  }

  test("windowedAudio generalizes beyond the declared query: win 12, hop 5, ragged tail") {
    val docs = graft.core.Tables.documents(spark, sf)
    val media = Multimodal.fromDocuments(docs.filter("doc_id % 3 = 1"))
    val out = Multimodal.windowedAudio(media, win = 12, hop = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getInt(2), r.getInt(3), r.getLong(4), r.getInt(5), r.getInt(6),
          r.getDouble(7))).toMap
    assert(out.nonEmpty)
    val auds = docs.select("doc_id").collect().map(_.getLong(0))
      .filter(_ % 3 == 1).take(5)
    for (id <- auds) {
      val n = Multimodal.Codec.nSamples(id)
      val nw = (n + 4) / 5
      // exactly the expected frame set, none past the end
      assert(out.keys.count(_._1 == id) === nw)
      for (w <- 0 until nw) {
        val start = w * 5; val end = math.min(start + 12, n)
        val ss = (start until end).map(Multimodal.Codec.sample(id, _).toInt)
        val energy = ss.map(v => v.toLong * v).sum
        val zc = ss.sliding(2).count(p => p.size == 2 && (p(0) < 0) != (p(1) < 0))
        val peak = ss.map(math.abs).max
        assert(out((id, w)) === ((start, end - start, energy, zc, peak,
          energy.toDouble / (end - start))), s"id=$id w=$w")
      }
    }
  }

  test("codec round-trip: PNG, WAV, and AVI decode back to the generation formula") {
    for (id <- Seq(0L, 3L, 57L, 498L)) { // image-kind ids (id % 3 == 0 not required for the codec itself)
      val (n, sums) = Multimodal.decodeSums("image", Multimodal.Codec.png(id), 8)
      val w = Multimodal.Codec.imgW(id); val h = Multimodal.Codec.imgH(id)
      assert(n === w * h)
      val want = new Array[Long](8)
      for (y <- 0 until h; x <- 0 until w)
        want((y * w + x) % 8) += Multimodal.Codec.gray(id, x, y).toLong
      assert(sums.toSeq === want.toSeq, s"png id=$id")
    }
    for (id <- Seq(1L, 4L, 58L, 499L)) {
      val (n, sums) = Multimodal.decodeSums("audio", Multimodal.Codec.wav(id), 8)
      assert(n === Multimodal.Codec.nSamples(id))
      val want = new Array[Long](8)
      for (i <- 0 until n) want(i % 8) += Multimodal.Codec.sample(id, i).toLong
      assert(sums.toSeq === want.toSeq, s"wav id=$id")
    }
    for (id <- Seq(2L, 5L, 59L, 497L)) {
      val (n, sums) = Multimodal.decodeSums("video", Multimodal.Codec.avi(id), 8)
      val w = Multimodal.Codec.vidW(id); val h = Multimodal.Codec.vidH(id)
      val nf = Multimodal.Codec.vidFrames(id)
      assert(n === nf * w * h * 3)
      val want = new Array[Long](8)
      var u = 0
      for (f <- 0 until nf; y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
        want(u % 8) += Multimodal.Codec.vidByte(id, f, x, y, c).toLong
        u += 1
      }
      assert(sums.toSeq === want.toSeq, s"avi id=$id")
    }
  }

  test("AVI parser honors the FORMAT, not the writer: stride and bottom-up rows") {
    // w=5 forces a non-trivial stride (15 -> 16 bytes/row): a parser
    // that ignored DIB padding or row order would mis-place every
    // pixel. id=10 -> vidW=5 (10%9+4=5... 10%9=1 -> 5), check.
    val id = 10L
    assert(Multimodal.Codec.vidW(id) === 5, "fixture id must force stride padding")
    val (w, h, frames) = Multimodal.Codec.decodeAvi(Multimodal.Codec.avi(id))
    assert(w === 5 && h === Multimodal.Codec.vidH(id))
    assert(frames.length === Multimodal.Codec.vidFrames(id))
    // top-left pixel of frame 0 is (x=0, y=0) — bottom-up storage means
    // a naive top-down read would return y=h-1 here
    assert((frames(0)(0) & 0xff) === Multimodal.Codec.vidByte(id, 0, 0, 0, 0))
    // and a corrupted container fails loudly, not as byte-stats
    intercept[IllegalArgumentException] {
      Multimodal.Codec.decodeAvi("RIFFxxxxWAVE".getBytes("US-ASCII"))
    }
  }
}
