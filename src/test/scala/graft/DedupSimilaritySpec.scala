package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Dedup, Similarity, Multimodal, TextOps}

/** Pins down the operators whose hashes are engine-specific (no DuckDB
  * oracle): MinHash+LSH and SimHash against exact n-gram Jaccard, and
  * LSH-ANN recall against brute-force cosine. */
class DedupSimilaritySpec extends AnyFunSuite {
  import TestSpark._

  test("dd2 minhash-lsh finds every exact-jaccard>=0.8 near-dup pair") {
    val exact = Dedup.dd4NgramJaccard(spark, sf)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.8)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.dd2MinHashLsh(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed high-similarity pairs: $missed")
  }

  test("dd3 simhash recalls every exact-jaccard>=0.9 near-dup pair") {
    // simhash is bag-of-words-based: it also (correctly) surfaces pairs
    // with similar vocabularies that order-sensitive 3-gram jaccard
    // misses, so the check is recall of the strongest exact pairs, not
    // precision against them.
    val exact = Dedup.dd4NgramJaccard(spark, sf)
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.9)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Dedup.dd3SimHash(spark, sf)
      .select("da", "db").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty && sim.nonEmpty)
    val missed = exact -- sim
    assert(missed.isEmpty, s"simhash missed strongest near-dups: $missed")
  }

  test("dd12 block-combination index = dd3 pairs at hamming <= 3, exactly") {
    // dd3's 9-chunk banding is COMPLETE over Hamming <= 8 by pigeonhole,
    // so its output filtered to <= 3 is the exact ground-truth radius-3
    // pair set; dd12 must reproduce it bit for bit (same fingerprints,
    // different index) — completeness AND precision in one equality.
    val viaDd3 = Dedup.dd3SimHash(spark, sf)
      .filter(org.apache.spark.sql.functions.col("hamming") <= 3)
      .select("da", "db", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val d12 = Dedup.dd12SimHashScale(spark, sf)
      .select("da", "db", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaDd3.nonEmpty, "fixture should contain hamming<=3 pairs")
    assert(d12 == viaDd3,
      s"extra=${d12 -- viaDd3} missing=${viaDd3 -- d12}")
  }

  test("dd12 pigeonhole: every <=3-bit flip shares a 3-block key (independent re-impl, 2000 trials)") {
    // independent plain-Scala packing (not Dedup's column expressions):
    // a disagreement here would catch a block-layout bug in either side
    val lens = Vector(11, 11, 11, 10, 10, 10)
    val offs = lens.scanLeft(0)(_ + _).init
    val combos = (0 until 6).combinations(3).toSeq
    def keys(h: Long): Set[(Int, Long)] = combos.zipWithIndex.map { case (c, t) =>
      (t, c.foldLeft(0L)((acc, i) =>
        (acc << lens(i)) | ((h >>> offs(i)) & ((1L << lens(i)) - 1))))
    }.toSet
    val rnd = new scala.util.Random(4213)
    (0 until 2000).foreach { _ =>
      val h = rnd.nextLong() & ((1L << 63) - 1)
      val flips = 1 + rnd.nextInt(3)
      val g = (0 until flips).foldLeft(h)((x, _) => x ^ (1L << rnd.nextInt(63)))
      assert((keys(h) & keys(g)).nonEmpty,
        f"hamming<=3 pair shares no block key: $h%016x vs $g%016x")
    }
  }

  test("sim2 lsh-ann achieves >=60% recall@5 of sim1 brute force") {
    val brute = Similarity.sim1BruteTopK(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.sim2LshTopK(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("sim3 ivf-ann achieves >=50% recall@5 of sim1 brute force") {
    val brute = Similarity.sim1BruteTopK(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.sim3AnnIvf(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("ivf cell count K is corpus-proportional and cells stay near the target") {
    // K = ceil(trainN / targetCell) capped — so Σ|cell|² (dd7's pair
    // count) is linear in the corpus instead of quadratic (round 4's
    // fixed K=16 measured 22× cost for 10× data at the sf10 probe)
    val target = 32L // DefaultTargetCell — keep in sync with Similarity
    for (dir <- Seq(sf, "/root/testdata/sf0.1")) {
      val m = Similarity.ivfAssigned(spark, dir)
      val trainN = graft.Tables.embeddings(spark, dir)
        .filter(org.apache.spark.sql.functions.col("vec_id") % 4 === 0).count()
      assert(m.k == math.max(1L, (trainN + target - 1) / target),
        s"$dir: k=${m.k} does not follow ceil($trainN/$target)")
      // mean assigned-cell population ≈ 4·target (full corpus over a
      // 1-in-4-trained K); ≤ 5·target leaves slack for the ceil
      val n = m.assigned.count()
      assert(n.toDouble / m.k <= 5 * target,
        s"$dir: mean cell ${n / m.k} exceeds 5×target")
    }
    // MatrixDots must actually COMPILE under codegen, not silently fall
    // back to interpreted eval (results would match either way, but the
    // O(1)-plan-size codegen claim is the point of the expression):
    // with fallback disabled, a codegen failure throws instead
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val m = Similarity.ivfAssigned(spark, sf)
      assert(m.assigned.select("cell").distinct().count() > 1)
    } finally spark.conf.unset("spark.sql.codegen.fallback")
    // the knob works: halving the target cell size doubles K
    spark.conf.set(Similarity.TargetCell.key, "8")
    try {
      val k8 = Similarity.ivfAssigned(spark, sf).k
      val k32 = { spark.conf.set(Similarity.TargetCell.key, "32")
        Similarity.ivfAssigned(spark, sf).k }
      assert(k8 == 4 * k32, s"k(target=8)=$k8 vs k(target=32)=$k32")
    } finally spark.conf.unset(Similarity.TargetCell.key)
  }

  test("pq1 codes fit 32 bits and reconstruction beats the zero-codebook energy") {
    import org.apache.spark.sql.functions._
    val out = Similarity.pq1ProductQuantize(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val c = r.getLong(1); c >= 0L && c < (1L << 32) && r.getLong(2) >= 0L
    }, "8 nibble codes must pack into 32 bits; errors are nonneg integers")
    // the hash-check proves cross-engine exactness; this proves the
    // codebooks MODEL something: mean reconstruction error must be well
    // under the zero-code baseline (the grid-signal energy Σqx²)
    val meanErr = out.agg(avg(col("l2_err"))).head().getDouble(0)
    val meanEnergy = Tables.embeddings(spark, sf)
      .select(aggregate(expr("transform(embedding, x -> floor(x * 512))"),
        lit(0L), (a, x) => a + x * x).as("e"))
      .agg(avg(col("e"))).head().getDouble(0)
    // threshold: rate-distortion for k-means on d-dim data predicts
    // residual ≈ k^(-2/d) of the VARIANCE (= 1/2 at k=16, d=8); this
    // synthetic corpus is weakly clustered (near-random), so the
    // measured ratio vs raw ENERGY sits at ~0.61 — 0.75 leaves margin
    // while still failing if training ever stops modeling (ratio → 1)
    assert(meanErr < 0.75 * meanEnergy,
      s"PQ reconstruction err $meanErr not well under the signal energy $meanEnergy")
  }

  test("sim5 pq-adc + rerank achieves >=60% recall@5 of exact grid-L2") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), expr("transform(embedding, x -> floor(x * 512))").as("qx"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("qx").as("qqx"))
    val exact = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .withColumn("d", expr(
        "aggregate(zip_with(qx, qqx, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
          .orderBy(col("d"), col("vec_id"))))
      .filter(col("rank") <= 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc = Similarity.sim5PqAdcTopK(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & adc).size.toDouble / exact.size
    // raw 4-bit ADC alone measures ~0.2 here (quantization error swamps
    // near-equidistant random neighbors) — the exact rerank of the
    // ADC top-50 shortlist is what makes PQ search usable, and this
    // floor fails if either stage stops doing its job
    assert(recall >= 0.6, s"recall@5 = $recall")
  }

  test("mm2 real PNG decode+features is deterministic and partition-count-independent") {
    val a = Multimodal.mm2DecodeFeatures(spark, sf).collect().sortBy(_.getLong(0))
    val b = Multimodal.mm2DecodeFeatures(spark, sf).repartition(7).collect().sortBy(_.getLong(0))
    assert(a.length == b.length && a.length > 0)
    assert(a.zip(b).forall { case (x, y) => x == y })
  }

  test("mm5 PGM parser is format-general: comments, odd whitespace, round-trip") {
    // a hand-built P5 file no corpus document produced: comment lines
    // interleaved in the header, tabs/multi-space separators, maxval 200
    val px = Array.tabulate(6)(i => (i * 40).toByte) // 3x2 image
    val file = ("P5 # trailing comment\n# full comment line\n 3\t2 \n# again\n200\n"
      .getBytes("US-ASCII")) ++ px
    val (w, h, maxval, pixels) = Multimodal.decodePgm(file)
    assert((w, h, maxval) == (3, 2, 200))
    assert(pixels.toSeq == px.toSeq)
    // encoder/decoder round-trip on arbitrary (incl. non-ascii) bytes
    val payload = Array.tabulate(40)(i => (i * 7 - 128).toByte)
    val (w2, h2, _, px2) = Multimodal.decodePgm(Multimodal.encodePgm(payload))
    assert(w2 == 16 && h2 == 2)
    assert(px2.toSeq == payload.take(32).toSeq)
    // malformed input fails loudly, not silently
    intercept[IllegalArgumentException] {
      Multimodal.decodePgm("P2\n3 2\n255\n000000".getBytes("US-ASCII"))
    }
  }

  test("mm6 WAV parser walks real RIFF chunk structure, incl. odd-size alignment") {
    // hand-built file: an ODD-size junk chunk before fmt/data exercises
    // the word-alignment rule (odd chunks pad one byte); fmt follows it
    val samples = Array.tabulate(11)(i => (i * 23).toByte)
    val bb = java.nio.ByteBuffer.allocate(128).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(120).put("WAVE".getBytes("US-ASCII"))
    bb.put("junk".getBytes("US-ASCII")).putInt(5).put("abcde ".getBytes("US-ASCII")) // 5 + 1 pad
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(2).putInt(44100).putInt(88200).putShort(2).putShort(8)
    bb.put("data".getBytes("US-ASCII")).putInt(samples.length).put(samples)
    val file = java.util.Arrays.copyOf(bb.array(), bb.position())
    val (rate, ch, bits, s) = Multimodal.decodeWav(file)
    assert((rate, ch, bits) == (44100, 2, 8))
    assert(s.toSeq == samples.toSeq)
    // encoder/decoder round-trip (the mm6 payload path)
    val payload = Array.tabulate(50)(i => (i * 3 + 1).toByte)
    val (r2, c2, b2, s2) = Multimodal.decodeWav(Multimodal.encodeWav(payload))
    assert((r2, c2, b2) == (8000, 1, 8))
    assert(s2.toSeq == payload.toSeq)
    // non-PCM fails loudly: byte 20 is the codec field of the fmt chunk
    // (RIFF header 12 + tag 4 + size 4), little-endian low byte
    val bad = Multimodal.encodeWav(payload).clone()
    bad(20) = 3
    intercept[IllegalArgumentException] { Multimodal.decodeWav(bad) }
  }

  test("mm6 WAV: odd-size data chunk pads, and stats honor bits x channels") {
    // data BEFORE fmt with an ODD data size: without the alignment pad
    // after the data chunk the walk misreads the following fmt tag
    val odd = Array[Byte](10, 20, 30, 40, 50) // 5 samples, odd
    val bb = java.nio.ByteBuffer.allocate(96).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(88).put("WAVE".getBytes("US-ASCII"))
    bb.put("data".getBytes("US-ASCII")).putInt(odd.length).put(odd).put(0.toByte) // pad
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1).putInt(8000).putInt(8000).putShort(1).putShort(8)
    val file = java.util.Arrays.copyOf(bb.array(), bb.position())
    val (rate, ch, bits, s) = Multimodal.decodeWav(file)
    assert((rate, ch, bits) == (8000, 1, 8), "pad skip must reach the trailing fmt")
    assert(s.toSeq == odd.toSeq)

    // 16-bit stereo: n_samples counts FRAMES (not bytes), duration uses
    // frames/rate, amplitude stats decode signed LE values per channel
    // (the round-3 code treated every layout as 8-bit mono)
    val frames = Array[Short](1000, -1000, 2000, -2000, 300, -300) // 3 frames x 2 ch
    val raw = new Array[Byte](frames.length * 2)
    frames.zipWithIndex.foreach { case (v, i) =>
      raw(2 * i) = (v & 0xFF).toByte; raw(2 * i + 1) = ((v >> 8) & 0xFF).toByte
    }
    val (n, durMs, p2p, mean) = Multimodal.wavStats(8000, 2, 16, raw)
    assert(n == 3L, s"3 stereo frames, got $n")
    assert(durMs == math.floor(3 * 1000000L.toDouble / 8000) / 1e3)
    assert(p2p == 4000, s"peak-to-peak over signed samples, got $p2p")
    assert(mean == math.floor((1000 - 1000 + 2000 - 2000 + 300 - 300) * 1000000.0 / 6) / 1e6)
    // 8-bit mono stays byte-for-byte the synthetic-corpus arithmetic
    val mono = Array[Byte](0, 100.toByte, 200.toByte)
    val (n8, _, p2p8, mean8) = Multimodal.wavStats(8000, 1, 8, mono)
    assert(n8 == 3L && p2p8 == 200 && mean8 == math.floor(300 * 1000000.0 / 3) / 1e6)
    // unsupported widths fail loudly, like the codec check
    intercept[IllegalArgumentException] { Multimodal.wavStats(8000, 1, 24, new Array[Byte](3)) }
    // ragged payload (not whole frames) fails loudly
    intercept[IllegalArgumentException] { Multimodal.wavStats(8000, 2, 16, new Array[Byte](6)) }
  }

  test("mm7 Y4M parser handles parameter tags, frame params, and rejects subsampled chroma") {
    // hand-built 2x2 mono clip with extra header tags and a frame parameter
    val f1 = Array[Byte](10, 20, 30, 40)
    val f2 = Array[Byte](50, 60, 70, 80)
    val file = ("YUV4MPEG2 W2 H2 F30000:1001 Ip A128:117 C400 Xcustom\n".getBytes("US-ASCII")) ++
      "FRAME Xtag\n".getBytes("US-ASCII") ++ f1 ++
      "FRAME\n".getBytes("US-ASCII") ++ f2
    val (w, h, fn, fd, frames) = Multimodal.decodeY4m(file)
    assert((w, h, fn, fd, frames.length) == (2, 2, 30000, 1001, 2))
    assert(frames(0).toSeq == f1.toSeq && frames(1).toSeq == f2.toSeq)
    // round-trip through the mm7 payload path
    val payload = Array.tabulate(40)(i => (i * 5 + 2).toByte)
    val (w2, h2, _, _, fr2) = Multimodal.decodeY4m(Multimodal.encodeY4m(payload))
    assert(w2 == 4 && h2 == 4 && fr2.length == 2)
    assert(fr2.flatten.toSeq == payload.take(32).toSeq)
    // subsampled chroma (would change plane sizes) fails loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m("YUV4MPEG2 W2 H2 F25:1 C420\nFRAME\n????".getBytes("US-ASCII"))
    }
  }

  test("mm8 box downsample computes exact 2x2 floor-means, odd row dropped") {
    // hand-built 4x5 image (h odd): each 2x2 block mean is checkable by
    // eye; the 5th row must not influence the output
    val px = Array[Int](
      10, 20, 30, 40,
      50, 60, 70, 80,
      0, 255, 255, 0,
      255, 0, 0, 255,
      99, 99, 99, 99).map(_.toByte)
    val (ow, oh, out) = Multimodal.boxDownsample2(4, 5, px)
    assert((ow, oh) == (2, 2))
    assert(out.map(_ & 0xFF).toSeq == Seq((10 + 20 + 50 + 60) / 4,
      (30 + 40 + 70 + 80) / 4, (0 + 255 + 255 + 0) / 4, (255 + 0 + 0 + 255) / 4))
    // saturation: an all-255 block stays 255 (no overflow in the sum)
    val white = Array.fill[Byte](4)(255.toByte)
    assert((Multimodal.boxDownsample2(2, 2, white)._3.head & 0xFF) == 255)
  }

  test("mm9/mm10: JDK codec stack — PNG round-trips losslessly, JPEG bounded on its design regime") {
    // PNG (DEFLATE + filters) must reproduce the source bytes exactly —
    // that losslessness is what makes mm9's DuckDB oracle valid
    val src = Array.tabulate[Byte](64)(i => (i * 7 + 13).toByte)
    val (w, h, px) = Multimodal.decodeImage(Multimodal.encodePng(src))
    assert((w, h) == (16, 4))
    assert(px.toSeq == src.toSeq, "PNG round-trip must be lossless")
    // compression is real: a constant image deflates far below raw size
    val flat = Multimodal.encodePng(Array.fill[Byte](1024)(42))
    assert(flat.length < 200, s"PNG of a constant image should deflate (${flat.length} B)")
    // JPEG on a smooth gradient (the DCT's design regime): exact dims,
    // small bounded pixel error
    val grad = Array.tabulate[Byte](256)(i => (i / 2).toByte)
    val (jw, jh, jpx) = Multimodal.decodeImage(Multimodal.encodeJpeg(grad))
    assert((jw, jh) == (16, 16))
    val maxErr = grad.indices.map(i => math.abs((grad(i) & 0xFF) - (jpx(i) & 0xFF))).max
    assert(maxErr <= 8, s"JPEG gradient error $maxErr exceeds codec tolerance")
    // determinism: the registered query's contract (oracle hashing +
    // Bench hashing) needs byte-stable output across encode runs
    assert(Multimodal.encodeJpeg(grad).toSeq == Multimodal.encodeJpeg(grad).toSeq)
    // the codec-accuracy bound lives HERE, not in mm10's registry
    // oracle (it is a property of this JVM's ImageIO, not of the
    // query — an oracle literal would turn a vendor-codec difference
    // into a correctness failure): docRamp has only 2 (bx) × 8 (by)
    // slope combos and a 256-valued intercept — sweep the full slope
    // space at extreme intercepts so no corpus can land outside what
    // this proves. Heights cover partial JPEG blocks (1, 5), full
    // blocks (24), and past the driver corpora's maximum (35 rows =
    // 553-byte documents / 16 px per row).
    for (bx <- 0 to 1; by <- 0 to 7; a <- Seq(0, 1, 127, 254, 255); h <- Seq(1, 5, 24, 35)) {
      val seed = Array[Byte](a.toByte, bx.toByte, by.toByte)
      val ramp = Multimodal.docRamp(seed, 16 * h)
      val (_, _, px) = Multimodal.decodeImage(Multimodal.encodeJpeg(ramp))
      val me = ramp.indices.map(i => math.abs((ramp(i) & 0xFF) - (px(i) & 0xFF))).max
      assert(me <= 8, s"docRamp(a=$a,bx=$bx,by=$by,h=$h) JPEG error $me > 8")
    }
    // format generality: decodeImage normalizes non-grayscale input
    val rgb = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    rgb.setRGB(0, 0, 0xFFFFFF); rgb.setRGB(1, 0, 0x000000)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "png", bos)
    val (cw, ch, cpx) = Multimodal.decodeImage(bos.toByteArray)
    assert((cw, ch) == (4, 2))
    assert((cpx(0) & 0xFF) > 200 && (cpx(1) & 0xFF) < 50,
      "grayscale normalization must preserve luminance order")
  }

  test("dd7 semantic dedup is consistent with dd5's exact pairs") {
    // dd7 restricts dd5's all-pairs comparison to within-cell pairs:
    // every exact pair (dd5, cos >= the shared 0.45 threshold) whose
    // ends landed in the same k-means cell MUST have dropped the
    // larger id; and every vector dd7 drops must appear as the larger
    // end of some exact pair (no false drops).
    val asg = Similarity.dd7SemanticDedup(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(4))).toMap
    val exact = Dedup.dd5EmbeddingCosine(spark, sf)
      .select("va", "vb").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus has exact embedding near-dups")
    val sameCell = exact.filter { case (a, b) => asg(a)._1 == asg(b)._1 }
    assert(sameCell.nonEmpty, "some exact pairs must share a cell")
    sameCell.foreach { case (_, b) =>
      assert(!asg(b)._2, s"same-cell dup $b still kept")
    }
    val dropped = asg.collect { case (id, (_, false)) => id }.toSet
    val dupEnds = exact.map(_._2)
    assert(dropped.subsetOf(dupEnds),
      s"dd7 dropped non-duplicates: ${dropped -- dupEnds}")
  }

  test("ta5 rolling hash collides exactly for identical texts") {
    val df = TextOps.ta5RollingHash(spark, sf)
    assert(df.count() > 0)
    // full_hash distinct-count == text distinct-count
    val texts = Tables.documents(spark, sf).select("text").distinct().count()
    val hashes = df.select("full_hash").distinct().count()
    assert(hashes == texts)
  }

  test("rp1 JL projection preserves norms in expectation and stays shuffle-free") {
    val rows = Similarity.rp1RandomProjection(spark, sf)
      .select("vec_id", "distortion", "pnorm2", "unorm2").collect()
    assert(rows.length > 100)
    val ds = rows.map(_.getDouble(1))
    val mean = ds.sum / ds.length
    // E[distortion] = 1 under ±1 Rademacher projections; sd ≈ √(2/16)
    // per vector, so the corpus mean concentrates tightly
    assert(mean > 0.85 && mean < 1.15, s"mean distortion $mean drifted from 1")
    // per-vector the ratio is χ²-shaped with heavy tails at RP_D=16
    // (the sf0.001 corpus realizes 0.098–4.3); the sanity bound only
    // excludes degenerate projections (all-zero or unbounded)
    assert(ds.forall(d => d > 0.01 && d < 10.0),
      s"degenerate distortion: ${ds.filter(d => d <= 0.01 || d >= 10.0).take(5).toSeq}")
    // a projection is a narrow map: the plan must contain no Exchange
    val plan = Similarity.rp1RandomProjection(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"rp1 plan shuffles:\n$plan")
  }

  test("dc3 semantic decontamination flags dd5-level near-dups of bench vectors, shuffle-free") {
    val df = Similarity.dc3SemanticDecontaminate(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    // the planted replica structure must produce at least one semantic
    // leak, and every flagged row must carry a bench id in range
    val flagged = rows.filter(_.getBoolean(3))
    assert(flagged.nonEmpty, "corpus must contain semantic bench leakage")
    assert(flagged.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 25))
    // consistency with dd5's exact pairs: any exact cosine≥τ pair that
    // crosses the bench boundary must be flagged here (dc3 is
    // brute-force exact over the bench side — no recall loss)
    val dd5cross = graft.ops.Dedup.dd5EmbeddingCosine(spark, sf)
      .filter(org.apache.spark.sql.functions.col("va") < 25 &&
        org.apache.spark.sql.functions.col("vb") >= 25)
      .select("vb").collect().map(_.getLong(0)).toSet
    val flaggedIds = flagged.map(_.getLong(0)).toSet
    val missed = dd5cross -- flaggedIds
    assert(missed.isEmpty, s"dc3 missed exact bench near-dups: $missed")
    // one narrow pass: the plan must contain no Exchange and no join
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"dc3 plan shuffles:\n$plan")
    assert(!plan.toLowerCase.contains("join"), s"dc3 plan joins:\n$plan")
  }

  test("mm11 audio features: hand-computed zero crossings and framed energy, incl. the 16-bit layout") {
    import graft.ops.Multimodal
    // 8-bit: centered values +1,-1,+1,-1 -> 3 crossings; one frame,
    // energy 4·1 = 4
    val alt = Array[Byte](129.toByte, 127.toByte, 129.toByte, 127.toByte)
    assert(Multimodal.audioFeatures(8, alt) == ((3L, 1L, 4L, 4L)))
    // constant at center: no crossings, zero energy
    val flat = Array.fill[Byte](70)(128.toByte)
    // 70 samples -> 3 frames of 32/32/6
    assert(Multimodal.audioFeatures(8, flat) == ((0L, 3L, 0L, 0L)))
    // 16-bit signed LE: +256, -256 -> 1 crossing, energy 2·65536
    val s16 = Array[Byte](0, 1, 0, 0xFF.toByte)
    assert(Multimodal.audioFeatures(16, s16) == ((1L, 1L, 131072L, 131072L)))
    // zero is non-negative: +1, 0, -1 crosses once (at 0 -> -1)
    val z = Array[Byte](129.toByte, 128.toByte, 127.toByte)
    assert(Multimodal.audioFeatures(8, z) == ((1L, 1L, 2L, 2L)))
  }

  test("mm12 motion features: hand-computed SAD, still-pair detection, single-frame degeneracy") {
    import graft.ops.Multimodal
    def f(bs: Int*): Array[Byte] = bs.map(_.toByte).toArray
    // three 4-px "frames": a->b differs by |10-0|+|0-10| = 20; b->c identical
    val a = f(10, 0, 5, 5); val b = f(0, 10, 5, 5); val c = f(0, 10, 5, 5)
    assert(Multimodal.motionFeatures(Vector(a, b, c)) == ((2L, 20L, 20L, 1L)))
    // unsigned bytes: 255 vs 0 is 255 per pixel, not -1
    val hi = f(255, 255, 255, 255); val lo = f(0, 0, 0, 0)
    assert(Multimodal.motionFeatures(Vector(hi, lo)) == ((1L, 1020L, 1020L, 0L)))
    // one frame: no pairs, all zero
    assert(Multimodal.motionFeatures(Vector(a)) == ((0L, 0L, 0L, 0L)))
  }

  test("ir2 fuses the two rankings exactly as plain-Scala RRF; query shingles broadcast") {
    import org.apache.spark.sql.functions._
    val df = Similarity.ir2HybridRrf(spark, sf)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.nonEmpty)
    // reciprocal-rank identity: every fused score must be one of the
    // 3 forms floor(1e6/(60+rl)) [+ floor(1e6/(60+rd))] with ranks in
    // [1, 20] — i.e. decomposable into at most two valid reciprocals
    val recs = (1 to 20).map(r => 1000000L / (60 + r)).toSet
    got.values.foreach { s =>
      val ok = recs.contains(s) || recs.exists(a => recs.contains(s - a))
      assert(ok, s"score $s is not a sum of <=2 valid RRF reciprocals")
    }
    // an item ranked 1st in BOTH lists would score the exact sum — pin
    // the arithmetic on a constructed pair
    assert(1000000L / 61 + 1000000L / 61 == 32786L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"ir2 lexical leg not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"ir2 went cartesian:\n$plan")
  }

  test("knn1 predicts the plain majority of sim1's neighbor labels; the corpus never shuffle-joins") {
    import org.apache.spark.sql.functions._
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nbrs = Similarity.sim1BruteTopK(spark, sf)
      .select(col("qid"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val expect = nbrs.map { case (qid, ids) =>
      val byLabel = ids.map(labels).groupBy(identity).view.mapValues(_.size)
      // votes DESC, then smallest label — knn1's declared tie-break
      qid -> byLabel.toSeq.sortBy { case (l, v) => (-v, l) }.head
    }
    val df = Similarity.knn1LabelKnn(spark, sf)
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2).toInt))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (qid, (l, v)) =>
      assert(got(qid) == ((l, v)), s"qid $qid: got ${got(qid)}, want ($l,$v)")
    }
    // vote shape: the bounded neighbor list broadcasts onto the label
    // column — no shuffle join of the corpus
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"knn1 vote join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"knn1 shuffle-joined the corpus:\n$plan")
  }
}
