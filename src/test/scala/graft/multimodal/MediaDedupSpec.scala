package graft.multimodal

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Snapshot

class MediaDedupSpec extends SparkSuite {

  private lazy val s = sqlc

  test("bmpPixels: decode-to-tensor round trip in top-left order, " +
      "null-routing for malformed blobs") {
    import s.implicits._
    val pixels = Seq(0xff0000L, 0x00ff00L, 0x0000ffL,
      0xffffffL, 0x000000L, 0x808080L)
    val r = Seq((3L, pixels)).toDF("w", "ps")
      .select(Multimodal.bmpPixels(
        Multimodal.bmpEncode(col("w"), col("ps"))).as("px"))
      .head().getSeq[Long](0)
    assert(r == pixels) // encode∘pixels is the identity, order preserved
    val bad = Seq(("x".getBytes("UTF-8"))).toDF("payload")
      .select(Multimodal.bmpPixels(col("payload")).isNull)
      .head().getBoolean(0)
    assert(bad)
  }

  test("aHash64: threshold bits against the 8x8 grid mean, " +
      "stable under ±1 pixel jitter") {
    import s.implicits._
    // 16×16 grayscale, top half 200, bottom half 10 → after 2× resize the
    // top 32 cells (bit positions 0..31) sit above the mean (105):
    // lo = 0xFFFFFFFF, hi = 0
    def img(jitter: Int): Seq[Long] = (0 until 256).map { i =>
      val v = (if (i < 128) 200L else 10L) +
        (if (jitter != 0 && i % 2 == 0) jitter else 0)
      v * 65793L
    }
    val rows = Seq((16L, img(0), img(1))).toDF("w", "a", "b")
      .select(
        MediaDedup.aHash64(Multimodal.bmpEncode(col("w"), col("a")),
          lit(2)).as("ha"),
        MediaDedup.aHash64(Multimodal.bmpEncode(col("w"), col("b")),
          lit(2)).as("hb"))
      .select(col("ha.phash_hi"), col("ha.phash_lo"),
        col("hb.phash_hi"), col("hb.phash_lo"))
      .head()
    assert(rows.getLong(0) == 0L)
    assert(rows.getLong(1) == 0xffffffffL)
    // jittered copy hashes identically (different bytes, same content)
    assert(rows.getLong(2) == rows.getLong(0))
    assert(rows.getLong(3) == rows.getLong(1))
  }

  test("aHash64 native expression equals its composed column form") {
    import s.implicits._
    // varied real blobs: gradient, blocky, near-flat — native one-pass
    // hash must agree with resize→pixels→gray→threshold composition
    def img(seed: Long): Seq[Long] = (0 until 256).map { i =>
      val v = (seed * 37 + i * 11) % 240 + 8
      (v << 16) | (((v * 7) % 256) << 8) | ((v * 3) % 256)
    }
    val rows = Seq((img(1L), img(2L), img(3L)))
      .toDF("a", "b", "c")
    Seq("a", "b", "c").foreach { c =>
      val r = rows.select(
        MediaDedup.aHash64(
          Multimodal.bmpEncode(lit(16L), col(c)), lit(2)).as("n"),
        MediaDedup.aHash64Composed(
          Multimodal.bmpEncode(lit(16L), col(c)), lit(2)).as("m"))
        .select(col("n.phash_hi"), col("n.phash_lo"),
          col("m.phash_hi"), col("m.phash_lo")).head()
      assert(r.getLong(0) == r.getLong(2) && r.getLong(1) == r.getLong(3))
    }
    // both null-route a malformed blob the same way
    val nulls = rows.select(
      MediaDedup.aHash64(lit("x".getBytes("UTF-8")), lit(2)).isNull,
      MediaDedup.aHash64Composed(lit("x".getBytes("UTF-8")), lit(2)).isNull)
      .head()
    assert(nulls.getBoolean(0) && nulls.getBoolean(1))
  }

  test("aHash64 nulls when the resize is not 8x8 and for malformed bytes") {
    import s.implicits._
    val px = (0 until 256).map(i => (i % 256).toLong * 65793L)
    val r = Seq((16L, px)).toDF("w", "ps")
      .select(
        // factor 1 leaves 16×16 = 256 pixels ≠ 64 → null
        MediaDedup.aHash64(Multimodal.bmpEncode(col("w"), col("ps")),
          lit(1)).isNull.as("wrongGrid"),
        MediaDedup.aHash64(lit("nope".getBytes("UTF-8")), lit(2))
          .isNull.as("malformed"))
      .head()
    assert(r.getBoolean(0) && r.getBoolean(1))
  }

  test("audioFingerprint: energy-descent bits LSB-first, bounds enforced") {
    import s.implicits._
    // frames of 2: energies [200, 50, 18, 2] strictly descending →
    // bits 0..2 all set → fingerprint 7
    val desc = Seq(10L, 10L, 5L, 5L, 3L, 3L, 1L, 1L)
    // ascending energies → no descents → 0
    val asc = desc.reverse
    val tooManyFrames = (0 until 200).map(_.toLong) // 200 frames of 1 > 64
    val r = Seq((desc, asc, tooManyFrames)).toDF("d", "a", "t")
      .select(
        MediaDedup.audioFingerprint(
          Multimodal.wavEncode(lit(8000L), col("d")), lit(2)).as("fd"),
        MediaDedup.audioFingerprint(
          Multimodal.wavEncode(lit(8000L), col("a")), lit(2)).as("fa"),
        MediaDedup.audioFingerprint(
          Multimodal.wavEncode(lit(8000L), col("t")), lit(1))
          .isNull.as("overflow"),
        MediaDedup.audioFingerprint(lit("x".getBytes("UTF-8")), lit(2))
          .isNull.as("malformed"))
      .head()
    assert(r.getLong(0) == 7L)
    assert(r.getLong(1) == 0L)
    assert(r.getBoolean(2) && r.getBoolean(3))
  }

  test("phashCandidatePairs: exact dup pairs at hamming 0, " +
      "unrelated images unpaired") {
    import s.implicits._
    def grad(off: Long): Seq[Long] =
      (0 until 256).map(i => ((i.toLong + off) % 256) * 65793L)
    def flat(v: Long): Seq[Long] = Seq.fill(256)(v * 65793L)
    // a/b: same gradient ±ε (near-dups); c: flat image — its hash is all
    // zeros (no cell above the mean), far from the gradient's. Its zero
    // bands can still collide with the gradient's zero lo-half (the
    // documented band-accident), but any such pair carries a LARGE
    // hamming and a radius filter drops it.
    val imgs = Seq((1L, grad(0)), (2L, grad(1)), (3L, flat(128)))
      .toDF("img_id", "ps")
      .withColumn("payload", Multimodal.bmpEncode(lit(16L), col("ps")))
    val pairs = MediaDedup
      .phashCandidatePairs(imgs, "img_id", "payload", lit(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h <= 3 })
    assert(pairs.filter { case (a, b, _) => b == 3L || a == 3L }
      .forall { case (_, _, h) => h >= 30 })
    // the band join stays an equi-join on (band_id, band_val): a nested
    // loop or cartesian product would be corpus² whatever the banding
    withoutAutoBroadcast {
      val plan = physicalPlan(MediaDedup
        .phashCandidatePairs(imgs, "img_id", "payload", lit(2)))
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
    }
  }

  test("phashCandidatePairs radius: recall vs brute force is exact at " +
      "every radius 4-7; default radius reproduces the 4x16 layout") {
    import s.implicits._
    // block-authored images: bit o of `mask` drives grid cell o (the 2×2
    // block at 200 vs 10; grid mean sits between), so the aHash is the
    // mask up to a fixed bit permutation and pairwise hamming equals the
    // mask distance — a brute-force oracle with authored distances
    def flip(m: Long, bits: Seq[Int]): Long =
      bits.foldLeft(m)((a, b) => a ^ (1L << b))
    val base = 0x5A5AA5A533CC9669L
    val masks: Seq[(Long, Long)] = Seq(
      1L -> base,
      2L -> flip(base, Seq(0)),                                 // d=1
      3L -> flip(base, Seq(1, 9, 17, 25)),                      // d=4
      4L -> flip(base, Seq(2, 10, 18, 26, 34)),                 // d=5
      5L -> flip(base, Seq(3, 11, 19, 27, 35, 43)),             // d=6
      6L -> flip(base, Seq(4, 12, 20, 28, 36, 44, 52)),         // d=7
      7L -> flip(base, Seq(5, 13, 21, 29, 37, 45, 53, 61)),     // d=8
      8L -> ~base)                                              // d=64
    val imgs = masks.map { case (id, m) =>
      val ps = (0 until 256).map { i =>
        val o = (i / 16 / 2) * 8 + (i % 16) / 2
        (if (((m >> o) & 1L) == 1L) 200L else 10L) * 65793L
      }
      (id, ps)
    }.toDF("img_id", "ps")
      .withColumn("payload", Multimodal.bmpEncode(lit(16L), col("ps")))
    val h = imgs.select(col("img_id"),
        MediaDedup.aHash64(col("payload"), lit(2)).as("h"))
      .select(col("img_id"), col("h.phash_hi").as("hi"),
        col("h.phash_lo").as("lo"))
    val brute = h.alias("a").crossJoin(h.alias("b"))
      .filter(col("a.img_id") < col("b.img_id"))
      .select(col("a.img_id").as("a_id"), col("b.img_id").as("b_id"),
        (bit_count(col("a.hi").bitwiseXOR(col("b.hi"))) +
          bit_count(col("a.lo").bitwiseXOR(col("b.lo"))))
          .cast(org.apache.spark.sql.types.LongType).as("hamming"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(brute.values.exists(_ == 7L)) // the authored distances landed
    for (k <- 4 to 7) {
      val cand = MediaDedup.phashCandidatePairs(
          imgs, "img_id", "payload", lit(2), maxHamming = k)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
        .toMap
      val must = brute.filter(_._2 <= k).keySet
      assert(must.subsetOf(cand.keySet),
        s"radius $k missed ${must -- cand.keySet}")
      // reported hamming on a candidate matches the brute-force distance
      cand.foreach { case (p, d) => assert(brute(p) == d) }
    }
    // default call = explicit radius 3 = the original 4×16-bit layout
    val d3 = MediaDedup.phashCandidatePairs(imgs, "img_id", "payload",
      lit(2)).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    val e3 = MediaDedup.phashCandidatePairs(imgs, "img_id", "payload",
        lit(2), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d3 == e3)
  }

  test("videoSignature: order-sensitive over frames, jitter-stable, " +
      "null-routing") {
    import s.implicits._
    // two 16×16 frames: bright-top and bright-bottom — distinct aHashes
    def f(brightTop: Boolean): Seq[Long] = (0 until 256).map { i =>
      val top = i < 128
      (if (top == brightTop) 200L else 10L) * 65793L
    }
    val r = Seq((f(true), f(false))).toDF("fa", "fb")
      .select(
        MediaDedup.videoSignature(Multimodal.aviEncode(lit(40000L),
          array(Multimodal.bmpEncode(lit(16L), col("fa")),
            Multimodal.bmpEncode(lit(16L), col("fb")))), lit(2)).as("ab"),
        MediaDedup.videoSignature(Multimodal.aviEncode(lit(40000L),
          array(Multimodal.bmpEncode(lit(16L), col("fb")),
            Multimodal.bmpEncode(lit(16L), col("fa")))), lit(2)).as("ba"),
        MediaDedup.videoSignature(lit("zzz".getBytes("UTF-8")), lit(2))
          .isNull.as("malformed"))
      .head()
    assert(r.getLong(0) != r.getLong(1)) // same frames, reversed order
    assert(r.getBoolean(2))
  }

  test("videoSignature native one-scan expression equals its composed " +
      "per-frame demux form, including a long (96-frame) container") {
    import s.implicits._
    // varied per-frame content: frame f of clip c has pixel i =
    // 8 + (c*37 + f*53 + i*11) % 240 + (f*7 + i) % 2 — same generator
    // family as q280, so the equality is pinned on realistic blobs
    def clip(c: Long, nFrames: Int): org.apache.spark.sql.Column =
      Multimodal.aviEncode(
      lit(40000L), array((0 until nFrames).map { f =>
        Multimodal.bmpEncode(lit(16L),
          typedLit((0 until 256).map(i =>
            (8L + (c * 37 + f * 53 + i * 11) % 240 + (f * 7 + i) % 2)
              * 65793L)))
      }: _*))
    val r = Seq(1L).toDF("x")
      .select(
        MediaDedup.videoSignature(clip(3L, 3), lit(2)).as("n3"),
        MediaDedup.videoSignatureComposed(clip(3L, 3), lit(2)).as("c3"),
        MediaDedup.videoSignature(clip(11L, 96), lit(2)).as("n96"),
        MediaDedup.videoSignatureComposed(clip(11L, 96), lit(2)).as("c96"),
        // factor mismatch (grid ≠ 64 cells) nulls BOTH forms
        MediaDedup.videoSignature(clip(5L, 2), lit(4)).isNull.as("nf"),
        MediaDedup.videoSignatureComposed(clip(5L, 2), lit(4)).isNull
          .as("cf"))
      .head()
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(2) == r.getLong(3))
    assert(r.getLong(0) != r.getLong(2)) // different clips sign apart
    assert(r.getBoolean(4) && r.getBoolean(5))
    // over generated 64-frame clips the plan holds the single-scan native
    // call, not a per-frame demux (which re-parses the container per frame)
    val plan = s.range(2L)
      .select(MediaDedup.videoSignature(Multimodal.synthClip(lit(16L),
        lit(64), col("id") % 31L, col("id")), lit(2)).as("sig"))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("graft_avi_signature") &&
      !plan.contains("graft_avi_frame"), plan)
  }

  test("synthClip native generator is bit-identical to the composed " +
      "bmpEncode+aviEncode constructor with the fixture formula") {
    import s.implicits._
    // the exact q280 constructor: frame f pixel i of clip (base, id) =
    // (8 + (base*37 + f*53 + i*11) % 240 + (id*3 + f*7 + i) % 2) * 65793
    import org.apache.spark.sql.Column
    def composed(base: Column, id: Column, nFrames: Int): Column =
      Multimodal.aviEncode(lit(40000L),
        transform(sequence(lit(0L), lit(nFrames - 1L)), f =>
          Multimodal.bmpEncode(lit(16L),
            transform(sequence(lit(0L), lit(255L)),
              i => (lit(8L) + (base * 37L + f * 53L + i * 11L) % 240L +
                (id * 3L + f * 7L + i) % 2L) * 65793L))))
    val r = Seq((7L, 21L), (40L, 999999L), (0L, 0L))
      .toDF("base", "id")
      .select(
        (Multimodal.synthClip(lit(16L), lit(3L), col("base"), col("id"))
          === composed(col("base"), col("id"), 3)).as("eq3"),
        (Multimodal.synthClip(lit(16L), lit(96L), col("base"), col("id"))
          === composed(col("base"), col("id"), 96)).as("eq96"),
        Multimodal.synthClip(lit(16L), lit(0L), col("base"), col("id"))
          .isNull.as("zeroFrames"))
      .collect()
    assert(r.forall(x => x.getBoolean(0) && x.getBoolean(1) &&
      x.getBoolean(2)))
  }

  test("synthFrame / synthWav / synthAudio native fixtures are " +
      "bit-identical to their composed constructors") {
    import s.implicits._
    import org.apache.spark.sql.Column
    // the exact phashTestImages constructor: pixel i of image (base, id) =
    // (8 + (base*37 + i*11) % 240 + (id*3 + i) % 2) * 65793
    def composedFrame(base: Column, id: Column): Column =
      Multimodal.bmpEncode(lit(16L),
        transform(sequence(lit(0L), lit(255L)),
          i => (lit(8L) + (base * 37L + i * 11L) % 240L +
            (id * 3L + i) % 2L) * 65793L))
    // the exact q269/q272 constructor: sample i = (id*7 + i*31) % 2001 - 1000
    def composedWav(rate: Column, n: Column, id: Column): Column =
      Multimodal.wavEncode(rate, transform(sequence(lit(0L), n - 1L),
        i => (id * 7L + i * 31L) % 2001L - 1000L))
    // the exact q278 constructor
    def composedAudio(base: Column, id: Column): Column =
      Multimodal.wavEncode(lit(8000L), transform(sequence(lit(0L), lit(63L)),
        i => (base * 97L + (i + 3L) * (base + 7L) * 11L +
          i * i * 29L) % 2001L - 1000L + (id + i) % 3L - 1L))
    val n = lit(50L) + col("id") % 50L
    val rate = lit(8000L) + (col("id") % 3L) * 4000L
    val r = Seq((0L, 0L), (7L, 21L), (96L, 999999L), (60L, 123456789L))
      .toDF("base", "id")
      .select(
        (Multimodal.synthFrame(lit(16L), col("base"), col("id"))
          === composedFrame(col("base"), col("id"))).as("eqF"),
        (Multimodal.synthWav(rate, n, col("id"))
          === composedWav(rate, n, col("id"))).as("eqW"),
        (Multimodal.synthAudio(lit(8000L), lit(64L), col("base"), col("id"))
          === composedAudio(col("base"), col("id"))).as("eqA"),
        Multimodal.synthFrame(lit(0L), col("base"), col("id"))
          .isNull.as("zeroW"),
        Multimodal.synthWav(lit(8000L), lit(0L), col("id"))
          .isNull.as("zeroN"))
      .collect()
    assert(r.forall(x => x.getBoolean(0) && x.getBoolean(1) &&
      x.getBoolean(2) && x.getBoolean(3) && x.getBoolean(4)))
  }

  test("scd2: state runs collapse, versions split on change, " +
      "open interval is current") {
    import s.implicits._
    val events = Seq(
      (7L, "A", 10L, 1L), (7L, "A", 20L, 2L), (7L, "B", 30L, 3L),
      (7L, "A", 40L, 4L), (9L, "Z", 5L, 5L))
      .toDF("user_id", "state", "ts", "event_id")
    val out = Snapshot.scd2(events, "user_id", "state", "ts", "event_id")
      .orderBy("user_id", "version")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5),
        r.getLong(6)))
    assert(out.toSeq == Seq(
      (7L, 1L, "A", 10L, 30L, false, 2L), // run of two A events
      (7L, 2L, "B", 30L, 40L, false, 1L),
      (7L, 3L, "A", 40L, -1L, true, 1L), // re-entered state = new version
      (9L, 1L, "Z", 5L, -1L, true, 1L)))
  }

  test("scd2Merge: incremental fold equals the full rebuild; " +
      "closed history passes through") {
    import s.implicits._
    // synthetic log: 40 users, states cycle with user-dependent period
    val all = s.range(2000L).select(
      (col("id") % 40L).as("user_id"),
      concat(lit("s"), ((col("id") * 7L + expr("id DIV 40")) % 3L)
        .cast("string")).as("state"),
      (expr("id DIV 40") * 10L + col("id") % 4L).as("ts"),
      col("id").as("event_id"))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .orderBy("user_id", "version").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5),
        r.getLong(6))).toSeq
    val full = Snapshot.scd2(all, "user_id", "state", "ts", "event_id")
    val dim = Snapshot.scd2(all.filter(col("ts") < 250L),
      "user_id", "state", "ts", "event_id")
    val merged = Snapshot.scd2Merge(dim, all.filter(col("ts") >= 250L),
      "user_id", "state", "ts", "event_id")
    assert(canon(merged) == canon(full))
    // brand-new key in the batch only: versions start at 1
    val novel = Snapshot.scd2Merge(dim,
      Seq((999L, "x", 300L, 5000L), (999L, "y", 310L, 5001L))
        .toDF("user_id", "state", "ts", "event_id"),
      "user_id", "state", "ts", "event_id")
      .filter(col("user_id") === 999L)
    assert(canon(novel) == Seq(
      (999L, 1L, "x", 300L, 310L, false, 1L),
      (999L, 2L, "y", 310L, -1L, true, 1L)))
  }
}
