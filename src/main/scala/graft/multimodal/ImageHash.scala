package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.CacheScope
import graft.multimodal.Multimodal.{Image, ImageCodec, MediaRow}
import graft.operators.Dedup

/** Perceptual image hashing + Hamming near-dup — the image modality of
  * the dedup family. A 64-bit dHash/aHash is robust to re-encoding,
  * resizing, and mild noise (the transformations scraped corpora actually
  * contain), so near-duplicate images reduce to the SAME blocked Hamming
  * join the text SimHash path uses: [[nearDuplicates]] feeds fingerprints
  * straight into [[Dedup.simHashPairsBlocked]] (pigeonhole blocking, exact
  * verify — never all-pairs).
  *
  * Scale: fingerprinting is a partition-streamed decode (mapPartitions,
  * one pass per payload, no shuffle); only (media_id, fp) 16-byte rows
  * ever shuffle. Decode cost dominates, and it is embarrassingly parallel.
  */
object ImageHash {

  /** Box-averaged grayscale downscale to exactly (w × h) luminance values
    * in [0, 255]. Area averaging (not nearest-neighbor) is what makes the
    * hash stable under resizing and noise: every source pixel contributes
    * to exactly one cell, so a 2× downscale and the original land on
    * near-identical grids.
    */
  private[multimodal] def grayGrid(img: Image, w: Int, h: Int): Array[Float] = {
    val acc = new Array[Float](w * h)
    val cnt = new Array[Int](w * h)
    val px = img.pixels
    val c = img.channels
    var y = 0
    while (y < img.height) {
      val gy = (y.toLong * h / img.height).toInt.min(h - 1)
      var x = 0
      while (x < img.width) {
        val gx = (x.toLong * w / img.width).toInt.min(w - 1)
        val o = (y * img.width + x) * c
        // ITU-R BT.601 luma for RGB(A); channel 0 for grayscale payloads
        val lum =
          if (c >= 3)
            0.299f * (px(o) & 0xff) + 0.587f * (px(o + 1) & 0xff) +
              0.114f * (px(o + 2) & 0xff)
          else (px(o) & 0xff).toFloat
        val cell = gy * w + gx
        acc(cell) += lum
        cnt(cell) += 1
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < acc.length) {
      if (cnt(i) > 0) acc(i) /= cnt(i)
      i += 1
    }
    acc
  }

  /** 64-bit difference hash: 9×8 grayscale grid, bit (y·8+x) set iff
    * cell (x+1, y) is brighter than cell (x, y) — encodes the horizontal
    * gradient sign field, the classic dHash.
    */
  def dHash64(img: Image): Long = {
    val g = grayGrid(img, 9, 8)
    var fp = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        if (g(y * 9 + x + 1) > g(y * 9 + x)) fp |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    fp
  }

  /** 64-bit average hash: 8×8 grayscale grid, bit set iff the cell is
    * brighter than the grid mean.
    */
  def aHash64(img: Image): Long = {
    val g = grayGrid(img, 8, 8)
    var mean = 0f
    var i = 0
    while (i < 64) { mean += g(i); i += 1 }
    mean /= 64f
    var fp = 0L
    i = 0
    while (i < 64) {
      if (g(i) > mean) fp |= 1L << i
      i += 1
    }
    fp
  }

  /** (media_id, fp) fingerprints for every decodable image payload —
    * partition-streamed, undecodable rows drop (dead-letter them in a
    * real pipeline). `hash` picks the fingerprint family.
    */
  def fingerprints(media: Dataset[MediaRow],
                   codec: ImageCodec = Codecs.AutoCodec,
                   hash: Image => Long = dHash64): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { m =>
      codec.decode(m.data).map(img => (m.mediaId, hash(img)))
    }).toDF("media_id", "fp")
  }

  /** Near-duplicate image pairs within `maxHamming` perceptual-hash bits:
    * fingerprint once per payload, then reuse the text path's pigeonhole-
    * blocked Hamming join unchanged (identity fingerprint column — the
    * hashing already happened in the decode pass).
    *
    * `numBlocks` passes through to the blocked join's geometry: large
    * radii on near-uniform codes have a random-collision candidate floor
    * ∝ C(m,a)·N²/2^(keyBits+1), so a corpus-scale run may buy a wider
    * compound key (more blocks → more index rows, fewer candidates) —
    * measured tradeoff in SCALE.md (q109 ×1000).
    *
    * ROUTE GUARD (the s33 / cosineNearDupPairsAuto house pattern): above
    * `routeThreshold` images the call REFUSES — the pair LIST is the
    * superlinear object (candidate floor above, and a k-copy cluster
    * emits k²/2 pairs), while the dedup-semantics answer at corpus scale
    * is [[dedupCorpus]] (exact-code collapse first; measured 4× cheaper
    * at 5M images, SCALE.md q117). Callers that truly want pairs at
    * scale raise the threshold explicitly and own the cost.
    */
  def nearDuplicates(media: Dataset[MediaRow], maxHamming: Int,
                     codec: ImageCodec = Codecs.AutoCodec,
                     hash: Image => Long = dHash64,
                     numBlocks: Int = -1,
                     routeThreshold: Long = 1L << 23): DataFrame = {
    val n = media.count()
    require(n <= routeThreshold,
      s"ImageHash.nearDuplicates: corpus has $n images > " +
        s"routeThreshold=$routeThreshold. The Hamming PAIR LIST has an " +
        "N²-scale candidate floor (SCALE.md q109); at this scale use " +
        "ImageHash.dedupCorpus (exact-code collapse + distinct-code " +
        "join, measured 4x cheaper — q117), or raise routeThreshold " +
        "explicitly to accept the pair-join cost.")
    Dedup.simHashPairsBlocked(
      fingerprints(media, codec, hash), "media_id", "fp", maxHamming,
      fp = identity, numBlocks = numBlocks)
  }

  /** Corpus-scale perceptual image dedup: exact-code grouping, blocked
    * Hamming join over DISTINCT codes, connected components — one
    * (media_id, fp, canonical_id, kept) row per image, never a pair
    * list. See [[Dedup.hammingDedupCorpus]] for the scale rationale.
    */
  def dedupCorpus(media: Dataset[MediaRow], maxHamming: Int,
                  codec: ImageCodec = Codecs.AutoCodec,
                  hash: Image => Long = dHash64,
                  numBlocks: Int = -1): DataFrame =
    Dedup.hammingDedupCorpus(fingerprints(media, codec, hash),
      "media_id", "fp", maxHamming, numBlocks)

  /** JOINT image + caption near-dup dedup for paired (image, text)
    * corpora: a pair of documents is a duplicate edge only when BOTH the
    * image perceptual hash ([[dHash64]], ≤ maxImageHamming bits) AND the
    * caption SimHash (≤ maxTextHamming of 60 md5 bits) say near-dup —
    * the conjunction kills each modality's false positives (an image
    * meme reposted with unrelated text, boilerplate text over unrelated
    * images), the standard curation recipe for image-text training
    * pairs. Connected components over the joint edges, min-id canonical
    * per component: one (id, canonical_id, kept) row per pair, never a
    * pair list in the output.
    *
    * Scale shape: ONLY the image side generates pairs (the pigeonhole-
    * blocked Hamming join, never all-pairs; [[nearDuplicates]]' route
    * guard applies). The caption filter is NOT a second pair join — the
    * per-doc caption SimHash (computed once per document) is attached
    * to the image pair list by two equi-joins and the text distance is
    * a popcount projection. Running the text side as its own blocked
    * pair join costs a quadratic-tail candidate mass at the wide radius
    * a caption conjunction wants (measured: 5.8 s → 126 s at ×10 —
    * Hamming 12/60 over near-uniform fingerprints has the q109
    * C(m,a)·N²/2^(keyBits+1) candidate floor), while the conjunction
    * form stays pinned to the image pair mass, which is the tighter
    * filter by construction. Components via
    * [[Dedup.connectedComponents]]' O(log diameter) label propagation.
    * `captions` must carry one row per media id (idCol matching
    * MediaRow.mediaId).
    *
    * ADAPTIVE EXACT-FIRST ROUTE (r13): the image fingerprints are
    * computed ONCE (persisted — one decode pass total, where the r12
    * form decoded once in nearDuplicates and re-counted media for the
    * guard) and a one-row stats probe measures the exact-dup mass.
    * When distinct codes < `exactFirstMaxDistinctRatio` × images, the
    * pair list switches to the exact-hash-first form — collapse
    * exact-equal codes first ([[dedupCorpus]]'s layout; measured 4×
    * cheaper at 5M images, SCALE.md q117), run the blocked Hamming
    * join over DISTINCT codes only, then expand code pairs back to doc
    * pairs by two equi-joins on the code plus one same-code self-join.
    * This is EXACTLY the same doc-pair set (every pair within Hamming
    * radius appears either same-code or cross-code — pinned by
    * MultimodalSpec parity), so the caption conjunction and components
    * are untouched; what moves is the blocked join's random-collision
    * candidate floor, from C(m,a)·N²/2^(keyBits+1) on N docs to the
    * same on N_distinct codes. A corpus whose duplicate mass is mostly
    * exact copies (every replicated crawl) pays the floor only on its
    * distinct-code count; a corpus with NO exact-dup mass (s136's
    * synthetic fixture: one unique code per doc by construction) stays
    * on the direct join and pays zero rollup/expansion overhead — the
    * ratio probe, not a corpus-size threshold, decides, because size
    * says nothing about whether the collapse can win. The same-code
    * self-join is output-bound (a k-copy code emits k²/2 pairs — mass
    * the direct form's pair list contains identically). The
    * routeThreshold pair-list guard applies to BOTH routes (the
    * expansion output is the same pair mass). Fingerprint persist
    * lifetime: [[graft.CacheScope]].
    */
  def jointDedup(media: Dataset[MediaRow], captions: DataFrame,
                 idCol: String, textCol: String,
                 maxImageHamming: Int, maxTextHamming: Int,
                 codec: ImageCodec = Codecs.AutoCodec,
                 hash: Image => Long = dHash64,
                 routeThreshold: Long = 1L << 23,
                 exactFirstMaxDistinctRatio: Double = 0.7): DataFrame = {
    // same contract as Curation.packBestFit: the id rides through a
    // cast("long"), and a string id would silently null every fid —
    // both equi-joins would then produce ZERO joint edges and every
    // document would be reported kept=true, a wrong answer with no
    // error. Assert instead of trusting the scaladoc.
    {
      import org.apache.spark.sql.types._
      val idType = captions.schema(idCol).dataType
      require(Seq[DataType](ByteType, ShortType, IntegerType, LongType)
          .contains(idType),
        s"jointDedup caption id column '$idCol' must be integral, got " +
          s"$idType — a lossy cast would silently null every caption " +
          "fingerprint join key; hash string ids to a surrogate first")
    }
    val fps = CacheScope.persist(fingerprints(media, codec, hash))
    val stats = fps.agg(count(lit(1)), countDistinct(col("fp"))).head()
    val nImages = stats.getLong(0)
    val nCodes = stats.getLong(1)
    require(nImages <= routeThreshold,
      s"ImageHash.jointDedup: corpus has $nImages decodable images > " +
        s"routeThreshold=$routeThreshold. The image pair list has an " +
        "N²-scale candidate floor (SCALE.md q109) on either route; at " +
        "this scale use ImageHash.dedupCorpus per modality, or raise " +
        "routeThreshold explicitly to accept the pair-join cost.")
    val imgPairs =
      if (nCodes >= exactFirstMaxDistinctRatio * nImages)
        // little exact-dup mass — the collapse cannot move the floor;
        // direct blocked join over per-image fingerprints
        Dedup.simHashPairsBlocked(fps, "media_id", "fp", maxImageHamming,
            fp = identity)
          .select(col("id_a"), col("id_b"),
            col("hamming").as("image_hamming"))
      else {
        val codes = fps.groupBy(col("fp")).agg(min(col("media_id")).as("cid"))
        // blocked Hamming over DISTINCT codes only; every join side
        // below is corpus-derived, so pin sort-merge (the s131 lesson:
        // Catalyst's static estimate of derived frames OOMs a broadcast
        // at scale)
        val codePairs = Dedup.simHashPairsBlocked(
            codes.select(col("cid"), col("fp")), "cid", "fp",
            maxImageHamming, fp = identity)
          .join(codes.select(col("cid").as("id_a"), col("fp").as("fp_a"))
            .hint("merge"), "id_a")
          .join(codes.select(col("cid").as("id_b"), col("fp").as("fp_b"))
            .hint("merge"), "id_b")
          .select(col("fp_a"), col("fp_b"), col("hamming"))
        val fa = fps.select(col("media_id").as("da"), col("fp").as("fp_a"))
        val fb = fps.select(col("media_id").as("db"), col("fp").as("fp_b"))
        val cross = codePairs
          .join(fa.hint("merge"), "fp_a")
          .join(fb.hint("merge"), "fp_b")
          .select(least(col("da"), col("db")).as("id_a"),
            greatest(col("da"), col("db")).as("id_b"),
            col("hamming").as("image_hamming"))
        val within = fps.as("x")
          .join(fps.as("y").hint("merge"),
            col("x.fp") === col("y.fp") &&
              col("x.media_id") < col("y.media_id"))
          .select(col("x.media_id").as("id_a"),
            col("y.media_id").as("id_b"),
            lit(0).as("image_hamming"))
        cross.unionByName(within)
      }
    // eager localCheckpoint: the fingerprint frame is joined TWICE
    // (id_a and id_b sides) — without a lineage break each join side
    // re-runs the full caption tokenize+hash scan; checkpointing the
    // 16-byte-per-doc frame runs it exactly once, with no unpersist
    // bookkeeping (the blocks die with the RDD)
    val sfp = captions.select(col(idCol).cast("long").as("fid"),
        Dedup.simHashMd5(col(textCol)).as("sfp"))
      .localCheckpoint(true)
    val joint = imgPairs
      .join(sfp.select(col("fid").as("id_a"), col("sfp").as("sfp_a")),
        Seq("id_a"))
      .join(sfp.select(col("fid").as("id_b"), col("sfp").as("sfp_b")),
        Seq("id_b"))
      .filter(expr("bit_count(sfp_a ^ sfp_b)") <= maxTextHamming)
    val ids = captions.select(col(idCol).cast("long").as("id"))
    Dedup.connectedComponents(ids, joint.select(col("id_a"), col("id_b")))
      .select(col("id"), col("label").as("canonical_id"),
        (col("id") === col("label")).as("kept"))
  }
}
