package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB regime:
  *
  *  - exact dedup: one hash-shuffle on a 16-byte fingerprint (never on the
  *    full text);
  *  - MinHash+LSH near-dedup: per-doc signatures computed map-side from
  *    exploded shingles (partial agg), candidate pairs only ever generated
  *    within LSH band buckets (no quadratic blow-up);
  *  - SimHash: 64 independent bit-votes folded in one aggregation.
  */
object DedupOps {

  /** Exact dedup: each doc mapped to the minimum doc-id sharing its
    * normalized-text fingerprint. `canonical_id == id` ⇔ doc is the keeper.
    * Window-min over the fingerprint key: single shuffle, no join. */
  def exactCanonical(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val w = Window.partitionBy(col("fp"))
    df.withColumn("fp", TextOps.fingerprint(col(textCol)))
      .withColumn("canonical_id", min(col(idCol)).over(w))
      .drop("fp")
  }

  /** Deterministic splitmix64-derived odd multipliers/offsets for the
    * permutation family (a_i * h + b_i over Z/2^64 — wraparound is fine
    * for a hash family). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** MinHash signature: k permutation minima over the shingle set,
    * via the single-pass native MinHashSigExpr — one xxhash64 per
    * shingle + k linear permutations `(a_i·h + b_i) mod (2³¹−1)` in a
    * tight per-row loop. Fully map-side: no explode, no shuffle at any
    * scale (the earlier explode + k-column partial-agg shape produced
    * identical values but shuffled |docs|×k longs and paid row blowup).
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.{shims, MinHashTextSigExpr}
    val sig = shims.column(MinHashTextSigExpr(
      shims.expression(col(textCol)), n, k))
    // k hashes × every shingle is the pipeline's per-row hot spot —
    // don't let a one-task fixture scan serialize it (no-op at scale)
    TextOps.spreadSmallScan(df, col(idCol))
      .select(col(idCol), sig.as("signature"))
  }

  /** Compositional form of the signature (shingle column → signature) —
    * value-identical to the fused text form; kept for pipelines that
    * already materialized shingles. */
  def minhashSignatureFromShingles(df: DataFrame, idCol: String,
      shingleCol: String, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.{shims, MinHashSigExpr}
    df.select(col(idCol), shims.column(
      MinHashSigExpr(shims.expression(col(shingleCol)), k)).as("signature"))
  }

  /** LSH banding of a minhash signature: (id, band, band_hash) rows.
    * Docs sharing any (band, band_hash) bucket are near-dup candidates. */
  def lshBands(sig: DataFrame, idCol: String, bands: Int): DataFrame = {
    sig.select(col(idCol),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("signature"),
            b * (size(col("signature")) / bands) + 1,
            size(col("signature")) / bands).cast("string"), b)))
          .as(Seq("band", "band_hash")))
  }

  /** Candidate near-dup pairs from LSH buckets (id1 < id2). The self-join
    * happens per (band, band_hash) bucket — cardinality is bounded by
    * bucket sizes, not |docs|². */
  def candidatePairs(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col("band"), col("band_hash"),
      col(idCol).as("id1"))
    val b = bandsDf.select(col("band"), col("band_hash"),
      col(idCol).as("id2"))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** Distinct word n-gram shingles of the normalized text, in first-
    * occurrence order — [[shingleList]] with duplicates dropped, built in
    * the same native pass. */
  def shingleSet(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.{shims, ShingleSetExpr}
    shims.column(ShingleSetExpr(shims.expression(text), n))
  }

  /** Word-level shingles (n-grams) of the normalized text, in order,
    * duplicates kept; a text with fewer than n words is one shingle, the
    * whole text. One native pass per row — no UDF, no lambda, no
    * shuffle. */
  def shingleList(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.{shims, ShingleListExpr}
    shims.column(ShingleListExpr(shims.expression(text), n))
  }

  /** Non-overlapping `segWords`-word segments of the normalized text,
    * the last one shorter when needed (the p08 segmentation, shared with
    * the bloom decontamination). One native pass per row. */
  def wordSegments(text: Column, segWords: Int): Column = {
    import org.apache.spark.sql.graft.{shims, WordSegmentsExpr}
    shims.column(WordSegmentsExpr(shims.expression(text), segWords))
  }

  /** C4-style line/paragraph-level exact dedup, generalized to
    * fixed-width word segments (this corpus is single-line, so the
    * "line" unit is a non-overlapping `segWords`-word chunk of the
    * normalized text): a segment SURVIVES iff it is the globally first
    * occurrence of its content — ordered by (doc id, segment index) —
    * and every document is reassembled from its surviving segments in
    * order. Returns (id, text_dedup), one row per input document
    * (documents whose every segment was seen before reassemble to '').
    *
    * Scale shape: segmentation is map-side (one native pass per
    * row); the only shuffle is the keep-first window, keyed by
    * the segment content — at 100 TB swap the raw string key for its
    * 16-byte `TextOps.fingerprint` and carry the text, which bounds
    * shuffle rows at |corpus segments| of (16 B + segment) instead of
    * 2× text. The final reassembly aggregates by document id —
    * partial-agg friendly, no skew (segment count per doc is bounded).
    */
  def segmentDedup(df: DataFrame, idCol: String, textCol: String,
      segWords: Int = 10): DataFrame = {
    val segs = wordSegments(col(textCol), segWords)
    val exploded = df
      .select(col(idCol), posexplode(segs).as(Seq("seg_idx", "seg")))
    val w = Window.partitionBy(col("seg"))
      .orderBy(col(idCol), col("seg_idx"))
    val kept = exploded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val reassembled = kept
      .groupBy(col(idCol))
      .agg(concat_ws(" ", sort_array(collect_list(
        struct(col("seg_idx"), col("seg")))).getField("seg"))
        .as("text_dedup"))
    df.select(col(idCol))
      .join(reassembled, Seq(idCol), "left")
      .withColumn("text_dedup", coalesce(col("text_dedup"), lit("")))
  }

  /** Bloom-pruned exact segment decontamination (train/eval leakage
    * check at 100 TB): a bloom filter over the distinct train segments
    * (fixed-size, built once, shipped to every task) prunes the eval
    * side BEFORE the distributed semi-join, so the join shuffles only
    * true hits + an fpp fraction of the eval segments instead of every
    * segment of a 100 TB eval set. Correctness is unchanged — blooms
    * have NO false negatives, and survivors are exact-verified by the
    * semi-join — which the p14 gate certifies per row. Returns one row
    * per contaminated eval doc: (idCol, n_shared BIGINT = number of its
    * segment positions whose content occurs in train). */
  def bloomSegmentContamination(eval: DataFrame, train: DataFrame,
      idCol: String, textCol: String, segWords: Int = 10,
      fpp: Double = 0.01, trainSegsPre: Option[DataFrame] = None)
      : DataFrame = {
    import org.apache.spark.sql.graft.{shims, MightContainExpr}
    // trainSegsPre: caller-supplied DISTINCT pinned `seg` frame, when
    // the caller also needs the train segment set (p14 runs the exact
    // unpruned path beside this one — sharing the frame removes a
    // duplicate full-train explode+distinct shuffle)
    val trainSegs = trainSegsPre.getOrElse(train
      .select(explode(wordSegments(col(textCol), segWords)).as("seg"))
      .distinct().localCheckpoint()) // reused by the build AND the verify
    val bf = trainSegs.stat.bloomFilter("seg",
      math.max(trainSegs.count(), 1L), fpp)
    val evalSegs = eval.select(col(idCol),
      explode(wordSegments(col(textCol), segWords)).as("seg"))
    val candidates = evalSegs.filter(shims.column(
      MightContainExpr(shims.expression(col("seg")), bf)))
    candidates.join(trainSegs, Seq("seg"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** CONTENT-DEFINED chunking at word granularity (the CDC/rolling-hash
    * idea of LBFS/restic, portable to SQL): a new chunk starts at word i
    * when the 32-bit md5 prefix of the trigram ending at i is ≡ 0 mod
    * `divisor` (expected chunk length = `divisor` words). Boundaries
    * depend only on a 3-word window, so an insertion reflows AT MOST the
    * chunks overlapping that window — unlike fixed-width segmentation
    * ([[segmentDedup]]), where one inserted word shifts every later
    * segment and defeats chunk-level dedup. Returns
    * (id, chunk_idx LONG 1-based, chunk_start LONG, chunk STRING).
    *
    * Scale shape: one posexplode (map-side) + per-doc window functions
    * (one shuffle keyed by doc id, rows bounded by corpus word count) +
    * one bounded per-doc re-aggregation. The hash is the engine-portable
    * md5-prefix family every sampling op here uses. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 8): DataFrame = {
    require(divisor > 0, "divisor must be positive")
    val words = split(TextOps.normalize(col(textCol)), " ")
    val exploded = df
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol), posexplode(words).as(Seq("idx", "word")))
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("idx"))
    val tri = concat_ws(" ", lag(col("word"), 2).over(byDoc),
      lag(col("word"), 1).over(byDoc), col("word"))
    val boundary = when(col("idx") === 0, 1L).otherwise(
      (conv(substring(md5(tri), 1, 8), 16, 10).cast("long")
        % divisor === 0L).cast("long"))
    exploded
      .withColumn("chunk_idx",
        sum(boundary).over(byDoc.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy(col(idCol), col("chunk_idx"))
      .agg(min(col("idx")).as("chunk_start"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("word")))),
          s => s.getField("word"))).as("chunk"))
  }

  /** Chunk-level exact dedup over content-defined chunks: a chunk
    * SURVIVES iff it is the globally first occurrence of its content
    * (ordered by doc id, then position); documents reassemble from
    * surviving chunks in order. Same keep-first/reassemble discipline
    * as [[segmentDedup]], but robust to insert/delete edits between
    * near-duplicate documents. The keep-first window here keys by the
    * chunk STRING (so the DuckDB oracle reproduces it exactly); at
    * 100 TB swap the key for md5(chunk) and carry the text, bounding
    * shuffle-key bytes at 16 per chunk — the same swap [[segmentDedup]]
    * documents. Returns (id, text_cdc) for EVERY input document (''
    * when all its chunks were seen before). */
  def cdcDedup(df: DataFrame, idCol: String, textCol: String,
      divisor: Int = 8): DataFrame = {
    val chunks = cdcChunks(df, idCol, textCol, divisor)
    val w = Window.partitionBy(col("chunk"))
      .orderBy(col(idCol), col("chunk_start"))
    val kept = chunks.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val reassembled = kept.groupBy(col(idCol))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("chunk_start"), col("chunk")))),
        s => s.getField("chunk"))).as("text_cdc"))
    df.select(col(idCol))
      .join(reassembled, Seq(idCol), "left")
      .withColumn("text_cdc", coalesce(col("text_cdc"), lit("")))
  }

  /** Jaccard estimate from two MinHash signatures: fraction of equal
    * minima (unbiased, σ ≈ √(J(1−J)/k)). Native codegen'd expression. */
  def sigEstimate(sig1: Column, sig2: Column): Column = {
    import org.apache.spark.sql.graft.{shims, SigEqFracExpr}
    shims.column(SigEqFracExpr(shims.expression(sig1),
      shims.expression(sig2)))
  }

  /** Candidate pairs pre-filtered by the signature Jaccard estimate:
    * joins each (id1, id2) back to its signatures and keeps pairs with
    * estimate ≥ `minEstimate`. Set `minEstimate = threshold − margin`
    * with a generous margin (estimate σ at k=64 is ≤ 0.063, so a 0.3
    * margin is ≈ 5σ): the exact verify stage then touches only
    * plausibly-near pairs — at scale this is the difference between
    * re-reading text for every bucket collision and only for real
    * near-dup candidates. */
  def candidatePairsEstimated(bandsDf: DataFrame, sig: DataFrame,
      idCol: String, minEstimate: Double): DataFrame = {
    candidatePairs(bandsDf, idCol)
      .join(sig.select(col(idCol).as("id1"), col("signature").as("sig1")),
        Seq("id1"))
      .join(sig.select(col(idCol).as("id2"), col("signature").as("sig2")),
        Seq("id2"))
      .filter(sigEstimate(col("sig1"), col("sig2")) >= minEstimate)
      .select(col("id1"), col("id2"))
  }

  /** Persistable near-dup INDEX of a corpus: one row per doc with its
    * MinHash signature plus the exploded (band, band_hash) rows — the
    * train-once/serve-many artifact for INCREMENTAL dedup (same role the
    * IVF centroid catalog plays for ANN). Write both to parquet
    * (bucketed by band_hash at scale) and daily ingest never touches
    * corpus text again. */
  def buildDedupIndex(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64, bands: Int = 16)
      : (DataFrame, DataFrame) = {
    val sig = minhashSignature(docs, idCol, textCol, n, k)
    (sig, lshBands(sig, idCol, bands))
  }

  /** Incremental near-dup lookup: a NEW batch probed against a stored
    * index. Signatures/bands are computed for the batch ONLY; the probe
    * is one equi-join on (band, band_hash) against the stored band
    * table; the signature-estimate pre-filter uses stored signatures
    * for the index side. Only surviving candidates' texts are re-read
    * for the exact verify. Returns (new_id id1, indexed_id id2,
    * jaccard ≥ threshold). */
  def incrementalNearDups(batch: DataFrame, idxSig: DataFrame,
      idxBands: DataFrame, allDocs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, k: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, minEstimate: Double = 0.5): DataFrame = {
    val batchSig = minhashSignature(batch, idCol, textCol, n, k)
    val batchBands = lshBands(batchSig, idCol, bands)
    val cands = batchBands.select(col("band"), col("band_hash"),
        col(idCol).as("id1"))
      .join(idxBands.select(col("band"), col("band_hash"),
        col(idCol).as("id2")), Seq("band", "band_hash"))
      .filter(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2")).distinct()
    val estimated = cands
      .join(batchSig.select(col(idCol).as("id1"),
        col("signature").as("sig1")), Seq("id1"))
      .join(idxSig.select(col(idCol).as("id2"),
        col("signature").as("sig2")), Seq("id2"))
      .filter(sigEstimate(col("sig1"), col("sig2")) >= minEstimate)
      .select(col("id1"), col("id2"))
    jaccardVerify(estimated, allDocs, idCol, textCol, n, threshold)
  }

  /** Exact Jaccard similarity over word-shingle sets for candidate pairs
    * (the verification step after LSH). `docs` must have (id, text).
    * Shingle sets are computed AFTER the pair joins — only candidate
    * rows pay for shingling, not the whole corpus (the earlier
    * sets-then-join shape shingled every document on both join sides:
    * at 100 TB that is two full-corpus shingling passes for a candidate
    * set that is orders of magnitude smaller). */
  def jaccardVerify(pairs: DataFrame, docs: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val texts = docs.select(col(idCol).as("jid"), col(textCol).as("jtext"))
    pairs
      .join(texts.withColumnRenamed("jid", "id1")
        .withColumnRenamed("jtext", "text1"), Seq("id1"))
      .join(texts.withColumnRenamed("jid", "id2")
        .withColumnRenamed("jtext", "text2"), Seq("id2"))
      .withColumn("set1", shingleSet(col("text1"), n))
      .withColumn("set2", shingleSet(col("text2"), n))
      .withColumn("inter",
        size(array_intersect(col("set1"), col("set2"))).cast("double"))
      // floor-truncation, not round(): pure function of the double bits,
      // so any engine computing the same division agrees (Det convention)
      .withColumn("jaccard", graft.queries.Det.floor4(col("inter") /
        (size(col("set1")) + size(col("set2")) - col("inter"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** SimHash near-dup pairs with GUARANTEED full recall: split the
    * 64-bit signature into `maxDistance + 1` bit-bands — two signatures
    * within hamming distance d differ in at most d bands, so by
    * pigeonhole they AGREE on at least one band and meet in its bucket.
    * Candidates are verified with the native hamming64; each pair is
    * kept only in its first matching band (no post-join dedup shuffle —
    * same discipline as the cosine LSH path). Equality with the
    * all-pairs result is a theorem, not a tuning outcome (tested). */
  def simhashNearDupsBanded(sig: DataFrame, idCol: String,
      maxDistance: Int = 8): DataFrame = {
    val bands = maxDistance + 1
    val width = 64 / bands // trailing remainder bits join the last band
    def bandVal(h: Column, b: Int): Column = {
      val lo = b * width
      val w = if (b == bands - 1) 64 - lo else width
      // logical shift; mask the band's bits (w < 64 here since bands>=2)
      shiftrightunsigned(h, lo).bitwiseAND((1L << w) - 1)
    }
    val banded = sig.select(col(idCol), col("simhash"),
      posexplode(array((0 until bands).map(b =>
        bandVal(col("simhash"), b)): _*)).as(Seq("band", "band_val")))
    val a = banded.select(col("band"), col("band_val"),
      col(idCol).as("id1"), col("simhash").as("h1"))
    val b = banded.select(col("band"), col("band_val"),
      col(idCol).as("id2"), col("simhash").as("h2"))
    val joined = a.join(b, Seq("band", "band_val"))
      .filter(col("id1") < col("id2"))
      .withColumn("distance",
        HammingDistance.hamming64(col("h1"), col("h2")))
      .filter(col("distance") <= maxDistance)
    // keep each pair only in its FIRST agreeing band (nested CASE
    // checking band 0 outermost), so no post-join dedup is needed
    val firstMatch = (0 until bands).reverse.foldLeft(lit(-1)) {
      (rest, bi) =>
        when(bandVal(col("h1"), bi) === bandVal(col("h2"), bi), lit(bi))
          .otherwise(rest)
    }
    joined.filter(col("band") === firstMatch)
      .select(col("id1"), col("id2"), col("distance"))
  }

  /** SimHash near-dup pairs: bucket by the signature's high bytes (cheap
    * pre-filter), then exact hamming distance via the native codegen'd
    * HammingDistance expression. For guaranteed recall use
    * [[simhashNearDupsBanded]]. */
  def simhashNearDups(sig: DataFrame, idCol: String,
      maxDistance: Int = 8, bucketBits: Int = 16): DataFrame = {
    val bucket =
      if (bucketBits == 0) lit(0L)
      else shiftright(col("simhash"), 64 - bucketBits)
    val a = sig.select(col(idCol).as("id1"), col("simhash").as("h1"),
      bucket.as("bucket"))
    val b = sig.select(col(idCol).as("id2"), col("simhash").as("h2"),
      bucket.as("bucket"))
    a.join(b, Seq("bucket")).filter(col("id1") < col("id2"))
      .withColumn("distance",
        HammingDistance.hamming64(col("h1"), col("h2")))
      .filter(col("distance") <= maxDistance)
      .select(col("id1"), col("id2"), col("distance"))
  }

  /** 64-bit SimHash: per-token xxhash64, each bit votes ±1 weighted by
    * token frequency; sign of the vote sum sets the output bit. One
    * explode + one groupBy with 64 conditional sums (all codegen'd). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tokens = df.select(col(idCol),
      explode(split(TextOps.normalize(col(textCol)), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitVotes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"b$b")
    }
    tokens.groupBy(col(idCol)).agg(bitVotes.head, bitVotes.tail: _*)
      .select(col(idCol),
        (0 until 64).map(b =>
          when(col(s"b$b") > 0, shiftleft(lit(1L), b)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Cross-engine (md5-family) SimHash: (id, simhash_bits) where
    * simhash_bits is the 64-char bit string of [[SimHashMd5Expr]]'s
    * signature (bit 63 first). The bit-string form sidesteps
    * signed/unsigned 64-bit representation differences between engines;
    * the production near-dup path stays on the xxhash64 [[simhash]]. */
  def simhashMd5(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graft.{shims, SimHashMd5Expr}
    df.select(col(idCol),
      lpad(bin(shims.column(SimHashMd5Expr(shims.expression(col(textCol))))),
        64, "0").as("simhash_bits"))
  }

  /** Cross-engine (md5-family) MinHash signature — [[MinHashMd5SigExpr]]
    * over the native shingle list; value-reproducible in DuckDB (d03). */
  def minhashMd5Signature(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.graft.{shims, MinHashMd5SigExpr}
    df.select(col(idCol), shims.column(MinHashMd5SigExpr(
      shims.expression(shingleList(col(textCol), n)), k)).as("signature"))
  }

  /** LSH banding with a cross-engine band key: (id, band BIGINT,
    * band_key STRING) where band_key = first 16 hex chars of
    * md5("m₀,m₁,…") over the band's minima — reproducible by any engine
    * with md5, unlike [[lshBands]]'s seeded xxhash64. Pins the ENTIRE
    * signature (16 bands × 4 minima cover all k=64 values). */
  def lshBandsMd5(sig: DataFrame, idCol: String, bands: Int): DataFrame = {
    val r = size(col("signature")) / bands
    sig.select(col(idCol),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => substring(md5(concat_ws(",",
            transform(slice(col("signature"), b * r + 1, r),
              x => x.cast("string"))).cast("binary")), 1, 16)))
          .as(Seq("band", "band_key")))
      .select(col(idCol), col("band").cast("long").as("band"),
        col("band_key"))
  }

  /** Duplicate-CLUSTER assignment: the near-dup pair graph closed into
    * connected components. Near-dup similarity is not transitive — A≈B
    * and B≈C does not imply A≈C — but a training-data dedup must still
    * drop a whole chain down to one representative, which is exactly a
    * connected-components closure over the pair graph. Runs the
    * DataFrame-native alternating-star CC ([[graft.engine.StarCC]] —
    * O(log n) rounds independent of chain length, no RDD/Pregel
    * machinery; the GraphX Pregel path it replaced spent ~15 s of
    * per-superstep overhead on the 249k-edge sf1 pair graph, vs the
    * same min-id labeling here in a few Tungsten rounds). `ids`
    * supplies ALL corpus ids so singleton docs come back as their own
    * cluster. Returns (idCol, cluster_id) where cluster_id = min id in
    * the component — so `id == cluster_id` marks the canonical
    * keeper. */
  def dupClusters(pairs: DataFrame, ids: DataFrame, idCol: String)
      : DataFrame = {
    val cc = graft.engine.StarCC.components(
      pairs.select(col("id1").cast("long").as("id1"),
        col("id2").cast("long").as("id2")))
    ids.select(col(idCol).cast("long").as(idCol))
      .join(cc.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol)).as("cluster_id"))
  }

  /** Quality-aware cluster keeper: close the near-dup pair graph into
    * components ([[dupClusters]]) and keep each cluster's HIGHEST-
    * quality member (ties to the lower id) instead of the arbitrary
    * min-id — "of these near-duplicates, keep the best one", the form
    * curation pipelines actually want. The per-cluster argmax is a
    * row_number window partitioned by cluster id — cluster sizes are
    * bounded by dup-chain length, so the window never sees a heavy
    * partition at scale. `docs` must carry (idCol, qualityCol). */
  def dupClustersKeepBest(pairs: DataFrame, docs: DataFrame,
      idCol: String, qualityCol: String): DataFrame = {
    val clusters = dupClusters(pairs, docs.select(col(idCol)), idCol)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col(qualityCol).desc, col(idCol))
    clusters.join(docs.select(col(idCol), col(qualityCol)), Seq(idCol))
      .withColumn("keep",
        (row_number().over(w) === 1).cast("long"))
  }

  /** Train/eval n-gram DECONTAMINATION report: for every eval doc, how
    * many of its distinct word n-grams also appear anywhere in the
    * training split. The standard pre-training hygiene step (eval-set
    * leakage detection), run the scalable way:
    *
    *  - both sides explode to DISTINCT shingles (map-side distinct
    *    inside each doc, then a global distinct on the train side —
    *    partial-aggregated, so the shuffle carries unique n-grams, not
    *    corpus positions);
    *  - one hash equi-join (left outer, flagging hits) from eval
    *    shingles to the train vocabulary — no row blowup: the
    *    vocabulary is distinct, so the join emits exactly the eval side,
    *    and one per-doc count follows. At 100 TB the join key would be
    *    xxhash64(shingle) (8 bytes instead of the string); the gate
    *    keeps the raw string so the DuckDB oracle can reproduce it
    *    exactly.
    *
    * Returns (idCol, n_shingles, n_contaminated, contamination) — the
    * floor4 contaminated fraction; docs above a threshold get dropped
    * from eval (or the training docs containing them get dropped). */
  def ngramContamination(eval: DataFrame, train: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    // each eval doc's set is built once; its size rides along the explode
    val evalSh = eval
      .select(col(idCol), shingleSet(col(textCol), n).as("sh"))
      .select(col(idCol), col("sh"),
        size(col("sh")).cast("long").as("n_shingles"))
      .select(col(idCol), col("n_shingles"), explode_outer(col("sh")).as("g"))
    val trainSh = train
      .select(explode(shingleSet(col(textCol), n)).as("g"))
      .distinct().withColumn("hit", lit(1L))
    evalSh.join(trainSh, Seq("g"), "left")
      .groupBy(col(idCol), col("n_shingles"))
      .agg(count(col("hit")).as("n_contaminated"))
      .withColumn("contamination", graft.queries.Det.floor4(
        col("n_contaminated").cast("double") / col("n_shingles")))
  }

  /** Duplicated-SPAN detection (substring-level dedup à la Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * every position-anchored `n`-word window that occurs more than once
    * ANYWHERE in the corpus (other docs or elsewhere in the same doc)
    * marks its token range duplicated; per document, overlapping ranges
    * are merged (gaps-and-islands) into maximal spans. Documents
    * shorter than `n` words have no spans by definition.
    *
    * Returns one row per input document:
    * (doc_id, n_spans, dup_tokens, total_tokens,
    *  dup_bp = ⌊dup_tokens·10⁴ / total_tokens⌋ — integer basis points,
    * exact on every engine).
    *
    * Scale shape: windows come from the native shingle-list expression
    * (map-side explode); the duplicate test is one count-over-window
    * keyed by the window CONTENT (at 100 TB key by the 16-byte
    * fingerprint of the window instead); island-merge windows are
    * per-document and bounded by document length. No joins except the
    * final per-doc left join back to the corpus frame. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int = 8): DataFrame = {
    val sh = df
      .filter(TextOps.tokenCount(col(textCol)) >= n)
      .select(col(idCol).as("doc_id"),
        posexplode(shingleList(col(textCol), n)).as(Seq("pos", "g")))
    val dup = sh
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("g"))))
      .filter(col("c") > 1)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val isl = dup
      .withColumn("prev", lag(col("pos"), 1).over(wd))
      .withColumn("island",
        sum((col("prev").isNull || col("pos") - col("prev") > n - 1)
          .cast("long")).over(wd))
    val spans = isl.groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + n).as("covered"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("covered")).as("dup_tokens"))
    df.select(col(idCol).as("doc_id"),
        TextOps.tokenCount(col(textCol)).as("total_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        col("total_tokens"),
        when(col("total_tokens") === 0, lit(0L))
          .otherwise(expr(
            "coalesce(dup_tokens, 0L) * 10000L div total_tokens"))
          .as("dup_bp"))
  }

  /** ASYMMETRIC containment near-dup pairs — the dedup mode symmetric
    * Jaccard cannot see: a short document quoted wholesale inside a
    * long one has containment(short→long) ≈ 1 while Jaccard ≈
    * |short|/|long| ≈ 0 (wire stories inside roundups, quoted posts,
    * boilerplate-wrapped bodies). For each unordered pair with any
    * shared distinct n-gram shingle,
    *
    *   c1_bp = ⌊10⁴·|S₁∩S₂| / |S₁|⌋,   c2_bp = ⌊10⁴·|S₁∩S₂| / |S₂|⌋
    *
    * in EXACT integer arithmetic; pairs where either side's containment
    * clears `thresholdBp` are emitted.
    *
    * Scale shape — PPJoin prefix filtering (the position-enhanced
    * variants trace to Xiao et al., WWW'08; prefix filtering itself to
    * Chaudhuri et al., ICDE'06): a qualifying pair needs
    * inter ≥ ⌈T·min(sz₁,sz₂)/10⁴⌉, so in ANY fixed total order of
    * shingles the other document must contain one of the smaller
    * document's first sz − ⌈T·sz/10⁴⌉ + 1 shingles. Ordering by global
    * rarity (document frequency asc, shingle asc) and inverted-indexing
    * ONLY those prefixes shrinks candidate generation by ≈ 10⁴/(10⁴−T)
    * (10× at T=9000) versus the full-index self-join — the difference
    * between linear-ish and Σdf² when a corpus is near-dup-heavy (the
    * sf1 rehearsal's clustered replicas drove the full-index form to
    * 165 s; this shape holds single-digit seconds). Candidates then
    * join back to the per-doc shingle ARRAYS and the exact intersection
    * is computed per pair — no per-(pair, shingle) aggregate rows.
    * Hot boilerplate shingles still fan df·prefix-df: at production
    * scale cap shingle document-frequency first (a shingle shared by
    * thousands of documents identifies boilerplate — p22's operator —
    * not quotation; the cap is a documented recall trade on exactly
    * those shingles). The gate runs uncapped — exact vs the all-pairs
    * oracle, and DedupSpec pins equality with the full-index form.
    *
    * Returns (id1, id2, c1_bp, c2_bp), id1 < id2. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, thresholdBp: Int): DataFrame = {
    import org.apache.spark.sql.graft.{shims, SortedIntersectCountIntExpr}
    val (docs, cand) =
      containmentDocsAndCands(df, idCol, textCol, n, thresholdBp)
    // exact intersection per candidate pair, straight off the sorted
    // dictionary-id arrays (zero-allocation int merge); same pinning —
    // the array sides are ~docs × shingle-count × 4 B, never
    // broadcastable at scale. This join's shuffle is candidates ×
    // array-bytes — the operator's true scale cost, and candidates on
    // a near-dup-heavy corpus are driven by cluster width (sf1
    // measured: 7.5M candidates for 248k true pairs over 50k docs in
    // 10-replica clusters). The sf10 rehearsal measured the old
    // STRING-array form of this shuffle at ~190 GB (1.2 KB/array, two
    // join legs) — it filled the disk; dictionary ints cut it ~6×
    // (sf1: 9.4 GB/side → 1.9 GB total on the verify leg).
    val d1 = docs.select(col("id").as("id1"), col("gids").as("g1"),
      col("sz").as("sz1"))
    val d2 = docs.select(col("id").as("id2"), col("gids").as("g2"),
      col("sz").as("sz2"))
    cand.join(d1.hint("shuffle_hash"), Seq("id1"))
      .join(d2.hint("shuffle_hash"), Seq("id2"))
      .select(col("id1"), col("id2"),
        shims.column(SortedIntersectCountIntExpr(
          shims.expression(col("g1")), shims.expression(col("g2"))))
          .as("inter"),
        col("sz1"), col("sz2"))
      .select(col("id1"), col("id2"),
        expr("10000L * inter div sz1").as("c1_bp"),
        expr("10000L * inter div sz2").as("c2_bp"))
      .filter(greatest(col("c1_bp"), col("c2_bp")) >= thresholdBp)
  }

  /** Candidate-generation half of [[containmentPairs]] — exposed so
    * dev probes can measure candidate volume separately from the
    * verify join. Returns (docs, cand): the checkpointed per-doc
    * dictionary-id table (id, gids sorted ARRAY<INT>, sz) and the
    * distinct (id1 < id2) candidate pairs. */
  private[graft] def containmentDocsAndCands(df: DataFrame,
      idCol: String, textCol: String, n: Int, thresholdBp: Int)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val sp = df.sparkSession
    // Repartition BEFORE materializing: the scan's partitioning is
    // sized by compressed text bytes, but the frames below hold the
    // exploded/deserialized shingle sets (10-50× the text) —
    // inheriting a 128 MB-of-parquet split puts whole-corpus fractions
    // in single tasks (the sf10 rehearsal OOMed exactly there: 500k
    // docs arriving as 4 scan partitions). Hashing by id bounds
    // per-task state at docs/shufflePartitions regardless of layout.
    val nPart = sp.sessionState.conf.numShufflePartitions
    // localCheckpoint for two reasons: (1) vocab AND the encode join
    // below both consume base — unpinned, the normalization+shingling
    // scan (the most expensive pass here) runs twice; (2) vocab is
    // pinned but base would not be, so a nondeterministic recompute of
    // the source could present shingles the vocabulary never saw, and
    // the inner join(vocab) would silently DROP them, deflating
    // intersection counts with no error. Pinning base makes the encode
    // join see exactly the rows the vocabulary was built from.
    val base = df.repartition(nPart, col(idCol))
      .select(col(idCol).as("id"), shingleSet(col(textCol), n).as("shs0"))
      .select(col("id"), col("shs0"),
        size(col("shs0")).cast("long").as("sz"))
      .localCheckpoint()
    // EXACT global dictionary: every distinct STRING shingle gets a
    // unique dense int id (zipWithIndex — contiguous, one extra count
    // job). Injective by construction, so set-intersection counts over
    // ids equal the string-set counts UNCONDITIONALLY (unlike 64-bit
    // hashing, which is exact only up to collisions), while every
    // shuffle, join, window and the verify merge below runs on
    // fixed-width ints. At 100 TB the dictionary is the corpus shingle
    // vocabulary — billions of rows but linear in corpus size and
    // hash-partitioned; past 2³¹ distinct shingles promote gid to LONG
    // (the require below makes that boundary loud, not silent).
    // localCheckpoint pins the assignment: zipWithIndex ids depend on
    // partition-internal row order, which a recompute need not repeat.
    import sp.implicits._
    val vocab = base.select(explode(col("shs0")).as("g_str")).distinct()
      .as[String].rdd.zipWithIndex()
      .map { case (s, i) =>
        require(i <= Int.MaxValue.toLong,
          "shingle vocabulary exceeds 2^31 — promote gid to LONG")
        (s, i.toInt)
      }.toDF("g_str", "gid")
      .localCheckpoint()
    // Per-doc dictionary-id table, pinned (at production scale this is
    // the persisted shingle table): one encode pass — explode, join the
    // vocabulary on the string, re-assemble sorted int arrays. The
    // join is a plain shuffle join of the posting stream (docs ×
    // shingles rows) against the vocabulary — both linear in corpus.
    val docs = base.select(col("id"), col("sz"),
        explode(col("shs0")).as("g_str"))
      .join(vocab, Seq("g_str"))
      .groupBy(col("id"), col("sz"))
      .agg(array_sort(collect_list(col("gid"))).as("gids"))
      .localCheckpoint()
    val sh = docs.select(col("id"), col("sz"),
      explode(col("gids")).as("g"))
    // global rarity order: document frequency asc, id asc
    val dfreq = sh.groupBy(col("g")).agg(count(lit(1)).as("df"))
    // a qualifying pair needs overlap ≥ ⌈T·sz/10⁴⌉ of the smaller
    // doc's sz distinct shingles, so in ANY fixed total order the
    // other document must contain one of its first
    // sz − ⌈T·sz/10⁴⌉ + 1 ids (the dictionary is injective — no
    // collision slack; the order is per-run but globally consistent,
    // which is all prefix-filter soundness needs)
    val prefLen = col("sz") -
      expr(s"(${thresholdBp.toLong}L * sz + 9999L) div 10000L") + 1L
    val rankW = Window.partitionBy(col("id")).orderBy(col("df"), col("g"))
    val prefix = sh.join(dfreq, Seq("g"))
      .withColumn("rk", row_number().over(rankW))
      .filter(col("rk") <= prefLen)
      .select(col("g"), col("id").as("pid"))
    // candidates: the smaller doc's prefix must hit the other doc's
    // full shingle set — index prefixes, probe with the full postings.
    // shuffle_hash pinned: the checkpointed shingle table inherits the
    // (tiny) pre-explode size estimate, so the planner would BROADCAST
    // the multi-GB exploded postings — the sf1 rehearsal measured that
    // misplan at 100+ s; hash-partitioned joins are also the only shape
    // that scales these sides horizontally.
    val cand = prefix.join(
        sh.select(col("g"), col("id").as("fid")).hint("shuffle_hash"),
        Seq("g"))
      .filter(col("pid") =!= col("fid"))
      .select(least(col("pid"), col("fid")).as("id1"),
        greatest(col("pid"), col("fid")).as("id2"))
      .distinct()
    (docs, cand)
  }

  /** The full-inverted-index form of [[containmentPairs]] — Σ C(df,2)
    * join output, kept as the oracle-shaped reference implementation
    * for the equivalence spec (it IS exact, just quadratic in posting
    * lists on near-dup-heavy corpora). */
  private[graft] def containmentPairsFullIndex(df: DataFrame,
      idCol: String, textCol: String, n: Int, thresholdBp: Int)
      : DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        shingleSet(col(textCol), n).as("shs"))
      .select(col("id"), size(col("shs")).cast("long").as("sz"),
        explode(col("shs")).as("g"))
    val a = sh.select(col("g"), col("id").as("id1"), col("sz").as("sz1"))
    val b = sh.select(col("g"), col("id").as("id2"), col("sz").as("sz2"))
    a.join(b, Seq("g"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"), col("sz1"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id1"), col("id2"),
        expr("10000L * inter div sz1").as("c1_bp"),
        expr("10000L * inter div sz2").as("c2_bp"))
      .filter(greatest(col("c1_bp"), col("c2_bp")) >= thresholdBp)
  }
}
