package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Expression,
  HigherOrderFunction, LambdaFunction}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Higher-order functions and lambdas anywhere in an executed plan, AQE
  * stages and subqueries included. */
private object ExecutedLambdas extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Seq[Expression] =
    collectWithSubqueries(plan) { case p => p.expressions }.flatten
      .flatMap(_.collect {
        case e: HigherOrderFunction => e
        case e: LambdaFunction => e
      })
}

class DedupSpec extends SparkSpec {
  private val docSchema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  /** The interpreted `transform` shingle form the native expressions
    * replaced, kept as the reference they are pinned against. */
  private def refShingles(text: Column, n: Int): Column = {
    val words = split(TextOps.normalize(text), " ")
    when(size(words) < n, array(array_join(words, " ")))
      .otherwise(transform(sequence(lit(0), size(words) - n),
        i => array_join(slice(words, i + 1, lit(n)), " ")))
  }

  /** The interpreted `transform` segment form `wordSegments` replaced. */
  private def refWordSegments(text: Column, segWords: Int): Column = {
    val words = split(TextOps.normalize(text), " ")
    val nSegs = ceil(size(words) / lit(segWords.toDouble)).cast("int")
    transform(sequence(lit(0), nSegs - 1),
      i => array_join(slice(words, i * segWords + 1, lit(segWords)), " "))
  }

  /** `dupNgramMilli` as it was composed from two reference arrays. */
  private def refDupNgramMilli(text: Column, n: Int): Column = {
    val sh = refShingles(text, n)
    floor((lit(1.0) - size(array_distinct(sh)).cast("double") /
      size(sh).cast("double")) * 10000).cast("long")
  }

  /** Runs `df` and returns the lambdas of its executed plan. */
  private def lambdasIn(df: DataFrame): Seq[Expression] = {
    df.collect()
    ExecutedLambdas(df.queryExecution.executedPlan)
  }

  private val base = ("the quick brown fox jumps over the lazy dog " * 5).trim
  private lazy val docs = df(docSchema,
    Row(1L, base),
    Row(2L, base + " extra"),                       // near-dup of 1
    Row(3L, "completely different words entirely " +
      "about unrelated topics and matters"),
    Row(4L, base.toUpperCase),                      // exact dup modulo case
    Row(5L, "short text"))

  test("exactCanonical groups case/whitespace-normalized duplicates") {
    val out = DedupOps.exactCanonical(docs, "id", "text")
      .select("id", "canonical_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(4L) == 1L) // uppercased copy canonicalizes to 1
    assert(out(1L) == 1L && out(3L) == 3L && out(5L) == 5L)
  }

  test("shingles produce n-grams; short docs degrade to whole text") {
    val sh = docs.filter(col("id") === 5)
      .select(DedupOps.shingleList(col("text"), 3)).collect().head.getSeq[String](0)
    assert(sh == Seq("short text"))
    val sh2 = docs.filter(col("id") === 1)
      .select(DedupOps.shingleList(col("text"), 3)).collect().head.getSeq[String](0)
    assert(sh2.head == "the quick brown" && sh2.forall(_.split(" ").length == 3))
  }

  test("native shingleList == shingles on real documents") {
    val real = graft.sources.Tables(spark, sf("sf0.001")).documents
    for (n <- Seq(1, 2, 3, 5)) {
      val mismatches = real.select(
          DedupOps.shingleList(col("text"), n).as("fused"),
          refShingles(col("text"), n).as("compositional"))
        .filter(col("fused") =!= col("compositional")).count()
      assert(mismatches == 0, s"n=$n")
    }
  }

  test("native dupNgramMilli == the shingle-array form on real documents") {
    val real = graft.sources.Tables(spark, sf("sf0.001")).documents
    for (n <- Seq(1, 2, 3, 5)) {
      val mismatches = real.select(
          TextOps.dupNgramMilli(col("text"), n).as("fused"),
          refDupNgramMilli(col("text"), n).as("compositional"))
        .filter(col("fused") =!= col("compositional")).count()
      assert(mismatches == 0, s"n=$n")
    }
  }

  test("native shingle expressions == the reference on edge inputs " +
      "under a Turkish default locale") {
    val edge = df(docSchema,
      Row(1L, ""), Row(2L, " \t\n  "), Row(3L, "Two words"),
      Row(4L, "tabs\tand\nnew\r\nlines  Here"),
      Row(5L, "\u0001leading control char"),
      Row(6L, "İI"), Row(7L, null))
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      for (n <- Seq(1, 2, 3, 5)) {
        val rows = edge.select(col("id"),
            DedupOps.shingleList(col("text"), n),
            refShingles(col("text"), n),
            DedupOps.shingleSet(col("text"), n),
            array_distinct(refShingles(col("text"), n)),
            TextOps.dupNgramMilli(col("text"), n),
            refDupNgramMilli(col("text"), n))
          .collect()
        rows.foreach { r =>
          for (i <- Seq(1, 3, 5))
            assert(r.get(i) == r.get(i + 1), s"n=$n col=$i $r")
        }
      }
    } finally java.util.Locale.setDefault(saved)
  }

  test("native wordSegments == the transform form on real documents " +
      "and edge inputs under a Turkish default locale") {
    val real = graft.sources.Tables(spark, sf("sf0.001")).documents
    for (n <- Seq(1, 3, 10)) {
      val mismatches = real.select(
          DedupOps.wordSegments(col("text"), n).as("native"),
          refWordSegments(col("text"), n).as("reference"))
        .filter(col("native") =!= col("reference")).count()
      assert(mismatches == 0, s"n=$n")
    }
    val edge = df(docSchema,
      Row(1L, ""), Row(2L, " \t\n  "), Row(3L, "Two words"),
      Row(4L, "one two three four five six seven"),
      Row(5L, "tabs\tand\nnew\r\nlines  Here"),
      Row(6L, "\u0001leading control char"),
      Row(7L, "İI"), Row(8L, null))
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.forLanguageTag("tr"))
    try {
      for (n <- Seq(1, 2, 3, 5)) {
        edge.select(col("id"), DedupOps.wordSegments(col("text"), n),
            refWordSegments(col("text"), n))
          .collect()
          .foreach(r => assert(r.get(1) == r.get(2), s"n=$n $r"))
      }
    } finally java.util.Locale.setDefault(saved)
  }

  test("t09, d02, p04, p17, p08 and p14 execute no higher-order lambda") {
    // the detector itself sees the interpreted forms
    assert(lambdasIn(docs.select(refShingles(col("text"), 3))).nonEmpty)
    assert(lambdasIn(docs.select(refWordSegments(col("text"), 3))).nonEmpty)
    import graft.queries.PipelineQueries._
    for (q <- Seq(t09, d02, p04, p17, p08, p14)) {
      val found = lambdasIn(q.run(spark, sf("sf0.001")))
      assert(found.isEmpty, s"${q.name}: ${found.mkString("; ")}")
    }
  }

  test("minhash LSH surfaces the near-dup pair, not unrelated docs") {
    val sig = DedupOps.minhashSignature(docs, "id", "text", n = 3, k = 32)
    assert(sig.count() == 5)
    val pairs = DedupOps.candidatePairs(
      DedupOps.lshBands(sig, "id", bands = 16), "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)))
    assert(!pairs.contains((3L, 5L)))
  }

  test("fused text signature == compositional shingle signature") {
    val viaText = DedupOps.minhashSignature(docs, "id", "text", 3, 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaShingles = DedupOps.minhashSignatureFromShingles(
        docs.select(col("id"),
          refShingles(col("text"), 3).as("sh")), "id", "sh", 32)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaText == viaShingles)
  }

  test("jaccardVerify confirms near-dups above threshold") {
    val pairs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 2L), Row(1L, 3L))),
      StructType(Seq(StructField("id1", LongType),
        StructField("id2", LongType))))
    val verified = DedupOps.jaccardVerify(pairs, docs, "id", "text",
        n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(verified.toSet == Set((1L, 2L))) // 1-3 dissimilar, filtered out
  }

  test("native shingleSet == array_distinct(shingles) on real documents") {
    val real = graft.sources.Tables(spark, sf("sf0.001")).documents
    for (n <- Seq(1, 2, 3, 5)) {
      val mismatches = real.select(
          DedupOps.shingleSet(col("text"), n).as("fused"),
          array_distinct(refShingles(col("text"), n))
            .as("compositional"))
        .filter(col("fused") =!= col("compositional")).count()
      assert(mismatches == 0, s"n=$n")
    }
  }

  test("bloomSegmentContamination equals the exact semi-join (no false negatives)") {
    val mk = (i: Long, t: String) => Row(i, t)
    val seg = (1 to 10).map(i => s"s$i").mkString(" ") // one full segment
    val train = df(docSchema, mk(1L, seg + " " + base), mk(2L, "other words"))
    val eval = df(docSchema,
      mk(10L, seg),                       // shares the planted segment
      mk(11L, base),                      // shares base's segments
      mk(12L, "totally fresh content never seen in training data here"))
    val got = DedupOps.bloomSegmentContamination(eval, train, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainSegs = train.select(
      explode(DedupOps.wordSegments(col("text"), 10)).as("seg")).distinct()
    val exact = eval.select(col("id"),
        explode(DedupOps.wordSegments(col("text"), 10)).as("seg"))
      .join(trainSegs, Seq("seg"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exact)
    assert(got.contains(10L) && !got.contains(12L))
  }

  test("cdcChunks: boundaries are content-defined, so insertions reflow locally") {
    // 60 distinct-ish words; doc 2 = doc 1 with ONE word prepended
    val words = (1 to 60).map(i => s"w$i").mkString(" ")
    val d = df(docSchema, Row(1L, words), Row(2L, "inserted " + words),
      Row(3L, "   "))
    val ch = DedupOps.cdcChunks(d, "id", "text")
      .collect().map(r => (r.getLong(0), r.getString(3)))
    val c1 = ch.filter(_._1 == 1L).map(_._2).toSet
    val c2 = ch.filter(_._1 == 2L).map(_._2).toSet
    // content-defined boundaries realign after the insertion: most of
    // doc 1's chunks reappear verbatim in doc 2
    val shared = (c1 intersect c2).size.toDouble / c1.size
    assert(shared >= 0.5, f"only $shared%.2f of chunks survived insertion")
    // blank docs produce no chunks; chunks reassemble to the input
    assert(!ch.exists(_._1 == 3L))
    val re = ch.filter(_._1 == 1L).map(_._2)
    assert(DedupOps.cdcChunks(d, "id", "text")
      .filter(col("id") === 1L).orderBy(col("chunk_start"))
      .collect().map(_.getString(3)).mkString(" ") === words)
    assert(re.nonEmpty)
  }

  test("cdcDedup keeps first occurrence per chunk and reassembles") {
    val words = (1 to 40).map(i => s"v$i").mkString(" ")
    val d = df(docSchema, Row(1L, words), Row(2L, words), Row(3L, "solo doc"))
    val out = DedupOps.cdcDedup(d, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === words) // first doc keeps everything
    assert(out(2L) === "")    // exact dup loses every chunk
    assert(out(3L) === "solo doc")
    assert(out.size === 3)
  }

  test("sigEstimate tracks true Jaccard (identical=1, near-dup high, unrelated low)") {
    val sig = DedupOps.minhashSignature(docs, "id", "text", n = 3, k = 64)
      .localCheckpoint()
    def est(a: Long, b: Long): Double = sig.filter(col("id") === a)
      .crossJoin(sig.filter(col("id") === b)
        .withColumnRenamed("signature", "sig2").withColumnRenamed("id", "id2"))
      .select(DedupOps.sigEstimate(col("signature"), col("sig2")))
      .collect().head.getDouble(0)
    assert(est(1L, 4L) == 1.0)  // case-normalized identical text
    assert(est(1L, 2L) > 0.5)   // near-dup
    assert(est(1L, 3L) < 0.3)   // unrelated
  }

  test("estimated candidate pairs keep true near-dups, drop unrelated") {
    val sig = DedupOps.minhashSignature(docs, "id", "text", n = 3, k = 64)
    val bands = DedupOps.lshBands(sig, "id", bands = 16)
    val unfiltered = DedupOps.candidatePairs(bands, "id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val filtered = DedupOps.candidatePairsEstimated(bands, sig, "id", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(filtered.subsetOf(unfiltered))
    assert(filtered.contains((1L, 4L))) // exact dup survives the filter
  }

  test("simhashNearDupsBanded equals the all-pairs result (pigeonhole recall)") {
    val sig = DedupOps.simhash(
      graft.sources.Tables(spark, sf("sf0.001")).documents
        .withColumnRenamed("doc_id", "id"), "id", "text")
      .localCheckpoint()
    for (d <- Seq(3, 8, 16)) {
      val banded = DedupOps.simhashNearDupsBanded(sig, "id", d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      // brute-force ground truth: bucketBits = 0 → single bucket
      val exact = DedupOps.simhashNearDups(sig, "id", d, bucketBits = 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(banded == exact, s"maxDistance=$d")
      if (d == 8) assert(banded.nonEmpty) // planted near-dups exist
    }
  }

  test("dupClusters closes pair chains to min-id components; singletons kept") {
    val pairSchema = StructType(Seq(
      StructField("id1", LongType), StructField("id2", LongType)))
    // chain 1-2, 2-4 (not 1-4 directly) must collapse into one cluster
    val pairs = df(pairSchema, Row(1L, 2L), Row(2L, 4L))
    val out = DedupOps.dupClusters(pairs, docs.select(col("id")), "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 4L -> 1L, 3L -> 3L, 5L -> 5L))
  }

  test("simhash: near-dups within small hamming distance, unrelated far") {
    val out = DedupOps.simhash(docs, "id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(1L), out(4L)) == 0)  // case-normalized identical
    assert(ham(out(1L), out(2L)) <= 16) // near-dup
    assert(ham(out(1L), out(3L)) > 16)  // unrelated
  }

  test("incremental near-dups vs a stored index equal the direct pairs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val corpus = Seq(
      (1L, base),
      (2L, "completely different words in this other document body"),
      (3L, base + " tail")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, base),                                  // dup of 1 (and near 3)
      (11L, "nothing like anything indexed here at all")
    ).toDF("doc_id", "text")
    val all = corpus.unionByName(batch)
    val (sig, bands) = DedupOps.buildDedupIndex(corpus, "doc_id", "text")
    val out = DedupOps.incrementalNearDups(batch, sig, bands, all,
        "doc_id", "text")
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(out.contains((10L, 1L)))
    assert(out.forall(_._1 == 10L)) // 11 matches nothing
    // the batch never contributes index-side pairs
    assert(out.forall(p => Set(1L, 2L, 3L).contains(p._2)))
  }

  test("segmentDedup keeps first occurrence, reassembles in order") {
    import spark.implicits._
    val segA = "a b c d"        // 4-word segments
    val segB = "e f g h"
    val segC = "i j k l"
    val corpus = Seq(
      (1L, s"$segA $segB"),     // doc 1: both segments first
      (2L, s"$segB $segC"),     // doc 2: segB duplicate → only segC kept
      (3L, s"$segA $segB"),     // doc 3: everything seen → empty
      (4L, "m n")               // short doc: one ragged segment
    ).toDF("doc_id", "text")
    val out = DedupOps.segmentDedup(corpus, "doc_id", "text", segWords = 4)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == s"$segA $segB")
    assert(out(2L) == segC)
    assert(out(3L) == "")
    assert(out(4L) == "m n")
    assert(out.size == 4) // every input doc present
  }

  test("duplicatedSpans merges overlapping cross-doc windows") {
    import spark.implicits._
    val shared = "one two three four five six seven eight nine" // 9 words
    val corpus = Seq(
      (1L, s"$shared alpha beta"),            // 11 words, spans 0..1
      (2L, s"gamma delta $shared"),           // shared at offset 2
      (3L, "unique words that appear nowhere else in any other document"),
      (4L, "tiny doc")                        // < 8 words: no spans
    ).toDF("doc_id", "text")
    val out = DedupOps.duplicatedSpans(corpus, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4, r._5)).toMap
    // doc 1: windows at pos 0 and 1 both duplicated (present in doc 2),
    // merged into ONE span covering tokens 0..8 → 9 tokens of 11.
    assert(out(1L) == (1L, 9L, 11L, 9L * 10000 / 11))
    assert(out(2L) == (1L, 9L, 11L, 9L * 10000 / 11))
    assert(out(3L) == (0L, 0L, 10L, 0L))
    assert(out(4L) == (0L, 0L, 2L, 0L))
  }

  test("duplicatedSpans counts within-doc repetition") {
    import spark.implicits._
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    val corpus = Seq((1L, s"$eight mid $eight")).toDF("doc_id", "text")
    // The 8-word block repeats inside the same doc: windows at pos 0
    // and pos 9 share content → both marked, two disjoint spans.
    val out = DedupOps.duplicatedSpans(corpus, "doc_id", "text", n = 8)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(out == ((1L, 2L, 16L, 17L, 16L * 10000 / 17)))
  }

  test("mergeInto applies delete/update/insert; upserts missing keys") {
    import spark.implicits._
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
    val delta = Seq(
      (2L, "b2", "update"),   // replace
      (3L, null, "delete"),   // drop
      (4L, "d", "insert"),    // add
      (9L, "z", "update"),    // update of a missing key = upsert
      (8L, null, "delete")    // delete of a missing key = no-op
    ).toDF("id", "v", "op")
    val out = VersionOps.mergeInto(target, delta, "id", "op")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "a", 2L -> "b2", 4L -> "d", 9L -> "z"))
  }

  test("datasetDiff classifies NULL-text rows by presence, not fp") {
    import spark.implicits._
    val v1 = Seq((1L, "same"), (2L, null), (3L, "gone"))
      .toDF("doc_id", "text")
    val v2 = Seq((1L, "same"), (2L, null), (4L, "fresh"))
      .toDF("doc_id", "text")
    val out = VersionOps.datasetDiff(v1, v2, "doc_id", "text")
      .as[(Long, String)].collect().toMap
    // NULL text present in both versions is unchanged, not removed
    assert(out == Map(1L -> "unchanged", 2L -> "unchanged",
      3L -> "removed", 4L -> "added"))
  }

  test("hashedNgramImportance ranks target-like docs above off-target") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta alpha beta alpha beta", 1L),
      (2L, "alpha beta gamma delta", 1L),
      (3L, "zeta eta theta iota kappa lambda", 0L),
      (4L, "alpha beta alpha beta", 0L) // target-LIKE but not in target
    ).toDF("doc_id", "text", "is_en")
    val out = ImportanceOps.hashedNgramImportance(corpus, "doc_id",
        "text", isTarget = col("is_en") === 1L)
      .as[(Long, Long)].collect().toMap
    // Doc 4 shares the target's dominant bigram: must outscore doc 3,
    // which shares nothing with the target distribution.
    assert(out(4L) > out(3L))
    assert(out(1L) > out(3L))
  }

  test("hashedNgramImportance matrix form equals the per-gram-instance sum") {
    import spark.implicits._
    // edge cases on purpose: empty text and a single-word doc (one
    // degenerate gram each), heavy repeated grams (c[d,b] > 1 — the
    // factor the matrix form multiplies instead of enumerating), and
    // mixed targets
    val corpus = Seq(
      (1L, "alpha beta alpha beta alpha beta alpha beta", 1L),
      (2L, "alpha beta gamma delta", 1L),
      (3L, "zeta eta theta iota kappa lambda", 0L),
      (4L, "", 0L),
      (5L, "solo", 1L),
      (6L, "alpha beta alpha beta", 0L)
    ).toDF("doc_id", "text", "is_en")
    // the pre-r14 two-pass shape, inline: per-gram-instance join + sum
    val grams = corpus.select(col("doc_id"),
        (col("is_en") === 1L).cast("long").as("t"),
        explode(DedupOps.shingleList(col("text"), 2)).as("g"))
      .select(col("doc_id"), col("t"),
        pmod(conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long"),
          lit(128L)).as("b"))
    val stats = grams.groupBy(col("b"))
      .agg(count(lit(1)).as("r_cnt"), sum(col("t")).as("t_cnt"))
    val tot = stats.agg(sum(col("r_cnt")).as("r_tot"),
      sum(col("t_cnt")).as("t_tot"))
    val reference = grams.join(broadcast(stats), Seq("b"))
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(sum(col("t_cnt") * col("r_tot") - col("r_cnt") * col("t_tot"))
        .as("score"))
      .as[(Long, Long)].collect().toMap
    val matrixForm = ImportanceOps.hashedNgramImportance(corpus,
        "doc_id", "text", isTarget = col("is_en") === 1L)
      .as[(Long, Long)].collect().toMap
    assert(matrixForm == reference)
    assert(matrixForm.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("containmentPairs flags asymmetric subset pairs Jaccard misses") {
    import spark.implicits._
    // doc 1 (4 trigram shingles) is quoted VERBATIM inside doc 2 (12
    // shingles): containment(1→) = 10000 while Jaccard = 4/12 = 0.33 —
    // far below any near-dup threshold; doc 3 is unrelated
    val docs = Seq(
      (1L, "the quick brown fox jumps over"),
      (2L, "intro words here the quick brown fox jumps over and then " +
        "more trailing words"),
      (3L, "completely different content with nothing shared at all"))
      .toDF("doc_id", "text")
    val out = DedupOps.containmentPairs(docs, "doc_id", "text", n = 3,
        thresholdBp = 9000)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
    assert(out.length == 1, out.mkString(";"))
    val (id1, id2, c1, c2) = out(0)
    assert((id1, id2) == ((1L, 2L)))
    assert(c1 == 10000L) // every shingle of doc 1 appears in doc 2
    assert(c2 < 5000L)   // the long side is NOT contained in the short
    // symmetric Jaccard on the same pair sits far below 0.8 — the
    // mode split this operator exists for
    val jac = DedupOps.containmentPairs(docs, "doc_id", "text", 3, 0)
      .filter(col("id1") === 1L && col("id2") === 2L).head()
    val inter = jac.getLong(2) * 4 / 10000 // c1_bp → |∩| (sz1 = 4)
    assert(inter.toDouble / (4 + 12 - inter) < 0.4)
  }

  test("HashedShingleSetExpr ≡ sorted-distinct xxhash64 of the string " +
      "shingle set (the builtin hash, seed 42, over identical bytes)") {
    import org.apache.spark.sql.graft.{shims, HashedShingleSetExpr}
    import spark.implicits._
    val docs = Seq("the quick brown fox jumps over the lazy dog",
      "  Mixed   CASE   and   runs of  spaces  ",
      "short", "", "a b", "répété répété répété accenté unicode ïö")
      .toDF("text")
    val both = docs.select(
      shims.column(HashedShingleSetExpr(
        shims.expression(col("text")), 3)).as("fast"),
      array_sort(array_distinct(transform(
        DedupOps.shingleSet(col("text"), 3), x => xxhash64(x))))
        .as("ref"))
    assert(both.collect().forall(r =>
      r.getSeq[Long](0) == r.getSeq[Long](1)), both.collect().mkString)
  }

  test("SortedIntersectCountExpr == size(array_intersect) on sorted " +
      "distinct string arrays") {
    import org.apache.spark.sql.graft.{shims, SortedIntersectCountExpr}
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { _ =>
      def arr() = (0 until rnd.nextInt(12))
        .map(_ => s"w${rnd.nextInt(20)}").distinct.sorted
      (arr(), arr())
    }.toDF("a", "b")
    val out = rows.select(
      shims.column(SortedIntersectCountExpr(
        shims.expression(col("a")), shims.expression(col("b"))))
        .as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
    assert(out.collect().forall(r => r.getLong(0) == r.getLong(1)))
  }

  test("containmentPairs prefix filtering ≡ full inverted index") {
    import spark.implicits._
    // a near-dup-heavy corpus (the sf1 rehearsal shape that drove the
    // full-index form quadratic): clustered replicas, wholesale quotes,
    // subsets, and unrelated filler — prefix-filtered candidates must
    // reproduce the full-index pair set EXACTLY at several thresholds
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lumen", "mole")
    val rnd = new scala.util.Random(7)
    val base = (0 until 12).map { b =>
      (0 until 14).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    }
    val docs = base.zipWithIndex.flatMap { case (t, b) =>
      val replicas = (0 until 4).map(r => s"$t r$r") // near-dup cluster
      val quote = s"prelude text here $t and a long trailing section " +
        s"of words number $b"                        // contains t
      val subset = t.split(' ').take(8).mkString(" ") // contained in t
      (replicas :+ quote :+ subset).zipWithIndex.map { case (txt, i) =>
        (b * 10L + i, txt)
      }
    }.toDF("doc_id", "text")
    for (t <- Seq(9000, 7000, 4000)) {
      val fast = DedupOps.containmentPairs(docs, "doc_id", "text", 3, t)
        .orderBy(col("id1"), col("id2")).collect().toSeq
      val full = DedupOps.containmentPairsFullIndex(
          docs, "doc_id", "text", 3, t)
        .orderBy(col("id1"), col("id2")).collect().toSeq
      assert(fast == full, s"threshold $t: ${fast.size} vs ${full.size}")
      assert(full.nonEmpty, s"threshold $t produced no pairs — fixture bug")
    }
  }
}
