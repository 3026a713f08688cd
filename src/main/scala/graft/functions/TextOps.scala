package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  * All pure Column expressions (whole-stage-codegen'd, no UDFs) — they run
  * inside the parquet scan stage with zero shuffle at any scale.
  */
object TextOps {

  /** Whitespace tokenization; empty/blank text → 0 tokens. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L))
      .otherwise(size(split(trim(text), "\\s+")).cast("long"))

  /** Canonical whitespace/case normalization for fingerprinting. */
  def normalize(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Spread a narrow input over the session's slots before heavy
    * per-row compute (minhash, per-gram md5, segment explodes) WHEN
    * the source plan yields fewer partitions than the session's
    * parallelism — a single-row-group parquet scan is one task, so
    * everything fused onto it serializes on one core (guide §2
    * placement; the same decision as the m05 seed repartition, gated
    * instead of unconditional because here the shuffled payload is
    * the text itself). A strict no-op at scale: a real multi-row-group
    * corpus scan already yields ≥ slots partitions, so no shuffle is
    * added. Hash-partitioning on `key` keeps placement deterministic
    * (keyless round-robin pays a sort-before-repartition of its
    * input); every consumer is order-independent (exact-integer /
    * DECIMAL aggregation or an explicit final sort). */
  def spreadSmallScan(df: org.apache.spark.sql.DataFrame, key: Column)
      : org.apache.spark.sql.DataFrame = {
    if (df.isStreaming) return df
    val slots = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < slots)
      df.repartition(slots, key)
    else df
  }

  /** BPE-style pre-tokenizer count over normalized text: runs of
    * letters, runs of digits, and runs of other symbols — each
    * optionally absorbing one preceding space (the GPT-2 pre-tokenizer
    * shape, restricted to a regex family whose leftmost-first semantics
    * are identical in Java regex and RE2, so the DuckDB oracle agrees
    * byte-for-byte). A better LLM token-cost proxy than whitespace
    * words: punctuation and digit runs count separately. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(normalize(text),
      lit(" ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"), lit(0))).cast("long")

  /** Deterministic document fingerprint (md5 of normalized text).
    * The content-hash basis for exact dedup. */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Count of non-ASCII characters (codepoint > 0x7F) — the standard
    * multilingual-curation signal (script detection pre-filter, mojibake
    * flagging). Regex family portable between Java and RE2. */
  def nonAsciiCount(text: Column): Column =
    (length(text) -
      length(regexp_replace(text, "[^\\x00-\\x7F]", "")))
      .cast("long")

  /** Non-overlapping occurrence count of a literal needle. */
  def occurrences(text: Column, needle: String): Column =
    ((length(text) - length(replace(text, lit(needle), lit(""))))
      / needle.length).cast("long")

  // --- Encoding-artifact (mojibake) detection ---
  // The three standard symptoms of a broken decode pipeline, each a
  // portable Java/RE2 regex count evaluated in the scan stage:
  //  - U+FFFD replacement chars: the decoder already gave up;
  //  - stray C0 control chars (not \t\n\r): binary junk in "text";
  //  - UTF-8-read-as-Latin-1 lead bytes (Ã/Â/â€ sequences): the classic
  //    double-encoding signature ("café" → "cafÃ©").

  /** Count of U+FFFD replacement characters. */
  def replacementCharCount(text: Column): Column =
    (length(text) - length(replace(text, lit("�"), lit(""))))
      .cast("long")

  /** Count of C0 control characters excluding tab/newline/CR. */
  def controlCharCount(text: Column): Column =
    (length(text) -
      length(regexp_replace(text,
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""))).cast("long")

  /** Count of UTF-8-as-Latin-1 double-encoding markers. Lead chars
    * match WITHOUT requiring a following char, so a marker truncated
    * at a snippet boundary ("…cafÃ") still counts. */
  def mojibakeMarkerCount(text: Column): Column =
    size(regexp_extract_all(text, lit("Ã|Â|â€"), lit(0))).cast("long")

  /** Hashing-trick bag-of-words featurization (the HashingTF shape —
    * fixed `dim` regardless of vocabulary, no vocab table to build or
    * broadcast): each word lands in bucket md5-prefix mod dim (the
    * repo's cross-engine hash family, SamplingOps.shardKey on words),
    * and the output is the dense ARRAY<BIGINT> of bucket counts. One
    * native per-row pass (HashingFeaturesExpr) — O(words), not the
    * O(dim·words) a per-bucket interpreted filter() sweep would cost —
    * and the whole featurization is map-side: zero shuffle at any
    * corpus size. Normalization stays in Spark's own functions so its
    * semantics match every other TextOps consumer. */
  def hashingFeatures(text: Column, dim: Int): Column = {
    import org.apache.spark.sql.graft.{shims, HashingFeaturesExpr}
    shims.column(HashingFeaturesExpr(
      shims.expression(normalize(text)), dim))
  }

  /** Quality-scoring metrics: char/word counts, mean word length,
    * punctuation count, stopword count — the standard cheap filters for
    * pretraining-corpus curation. */
  def nChars(text: Column): Column = length(text).cast("long")

  def nPunct(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[.,!?;:]", ""))).cast("long")

  def meanWordLen(text: Column): Column =
    floor(length(regexp_replace(trim(text), "\\s+", "")).cast("double")
      * 100 / tokenCount(text)).cast("double") / 100

  /** Padded-text stopword counting: counts ` w ` occurrences so word
    * boundaries are respected without regex (replace is cheaper and has
    * identical semantics in every engine). */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    // fused native expression (r13): normalize once + one indexOf walk
    // per word, instead of |words| occurrence counts each re-evaluating
    // the padded normalize — bit-identical counting (see
    // StopwordCountExpr's scaladoc; TextOpsSpec pins it against the
    // compositional form)
    import org.apache.spark.sql.graft.{shims, StopwordCountExpr}
    shims.column(StopwordCountExpr(shims.expression(text), stopwords))
  }

  /** Fused language-gate predicate: `stopwordCount(text, a) >
    * stopwordCount(text, b)` from ONE normalize per row. Use in
    * filters — a pushed-down comparison of two score COLUMNS evaluates
    * two full normalizes per row (FilterExec has no common-
    * subexpression elimination); this is the single-pass form, bit-
    * equivalent by construction (TextOpsSpec pins it). */
  def stopwordPrefer(text: Column, a: Seq[String], b: Seq[String])
      : Column = {
    import org.apache.spark.sql.graft.{shims, StopwordPreferExpr}
    shims.column(StopwordPreferExpr(shims.expression(text), a, b))
  }

  /** The pre-r13 compositional form of [[stopwordCount]] — kept as the
    * equivalence oracle for the fused expression's test pin. */
  private[graft] def stopwordCountCompositional(text: Column,
      stopwords: Seq[String]): Column = {
    val padded = concat(lit(" "), normalize(text), lit(" "))
    stopwords.map(w => occurrences(padded, s" $w "))
      .reduce(_ + _)
  }

  /** Language-ID by stopword-profile scoring: returns the language whose
    * stopword hits are highest (deterministic first-wins tie-break on the
    * profile order). N-gram-free heuristic that stays pure-Column. */
  val defaultProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "es" -> Seq("el", "la", "los", "que", "es"))

  def languageScore(text: Column, profile: Seq[String]): Column =
    stopwordCount(text, profile)

  def languageId(text: Column,
      profiles: Seq[(String, Seq[String])] = defaultProfiles): Column = {
    // argmax with first-wins tie-break: fold over profiles keeping
    // (bestLang, bestScore).
    val scored = profiles.map { case (lang, words) =>
      (lang, languageScore(text, words)) }
    scored.tail.foldLeft(
      struct(lit(scored.head._1).as("lang"), scored.head._2.as("score"))) {
      case (acc, (lang, score)) =>
        when(score > acc.getField("score"),
          struct(lit(lang).as("lang"), score.as("score"))).otherwise(acc)
    }.getField("lang")
  }

  /** Rolling-hash document fingerprint (polynomial mod 2^61-1 over
    * normalized bytes is overkill here; md5 prefix as a 64-bit int is the
    * deterministic, engine-portable equivalent). */
  def fingerprint64(text: Column): Column =
    conv(substring(fingerprint(text), 1, 15), 16, 10).cast("long")

  // --- PII scrubbing -------------------------------------------------
  // Regexes restricted to a family (character classes + {m,} quantifiers,
  // no backrefs/lookaround) whose leftmost-first match semantics are
  // identical in Java regex and RE2, so a DuckDB oracle agrees exactly.

  /** Email-address pattern (the pragmatic corpus-scrubbing form). */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Long digit runs (≥4): phone/account/SSN-ish numbers. */
  val longNumberPattern = "[0-9]{4,}"

  def emailCount(text: Column): Column =
    size(regexp_extract_all(text, lit(emailPattern), lit(0))).cast("long")

  /** Count of long digit runs OUTSIDE emails (emails are redacted first,
    * so digits inside an address aren't double-counted). */
  def longNumberCount(text: Column): Column =
    size(regexp_extract_all(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      lit(longNumberPattern), lit(0))).cast("long")

  /** PII-redacted text: emails → `<EMAIL>` first, then long digit runs →
    * `<NUM>`. Pure codegen'd Columns — runs inside the scan stage. */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, emailPattern, "<EMAIL>"),
      longNumberPattern, "<NUM>")

  // --- HTML/boilerplate stripping (the web-corpus extraction step) ---
  // Same engine-portable regex family as the PII patterns: character
  // classes, bounded alternation, no backrefs/lookaround — Java regex
  // and RE2 agree on every match. This is a cleaner, not a parser:
  // comments must not contain '>', script/style bodies must not contain
  // '<' (true of minified boilerplate; a full HTML5 tokenizer is a
  // different tool).

  /** `<!-- ... -->` comments (no '>' inside). */
  val htmlCommentPattern = "<!--[^>]*-->"

  /** `<script>…</script>` / `<style>…</style>` blocks whose body has no
    * '<' — one alternative PER tag name, so an opening `<script>` can
    * never be closed by a stray `</style>` (the single-group form
    * matched mismatched pairs and could swallow visible text). */
  val htmlScriptPattern =
    "<script[^>]*>[^<]*</script[ ]*>|<style[^>]*>[^<]*</style[ ]*>"

  /** Any remaining open/close/void tag. */
  val htmlTagPattern = "</?[A-Za-z][^>]*>"

  /** The finite entity set decoded after tag removal; `&amp;` is decoded
    * LAST so `&amp;lt;` yields the literal `&lt;`, never `<`. */
  val htmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
    "&nbsp;" -> " ", "&amp;" -> "&")

  /** Visible text of an HTML fragment: comments, script/style blocks,
    * and tags are replaced by spaces (so adjacent words never merge),
    * entities decode, and whitespace collapses. Pure codegen'd Columns
    * — runs inside the scan stage, zero shuffle at any scale. */
  def htmlStrip(html: Column): Column = {
    val noMarkup = regexp_replace(regexp_replace(regexp_replace(html,
      htmlCommentPattern, " "), htmlScriptPattern, " "),
      htmlTagPattern, " ")
    val decoded = htmlEntities.foldLeft(noMarkup) { case (c, (e, v)) =>
      replace(c, lit(e), lit(v))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Visible-text ratio of raw HTML (a boilerplate-density quality
    * signal: low ratio = mostly markup). floor-truncated to 4dp (Det
    * convention); empty input → 0.0. */
  def visibleTextRatio(html: Column): Column =
    when(length(html) === 0, lit(0.0d))
      .otherwise(graft.queries.Det.floor4(
        length(htmlStrip(html)).cast("double") /
          length(html).cast("double")))

  /** DuckDB oracle form of [[htmlStrip]] — same regex chain ('g' flag),
    * same entity order. */
  def htmlStripSql(expr: String): String = {
    val noMarkup = s"regexp_replace(regexp_replace(regexp_replace($expr," +
      s" '$htmlCommentPattern', ' ', 'g'), '$htmlScriptPattern', ' '," +
      s" 'g'), '$htmlTagPattern', ' ', 'g')"
    val decoded = htmlEntities.foldLeft(noMarkup) { case (c, (e, v)) =>
      val vq = if (v == "'") "''" else v
      s"replace($c, '$e', '$vq')"
    }
    s"trim(regexp_replace($decoded, '\\s+', ' ', 'g'))"
  }

  /** Token-budget truncation (context-length cap): the first `n`
    * whitespace tokens of the trimmed text, original inter-token
    * whitespace preserved. Pure regexp_extract in the scan stage — the
    * bounded-repetition regex family behaves identically in Java regex
    * and RE2. No-token input yields the empty string. */
  def truncateTokens(text: Column, n: Int): Column = {
    require(n >= 1, "token budget must be >= 1")
    regexp_extract(trim(text), s"^\\S+(?:\\s+\\S+){0,${n - 1}}", 0)
  }

  // --- Repetition / quality (Gopher-style) ---------------------------

  /** Fraction of duplicated word n-grams: 1 − distinct/total over the
    * normalized n-gram multiset (0 when the doc has < n words — a single
    * whole-text shingle can't repeat). High values flag boilerplate and
    * degenerate repetition; the standard cheap pretraining-quality gate
    * alongside [[nChars]]/[[meanWordLen]]. */
  def dupNgramFraction(text: Column, n: Int): Column =
    dupNgramMilli(text, n).cast("double") / 10000

  /** The duplicated-n-gram fraction as an exact INTEGER of 1e-4 units
    * (floor((1 − distinct/total)·10⁴)) — value-identical to
    * `dupNgramFraction × 10⁴`, but summable across docs with integer
    * exactness: corpus rollups that average the per-doc metric must
    * aggregate these (a sum of floored doubles is shuffle-order
    * dependent at the ulp level; a sum of longs is not). */
  def dupNgramMilli(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graft.{shims, DupNgramMilliExpr}
    shims.column(DupNgramMilliExpr(shims.expression(text), n))
  }

  /** Tokenizer vocabulary: the top-`k` corpus words by (count DESC,
    * word ASC) with DENSE integer ids 0..k−1 in that order — the
    * word→id table a tokenizer ships. The global sort+limit is a
    * TakeOrderedAndProject (per-task heaps); the id window then runs
    * over the BOUNDED k-row result, never the corpus. */
  def buildVocab(df: org.apache.spark.sql.DataFrame, textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = df.select(explode(split(normalize(col(textCol)), " "))
        .as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word")).limit(k)
      .localCheckpoint() // bounded k rows; the window below is over this
    words.withColumn("id", (row_number().over(
        Window.orderBy(col("n").desc, col("word"))) - 1).cast("long"))
      .select(col("word"), col("id"), col("n"))
  }

  /** Encode each document as its vocabulary-id sequence (OOV → −1),
    * serialized as a comma-joined string (engine-portable; an array at
    * the boundary is the same join). One posexplode + one broadcast
    * join against the bounded vocab + a per-doc re-collect. */
  def encodeTokenIds(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, vocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val exploded = df.select(col(idCol),
        posexplode(split(normalize(col(textCol)), " "))
          .as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    exploded
      .join(broadcast(vocab.select(col("word"), col("id"))),
        Seq("word"), "left")
      .withColumn("tid", coalesce(col("id"), lit(-1L)))
      .groupBy(col(idCol))
      .agg(concat_ws(",", transform(
        array_sort(collect_list(struct(col("pos"), col("tid")))),
        s => s.getField("tid"))).as("token_ids"))
  }

  /** SymSpell-style fuzzy self-join for entity resolution / typo
    * clustering: all pairs of rows whose strings are within edit
    * distance 1, WITHOUT an all-pairs comparison. Blocking key = the
    * deletion neighborhood (the string plus every single-character
    * deletion): two strings within levenshtein distance 1 provably
    * share a key (equal → the string itself; substitution at i → both
    * delete i; insert/delete → the shorter string IS a deletion of the
    * longer), so bucket-join recall is 1.0 by construction and the
    * exact levenshtein verify only ever scores bucket collisions.
    *
    * Scale shape: |keys| = (len+1)·|rows| exploded map-side, one
    * equi-join on the key (the LSH-bucket discipline, exact-guarantee
    * edition), distinct pair dedup, then the O(len²) levenshtein on
    * candidates only. Returns (id1, id2, dist ≤ 1) with id1 < id2. */
  def fuzzyPairs(df0: org.apache.spark.sql.DataFrame, idCol: String,
      strCol: String): org.apache.spark.sql.DataFrame = {
    // single-row-group inputs run the whole deletion-neighborhood
    // explode on ONE task (r14: 0.46 s of d10's 1.1 s); spread is a
    // strict no-op at scale (only when partitions < slots)
    val df = spreadSmallScan(df0, col(idCol))
    val s = col(strCol)
    val keys = df.select(col(idCol).as("__fid"), s.as("__fs"),
        explode(array_union(
          array(s),
          transform(sequence(lit(0), length(s) - 1),
            i => concat(s.substr(lit(1), i),
              s.substr(i + 2, length(s)))))).as("__key"))
    // carry the strings THROUGH the blocking join: the edit-distance
    // verify runs straight off the join output (a few extra bytes per
    // shuffled key row) instead of re-fetching both sides — the former
    // candidates→distinct→join→join chain re-shuffled the full
    // candidate set three times. The repartition is load-bearing: the
    // key shuffle is tiny (~MBs) so AQE would coalesce it to 1–2
    // partitions, and the join's OUTPUT — the quadratic-in-bucket
    // candidate expansion where all the levenshtein compute lives — is
    // what needs the parallelism (measured at sf0.1: AQE-coalesced
    // 4.9–5.2 s on 2 tasks; old three-shuffle chain 2.5–2.9 s;
    // this shape ~1 s, identical 262k-pair output).
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    val a = keys.repartition(n, col("__key")).select(col("__key"),
      col("__fid").as("id1"), col("__fs").as("__s1"))
    val b = keys.repartition(n, col("__key")).select(col("__key"),
      col("__fid").as("id2"), col("__fs").as("__s2"))
    a.join(b, Seq("__key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        levenshtein(col("__s1"), col("__s2")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
      .distinct() // pairs sharing several deletion keys meet once each
  }

  /** CCNet-style language-model quality scoring: per-document
    * cross-entropy under an add-α-smoothed bigram model TRAINED ON THE
    * CORPUS ITSELF (the standard "perplexity filter" — documents whose
    * word sequences the corpus LM finds surprising are boilerplate,
    * garbled text, or off-domain; CCNet uses a pretrained KenLM, same
    * math, externally trained weights).
    *
    * ce(doc) = mean over its bigrams (w1,w2) of
    *           −ln[(c(w1,w2) + α) / (c(w1·) + α·V)]
    * with c(w1·) the corpus count of bigrams starting w1 and V the
    * corpus vocabulary size. Documents with fewer than 2 words have no
    * bigram and are dropped.
    *
    * Determinism discipline: each bigram's nll is floor4-truncated (a
    * pure function of the double bits), per-doc totals are EXACT
    * DECIMAL sums (order-independent), and the mean is floor4 — so any
    * engine computing the same doubles agrees bit-for-bit.
    *
    * Scale shape: two corpus-wide partial-agg counts (bigrams,
    * contexts — shuffles carry DISTINCT n-grams, not tokens), one
    * scalar vocab count broadcast, then a map-heavy join of the doc
    * bigram stream against the two count tables (both dwarfed by the
    * corpus; broadcast- or shuffle-joined by AQE on actual sizes).
    * Returns (idCol, n_bigrams, ce). */
  def bigramCrossEntropy(df: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, alpha: Double = 0.5)
      : org.apache.spark.sql.DataFrame = {
    val words = df.select(col(idCol), col(textCol),
        split(normalize(col(textCol)), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
    // The doc→bigram explode feeds THREE consumers (bigram counts, the
    // nll join stream, and transitively the context counts); pin it once
    // so the corpus is tokenized in one pass, not three (the explode's
    // transform lambda runs interpreted — per-pass cost is real).
    val bigrams = words.select(col(idCol),
        explode(DedupOps.shingleList(col(textCol), 2)).as("bg"))
      .localCheckpoint()
    val c12 = bigrams.groupBy(col("bg"))
      .agg(count(lit(1)).as("c12"))
    val c1 = c12
      .groupBy(substring_index(col("bg"), " ", 1).as("w1"))
      .agg(sum(col("c12")).as("c1"))
    // V from the bigram TYPE table, not a second corpus tokenization:
    // every scored doc has ≥ 2 words, so each of its words occurs in
    // some bigram — distinct words of the bigram types ARE the vocab.
    val vocab = c12.select(explode(split(col("bg"), " ")).as("w"))
      .agg(countDistinct(col("w")).as("v"))
    val nll = bigrams
      .join(c12, Seq("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), graft.queries.Det.floor4(
        -log((col("c12") + alpha) /
          (col("c1") + col("v") * alpha))).as("nll"))
    nll.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        graft.queries.Det.floor4(
          graft.queries.Det.moneySum(col("nll")) / count(lit(1)))
          .as("ce"))
  }

  /** PMI collocations — corpus-level phrase mining (the tokenizer-merge
    * / multi-word-expression scorer): for every adjacent word pair with
    * count ≥ minCount,
    *
    *   pmi = ln( P(w1,w2) / (P(w1)·P(w2)) )
    *       = ln( c12·N² / (B·c1·c2) )
    *
    * with c1/c2/N unigram counts over ALL tokens and c12/B bigram
    * counts over docs with ≥ 2 tokens. All counts exact BIGINTs; the
    * one double expression keeps a fixed association order so any
    * IEEE-754 engine reproduces it bit-for-bit, then Det.floor4.
    *
    * Scale shape: two explode→count aggregations (map-side partial
    * combine), the pair table joins the unigram table twice on word
    * (post-min-count the pair table is small; the unigram join is
    * broadcastable in practice), totals broadcast. No all-pairs
    * anywhere — candidate pairs are only ADJACENT pairs. */
  def pmiCollocations(df: org.apache.spark.sql.DataFrame,
      textCol: String, minCount: Long)
      : org.apache.spark.sql.DataFrame = {
    val ws = split(normalize(col(textCol)), " ")
    val uni = df.select(explode(ws).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nTot = uni.agg(sum(col("c")).as("n_tot"))
    val multi = df.filter(size(ws) >= 2)
    val bTot = multi
      .select((size(ws) - 1).cast("long").as("nb"))
      .agg(sum(col("nb")).as("b_tot"))
    val bg = multi
      .select(explode(DedupOps.shingleList(col(textCol), 2)).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= minCount)
    bg
      .withColumn("w1", substring_index(col("bg"), " ", 1))
      .withColumn("w2", substring_index(col("bg"), " ", -1))
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .crossJoin(broadcast(nTot))
      .crossJoin(broadcast(bTot))
      .select(col("w1"), col("w2"), col("c12"),
        graft.queries.Det.floor4(log(
          (col("c12").cast("double") * col("n_tot") * col("n_tot")) /
            (col("b_tot").cast("double") * col("c1") * col("c2"))))
          .as("pmi"))
  }

  /** Context-window chunking — split each document into fixed-size
    * token windows with stride overlap (the LLM pre-training /
    * RAG-indexing document splitter: window `chunkSize`, step
    * `stride`, so consecutive chunks share `chunkSize − stride`
    * tokens and no token is dropped). Tokens are the whitespace
    * tokens of [[normalize]]d text. Chunk count is
    * `1 + ceil((n − chunkSize) / stride)` for n > chunkSize, else 1 —
    * the last chunk may be short, and a doc never emits a chunk that
    * starts past its end.
    *
    * Emits (id, chunk_no, start_tok, n_tok, chunk_text); exact
    * integer arithmetic throughout (the ceil-div runs in doubles only
    * on values < 2⁵³ — exact). Pure per-row explode: map-side at any
    * scale, output rows ≈ n_tokens/stride per doc, no shuffle. */
  def contextChunks(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkSize: Int, stride: Int)
      : org.apache.spark.sql.DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      "need 1 <= stride <= chunkSize")
    val c = lit(chunkSize.toLong)
    val toks = split(normalize(col(textCol)), " ")
    val n = size(toks).cast("long")
    val nChunks = when(n <= c, lit(1L)).otherwise(lit(1L) +
      floor((n - c + stride - 1).cast("double") / stride).cast("long"))
    val start = col("chunk_no") * stride
    val len = least(c, col("__n") - start)
    docs
      .select(col(idCol), toks.as("__toks"), n.as("__n"),
        nChunks.as("__nc"))
      .withColumn("chunk_no",
        explode(sequence(lit(0L), col("__nc") - 1)))
      .select(col(idCol), col("chunk_no"), start.as("start_tok"),
        len.as("n_tok"),
        array_join(slice(col("__toks"), (start + 1).cast("int"),
          len.cast("int")), " ").as("chunk_text"))
  }

  /** TOKENIZER TRAINING — distributed BPE merge learning (Sennrich et
    * al. 2016, the `tokenizers`-library word-level regime): learn the
    * top `nMerges` byte-pair merges over the corpus's alpha words.
    *
    * Engine-independent formulation: each word is a DOUBLE-SPACE-
    * separated symbol string `'  h  e  l  l  o  _  '` (`_` =
    * end-of-word marker, two leading/trailing spaces). Applying merge
    * (l, r) is the literal `replace(' l  r ', ' lr ')`: the pattern
    * consumes ONE of the two spaces on each side, so after a match the
    * scan resumes with the remaining space still leading the next
    * symbol — literal left-to-right non-overlapping replace then
    * EQUALS canonical greedy BPE application (consecutive occurrences
    * like `papa`+(p,a) and odd runs like `aaa`+(a,a) come out
    * exactly as the tokenizers library merges them), the double-space
    * invariant is restored by the replacement, and a one-space-flanked
    * pattern can never false-match inside a multi-char symbol. Both
    * engines' literal replace share these semantics byte-for-byte,
    * which is what makes an exact SQL oracle possible (t22 unrolls the
    * iterations as CTEs with scalar subqueries for the data-dependent
    * pair).
    *
    * Scale shape: ONE corpus-scale shuffle (word→freq); every
    * iteration after that runs on the BOUNDED vocab aggregate (rows =
    * |distinct words|, the tokenizers-library shape) — adjacent pairs
    * via native slice/zip (codegen, no lambdas), exact integer
    * freq-weighted counts with map-side partial aggregation, one
    * 1-row argmax collect per merge (count desc, pair asc — a total
    * order), merge applied via literal replace, vocab
    * localCheckpointed per round to keep plans flat. Emits one row
    * per learned merge: (merge_rank, left, right, pair_count). */
  def bpeMergeLearn(docs: org.apache.spark.sql.DataFrame,
      textCol: String, nMerges: Int)
      : org.apache.spark.sql.DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLearn(docs, textCol, nMerges)._2
      .toDF("merge_rank", "lhs", "rhs", "pair_count")
  }

  /** Corpus COMPRESSION achieved by the learned BPE merges — the
    * tokenizer-training acceptance metric (tokens before vs after
    * applying the top `nMerges` merges; freq-weighted over the same
    * word-level regime as [[bpeMergeLearn]]). One row:
    * (n_words, tokens_before, tokens_after). */
  def bpeCompression(docs: org.apache.spark.sql.DataFrame,
      textCol: String, nMerges: Int)
      : org.apache.spark.sql.DataFrame =
    bpeCompressionAgg(bpeLearn(docs, textCol, nMerges)._1)

  /** The compression aggregate over a learned vocab frame — split out
    * so gate code holding a memoized learn result can reuse it. */
  private[graft] def bpeCompressionAgg(
      finalVocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nToks = size(split(trim(col("repr")), "  ")).cast("long")
    finalVocab.agg(
      count(lit(1)).as("n_words"),
      // repr0 length is recoverable from the final repr: merged
      // symbols are concatenations of single chars + '_', so
      // before-count = Σ freq × total chars across symbols
      sum(col("freq") *
        length(regexp_replace(trim(col("repr")), "  ", "")))
        .as("tokens_before"),
      sum(col("freq") * nToks).as("tokens_after"))
  }

  /** Tokenize the corpus WITH the learned merges — the apply step a
    * production pipeline runs at full scale after the bounded learn:
    * per document, the number of BPE tokens its alpha words produce
    * under the merge table. The corpus-scale work is one explode +
    * equi-join against the vocab (broadcastable: |distinct words|
    * rows) + one per-doc sum; docs with no alpha words count 0. */
  def bpeTokenizeCounts(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, nMerges: Int)
      : org.apache.spark.sql.DataFrame =
    bpeTokenizeCountsWith(docs, idCol, textCol,
      bpeLearn(docs, textCol, nMerges)._1)

  /** The apply step against an already-learned vocab (gate code holds
    * a memoized learn result). Recovers each vocab row's word from its
    * repr (symbol chars concatenated = word + '_'). */
  private[graft] def bpeTokenizeCountsWith(
      docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, finalVocab: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val chars = regexp_replace(trim(col("repr")), "  ", "")
    val wordTable = finalVocab.select(
      chars.substr(lit(1), length(chars) - 1).as("word"),
      size(split(trim(col("repr")), "  ")).cast("long").as("n_tok"))
    val docWords = docs.select(col(idCol),
      explode(regexp_extract_all(normalize(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
    val counts = docWords.join(wordTable, Seq("word"))
      .groupBy(col(idCol)).agg(sum(col("n_tok")).as("n"))
    docs.select(col(idCol)).join(counts, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n"), lit(0L)).as("n_bpe_tokens"))
  }

  /** Shared learn loop: returns (final vocab frame (repr, freq),
    * learned merges). Exposed within the library so the t22/t23 gates
    * can memoize one run per (session, dir). Stops early when no
    * adjacent pair remains (every word a single symbol) instead of
    * re-running an identical empty aggregation per leftover iteration.
    * See [[bpeMergeLearn]] for the contract. */
  private[graft] def bpeLearn(docs: org.apache.spark.sql.DataFrame,
      textCol: String, nMerges: Int)
      : (org.apache.spark.sql.DataFrame,
         Seq[(Long, String, String, Long)]) = {
    require(nMerges >= 1, "need nMerges >= 1")
    var vocab = docs
      .select(explode(regexp_extract_all(normalize(col(textCol)),
        lit("[a-z]+"), lit(0))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .select(concat(lit("  "),
        regexp_replace(col("word"), "(.)", "$1  "), lit("_  "))
        .as("repr"), col("freq"))
      .localCheckpoint()
    val learned = Seq.newBuilder[(Long, String, String, Long)]
    var i = 0
    var dry = false
    while (i < nMerges && !dry) {
      i += 1
      val syms = split(trim(col("repr")), "  ")
      val top = vocab
        .select(col("freq"), explode(arrays_zip(
          slice(syms, lit(1), size(syms) - 1),
          slice(syms, lit(2), size(syms) - 1))).as("pr"))
        .groupBy(col("pr.0").as("lhs"), col("pr.1").as("rhs"))
        .agg(sum(col("freq")).as("c"))
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(1).collect()
      if (top.isEmpty) dry = true
      else {
        val (l, r, c) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        learned += ((i.toLong, l, r, c))
        vocab = vocab
          .withColumn("repr", replace(col("repr"),
            lit(s" $l  $r "), lit(s" $l$r ")))
          .localCheckpoint()
      }
    }
    (vocab, learned.result())
  }
}
