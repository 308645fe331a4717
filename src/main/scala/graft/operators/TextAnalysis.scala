package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Text-analysis primitives for large-scale training-data pipelines: token
 * counting, shingling, deterministic hashing, quality scoring, language ID,
 * and document fingerprinting.
 *
 * Everything here is built from codegen'd `org.apache.spark.sql.functions`
 * (higher-order array functions, no UDFs), so whole-stage codegen keeps the
 * hot path JIT-compiled and columnar at 100 TB. All hashes use explicit
 * integer arithmetic mod a Mersenne prime so results are engine-portable
 * (the DuckDB oracle reproduces them bit-for-bit).
 */
object TextAnalysis {

  /** 2^31 - 1; keeps every intermediate < 2^36 — no int64 overflow. */
  val HashPrime = 2147483647L

  /** Whitespace tokens, empty-safe. */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /**
   * BPE-ish pre-token count: alphanumeric runs split additionally at
   * letter↔digit transitions — the first-pass pre-tokenization every BPE
   * tokenizer does. Counted as (alnum runs) + (transitions), which avoids
   * lookaround regexes so RE2-based engines (the DuckDB oracle) reproduce it.
   */
  def bpeishTokenCount(text: Column): Column = {
    val lowered = lower(text)
    val runs = size(filter(split(lowered, "[^a-z0-9]+"), t => length(t) > 0))
    val trans = regexp_count(lowered, lit("[a-z][0-9]")) +
      regexp_count(lowered, lit("[0-9][a-z]"))
    (runs + trans).cast(LongType)
  }

  /** ASCII-alnum canonical form — the normalize-then-hash unit for
    * normalized dedup and URL/title keying: lowercase, every run of
    * non-[a-z0-9] characters collapses to ONE space, trimmed. A single
    * regex pass whose character class evaluates identically in Java regex
    * and RE2, so the DuckDB oracle matches byte-for-byte. Non-Latin text
    * normalizes toward empty by design (this is an ASCII canonicalizer;
    * script-aware forms would extend the class). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Polynomial rolling hash of a string: fold (acc*31 + codepoint) mod p
    * over the characters. Portable (DuckDB list_reduce reproduces it), and
    * implemented as a native codegen'd Catalyst expression — see
    * [[graft.functions.StringFoldHash]]. */
  def stringHash(s: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    GraftBridge.column(
      graft.functions.StringFoldHashExpr(GraftBridge.expression(s.cast(StringType))))
  }

  /** Token-sequence rolling hash — the document fingerprint: order-sensitive,
    * whitespace-normalization-insensitive. */
  def fingerprint(text: Column): Column =
    aggregate(
      transform(tokens(text), t => stringHash(t)),
      lit(0L),
      (acc, h) => (acc * 131L + h) % HashPrime)

  /** n-token shingles as space-joined strings (dedup/Jaccard unit). */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast(ArrayType(StringType)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Per-token hashes (computed once per doc; the unit every shingle/simhash
    * operator builds on — avoids re-hashing characters per shingle). */
  def tokenHashes(text: Column): Column = transform(tokens(text), t => stringHash(t))

  /** Distinct n-shingle hashes, derived from token hashes by a positional
    * fold (acc·131 + tokenHash mod p). Shingle strings never materialize —
    * at scale only 8-byte hashes flow through the plan.
    *
    * Row-based: tokens explode once (each token hashed exactly once), the
    * window `lead` combines n consecutive hashes with codegen'd arithmetic —
    * no nested higher-order lambdas (those evaluate interpreted, per call,
    * and re-inline their inputs: measured 20× slower). The window shuffle
    * keys on the doc id, which co-locates a doc's tokens — the same
    * partitioning every downstream dedup consumer wants.
    *
    * A round-7 experiment re-measured the in-array alternative (the
    * bandRows-style fold + array_distinct, zero shuffles): 230 s vs 4.6 s
    * for minhash signatures over 100k documents — HOF lambdas evaluate
    * INTERPRETED per element, and a corpus-scale doc has hundreds of fold
    * steps per row. The shuffle this window pays is the cheaper side of
    * that trade on long documents; bandRows keeps the in-array form because
    * streaming micro-batches are small and windows don't run on streams.
    */
  def shingleHashRows(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, n: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokenHashes(col(textCol))).as(Seq("pos", "th")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val shingleHash = (1 until n).foldLeft(col("th")) { (acc, j) =>
      (acc * 131L + lead(col("th"), j).over(w)) % HashPrime
    }
    toks
      .withColumn("h", shingleHash)
      .filter(col("h").isNotNull) // last n-1 positions have no full window
      .select(col("doc_id"), col("h"))
      .distinct()
  }

  /**
   * WINNOWED document fingerprints (the MOSS scheme — Schleimer, Wilkerson
   * & Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
   * SIGMOD 2003, public): slide a `window`-wide window over the doc's
   * POSITIONAL n-shingle hashes and select each window's minimum; the
   * distinct selected hashes are the fingerprint set. Guarantees any shared
   * run of `window + shingleN − 1` tokens contributes at least one COMMON
   * fingerprint between two docs, at expected density 2/(window+1) — the
   * local-selection property a plain "every k-th shingle" sample lacks.
   * [[fingerprint]] is a whole-doc rolling hash (any edit changes it);
   * winnowed fingerprints localize overlap, the unit for copy detection
   * and fine-grained boilerplate mining over a corpus.
   *
   * Shape at 100 TB: tokens explode once (hashed once, as
   * [[shingleHashRows]]), and BOTH the shingle fold and the sliding min are
   * windows keyed by the doc id — one shuffle co-locating each doc's
   * tokens, the sort reused across the two window frames, then a partial-agg
   * distinct. All-integer (mod-prime arithmetic), so the DuckDB oracle
   * reproduces the set bit-for-bit.
   *
   * Docs with no shingles (< shingleN tokens) emit no fingerprints; docs
   * with fewer than `window` shingles emit exactly one (the global min) —
   * every fingerprintable doc stays representable.
   */
  def winnowedFingerprints(docs: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 3, window: Int = 4): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokenHashes(col(textCol))).as(Seq("pos", "th")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val shingleHash = (1 until shingleN).foldLeft(col("th")) { (acc, j) =>
      (acc * 131L + lead(col("th"), j).over(byDoc)) % HashPrime
    }
    val sh = toks
      .withColumn("h", shingleHash)
      .filter(col("h").isNotNull) // positions 0..n_sh-1 survive, contiguous
      .select(col("doc_id"), col("pos"), col("h"))
    val slide = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, window - 1)
    sh
      .withColumn("fp", min(col("h")).over(slide))
      .withColumn("n_sh", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      // full windows only — except the single all-shingle window of a doc
      // shorter than `window`, anchored at position 0
      .filter(col("pos") <= col("n_sh") - window ||
        (col("n_sh") < window && col("pos") === 0))
      .select(col("doc_id"), col("fp"))
      .distinct()
  }

  /**
   * Winnowed-fingerprint OVERLAP pairs — the MOSS matching step over
   * [[winnowedFingerprints]]: doc pairs sharing at least `minShared`
   * selected fingerprints, with the shared count. Detects PARTIAL copies —
   * a quoted paragraph, a lifted function, boilerplate spliced into
   * otherwise-distinct documents — which whole-doc similarity
   * ([[graft.operators.Dedup.ngramJaccardPairs]]) misses by construction
   * (a short shared run barely moves doc-level Jaccard) and
   * [[graft.operators.Dedup.spanDedup]] only catches at exact fixed-tile
   * alignment. The winnowing guarantee makes the detection positional-
   * robust: any shared run of `window + shingleN − 1` tokens contributes
   * at least one shared fingerprint wherever it sits in either doc.
   *
   * Shape at 100 TB: the self-join key is the 8-byte fingerprint, so the
   * join volume is Σ_fp df(fp)² — the same skew exposure as the q32 shingle
   * join, guarded the same way: `maxFpDF` drops fingerprints present in
   * more than that many docs (corpus-wide boilerplate carries no copy
   * signal and would dominate the join). The over-cap set is at most
   * rows/cap members by definition — a broadcast anti-join, never a
   * shuffled semi-join. Fingerprints are ~2/(window+1) of shingle volume,
   * so the pair join runs on a frame (w+1)/2 times smaller than a raw
   * shingle self-join before any gating.
   */
  def winnowedOverlapPairs(docs: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 3, window: Int = 4,
      minShared: Int = 2, maxFpDF: Int = 100): org.apache.spark.sql.DataFrame = {
    // exploded frame (one row per fingerprint): recomputed per consumer,
    // never staged (see [[Staging]])
    val fps = winnowedFingerprints(docs, textCol, idCol, shingleN, window)
    val overCap = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxFpDF).select(col("fp"))
    val kept = fps.join(broadcast(overCap), Seq("fp"), "left_anti")
    val l = kept.alias("l"); val r = kept.alias("r")
    l.join(r, col("l.fp") === col("r.fp") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared")) // fp distinct per doc upstream
      .filter(col("n_shared") >= minShared)
  }

  // ------------------------------------------------------------ quality

  /** Integer quality facets (integers so oracles match exactly):
    * chars, tokens, mean token length ×100, punctuation marks, stopwords. */
  def charCount(text: Column): Column = length(text).cast(LongType)

  def punctCount(text: Column): Column =
    (length(text) - length(translate(text, ".,;:!?", ""))).cast(LongType)

  val StopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for")

  def stopwordCount(text: Column, stopwords: Seq[String] = StopwordsEn): Column =
    size(filter(tokens(text), t => t.isInCollection(stopwords))).cast(LongType)

  /** Mean token length in hundredths (integer): floor(100*chars_in_tokens/tokens). */
  def meanTokenLenX100(text: Column): Column = {
    val toks = tokens(text)
    val totalLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    when(size(toks) === 0, lit(0L))
      .otherwise(floor(totalLen * 100L / size(toks)).cast(LongType))
  }

  /** Simple integer quality heuristic: long enough, not punctuation-soup,
    * has some stopwords (i.e. looks like language, not a symbol dump). */
  def qualityOk(text: Column): Column =
    (charCount(text) >= 100) &&
      (punctCount(text) * 10L <= charCount(text)) &&
      (stopwordCount(text) >= 1)

  // ------------------------------------------------------------ language id

  /** Marker words per language (tiny n-gram-free heuristic; the operator
    * shape — score per language, argmax — is what scales, the lists are
    * swappable). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "en" -> Seq("the", "and", "of", "to", "is", "that"),
    "es" -> Seq("el", "la", "de", "que", "los", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est"))

  def langScore(text: Column, markers: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(markers))).cast(LongType)

  /** CJK-ideograph count (U+4E00–U+9FFF); `\x{...}` classes evaluate
    * identically in Java regex and RE2, so the DuckDB oracle matches.
    * ASCII-only text (byte length == char length) short-circuits to 0
    * without touching the regex engine — on a mostly-Latin corpus that
    * skips the per-char regex scan for ~all rows. */
  def cjkCount(text: Column): Column =
    when(octet_length(text) === length(text), lit(0L))
      .otherwise(regexp_count(text, lit("[\\x{4e00}-\\x{9fff}]")).cast(LongType))

  /**
   * Script-aware language ID: whitespace-marker voting ([[langId]]) is blind
   * to unsegmented scripts — Chinese text has no spaces to tokenize, so
   * every zh doc scores "und". Script detection runs FIRST (≥10% CJK
   * ideographs by char → "zh"), then the marker argmax. The pattern extends
   * per script block (Cyrillic, Arabic, ...); all codegen'd projections.
   */
  def scriptLangId(text: Column): Column =
    // branchless pick (array + element_at) instead of CASE WHEN: codegen
    // subexpression elimination skips conditional branches, so a
    // `when(..., "zh").otherwise(langId)` re-evaluates every token split
    // inside langId per language (measured 2.4x slower at sf0.1)
    element_at(
      array(langId(text), lit("zh")),
      (cjkCount(text) * 10L >= charCount(text)).cast(IntegerType) + 1)

  /** Argmax over language scores; ties break alphabetically; all-zero → "und"
    * (undetermined). */
  def langId(text: Column): Column = {
    val scores = LangMarkers.map { case (lang, m) => lang -> langScore(text, m) }
    val maxScore = greatest(scores.map(_._2): _*)
    scores.foldRight(lit("und")) { case ((lang, s), elseCol) =>
      when(s === maxScore && maxScore > 0, lit(lang)).otherwise(elseCol)
    }
  }

  /**
   * Per-source corpus data card: the summary table a corpus release ships —
   * document count, token volume, quality-pass rate (integer pct), and the
   * dominant predicted language (ties break alphabetically). One pass for
   * the per-doc facets, two partial-agg groupBys and one keyed window for
   * the language mode — scales as a pair of source-keyed aggregations.
   */
  def corpusDataCard(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, sourceCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(sourceCol), col(idCol),
      tokenCount(col(textCol)).as("n_tokens"),
      qualityOk(col(textCol)).as("q_ok"),
      langId(col(textCol)).as("lang"))
    val agg = base.groupBy(col(sourceCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(when(col("q_ok"), 1L).otherwise(0L)).as("quality_docs"))
    val topLang = base.groupBy(col(sourceCol), col("lang"))
      .agg(count(lit(1)).as("c"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(sourceCol))
          .orderBy(col("c").desc, col("lang").asc)))
      .filter(col("__r") === 1)
      .select(col(sourceCol), col("lang").as("top_lang"))
    agg.join(topLang, sourceCol)
      .withColumn("quality_pct", expr("quality_docs * 100 DIV n_docs"))
  }

  // ------------------------------------------------------------ PII

  /**
   * PII patterns, restricted to the regex subset Java and RE2 (the DuckDB
   * oracle) evaluate identically: character classes, bounded repetition,
   * `\b` word boundaries — no lookaround, no backreferences. The four
   * classes every pre-training scrub pass runs first: emails, North-American
   * phone numbers, IPv4 addresses, SSNs. Lists are swappable; the operator
   * shape (ordered scrub chain of codegen'd regexp_replace, counts before
   * redaction) is what scales.
   */
  val PiiPatterns: Seq[(String, String)] = Seq(
    // order matters: each class's matches are disjoint from the others'
    // (different separator shapes), and replacement tokens (<EMAIL> etc.)
    // can't create new matches downstream
    "email" -> """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}""",
    "ssn" -> """\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b""",
    "phone" -> """\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b""",
    "ip" -> """\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b""")

  /** Occurrences of one PII class (count BEFORE redaction). */
  def piiCount(text: Column, kind: String): Column =
    regexp_count(text, lit(PiiPatterns.toMap.apply(kind))).cast(LongType)

  /** Scrub all PII classes, each replaced by its `<KIND>` token. A chain of
    * codegen'd `regexp_replace` — one projection, no UDFs. */
  def piiRedact(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (kind, pat)) =>
      regexp_replace(c, lit(pat), lit(s"<${kind.toUpperCase}>"))
    }

  // ------------------------------------------------------------ repetition

  /**
   * Repetition / boilerplate signals per document (the Gopher-style quality
   * facets): duplicate-token fraction and most-frequent-bigram fraction,
   * both as integer percentages so the oracle matches exactly.
   *
   * Shape at 100 TB: tokens hash once (codegen'd fold), bigram hashes come
   * from a `lead` window KEYED BY doc_id (co-located, never global), then
   * two map-side-combined groupBys whose shuffles carry (doc_id, hash,
   * partial count) — the text itself never shuffles.
   *
   * Output: doc_id, n_tokens, dup_token_pct, top_bigram_pct, repetitive
   * (dup ≥ dupPctMax ∨ top-bigram ≥ bigramPctMax).
   */
  def repetitionStats(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, dupPctMax: Long = 40L, bigramPctMax: Long = 20L)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val th = docs.select(col(idCol).as("doc_id"), tokenHashes(col(textCol)).as("th"))
    val base = th.select(col("doc_id"),
      size(col("th")).cast(LongType).as("n_tokens"),
      size(array_distinct(col("th"))).cast(LongType).as("n_distinct"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val bigrams = th
      .select(col("doc_id"), posexplode(col("th")).as(Seq("pos", "h0")))
      .withColumn("h", (col("h0") * 131L + lead(col("h0"), 1).over(w)) % HashPrime)
      .filter(col("h").isNotNull)
    val top = bigrams
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_bigrams"))
    val dupPct = when(col("n_tokens") === 0, lit(0L))
      .otherwise(floor((col("n_tokens") - col("n_distinct")) * 100L / col("n_tokens"))
        .cast(LongType))
    val bigramPct = when(col("n_bigrams").isNull || col("n_bigrams") === 0, lit(0L))
      .otherwise(floor(col("top_c") * 100L / col("n_bigrams")).cast(LongType))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        dupPct.as("dup_token_pct"), bigramPct.as("top_bigram_pct"))
      .withColumn("repetitive",
        col("dup_token_pct") >= dupPctMax || col("top_bigram_pct") >= bigramPctMax)
  }

  /**
   * Corpus vocabulary: per-token total term frequency and document
   * frequency, top `k` by (tf desc, token asc) — the BPE/tokenizer-training
   * precursor every corpus pipeline runs. One explode + one groupBy
   * (map-side combined; the shuffle carries (token, partial counts), never
   * documents); the global top-k is a TakeOrdered, not a full sort.
   */
  def vocabulary(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k: Int): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(k)

  /**
   * Top-`k` DISTINCTIVE terms per document: the tf-idf ranking expressed as
   * a pure-integer lexicographic order — in-doc term frequency descending,
   * corpus document frequency ascending (rare beats common), then the token
   * itself for a total order. Equivalent to ranking by tf·idf without the
   * floating-point idf, so the result is deterministic across engines (the
   * repo's oracle rule: integer arithmetic only). The topical-keyword
   * extraction every curation pipeline runs for domain tagging and
   * mixture construction.
   *
   * Shape at 100 TB: tf is one partial-agg groupBy over (doc, token); df
   * derives from the same frame (each (doc, token) row is one doc) — no
   * second pass over text; the rank is a keyed window per doc_id (never a
   * global sort).
   */
  /**
   * Blocklist screen: per document, a bitmask of which blocked phrases
   * occur (substring match) and the hit count — the safety-filter /
   * keyword-screen pass. The phrase list broadcasts as a LITERAL
   * comparison chain (≤ 63 phrases so the mask fits a clean int64), so
   * the screen is map-only, codegen'd `contains` per phrase, at any
   * corpus size; swap in a real multi-pattern automaton only past a few
   * hundred phrases.
   *
   * Output: (id, hit_mask, n_hits) — phrase i sets bit i.
   */
  def blocklistScreen(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, phrases: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    require(phrases.nonEmpty && phrases.size <= 63,
      s"1..63 phrases (bitmask), got ${phrases.size}")
    val mask = phrases.zipWithIndex.map { case (p, i) =>
      when(col(textCol).contains(p), lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)
    docs.select(col(idCol).as("id"), mask.as("hit_mask"))
      .withColumn("n_hits", expr("bit_count(hit_mask)").cast(LongType))
  }

  /**
   * Vocabulary head coverage: what fraction of the corpus's token MASS the
   * top-k vocabulary terms cover, for each requested k — the
   * tokenizer/vocab-sizing curve (and the OOV-rate read: 1 − coverage).
   * Scale shape: term frequencies are one partial-agg groupBy; the head is
   * a TakeOrdered(maxK) — bounded BEFORE the rank window, so the
   * unpartitioned `row_number` runs over ≤ maxK rows (the zipf exemption),
   * never the vocabulary.
   *
   * Output: (k, terms_used, covered_tokens, coverage_ppm, vocab_size).
   */
  def vocabCoverage(docs: org.apache.spark.sql.DataFrame, textCol: String,
      ks: Seq[Int]): org.apache.spark.sql.DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), "ks must be positive")
    val maxK = ks.max
    require(maxK <= 100000, s"head bounded at 100k terms, got $maxK")
    val tf = Staging.stage(docs
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("tf")))
    val total = tf.agg(sum("tf").as("total"), count(lit(1)).as("vocab_size"))
    val top = tf.orderBy(col("tf").desc, col("token").asc).limit(maxK)
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("tf").desc, col("token").asc)))
    val spark = docs.sparkSession
    import spark.implicits._
    val ksDf = ks.distinct.sorted.map(_.toLong).toDF("k")
    broadcast(ksDf).join(top, col("rn") <= col("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("terms_used"),
        sum(col("tf")).as("covered_tokens"))
      .crossJoin(broadcast(total))
      .select(col("k"), col("terms_used"), col("covered_tokens"),
        IntMath.idiv(col("covered_tokens") * lit(1000000L), col("total"))
          .as("coverage_ppm"),
        col("vocab_size"))
  }

  def distinctiveTerms(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, k: Int): org.apache.spark.sql.DataFrame = {
    // tf feeds both the df aggregate and the join below — stage it so the
    // explode + groupBy over every corpus token runs ONCE, not twice
    val tf = Staging.stage(docs
      .select(col(idCol).as("doc_id"), explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(df, Seq("token"))
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
          .orderBy(col("tf").desc, col("df").asc, col("token").asc)))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("token"), col("tf"), col("df"))
  }

  /**
   * Top-`k` collocations (adjacent-token bigrams) ranked by integer
   * fixed-point PMI — the phrase-mining pass a tokenizer-training or
   * domain-analysis pipeline runs over the corpus. PMI's log argument is
   * the lift ratio `p(ab) / (p(a)·p(b)) = n_ab·T² / (B·n_a·n_b)` (unigram
   * probabilities over T tokens, bigram over B = T − N_docs positions);
   * since log is monotone, ranking by the ratio IS ranking by PMI, so no
   * log is computed. The ratio is carried at ×1000 fixed-point with a
   * pinned evaluation order —
   * `((n_ab·T·1000) DIV (n_a·n_b)) · T DIV B` — truncating division on
   * all-positive int64, bit-identical in both engines. (The split keeps
   * every intermediate ≤ 1000·T²; at corpora beyond ~10¹³ the ×1000 scale
   * must shrink or the arithmetic move to DECIMAL.)
   *
   * Shape at 100 TB: bigrams come from zipping each token array with its
   * own tail (map-only — no self-join, no window over positions); unigram
   * and bigram counts are partial-agg groupBys; the two count joins key on
   * single tokens (vocabulary-sized tables); top-k is a TakeOrdered, never
   * a global sort. `minCount` prunes the long tail of singleton bigrams
   * before the joins.
   */
  /**
   * Multinomial Naive Bayes text classifier, integer-exact end to end —
   * the supervised quality/domain scorer a curation pipeline trains on a
   * labeled seed set and sweeps across the corpus (the role fastText's
   * linear classifier plays in public pipelines, in its classic
   * count-based form).
   *
   * Train: per-(label, token) counts with add-1 smoothing over the
   * training vocabulary V; class priors from document counts. All
   * log-probabilities go through [[Retrieval.qlog2]] (fixed-point
   * piecewise-linear log2, 1024 units/bit) of exact integer ratios at
   * 2^30 fixed point: contribution(token, c) =
   * `qlog2(((cnt+1) << 30) DIV (tot_c + V))` — monotone, deterministic,
   * and reproduced bit-for-bit by the oracle. (The 2^30 carrier keeps the
   * smoothed ratio ≥ 1 up to ~10⁹ tokens per class; beyond that widen the
   * shift.) Scoring sums `tf · contribution` over the doc's tokens plus
   * the prior `qlog2((docs_c << 30) DIV docs_total)`; argmax breaks ties
   * on label ascending.
   *
   * Shape at 100 TB: counts and tf are partial-agg groupBys; the test
   * side crosses with the CLASS LIST (a handful of rows, broadcast) and
   * left-joins the (token, label) count table — token-keyed joins against
   * vocabulary-sized state, the corpus text never re-shuffles.
   *
   * Output: (doc_id, pred_label, score_q) per test doc.
   */
  def naiveBayesClassify(train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      labelCol: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // stage the AGGREGATED (label, token, cnt) table — vocabulary × classes
    // rows — not the exploded token frame: the train explode runs once and
    // every consumer (totals, vocab size, contribution table) reads the
    // tiny aggregate
    val cnt = Staging.stage(train.select(col(labelCol).as("label"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("cnt")))
    val tot = cnt.groupBy(col("label")).agg(sum(col("cnt")).as("tot"))
    val vocabSize = cnt.select(col("token")).distinct().count()
    val priors = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val nTrain = train.count()
    val classes = broadcast(tot.join(priors, "label")
      .select(col("label"), col("tot"),
        (Retrieval.qlog2(IntMath.idiv(shiftleft(col("n_docs"), 30),
          lit(nTrain))) - 30L * 1024L).as("prior_q")))

    // contributions are a function of (token, label) ONLY — evaluate the
    // qlog2 once per (vocab × label) row plus one unseen-token default per
    // label, and make the corpus side a broadcast-join lookup (the naive
    // per-test-row qlog2 costs a bin()-string per row × classes — measured
    // 2-3× slower at 100k docs)
    val contribTable = broadcast(cnt.join(classes, "label")
      .select(col("token"), col("label"),
        (Retrieval.qlog2(IntMath.idiv(shiftleft(col("cnt") + 1L, 30),
          col("tot") + vocabSize)) - 30L * 1024L).as("c_tl")))
    val defaults = broadcast(classes.select(col("label"), col("prior_q"),
      (Retrieval.qlog2(IntMath.idiv(shiftleft(lit(1L), 30),
        col("tot") + vocabSize)) - 30L * 1024L).as("c0")))

    val tf = test.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val contrib = tf.join(defaults)
      .join(contribTable, Seq("token", "label"), "left")
      .select(col("doc_id"), col("label"), col("prior_q"),
        (col("tf") * coalesce(col("c_tl"), col("c0"))).as("c"))
    val scored = contrib.groupBy(col("doc_id"), col("label"), col("prior_q"))
      .agg(sum(col("c")).as("lik"))
      .select(col("doc_id"), col("label"),
        (col("prior_q") + col("lik")).as("score_q"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score_q").desc, col("label").asc)
    scored.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("pred_label"), col("score_q"))
  }

  /**
   * Corpus drift report: the top-k tokens by their contribution to the
   * (add-1-smoothed) KL divergence of the NEW corpus's unigram
   * distribution from the REFERENCE corpus's — the monitoring pass a
   * pipeline runs per ingest batch to catch topical/source drift before it
   * poisons a training mix. Per-token contribution, integer fixed-point:
   * `(n_new+1) · (qlog2(ratio) − 20480)` where `ratio` carries
   * `p_new/p_ref = (n_new+1)(T_ref+V) / ((n_ref+1)(T_new+V))` at 2^20
   * fixed point (V = joint vocabulary, so both smoothed distributions
   * share support). Positive = over-represented in the new corpus.
   *
   * Shape: two partial-agg token counts + a full outer join keyed on
   * token (vocabulary-sized), three collected scalars (totals + V);
   * top-k is a TakeOrdered.
   */
  def vocabDrift(newDocs: org.apache.spark.sql.DataFrame,
      refDocs: org.apache.spark.sql.DataFrame, textCol: String,
      topK: Int = 50): org.apache.spark.sql.DataFrame = {
    def counts(d: org.apache.spark.sql.DataFrame, as: String) =
      d.select(explode(tokens(col(textCol))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as(as))
    val j = Staging.stage(
      counts(newDocs, "n_new").join(counts(refDocs, "n_ref"),
        Seq("token"), "full_outer")
        .select(col("token"), coalesce(col("n_new"), lit(0L)).as("n_new"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref")))
    val st = j.agg(sum(col("n_new")).as("tn"), sum(col("n_ref")).as("tr"),
      count(lit(1)).as("v")).head()
    val (tNew, tRef, v) = (st.getLong(0), st.getLong(1), st.getLong(2))
    val ratio = IntMath.idiv(
      shiftleft((col("n_new") + 1L) * (tRef + v), 20),
      (col("n_ref") + 1L) * (tNew + v))
    j.select(col("token"), col("n_new"), col("n_ref"),
        ((col("n_new") + 1L) * (Retrieval.qlog2(ratio) - 20480L)).as("drift_q"))
      .orderBy(col("drift_q").desc, col("token").asc)
      .limit(topK)
  }

  /**
   * BPE merge candidates — the first iteration of byte-pair-encoding
   * training: adjacent symbol (character) pairs inside tokens, weighted by
   * token frequency, ranked by total count. (A full BPE trainer repeats
   * this over merged symbol sequences; the heavy lifting — the weighted
   * pair count over a corpus-scale word-frequency table — is exactly this
   * shape each round.) Deterministic order: count desc, then the pair.
   *
   * Shape: tokens partial-agg to a (token, tf) vocabulary FIRST (the
   * corpus-size → vocabulary-size reduction every BPE trainer exploits),
   * then the per-token char-pair explode runs over vocabulary rows only.
   */
  def bpeMergeCandidates(docs: org.apache.spark.sql.DataFrame,
      textCol: String, topK: Int = 100): org.apache.spark.sql.DataFrame = {
    val vocab = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val chars = split(col("token"), "")
    vocab.filter(length(col("token")) >= 2)
      .select(col("tf"), explode(arrays_zip(
        slice(chars, lit(1), size(chars) - 1).as("a"),
        slice(chars, lit(2), size(chars) - 1).as("b"))).as("pair"))
      .groupBy(col("pair.a").as("sym_a"), col("pair.b").as("sym_b"))
      .agg(sum(col("tf")).as("n"))
      .orderBy(col("n").desc, col("sym_a").asc, col("sym_b").asc)
      .limit(topK)
  }

  /**
   * Rule-based quality filter report in the style of the published Gopher /
   * RefinedWeb heuristics: each rule is a NAMED boolean column so the
   * pipeline can report per-rule rejection rates (the data-card form), not
   * just a single keep bit like [[qualityOk]]. Rules (all integer-exact):
   *
   *  - `r_wordcount`: token count within [minWords, maxWords]
   *  - `r_wordlen`: mean token length ×100 within [300, 1000]
   *  - `r_alpha`: ≥80% of tokens contain an alphabetic character
   *  - `r_stop`: ≥2 DISTINCT stopwords from the standard list
   *  - `keep` = all four
   *
   * Map-only over the corpus (one projection, no shuffle at all); every
   * facet is codegen'd array arithmetic.
   *
   * Output: (doc_id, n_words, mean_word_len_x100, alpha_word_pct,
   * n_distinct_stop, r_wordcount, r_wordlen, r_alpha, r_stop, keep).
   */
  def gopherRules(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, minWords: Long = 20L, maxWords: Long = 100000L)
      : org.apache.spark.sql.DataFrame = {
    val tk = tokens(col(textCol))
    val n = size(tk).cast(LongType)
    val meanLen = when(n === 0L, lit(0L)).otherwise(IntMath.idiv(
      aggregate(tk, lit(0L), (acc, t) => acc + length(t)) * 100L, n))
    val alphaPct = when(n === 0L, lit(0L)).otherwise(IntMath.idiv(
      size(filter(tk, t => t.rlike("[A-Za-z]"))).cast(LongType) * 100L, n))
    val nStop = size(array_intersect(tk,
      array(StopwordsEn.map(lit): _*))).cast(LongType)
    docs.select(col(idCol).as("doc_id"),
        n.as("n_words"), meanLen.as("mean_word_len_x100"),
        alphaPct.as("alpha_word_pct"), nStop.as("n_distinct_stop"))
      .withColumn("r_wordcount",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_wordlen", col("mean_word_len_x100") >= 300L &&
        col("mean_word_len_x100") <= 1000L)
      .withColumn("r_alpha", col("alpha_word_pct") >= 80L)
      .withColumn("r_stop", col("n_distinct_stop") >= 2L)
      .withColumn("keep", col("r_wordcount") && col("r_wordlen") &&
        col("r_alpha") && col("r_stop"))
  }

  /**
   * Fixed-size overlapping token chunks — the RAG / context-window prep
   * step: each document becomes `ceil`-many chunks of `chunkTokens`
   * whitespace tokens, consecutive chunks sharing `overlapTokens` tokens so
   * no sentence is orphaned at a boundary. Chunk `i` covers token positions
   * `[i·stride, min(i·stride + chunkTokens, n))` with
   * `stride = chunkTokens − overlapTokens`; the final chunk may be shorter
   * but every token is covered exactly by construction. Empty documents
   * emit no chunks.
   *
   * Map-only: tokenize → bounded `sequence` explode → `slice` +
   * `concat_ws`, all codegen'd — no shuffle, no state; chunk fan-out per
   * doc is `⌈n/stride⌉`, linear in corpus size at any scale.
   *
   * Output: (doc_id, chunk_id, start_tok, n_tok, chunk_text).
   */
  def chunkDocs(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, chunkTokens: Int = 64, overlapTokens: Int = 16)
      : org.apache.spark.sql.DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 &&
      overlapTokens < chunkTokens,
      s"need 0 <= overlapTokens < chunkTokens, got $chunkTokens/$overlapTokens")
    val stride = chunkTokens - overlapTokens
    val n = size(col("tk"))
    // 1 + ceil((n - chunk)/stride) full-coverage chunks; trunc-toward-zero
    // division is safe because greatest(0, ·) clamps the negative case
    val nChunks = when(n <= 0, lit(0)).otherwise(
      lit(1) + greatest(lit(0),
        IntMath.idiv(n - chunkTokens + stride - 1, lit(stride))
          .cast(IntegerType)))
    val start = col("chunk_id") * stride
    val chunkLen = least(lit(chunkTokens), n - start)
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .withColumn("chunk_id",
        explode(when(nChunks > 0, sequence(lit(0), nChunks - 1))
          .otherwise(array().cast(ArrayType(IntegerType)))))
      .select(col("doc_id"), col("chunk_id"),
        start.cast(LongType).as("start_tok"),
        chunkLen.cast(LongType).as("n_tok"),
        concat_ws(" ", slice(col("tk"), start + 1, chunkLen)).as("chunk_text"))
  }

  /**
   * ROUGE-style n-gram overlap between candidate/reference document pairs —
   * the summarization / generation eval primitive: for each (cand_id,
   * ref_id) pair, the DISTINCT token-n-gram sets intersect and score as
   * integer parts-per-million precision (overlap/|cand|), recall
   * (overlap/|ref|), and their F1. A doc with fewer than `n` tokens has an
   * empty n-gram set and scores zero all around; pairs with no overlap are
   * kept (zeros), so the output has exactly one row per input pair.
   *
   * Shape at 100 TB: text reduces to (doc_id, ngramHash) rows once
   * ([[shingleHashRows]], staged because three downstream joins read it);
   * every join afterwards is keyed by doc id or (id, hash) — document text
   * never shuffles, and pair cost is proportional to the paired docs'
   * n-gram sets, not the corpus.
   *
   * Output: (cand_id, ref_id, n_cand, n_ref, n_overlap, precision_ppm,
   * recall_ppm, f1_ppm).
   */
  def ngramOverlapScore(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, pairs: org.apache.spark.sql.DataFrame, n: Int = 2)
      : org.apache.spark.sql.DataFrame = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val hashes = shingleHashRows(docs, textCol, idCol, n)
    val sizes = hashes.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val p = pairs.select(col("cand_id"), col("ref_id"))
    val ov = p
      .join(hashes.select(col("doc_id").as("cand_id"), col("h")), Seq("cand_id"))
      .join(hashes.select(col("doc_id").as("ref_id"), col("h")),
        Seq("ref_id", "h"))
      .groupBy("cand_id", "ref_id").agg(count(lit(1)).as("n_overlap"))
    p.join(sizes.select(col("doc_id").as("cand_id"), col("n").as("n_cand")),
        Seq("cand_id"), "left")
      .join(sizes.select(col("doc_id").as("ref_id"), col("n").as("n_ref")),
        Seq("ref_id"), "left")
      .join(ov, Seq("cand_id", "ref_id"), "left")
      .na.fill(0L, Seq("n_cand", "n_ref", "n_overlap"))
      .withColumn("precision_ppm", when(col("n_cand") > 0,
        IntMath.idiv(col("n_overlap") * 1000000L, col("n_cand")))
        .otherwise(0L))
      .withColumn("recall_ppm", when(col("n_ref") > 0,
        IntMath.idiv(col("n_overlap") * 1000000L, col("n_ref")))
        .otherwise(0L))
      .withColumn("f1_ppm",
        when(col("precision_ppm") + col("recall_ppm") > 0,
          IntMath.idiv(lit(2L) * col("precision_ppm") * col("recall_ppm"),
            col("precision_ppm") + col("recall_ppm"))).otherwise(0L))
      .select(col("cand_id"), col("ref_id"), col("n_cand"), col("n_ref"),
        col("n_overlap"), col("precision_ppm"), col("recall_ppm"),
        col("f1_ppm"))
  }

  /**
   * Apply an ordered BPE merge list (the "merges.txt" a trained tokenizer
   * ships) to the corpus vocabulary — the tokenizer-APPLICATION half of
   * byte-pair encoding, pairing with [[bpeMergeCandidates]] (the training
   * half). Each token is represented as space-delimited symbols
   * (`" a b c "`); merge `(x, y) → xy` is one left-to-right non-overlapping
   * string replace of `" x y "` with `" xy "` (the shared delimiter is
   * consumed and re-emitted, so greedy-left semantics match the classic
   * algorithm). Because a merged symbol can only appear in LATER-ranked
   * merges (merge ranks are creation-ordered — a pair involving symbol
   * `xy` can only be learned after `xy` exists), a single ordered pass
   * over the merge list is equivalent to the iterative
   * lowest-rank-pair-first algorithm, so the whole encode is a chain of
   * codegen'd `replace` calls — no loops, no UDF.
   *
   * Shape at 100 TB: the corpus reduces to the (token, tf) vocabulary
   * FIRST (one partial-agg groupBy); the replace chain runs over
   * vocabulary rows only — cost tracks |vocab| × |merges|, not corpus
   * size.
   *
   * Output: (token, tf, pieces, n_pieces).
   */
  def bpeEncodeVocab(docs: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val vocab = docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val init = concat(lit(" "),
      array_join(split(col("token"), ""), " "), lit(" "))
    val enc = merges.foldLeft(init) { case (acc, (a, b)) =>
      replace(acc, lit(s" $a $b "), lit(s" $a$b ")) }
    vocab.select(col("token"), col("tf"),
        filter(split(trim(enc), " "), p => length(p) > 0).as("pieces"))
      .withColumn("n_pieces", size(col("pieces")).cast(LongType))
  }

  /**
   * Per-document token-piece counts under a BPE merge list — the fertility
   * report (pieces per whitespace token) a pipeline runs before committing
   * to a tokenizer. Doc-level counts come back from [[bpeEncodeVocab]] via
   * one vocabulary-keyed join (like [[naiveBayesClassify]], the corpus
   * joins against vocabulary-sized state, never against itself). Docs with
   * no tokens emit (0, 0) rather than vanishing.
   *
   * Output: (doc_id, n_tokens, n_pieces).
   */
  def bpeEncode(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, merges: Seq[(String, String)])
      : org.apache.spark.sql.DataFrame = {
    val perDoc = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("n"))
    val pieces = bpeEncodeVocab(docs, textCol, merges)
      .select(col("token"), col("n_pieces"))
    val agg = perDoc.join(pieces, "token")
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast(LongType).as("n_tokens"),
        sum(col("n") * col("n_pieces")).cast(LongType).as("n_pieces"))
    docs.select(col(idCol).as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_pieces"), lit(0L)).as("n_pieces"))
  }

  /**
   * Confusion matrix for a classifier sweep: predicted vs true label
   * counts — the evaluation report that closes the train → classify →
   * evaluate loop (e.g. [[naiveBayesClassify]] predictions against the
   * labeled column). One inner join on the id + one partial-agg groupBy;
   * output is |labels|² rows at most.
   *
   * Output: (true_label, pred_label, n) — diagonal = correct.
   */
  def confusionMatrix(pred: org.apache.spark.sql.DataFrame,
      truth: org.apache.spark.sql.DataFrame, idCol: String,
      predCol: String, truthCol: String): org.apache.spark.sql.DataFrame =
    truth.select(col(idCol).as("__id"), col(truthCol).as("true_label"))
      .join(pred.select(col(idCol).as("__id"), col(predCol).as("pred_label")),
        "__id")
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))

  /**
   * Bigram language-model scorer — the perplexity-style quality filter a
   * training-data pipeline runs over every candidate document (the CCNet
   * recipe: score text under a model trained on a trusted corpus; high
   * negative log-likelihood = out-of-domain or garbled). Trains an
   * add-1-smoothed bigram model on `train` and scores each `test` doc
   * with its total and per-bigram-average negative log2-likelihood, in
   * qlog2 fixed point (1024 units/bit) so the DuckDB oracle reproduces
   * it bit-for-bit: `P(b|a) = (cnt(a,b)+1) / (ctx(a)+V)` with `ctx(a)` =
   * occurrences of `a` as a bigram context in training and V the
   * training unigram vocabulary; unseen bigrams/contexts flow through
   * the same formula with zero counts.
   *
   * Shape: the train explode partial-aggs to an (a, b, cnt) bigram table
   * once (vocabulary²-observed scale, not corpus scale); scoring is the
   * test doc's aggregated bigrams through two equi-joins — keyed on
   * (a, b) then (a) — no window, no collect beyond the single V scalar.
   * Docs with <2 tokens emit (0, 0, 0) rather than vanishing.
   *
   * Output: (doc_id, n_bigrams, nll_q, nll_q_avg) — `nll_q` the total
   * negative log2-likelihood ×1024, `nll_q_avg` its truncating
   * per-bigram mean.
   */
  def bigramLmScore(train: org.apache.spark.sql.DataFrame,
      test: org.apache.spark.sql.DataFrame, textCol: String, idCol: String)
      : org.apache.spark.sql.DataFrame = {
    def bigrams(d: org.apache.spark.sql.DataFrame) =
      d.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("doc_id"), explode(arrays_zip(
          slice(col("tk"), lit(1), size(col("tk")) - 1).as("a"),
          slice(col("tk"), lit(2), size(col("tk")) - 1).as("b"))).as("pair"))
        .select(col("doc_id"), col("pair.a").as("a"), col("pair.b").as("b"))
    val cnt2 = Staging.stage(bigrams(train)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt2")))
    val ctx = cnt2.groupBy(col("a")).agg(sum(col("cnt2")).as("cnt1"))
    val vocabSize = train.select(explode(tokens(col(textCol))).as("token"))
      .distinct().count()
    val tb = bigrams(test)
      .groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("n"))
    val lp = tb.join(cnt2, Seq("a", "b"), "left")
      .join(ctx, Seq("a"), "left")
      .select(col("doc_id"), col("n"),
        (Retrieval.qlog2(IntMath.idiv(
          shiftleft(coalesce(col("cnt2"), lit(0L)) + 1L, 30),
          coalesce(col("cnt1"), lit(0L)) + vocabSize)) - 30L * 1024L)
          .as("lp_q"))
    val sc = lp.groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        (-sum(col("n") * col("lp_q"))).as("nll_q"))
    test.select(col(idCol).as("doc_id"))
      .join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_q"), lit(0L)).as("nll_q"),
        coalesce(IntMath.idiv(col("nll_q"), col("n_bigrams")), lit(0L))
          .as("nll_q_avg"))
  }

  def collocations(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, minCount: Long = 5L, topK: Int = 100)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
    val uni = Staging.stage(toks
      .select(explode(col("tk")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n")))
    val bi = toks
      .filter(size(col("tk")) >= 2)
      .select(explode(arrays_zip(
        slice(col("tk"), lit(1), size(col("tk")) - 1).as("a"),
        slice(col("tk"), lit(2), size(col("tk")) - 1).as("b"))).as("pair"))
      .groupBy(col("pair.a").as("token_a"), col("pair.b").as("token_b"))
      .agg(count(lit(1)).as("n_ab"))
    val stats = uni.agg(sum(col("n")).as("t")).head()
    val tTokens = stats.getLong(0)
    val bTotal = toks.select(
      sum(greatest(size(col("tk")).cast(LongType) - 1L, lit(0L))).as("b"))
      .head().getLong(0)
    bi.filter(col("n_ab") >= minCount)
      .join(uni.withColumnRenamed("token", "token_a")
        .withColumnRenamed("n", "n_a"), "token_a")
      .join(uni.withColumnRenamed("token", "token_b")
        .withColumnRenamed("n", "n_b"), "token_b")
      .select(col("token_a"), col("token_b"), col("n_ab"),
        col("n_a"), col("n_b"),
        IntMath.idiv(
          IntMath.idiv(col("n_ab") * tTokens * 1000L,
            col("n_a") * col("n_b")) * tTokens,
          lit(bTotal)).as("pmi_x1000"))
      .orderBy(col("pmi_x1000").desc, col("token_a").asc, col("token_b").asc)
      .limit(topK)
  }

  /**
   * Class-discriminative vocabulary by (frequency-weighted) pointwise
   * mutual information over DOCUMENT occurrence — the feature-selection /
   * domain-signature operator: which tokens make source X look like source
   * X. For token t and class c over n docs:
   *
   *   pmi_q = qlog2(n·df_tc) − qlog2(df_t·df_c),  score_q = df_tc · pmi_q
   *
   * (1024ths of a bit; the df_tc weight suppresses the rare-token PMI
   * blow-up, the standard fix). Differs from [[distinctiveTerms]] (per-DOC
   * tf-idf ranks) — this ranks per CLASS. All counts are document
   * frequencies from one distinct-(doc, token) explode; the rank is a
   * class-keyed window. Ties break (score desc, token asc).
   *
   * Output: (class, token, df_tc, score_q, rank), top-`k` per class.
   */
  def miTerms(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, classCol: String, k: Int)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dt = docs.select(col(idCol).as("doc_id"),
        col(classCol).as("cls"),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
    val n = docs.select(col(idCol)).count()
    val dfTc = dt.groupBy("cls", "token").agg(count(lit(1)).as("df_tc"))
    val dfT = dt.groupBy("token").agg(countDistinct(col("doc_id")).as("df_t"))
    val dfC = docs.groupBy(col(classCol).as("cls"))
      .agg(count(lit(1)).as("df_c"))
    val w = Window.partitionBy(col("cls"))
      .orderBy(col("score_q").desc, col("token").asc)
    dfTc.join(dfT, "token").join(dfC, "cls")
      .withColumn("score_q", col("df_tc") *
        (Retrieval.qlog2(lit(n) * col("df_tc"))
          - Retrieval.qlog2(col("df_t") * col("df_c"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("cls"), col("token"), col("df_tc"), col("score_q"),
        col("rank"))
  }

  /**
   * Per-group corpus diversity report — the pre-training health check for a
   * data mixture: a source whose distinct-bigram ratio collapses is
   * template/boilerplate spam (the distinct-n diversity metric), and
   * tokens-per-kilochar fertility flags sources the tokenizer fragments
   * (non-Latin scripts, code, tables). Two source-keyed partial aggregations
   * plus the [[shingleHashRows]] distinct stage — text itself never
   * shuffles, only 8-byte hashes and per-doc counters.
   *
   * Output per group: (group, n_docs, n_tokens, n_bigrams, distinct_bigrams,
   * distinct_ppm, fertility_tpk) — `distinct_ppm` = distinct/total bigrams
   * ×10⁶, `fertility_tpk` = tokens per 1000 chars, both integer-floored.
   */
  def diversityReport(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, groupCol: String): org.apache.spark.sql.DataFrame = {
    val base = docs.select(col(groupCol).as("grp"),
      tokenCount(col(textCol)).as("nt"), charCount(col(textCol)).as("nc"))
    val facets = base.groupBy("grp").agg(
      count(lit(1)).as("n_docs"),
      sum("nt").as("n_tokens"),
      sum(greatest(col("nt") - 1L, lit(0L))).as("n_bigrams"),
      sum("nc").as("n_chars"))
    // per-doc distinct bigram hashes → per-group distinct: the doc-keyed
    // distinct (inside shingleHashRows) shrinks the explode before the
    // group-keyed distinct aggregates it
    val dist = shingleHashRows(docs, textCol, idCol, n = 2)
      .join(docs.select(col(idCol).as("doc_id"), col(groupCol).as("grp")),
        "doc_id")
      .select("grp", "h").distinct()
      .groupBy("grp").agg(count(lit(1)).as("distinct_bigrams"))
    facets.join(dist, Seq("grp"), "left")
      .select(col("grp").as(groupCol), col("n_docs"), col("n_tokens"),
        col("n_bigrams"),
        coalesce(col("distinct_bigrams"), lit(0L)).as("distinct_bigrams"),
        when(col("n_bigrams") === 0L, 0L)
          .otherwise(IntMath.idiv(
            coalesce(col("distinct_bigrams"), lit(0L)) * 1000000L,
            col("n_bigrams"))).as("distinct_ppm"),
        when(col("n_chars") === 0L, 0L)
          .otherwise(IntMath.idiv(col("n_tokens") * 1000L, col("n_chars")))
          .as("fertility_tpk"))
  }

  /**
   * Per-document character-level Shannon entropy in [[Retrieval.qlog2]]
   * fixed point (1024 units/bit) — the cheap randomness/quality signal:
   * near-zero entropy is a repeated-character dump, implausibly high
   * entropy is compressed/encoded noise; natural language sits in a stable
   * band. Using Σc·log₂c ≡ n·log₂n − Σcᵢ·log₂cᵢ keeps the whole computation
   * two partial-agg groupBys over (doc, char) rows — all-integer, so the
   * oracle matches bit-for-bit, and deterministic on any partitioning.
   *
   * Docs with no characters report entropy 0 over 0 counted chars.
   * Output: (doc_id, n_chars_counted, entropy_q).
   */
  def charEntropy(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String): org.apache.spark.sql.DataFrame = {
    val ch = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), "")).as("ch"))
      .filter(length(col("ch")) > 0)
    val counts = ch.groupBy("doc_id", "ch").agg(count(lit(1)).as("cnt"))
    val agg = counts.groupBy("doc_id").agg(
      sum("cnt").as("n"),
      sum(col("cnt") * Retrieval.qlog2(col("cnt"))).as("s"))
    docs.select(col(idCol).as("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).as("n_chars_counted"),
        coalesce(IntMath.idiv(
          col("n") * Retrieval.qlog2(col("n")) - col("s"), col("n")),
          lit(0L)).as("entropy_q"))
  }

  /**
   * Rare-n-gram quality filter (the count-threshold sibling of the
   * perplexity filter in [[bigramLmScore]], CCNet-style): a document whose
   * bigrams are mostly RARE in its own corpus is boilerplate noise, OCR
   * garbage, or mojibake. "Rare" is frequency-relative — corpus frequency
   * below `rareFreqPpm` parts-per-million of all bigram occurrences — so
   * the cut means the same thing at sf0.01 and at 100 TB (an absolute
   * min-count would saturate as the corpus grows).
   *
   * Output per doc: n_bigrams, n_rare, rare_pml (per-mille of occurrences
   * that are rare; 0 for docs under 2 tokens), keep (rare_pml ≤
   * `keepThresholdPml`). Scale shape: per-doc bigram counts partial-agg
   * FIRST, the corpus table aggregates from those already-reduced rows,
   * the grand total is a 1-row broadcast, and the doc join runs on the
   * pre-reduced (doc, bigram) pairs — text tokenizes exactly once and raw
   * strings never shuffle twice.
   */
  def rareBigramRate(docsDf: org.apache.spark.sql.DataFrame,
      textCol: String, idCol: String, rareFreqPpm: Long = 1100L,
      keepThresholdPml: Long = 500L): org.apache.spark.sql.DataFrame = {
    val pairs = docsDf
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("tk")) - 2),
        i => concat_ws("\u001f", element_at(col("tk"), i + 1),
          element_at(col("tk"), i + 2)))).as("bg"))
    val perDoc = Staging.stage(pairs
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n")))
    val corpus = perDoc.groupBy(col("bg")).agg(sum(col("n")).as("cnt"))
    val total = corpus.agg(sum(col("cnt")).as("total"))
    val ag = perDoc.join(corpus, Seq("bg"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_bigrams"),
        sum(when(col("cnt") * lit(1000000L) <
          col("total") * lit(rareFreqPpm), col("n")).otherwise(0L))
          .as("n_rare"))
    val pml = coalesce(IntMath.idiv(col("n_rare") * lit(1000L),
      col("n_bigrams")), lit(0L))
    docsDf.select(col(idCol).as("doc_id"))
      .join(ag, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"),
        pml.as("rare_pml"),
        (pml <= keepThresholdPml).as("keep"))
  }

  /**
   * RAG-style overlapping chunking: whitespace tokens windowed into
   * `chunkTokens`-token chunks every `stride` tokens (overlap =
   * chunkTokens − stride), the retrieval-index unit of an embedding
   * pipeline. A short doc is one chunk; the last chunk keeps whatever
   * remains past the final full stride. Emits (doc_id, chunk_id,
   * n_tokens, chunk_hash) — the hash stands in for the chunk payload the
   * embedder would consume. Map-only (explode over a per-row sequence);
   * chunk counts are data-proportional, never quadratic.
   */
  def ragChunks(docs: DataFrame, textCol: String, idCol: String,
      chunkTokens: Int = 32, stride: Int = 24): DataFrame = {
    require(stride >= 1 && chunkTokens >= stride,
      "need 1 <= stride <= chunkTokens")
    val t = docs.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")).cast(LongType))
    val nChunks = when(col("n") <= chunkTokens, 1L)
      .otherwise(IntMath.idiv(col("n") - chunkTokens + (stride - 1),
        lit(stride.toLong)) + 1L)
    t.withColumn("chunk_id", explode(sequence(lit(0L), nChunks - 1L)))
      .withColumn("ck", slice(col("tk"),
        (col("chunk_id") * stride + 1L).cast(IntegerType), lit(chunkTokens)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ck")).cast(LongType).as("n_tokens"),
        md5(array_join(col("ck"), " ")).as("chunk_hash"))
  }

  /**
   * Corpus datasheet: per-source summary a dataset card needs — doc and
   * token totals, language spread, near-dup incidence (docs whose
   * `prefixTokens`-token prefix collides with any other doc, the cheap
   * fingerprint of [[Dedup]]'s exact pass), mean length. One token pass +
   * one global fingerprint groupBy; every aggregate partial-aggregates.
   */
  def corpusDatasheet(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, langCol: String, nCharsCol: String,
      prefixTokens: Int = 16): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(sourceCol).as("source"),
        col(langCol).as("lang"), col(nCharsCol).cast(LongType).as("n_chars"),
        tokens(col(textCol)).as("tk"))
      .withColumn("n_tok", size(col("tk")).cast(LongType))
      .withColumn("pfx", array_join(slice(col("tk"), 1, prefixTokens), " "))
    val groups = base.groupBy(col("pfx")).agg(count(lit(1)).as("gsz"))
    base.join(groups, Seq("pfx"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_tok")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(when(col("gsz") > 1L, 1L).otherwise(0L)).as("n_neardup_docs"),
        IntMath.idiv(sum(col("n_chars")), count(lit(1))).as("mean_chars"))
  }

  /**
   * Trailing-boilerplate audit: the last `suffixTokens` tokens of each doc
   * counted within its source; a doc is flagged when its suffix is shared
   * by ≥ `minPct`% of the source (and by at least one other doc) — the
   * footer/disclaimer detector of a web-corpus pipeline. Per-doc output so
   * a strip stage can anti-join the flagged set. Suffix extraction is
   * map-only; the frequency join is per-source-suffix, never pairwise.
   */
  def boilerplateSuffix(docs: DataFrame, textCol: String, idCol: String,
      sourceCol: String, suffixTokens: Int = 2, minPct: Int = 5): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
        col(sourceCol).as("source"), tokens(col(textCol)).as("tk"))
      .withColumn("sfx", array_join(slice(col("tk"),
        greatest(size(col("tk")) - (suffixTokens - 1), lit(1)),
        lit(suffixTokens)), " "))
    val freq = base.groupBy(col("source"), col("sfx"))
      .agg(count(lit(1)).as("suffix_freq"))
    val totals = base.groupBy(col("source")).agg(count(lit(1)).as("source_docs"))
    base.join(freq, Seq("source", "sfx"))
      .join(totals, Seq("source"))
      .select(col("doc_id"), col("source"), col("suffix_freq"),
        col("source_docs"),
        when(col("suffix_freq") * 100L >= col("source_docs") * minPct.toLong
          && col("suffix_freq") >= 2L, 1L).otherwise(0L).as("boilerplate"))
  }

  /**
   * Vocabulary-richness estimate — how much vocabulary the corpus has NOT
   * yet shown, the "is more crawl worth it" readout before extending a
   * collection run: bias-corrected Chao1 richness (Chao 1984 — observed
   * vocab + f₁(f₁−1)/(2(f₂+1)) from the hapax/dis-legomena counts; the
   * corrected form is defined even when nothing repeats exactly twice)
   * and the Good–Turing unseen-probability mass P₀ = f₁/N (Good 1953).
   * All integer: chao1 ships ×1000, P₀ in ppm; the f₁² product widens
   * through DECIMAL(38,0) (the q252 overflow lesson — f₁ past ~3·10⁷
   * would overflow int64 in the ×1000 product).
   *
   * Shape at 100 TB: ONE partial-agg groupBy builds the term-frequency
   * table; everything after is a single 1-row aggregate over it.
   *
   * Output (1 row): (n_tokens, vocab_size, hapax, dis, chao1_x1000,
   * unseen_mass_ppm).
   */
  def vocabRichness(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val d = (c: Column) => c.cast(DecimalType(38, 0))
    docs.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .agg(sum(col("tf")).as("n_tokens"), count(lit(1)).as("vocab_size"),
        sum(when(col("tf") === 1L, 1L).otherwise(0L)).as("hapax"),
        sum(when(col("tf") === 2L, 1L).otherwise(0L)).as("dis"))
      .select(col("n_tokens"), col("vocab_size"), col("hapax"), col("dis"),
        (col("vocab_size") * 1000L +
          IntMath.idiv(d(col("hapax")) * 1000L * d(col("hapax") - 1L),
            d((col("dis") + 1L) * 2L)).cast(LongType)).as("chao1_x1000"),
        IntMath.idiv(col("hapax") * 1000000L,
          greatest(col("n_tokens"), lit(1L))).as("unseen_mass_ppm"))
  }

  /**
   * Memorization-span audit: for each doc, the LONGEST TOKEN RUN whose
   * every `n`-shingle also appears in ≥ `minDF` docs — the per-document
   * readout of "how much of this text exists verbatim elsewhere", the
   * audit run before training to bound worst-case memorization carriers
   * (long verbatim spans are what models reproduce; a handful of shared
   * shingles is noise). Document frequency counts DISTINCT docs per
   * shingle (a self-repeating doc doesn't flag itself).
   *
   * max_dup_span_tokens is exact for the shingle definition: a maximal
   * run of `r` consecutive shared shingle POSITIONS covers r + n − 1
   * tokens; docs with no shared shingle (or fewer than n tokens) report
   * zeros. (The EXACT content-verified complement — no hash collisions,
   * union-of-spans output — is [[Dedup.exactDupSpans]].)
   *
   * Shape at 100 TB: positional shingle hashes are a keyed window per
   * doc (the [[winnowedFingerprints]] machinery); the DF table is a
   * hash-keyed partial-agg groupBy; the run detection is the islands
   * trick (pos − row_number) under doc-keyed windows — every shuffle is
   * keyed by doc or by an 8-byte hash, nothing global.
   *
   * Output per input doc: (doc_id, n_shingles, n_shared,
   * max_dup_span_tokens).
   */
  def duplicatedSpanRuns(docs: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, minDF: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    require(minDF >= 2, s"minDF must be >= 2, got $minDF")
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokenHashes(col(textCol))).as(Seq("pos", "th")))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val shingleHash = (1 until shingleN).foldLeft(col("th")) { (acc, j) =>
      (acc * 131L + lead(col("th"), j).over(byDoc)) % HashPrime
    }
    val sh = toks.withColumn("h", shingleHash)
      .filter(col("h").isNotNull)
      .select(col("doc_id"), col("pos"), col("h"))
    // document frequency over DISTINCT (doc, h); the shared-shingle table
    // is the under-DF complement of the usual over-cap filter
    val shared = sh.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDF.toLong).select(col("h"))
    val hits = sh.join(shared, Seq("h"), "left_semi")
    // islands: consecutive positions share (pos − row_number) per doc
    val runs = hits
      .withColumn("__grp", col("pos") - row_number().over(byDoc))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_runs"), sum(col("run")).as("n_shared"),
        max(col("run")).as("max_run"))
    val totals = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    docs.select(col(idCol).as("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(col("max_run") + lit(shingleN.toLong - 1L), lit(0L))
          .as("max_dup_span_tokens"))
  }
}
