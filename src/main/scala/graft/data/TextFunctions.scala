package graft.data

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis operators for large-scale training-data pipelines:
 * tokenization, quality scoring, language-ID heuristics, and portable
 * document hashing/fingerprinting.
 *
 * Everything here is a native Catalyst expression (whole-stage codegen, no
 * UDF serialization) and every hash is *engine-portable*: `hash60`/`hash28`
 * are hex prefixes of standard MD5, so a DuckDB/Trino/Postgres oracle can
 * reproduce them exactly (`CAST('0x' || substr(md5(s),1,15) AS BIGINT)`).
 * Spark's builtin `hash`/`xxhash64` would be faster but are
 * implementation-defined — fine for production, useless for cross-engine
 * verification.
 */
object TextFunctions {

  /** Whitespace tokens of trimmed text — THE token contract shared by
   * every token-denominated operator in the engine: RAG chunking
   * ([[Corpus.chunkDocuments]]) and sequence packing ([[Corpus.packed]]
   * via `wordCount`), BM25 postings and query terms ([[Bm25]]), the
   * n-gram LM count tables and scorer ([[NgramLm]]), n-gram shingle
   * dedup ([[Dedup]]), and the token-count stats in `SparkEntry`. They
   * all call THIS function, so swapping in a real tokenizer (BPE via
   * `bpeTokens`, or an external vocab) is a one-place change — and
   * `DataSpec`'s cross-operator token-count consistency test pins that
   * they cannot drift apart. Edge contract: an empty/whitespace string
   * yields `[""]` (one pseudo-token, size 1), never an empty array —
   * documents therefore always have ≥ 1 token everywhere (BM25's
   * per-doc rollup and the LM's `n_tokens` denominators rely on it). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def wordCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword segmentation: maximal letter runs, digit runs, or
   * single punctuation — the regex analogue of a byte-pair pre-tokenizer
   * (GPT-2 style pre-split, without the merges table). */
  def bpeTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))

  def bpeTokenCount(text: Column): Column = size(bpeTokens(text))

  def punctCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[^a-zA-Z0-9\\s]"), lit(0)))

  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    stopwordHits(tokens(lower(text)), stopwords)

  /** Stopword hits from a pre-computed lowercase token array — lets a
   * query tokenize once and score many lists (langId = 4 lists + quality
   * = 1 more; re-splitting per list quintuples the regex work). */
  def stopwordHits(lowerToks: Column, stopwords: Seq[String]): Column =
    size(filter(lowerToks, t => t.isInCollection(stopwords)))

  // Small per-language function-word lists for the language-ID heuristic.
  val StopEn = Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
  val StopEs = Seq("el", "la", "de", "y", "que", "en", "los", "un", "una", "es")
  val StopDe = Seq("der", "die", "das", "und", "ist", "von", "ein", "zu", "den", "mit")
  val StopFr = Seq("le", "la", "les", "et", "des", "est", "un", "une", "du", "que")

  /**
   * Heuristic language ID: score = function-word hits per language,
   * argmax with deterministic preference order en > es > de > fr, `und`
   * (undetermined) when no list scores > 0, over a pre-computed lowercase
   * token array. A real pipeline would swap in character-n-gram profiles;
   * the operator shape (score columns + argmax) is the same.
   */
  def langIdFromTokens(lowerToks: Column): Column = {
    val en = stopwordHits(lowerToks, StopEn)
    val es = stopwordHits(lowerToks, StopEs)
    val de = stopwordHits(lowerToks, StopDe)
    val fr = stopwordHits(lowerToks, StopFr)
    when(en >= es && en >= de && en >= fr && en > 0, "en")
      .when(es >= de && es >= fr && es > 0, "es")
      .when(de >= fr && de > 0, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /**
   * Composite document quality score in [0,1]: length saturation (cap at
   * 100 words) + low punctuation density + healthy stopword rate — the
   * C4/Gopher-style cheap quality filters folded to one number.
   */
  def qualityScore(text: Column): Column =
    qualityScoreFromParts(wordCount(text), punctCount(text), length(text),
      stopwordCount(text, StopEn))

  /** [[qualityScore]] from pre-computed parts (words/punct/chars/en-stop
   * hits) — term order is load-bearing: the DuckDB oracle mirrors it for
   * bit-identical doubles. */
  def qualityScoreFromParts(words: Column, punct: Column, chars: Column,
      stopEn: Column): Column = {
    val lenScore = least(words / lit(100.0), lit(1.0))
    val punctRatio = punct / greatest(chars, lit(1)).cast("double")
    val stopRatio = stopEn / greatest(words, lit(1)).cast("double")
    lit(0.5) * lenScore +
      lit(0.25) * (lit(1.0) - least(punctRatio * 5.0, lit(1.0))) +
      lit(0.25) * least(stopRatio * 5.0, lit(1.0))
  }

  /** 60-bit engine-portable hash: first 15 hex chars of MD5 as a long.
   * DuckDB twin: `CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)`.
   * Native graft.plans.Md5PrefixHash — same value as the conv/substr/md5
   * chain, ~60x cheaper (no per-call digest alloc or hex-string parse). */
  def hash60(s: Column): Column = call_function("md5_prefix_hash", s, lit(15))

  /** 28-bit portable hash — small enough that `a*h+b` stays in 64 bits for
   * the minhash family in [[Dedup]]. */
  def hash28(s: Column): Column = call_function("md5_prefix_hash", s, lit(7))

  /** Extension-free composable twin of [[hash60]]/[[hash28]] (the
   * portability reference the SQL oracles mirror). */
  def hashPrefixComposable(s: Column, nibbles: Int): Column =
    conv(substring(md5(s), 1, nibbles), 16, 10).cast("long")

  /** Canonical text form for fingerprinting: lowercase, collapsed
   * whitespace. */
  def normalizeText(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Document fingerprint = portable hash of the normalized text (catches
   * case/whitespace-only duplicates that exact match misses). */
  def fingerprint(text: Column): Column = hash60(normalizeText(text))

  /** Character k-gram hashes of the normalized text (the rolling-hash
   * stream winnowing selects from): position i ↦ hash28(norm[i, i+k)).
   * Empty for texts shorter than k. */
  def kgramHashes(text: Column, k: Int): Column = {
    val norm = normalizeText(text)
    val n = length(norm)
    when(n >= k,
      transform(sequence(lit(1), n - k + 1), i => hash28(norm.substr(i, lit(k)))))
      .otherwise(array().cast("array<long>"))
  }

  /**
   * Winnowing selection (Schleimer/Wilkerson/Aiken, the MOSS local
   * fingerprinting algorithm) over a MATERIALIZED k-gram hash array
   * column: slide a w-window over the hash stream, keep each window's
   * minimum, emit the distinct sorted selection. Any substring match of
   * length ≥ w+k−1 between two documents is guaranteed to contribute at
   * least one shared fingerprint, at ~1/w the density of full k-gram
   * sets — the standard plagiarism/near-dup sketch when shingle sets are
   * too heavy.
   *
   * `hs` MUST be a real (exchanged/materialized) attribute, not an
   * inline [[kgramHashes]] expression: higher-order functions get no
   * subexpression elimination, so `slice(hs, j, w)` over an inline
   * expression re-evaluates the whole MD5 chain per window — O(n²)
   * hashing per document (measured: minutes/doc instead of µs). Same
   * hazard and same fix as the minhash band keys (Dedup.scala): put a
   * `repartition` barrier between the hash projection and this one.
   *
   * Degenerate cases: fewer than w k-grams → one window over them all;
   * no k-grams → empty.
   */
  def winnowFromKgrams(hs: Column, w: Int = 4): Column = {
    val m = size(hs)
    val mins = when(m >= w,
        transform(sequence(lit(1), m - w + 1), j => array_min(slice(hs, j, lit(w)))))
      .when(m > 0, array(array_min(hs)))
      .otherwise(array().cast("array<long>"))
    sort_array(array_distinct(mins))
  }

  /** One-shot [[winnowFromKgrams]]∘[[kgramHashes]] for ad-hoc use on
   * SHORT texts; at scale use [[winnowFingerprintsNative]] (or the
   * two-projection + barrier shape — see [[winnowFromKgrams]] scaladoc).
   * All hashes MD5-derived ([[hash28]]) so a DuckDB oracle reproduces
   * fingerprints bit-for-bit. */
  def winnowFingerprints(text: Column, k: Int = 5, w: Int = 4): Column =
    winnowFromKgrams(kgramHashes(text, k), w)

  /** Fused one-pass native twin of [[winnowFingerprints]]
   * (graft.plans.WinnowFingerprint: thread-local digest, deque window
   * minima, whole-stage codegen) — bit-identical output, ~10× faster;
   * requires `GraftExtensions` on the session. */
  def winnowFingerprintsNative(text: Column, k: Int = 5, w: Int = 4): Column =
    call_function("winnow_fingerprint", normalizeText(text), lit(k), lit(w))

  // ------------------------------------- repetition signals (Gopher-style)

  /** Type-token ratio: distinct tokens / tokens (lowercased). Low values
   * flag repetitive machine-generated text. 1.0 for empty docs. */
  def typeTokenRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    array_size(array_distinct(toks)) / greatest(array_size(toks), lit(1)).cast("double")
  }

  /** Fraction of all tokens taken by the single most frequent token
   * (lowercased) — the Gopher "top word frequency" repetition filter.
   * 0.0 for empty docs. Native one-pass count
   * ([[graft.plans.TopNgramFrac]], n = 1); value-identical to
   * [[topTokenFractionComposable]]. */
  def topTokenFraction(text: Column): Column =
    call_function("top_ngram_frac", tokens(lower(text)), lit(1))

  /** Extension-free composable twin of [[topTokenFraction]] (the SQL
   * oracle reference shape — O(distinct × tokens) interpreted, hot-path
   * use belongs to the native spelling). */
  def topTokenFractionComposable(text: Column): Column = {
    val toks = tokens(lower(text))
    val counts = transform(array_distinct(toks),
      t => size(filter(toks, x => x === t)))
    coalesce(array_max(counts), lit(0)) / greatest(array_size(toks), lit(1)).cast("double")
  }

  /** Fraction of all word n-grams taken by the single most frequent one —
   * the Gopher §A1.2 "top n-gram frequency" repetition filters (the paper
   * gates n = 2, 3, 4 at 0.20/0.18/0.16). Generalizes
   * [[topTokenFraction]] (≡ n = 1). 0.0 for docs shorter than n words. */
  def topNgramFraction(text: Column, n: Int): Column =
    call_function("top_ngram_frac", tokens(lower(text)), lit(n))

  /** Extension-free composable twin of [[topNgramFraction]] (the SQL
   * oracle reference shape; per-distinct-gram lambda re-evaluation makes
   * it O(distinct × grams × shingle-cost) — never use on a hot path). */
  def topNgramFractionComposable(text: Column, n: Int): Column = {
    val grams = Dedup.wordShingles(tokens(lower(text)), n)
    val counts = transform(array_distinct(grams),
      g => size(filter(grams, x => x === g)))
    coalesce(array_max(counts), lit(0)) / greatest(array_size(grams), lit(1)).cast("double")
  }

  /** Hosts of every URL in the document (one entry per occurrence) —
   * the key the domain-level filters/blocklists of web-corpus pipelines
   * aggregate on. RE2-safe regexes; skips userinfo (`user:pass@host`
   * yields `host`, not `user`) and drops degenerate URLs whose
   * authority is empty (`http:///x`) rather than emitting '' keys.
   * Empty array when no URL. */
  def urlHosts(text: Column): Column =
    filter(
      transform(regexp_extract_all(text, lit(UrlRe), lit(0)),
        u => regexp_extract(u, "https?://(?:[^/\\s@]*@)?([^/\\s:?#@]+)", 1)),
      h => length(h) > 0)

  /** Label-reversed host — `cdn.example.com` → `com.example.cdn` — the
   * form under which "domain or any subdomain" is a PREFIX match. */
  def reverseHost(host: Column): Column =
    concat_ws(".", reverse(split(host, "\\.")))

  /**
   * Domain-suffix BLOCKLIST filter — the crawl-pipeline spelling of
   * "drop `spam.com` and every subdomain": a host matches pattern `d`
   * iff `host == d` or `host` ends with `"." + d`. Implemented as an
   * EQUI-join, not a `endswith` theta join: each distinct host's
   * label-reversed form explodes into its ≤ ~6 label-prefixes
   * (`com`, `com.example`, `com.example.cdn`), which hash-join the
   * reversed patterns — so a multi-million-domain blocklist needs no
   * broadcast and no nested-loop scan. Verdicts are computed once per
   * DISTINCT host (hosts ≪ rows in any crawl table) and joined back;
   * multi-match rows (a domain and its registrable parent both listed)
   * dedupe to the lexicographically smallest pattern, deterministically.
   * Output: the input rows + `blocked_by` (null = clean).
   */
  def blockByDomainSuffix(
      df: org.apache.spark.sql.DataFrame, hostCol: String,
      blocklist: org.apache.spark.sql.DataFrame,
      patternCol: String = "pattern"): org.apache.spark.sql.DataFrame = {
    val labels = reverse(split(col("__host"), "\\."))
    val prefixes = transform(sequence(lit(1), size(labels)),
      k => concat_ws(".", slice(labels, lit(1), k)))
    val verdicts = df.select(col(hostCol).as("__host")).distinct()
      .select(col("__host"), explode(prefixes).as("__pfx"))
      .join(blocklist.select(reverseHost(col(patternCol)).as("__pfx"),
        col(patternCol).as("blocked_by")), Seq("__pfx"))
      .groupBy(col("__host"))
      .agg(min(col("blocked_by")).as("blocked_by"))
    df.join(verdicts.withColumnRenamed("__host", hostCol),
      Seq(hostCol), "left")
  }

  /**
   * Canonical form of a URL — the KEY of crawl front-door dedup (the
   * cheapest dedup tier of all: two fetches of the same page under
   * cosmetically different URLs collapse BEFORE any content hashing).
   * Normalizations, in order: scheme dropped (http ≡ https), fragment
   * dropped, userinfo dropped, host lowercased with leading `www.` and
   * default ports (`:80`/`:443`) stripped, trailing path slashes
   * stripped, tracking query params removed (`utm_*`, `gclid`,
   * `fbclid`, `ref`, `ref_src`), remaining params kept in original
   * order. Map-only (a chain of anchored single-match regexes plus one
   * array filter over the query params — every regex matches at most
   * once, so Spark's replace-all and RE2's replace-first agree and a
   * SQL oracle mirrors the chain verbatim). Path CASE is preserved
   * (paths are case-sensitive by spec, unlike hosts).
   */
  def canonicalUrl(url: Column): Column = {
    val noScheme = regexp_replace(url, "^[hH][tT][tT][pP][sS]?://", "")
    val noFrag = regexp_replace(noScheme, "#.*", "")
    val auth = regexp_replace(regexp_extract(noFrag, "^([^/?]*)", 1),
      "^[^@]*@", "")
    val host = regexp_replace(
      regexp_replace(lower(auth), ":(80|443)$", ""), "^www\\.", "")
    val rest = regexp_extract(noFrag, "^[^/?]*(.*)", 1)
    val path = regexp_replace(regexp_extract(rest, "^([^?]*)", 1), "/+$", "")
    val query = regexp_extract(rest, "\\?(.*)", 1)
    val params = filter(split(query, "&"), p =>
      length(p) > 0 &&
        !p.rlike("^(utm_[A-Za-z0-9]+|gclid|fbclid|ref|ref_src)="))
    val q = array_join(params, "&")
    concat(host, path,
      when(length(q) > 0, concat(lit("?"), q)).otherwise(lit("")))
  }

  /** Fraction of lines that duplicate an earlier line of the same doc —
   * the Gopher duplicate-line filter. Lines split on newline, trimmed;
   * 0.0 for single-line or empty docs. */
  def dupLineFraction(text: Column): Column = {
    val lines = filter(transform(split(text, "\\n"), l => trim(l)), l => length(l) > 0)
    val n = array_size(lines)
    when(n > 1,
      (n - array_size(array_distinct(lines))) / n.cast("double"))
      .otherwise(lit(0.0))
  }

  // ------------------------------------------ Gopher quality heuristics
  // Rae et al. 2021 (Gopher) §A1.1 document filters, complementing the
  // repetition signals above (typeTokenRatio/topTokenFraction/
  // dupLineFraction cover §A1.2). All array lambdas + RE2-safe regexes —
  // one pass, codegen, no UDF.

  /**
   * Gopher §A1.1 quality signals as one struct: word count, mean word
   * length, symbol-to-word ratio (`#`/`...`), fraction of lines starting
   * with a bullet, fraction ending in an ellipsis, fraction of words
   * with ≥ 1 alphabetic char, and English function-word hits. Division
   * spelling (`CAST(x AS DOUBLE) / greatest(n, 1)`) is fixed so external
   * oracles reproduce values bit for bit.
   */
  def gopherStats(text: Column): Column = {
    val toks = tokens(text)
    val words = size(toks)
    val wordsD = greatest(words, lit(1)).cast("double")
    val lines = docLines(text)
    val nLines = greatest(array_size(lines), lit(1)).cast("double")
    val sumLen = aggregate(transform(toks, t => length(t)), lit(0), _ + _)
    struct(
      words.as("n_words"),
      (sumLen.cast("double") / wordsD).as("mean_word_len"),
      (size(regexp_extract_all(text, lit("#|\\.\\.\\."), lit(0))).cast("double") /
        wordsD).as("symbol_word_ratio"),
      (size(filter(lines, l => l.rlike("^[-*•]"))).cast("double") /
        nLines).as("bullet_line_frac"),
      (size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$"))).cast("double") /
        nLines).as("ellipsis_line_frac"),
      (size(filter(toks, t => t.rlike("[a-zA-Z]"))).cast("double") /
        wordsD).as("alpha_word_frac"),
      stopwordHits(tokens(lower(text)), StopEn).as("stop_hits"))
  }

  /** Gopher §A1.1 keep decision (paper thresholds as defaults): word
   * count in [minWords, maxWords], mean word length in [3, 10], symbol
   * ratio ≤ 0.1, ≤ 90% bullet lines, ≤ 30% ellipsis lines, ≥ 80%
   * alphabetic words, ≥ 2 function-word hits. Pass a pre-computed
   * [[gopherStats]] struct to score once and gate many ways. */
  def gopherKeep(stats: Column, minWords: Int = 50,
      maxWords: Int = 100000): Column =
    stats("n_words").between(minWords, maxWords) &&
      stats("mean_word_len").between(3.0, 10.0) &&
      stats("symbol_word_ratio") <= 0.1 &&
      stats("bullet_line_frac") <= 0.9 &&
      stats("ellipsis_line_frac") <= 0.3 &&
      stats("alpha_word_frac") >= 0.8 &&
      stats("stop_hits") >= 2

  // --------------------------------------------------------- PII scrubbing
  // Patterns restricted to the regex subset Java regex and RE2 (DuckDB)
  // evaluate identically: character classes, bounded repeats, ASCII \b —
  // no lookaround, no backreferences. Redaction is a plain codegen'd
  // regexp_replace chain (one pass per pattern, no UDF).

  /** URLs first: they may embed emails/IPs that must not double-redact. */
  val UrlRe = "https?://[^\\s]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** International-ish phone: optional +, then 8+ of digits/separators,
   * digit-bounded so prose numbers ("in 1999") never match. */
  val PhoneRe = "\\+?\\d[\\d()./ -]{6,}\\d\\b"

  /** Replace URLs, emails, IPv4s, and phone-shaped digit runs with typed
   * placeholder tokens — the standard pre-training PII scrub. Order is
   * load-bearing (URL ⊃ email ⊃ IP ⊃ phone); each stage sees the previous
   * stage's output. */
  def redactPii(text: Column): Column = {
    val noUrl = regexp_replace(text, UrlRe, "<URL>")
    val noEmail = regexp_replace(noUrl, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    regexp_replace(noIp, PhoneRe, "<PHONE>")
  }

  /** Count of PII hits by kind, for audit dashboards without materializing
   * redacted text. Each kind counts on the PREVIOUS stage's masked text,
   * mirroring [[redactPii]]'s order exactly — so every count is the number
   * of replacements redaction actually performs (a URL-embedded email is a
   * URL, not an email). */
  def piiCounts(text: Column): Column = {
    val noUrl = regexp_replace(text, UrlRe, "<URL>")
    val noEmail = regexp_replace(noUrl, EmailRe, "<EMAIL>")
    val noIp = regexp_replace(noEmail, Ipv4Re, "<IP>")
    struct(
      size(regexp_extract_all(text, lit(UrlRe), lit(0))).as("urls"),
      size(regexp_extract_all(noUrl, lit(EmailRe), lit(0))).as("emails"),
      size(regexp_extract_all(noEmail, lit(Ipv4Re), lit(0))).as("ips"),
      size(regexp_extract_all(noIp, lit(PhoneRe), lit(0))).as("phones"))
  }

  // ------------------------------------------- C4-style quality filtering
  // Raffel et al. 2020 §2.2 heuristics, re-expressed as array lambdas over
  // the line split (one pass, codegen, no UDF).

  /** Non-empty trimmed lines of a document. */
  def docLines(text: Column): Column =
    filter(transform(split(text, "\\n"), l => trim(l)), l => length(l) > 0)

  /** C4 line filter: keep lines with ≥ `minWords` words ending in terminal
   * punctuation (period, !, ?, closing quote). */
  def c4KeptLines(text: Column, minWords: Int = 5): Column =
    filter(docLines(text), l =>
      size(split(l, "\\s+")) >= minWords && l.rlike("[.!?\"]$"))

  /** Document text rebuilt from the surviving lines. */
  def c4CleanText(text: Column, minWords: Int = 5): Column =
    array_join(c4KeptLines(text, minWords), "\n")

  /** C4 document-level keep decision over the CLEANED text: word count in
   * [minDocWords, maxDocWords], no "lorem ipsum", no curly brace (code),
   * at least `minLines` surviving lines. */
  def c4Keep(text: Column, minWords: Int = 5, minLines: Int = 1,
      minDocWords: Int = 50, maxDocWords: Int = 100000): Column = {
    val kept = c4KeptLines(text, minWords)
    val clean = array_join(kept, "\n")
    val words = size(split(trim(clean), "\\s+"))
    size(kept) >= minLines &&
      words >= minDocWords && words <= maxDocWords &&
      !lower(clean).contains("lorem ipsum") && !clean.contains("{")
  }

  /** Per-SCRIPT character counts — the mixed-script / homoglyph signal
   * crawl filters gate on (Latin text salted with Cyrillic lookalikes is
   * a classic spam/spoof marker, and heavy script mixing inside one doc
   * usually means boilerplate chrome around the payload language).
   * Exact integers by construction: each count is `len(text) −
   * len(text with the class removed)` — two codegen'd regex passes per
   * class, map-only at any scale, and the same spelling any
   * regex-capable engine reproduces. Classes: basic Latin letters,
   * Cyrillic U+0400–04FF, Greek U+0370–03FF, CJK unified U+4E00–9FFF,
   * ASCII digits. */
  def scriptCounts(text: Column): Column = {
    def cnt(cls: String) =
      (length(text) - length(regexp_replace(text, cls, ""))).cast("long")
    struct(
      cnt("[A-Za-z]").as("n_latin"),
      cnt("[\u0400-\u04FF]").as("n_cyrillic"),
      cnt("[\u0370-\u03FF]").as("n_greek"),
      cnt("[\u4E00-\u9FFF]").as("n_cjk"),
      cnt("[0-9]").as("n_digit"),
      length(text).cast("long").as("n_chars"))
  }

  /** Mixed-script flag over [[scriptCounts]]: Latin letters co-occurring
   * with Cyrillic or Greek in one document — the confusable-script
   * combination homoglyph spoofing uses. */
  def mixedScript(counts: Column): Column =
    counts.getField("n_latin") > 0 &&
      (counts.getField("n_cyrillic") > 0 || counts.getField("n_greek") > 0)
}
