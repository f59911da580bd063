package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * One-call training-corpus preparation — the standard pre-training data
 * flow composed from this package's operators, in the order production
 * pipelines run it:
 *
 *   1. C4 line/document quality filtering ([[TextFunctions.c4CleanText]] /
 *      [[TextFunctions.c4Keep]]) — drop boilerplate lines, then junk docs;
 *   2. PII redaction on the surviving text ([[TextFunctions.redactPii]]);
 *   3. language ID + quality score tagging ([[TextFunctions.langIdFromTokens]] /
 *      [[TextFunctions.qualityScore]]);
 *   4. exact deduplication on the normalized fingerprint of the REDACTED
 *      text (smallest id survives — dedup after redaction so docs equal
 *      modulo their PII collapse);
 *   5. deterministic train/valid/test labeling ([[Sampling.hashSplit]]).
 *
 * Every stage is a narrow codegen'd projection or one keyed shuffle
 * (the fingerprint-keyed window exchange, the only one at scale) — the
 * whole prepare is TWO stages at any scale. Near-duplicate clustering is deliberately not
 * inlined here: run [[Dedup.minhashNearDups]] + [[Dedup.deduplicate]] on
 * the output when shingle-level near-dup is wanted (it is its own
 * multi-stage pipeline).
 *
 * Output: id, text (cleaned+redacted), lang, quality, n_words, split.
 */
object Corpus {

  def prepare(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id",
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1),
      minWords: Int = 5,
      gopherMinWords: Option[Int] = None): DataFrame = {
    // optional Gopher §A1.1 document gate on the RAW text (the paper runs
    // it before boilerplate stripping) — a narrow filter, adds no stage
    val gated = gopherMinWords.fold(docs)(mw =>
      docs.filter(TextFunctions.gopherKeep(
        TextFunctions.gopherStats(col(textCol)), minWords = mw)))
    // The clean+redact chain (array lambdas + 4 regex passes) is the
    // expensive projection, and it has MANY downstream consumers: langId's
    // four stopword filters, the quality parts, the fingerprint, and both
    // sides of the dedup self-join diamond. Catalyst collapses projections
    // (no subexpression elimination through lambdas), so an inline column
    // would re-run the whole chain per consumer — materialize it behind
    // ONE exchange instead; the self-join below then reuses that shuffle
    // output (ReusedExchange) rather than recomputing.
    // spread the RAW rows first when the scan is narrow: the clean+redact
    // chain below otherwise runs on the exchange's MAP side — one task
    // per input split (q57's two union legs measured as twin 1.2 s
    // 2-task stages). Gated: at scale inputs have many splits and no
    // exchange is planted.
    val p = gated.sparkSession.sparkContext.defaultParallelism
    val spread = {
      val filtered = gated
        .filter(TextFunctions.c4Keep(col(textCol), minWords = minWords))
      if (filtered.rdd.getNumPartitions < p) filtered.repartition(p)
      else filtered
    }
    val cleaned = spread
      .select(col(idCol).as("id"),
        TextFunctions.redactPii(
          TextFunctions.c4CleanText(col(textCol), minWords)).as("text"))
    // exact dedup: smallest id per redacted-text fingerprint survives.
    // Spelled as a WINDOW MIN over the fingerprint key, not the classical
    // groupBy(min) + semi-join-back: the diamond's two exchange subtrees
    // get pruned to different projections, never canonicalize equal, and
    // so materialize TWICE — the whole clean+redact chain (and the spread
    // below it) ran once per side (q57 profile: twin map stages). The
    // window needs ONE fp-keyed exchange, below which the chain runs
    // exactly once. Provably identical output, including null keys: the
    // semi-join drops null-fp rows (null never equi-matches) and rows
    // whose id is null or above the group min — the isNotNull guard and
    // the null-propagating `===` reproduce both. Explicit width: the
    // exchange carries byte-small compressed text but the tag stage
    // above it amplifies per-row work, so AQE's size-based coalesce
    // would funnel it onto one task at bench scale (§2.5).
    val deduped = cleaned
      .withColumn("__fp", TextFunctions.fingerprint(col("text")))
      .repartition(p, col("__fp"))
      .withColumn("__minid", min(col("id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
      .filter(col("__fp").isNotNull && col("id") === col("__minid"))
    // lang/quality tagging runs on SURVIVORS only (dedup keys on
    // (fp, id) alone, so tagging cannot change who survives — same
    // columns, strictly fewer rows tagged than the tag-then-dedup order)
    val ltoks = TextFunctions.tokens(lower(col("text")))
    deduped.select(
        col("id"),
        col("text"),
        TextFunctions.langIdFromTokens(ltoks).as("lang"),
        TextFunctions.qualityScoreFromParts(TextFunctions.wordCount(col("text")),
          TextFunctions.punctCount(col("text")), length(col("text")),
          TextFunctions.stopwordHits(ltoks, TextFunctions.StopEn)).as("quality"),
        TextFunctions.wordCount(col("text")).as("n_words"))
      .withColumn("split", Sampling.hashSplit(col("id"), splits))
  }

  /**
   * SEQUENCE PACKING for pre-training batches — the concat-and-chunk
   * layout (GPT-style): documents are laid head-to-tail in `idCol`
   * order along a global token axis, which is then cut into
   * `contextLen`-token packs. Emits each document's `[tok_start,
   * tok_end)` interval and the packs it lands in; a doc straddling a
   * cut spans `n_packs` > 1 (the loader splits it there).
   *
   * The global running offset is [[Relational.prefixSum]] — the
   * two-pass partition-offset prefix sum, NOT a single-task global
   * window, so the layout step scales with the cluster.
   *
   * Token counts must be NON-NEGATIVE (integer `div` is only
   * floor-division on non-negative operands — Spark truncates toward
   * zero while e.g. DuckDB's `//` floors, so a negative count would
   * diverge across engines). A ZERO-token document occupies no packs by
   * definition: `n_packs = 0` and `pack_last = pack_first - 1` (an
   * explicitly empty interval at the position the doc would start) —
   * spelled with a `n_tokens > 0` guard rather than `(tok_end - 1) div
   * len`, whose `-1 div len` is engine-dependent at `tok_start = 0`.
   */
  def packSequences(docs: DataFrame, idCol: String, nTokens: org.apache.spark.sql.Column,
      contextLen: Int): DataFrame = {
    require(contextLen > 0, s"contextLen must be positive, got $contextLen")
    val base = docs.select(col(idCol), nTokens.cast("long").as("n_tokens"))
    Relational.prefixSum(base, idCol, col("n_tokens"), "tok_start")
      .withColumn("tok_end", col("tok_start") + col("n_tokens"))
      .withColumn("pack_first", expr(s"tok_start div $contextLen"))
      .withColumn("pack_last",
        when(col("n_tokens") > 0, expr(s"(tok_end - 1) div $contextLen"))
          .otherwise(col("pack_first") - 1))
      .withColumn("n_packs", col("pack_last") - col("pack_first") + 1)
  }

  /**
   * Minimal chat TEMPLATE — the SFT-ingest front door: assemble
   * (system, user, assistant) turns into the model's training string.
   * Split into the PROMPT region (role markers + system + user + the
   * assistant header — everything the loss is masked on) and the
   * RESPONSE region (assistant text + end marker — the tokens trained
   * on), so [[packWithLossMask]] gets its two token counts from the
   * same strings the model will see. Pure string concat: map-only at
   * any scale, and mirrorable in ANSI SQL. The prompt part ends in a
   * newline, so whitespace tokenization of prompt ⊕ response equals
   * tokenization of the rendered example (their concatenation) — counts
   * add up exactly.
   */
  def chatPromptText(system: org.apache.spark.sql.Column,
      user: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("<|system|>\n"), system, lit("\n<|user|>\n"), user,
      lit("\n<|assistant|>\n"))

  /** Response region of the chat template: assistant turn + end marker. */
  def chatResponseText(
      assistant: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(assistant, lit("\n<|end|>"))

  /** Whitespace token count for chat regions, EMPTY-TOKEN-DROPPING:
   * `trim` (here and in every ANSI mirror) strips only spaces, so a
   * region ending in the template's structural newline would otherwise
   * count a phantom empty token at the split boundary — and
   * `chatTokenCount(prompt) + chatTokenCount(response)` would not equal
   * `chatTokenCount(rendered)`. Dropping empties restores exact
   * additivity for any edge whitespace. */
  def chatTokenCount(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    size(filter(split(text, "\\s+"), t => length(t) > 0)).cast("long")

  /**
   * [[packSequences]] with an SFT LOSS MASK: each example contributes
   * `prompt + resp` tokens to the global token axis, and the packed
   * layout additionally carries the `[loss_start, loss_end)` interval —
   * the response region, the only tokens the trainer computes loss on
   * (prompt tokens are context, masked out). Same two-pass
   * partition-offset prefix sum, same non-negative-count and zero-token
   * contracts as [[packSequences]]; a zero-token RESPONSE yields an
   * empty loss interval at the document's end (`loss_start ==
   * loss_end`), which the loader skips naturally.
   */
  def packWithLossMask(docs: DataFrame, idCol: String,
      promptTokens: org.apache.spark.sql.Column,
      respTokens: org.apache.spark.sql.Column,
      contextLen: Int): DataFrame = {
    require(contextLen > 0, s"contextLen must be positive, got $contextLen")
    val base = docs.select(col(idCol),
        promptTokens.cast("long").as("prompt_tokens"),
        respTokens.cast("long").as("resp_tokens"))
      .withColumn("n_tokens", col("prompt_tokens") + col("resp_tokens"))
    Relational.prefixSum(base, idCol, col("n_tokens"), "tok_start")
      .withColumn("tok_end", col("tok_start") + col("n_tokens"))
      .withColumn("loss_start", col("tok_start") + col("prompt_tokens"))
      .withColumn("loss_end", col("tok_end"))
      .withColumn("pack_first", expr(s"tok_start div $contextLen"))
      .withColumn("pack_last",
        when(col("n_tokens") > 0, expr(s"(tok_end - 1) div $contextLen"))
          .otherwise(col("pack_first") - 1))
      .withColumn("n_packs",
        when(col("n_tokens") > 0,
          col("pack_last") - col("pack_first") + 1).otherwise(lit(0L)))
  }

  /**
   * Token-window CHUNKING — the RAG-ingest twin of [[packSequences]]:
   * instead of packing documents head-to-tail into fixed batches, each
   * document is cut into overlapping `chunkTokens`-token windows
   * (stride = `chunkTokens − overlap`), one output row per chunk with
   * its token interval and re-joined text. The last chunk is short
   * rather than padded; a document shorter than one window yields one
   * chunk. Purely narrow per-row work (tokens → slice → explode): NO
   * shuffle at any scale — chunking 100 TB is a map-only job.
   */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens must be positive, got $chunkTokens")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap must be in [0, chunkTokens), got $overlap")
    val stride = chunkTokens - overlap
    val toks = TextFunctions.tokens(col(textCol))
    // chunk starts: 0, stride, 2·stride, … while start < n (≥ 1 chunk)
    val nChunks = greatest(ceil((size(toks) - lit(overlap)) /
      lit(stride.toDouble)).cast("int"), lit(1))
    docs
      .select(col(idCol), toks.as("__t"), nChunks.as("__nc"))
      .select(col(idCol), col("__t"),
        posexplode(transform(sequence(lit(0), col("__nc") - 1), c => c * stride)))
      .select(col(idCol), col("pos").as("chunk_id"),
        col("col").as("tok_start"),
        least(col("col") + chunkTokens, size(col("__t"))).as("tok_end"),
        concat_ws(" ", slice(col("__t"), col("col") + 1, lit(chunkTokens)))
          .as("chunk_text"))
  }

  /**
   * BLOOM-GUARDED exact-fingerprint decontamination: flag every corpus
   * document whose normalized-text fingerprint appears in the benchmark
   * set, with a broadcast Bloom bitset in front of the verify join.
   * Semantics are IDENTICAL to the plain semi-join (Bloom filters never
   * false-negative, and every bloom hit still verifies against the real
   * fingerprint table — false positives die there), so an external
   * oracle checks this as a plain anti/semi-join.
   *
   * Why the guard matters at 100 TB: the benchmark fingerprint TABLE
   * (every eval suite ever ingested — easily 10⁷⁻⁸ rows) is too big to
   * broadcast, so the naive spelling shuffles the whole corpus into a
   * join whose hit rate is ~0. With the guard, the corpus-side scan
   * probes a FIXED-size bitset ([[Sketches.bloomDense]], `mBits/8`
   * bytes regardless of benchmark size) map-side; only the ~fp-rate
   * fraction of rows enters the verify join, and the clean stream
   * passes through with NO shuffle at all. Output: the corpus plus a
   * `contaminated` flag.
   */
  def decontaminateExact(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String = "text",
      mBits: Int = 65536,
      kHashes: Int = 4): DataFrame = {
    val benchFp = benchmark
      .select(TextFunctions.fingerprint(col(benchTextCol)).as("__fp"))
      .distinct()
    val dense = Sketches.bloomDense(
      Sketches.bloomSketch(benchFp, col("__fp"), mBits, kHashes), mBits)
    val base = corpus
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .crossJoin(broadcast(dense.select(col("words"))))
      // NULL fingerprint (null text) → NULL probe, which both branch
      // filters would drop; a null can never match the benchmark, so it
      // is definitively clean — coalesce keeps semi-join-identical rows
      .withColumn("__might",
        coalesce(
          Sketches.bloomMightContain(col("words"), col("__fp"), mBits, kHashes),
          lit(false)))
      .drop("words")
    val outCols = corpus.columns.map(col).toSeq :+ col("contaminated")
    // misses are definitively clean — map-only, never shuffled
    val clean = base.filter(!col("__might"))
      .withColumn("contaminated", lit(false))
    // bloom hits verify against the true fingerprint table (kills the
    // ~(1-e^(-kN/m))^k false positives); join sized by the hit set
    val verified = base.filter(col("__might"))
      .join(benchFp.withColumn("__hit", lit(1)), Seq("__fp"), "left")
      .withColumn("contaminated", col("__hit").isNotNull)
    clean.select(outCols: _*).unionByName(verified.select(outCols: _*))
  }

  /**
   * COLLOCATION / phrase mining (the word2vec-phrases construction,
   * Mikolov et al. 2013 §4): adjacent token pairs scored by discounted
   * lift `(c_ab − δ) · N / (c_a · c_b)` — a bigram far above its
   * unigram-independence expectation is a phrase ("new york"), and the
   * top phrases become merge candidates for a phrase vocabulary.
   *
   * All integer, engine-exact, and OVERFLOW-SAFE by spelling: the score
   * is computed as `((c_ab − δ) · 10⁶ div c_a) · N div c_b` — the first
   * factor is ≤ 10⁶ (c_ab ≤ c_a), so the second product stays in range
   * for any corpus with N < 2⁶³/10⁶ ≈ 9·10¹² tokens; the naive
   * `c_ab·N·10⁶` spelling overflows at ~10¹³-token corpora. The two-step
   * floor division is part of the contract (documented, mirrored by the
   * oracle), not an approximation of some other number.
   *
   * Scale shape: one map-combinable bigram count, one unigram count,
   * two small joins keyed on the words, a 1-row total cross-joined
   * back. No window, nothing quadratic.
   *
   * Output: `(w1, w2, c_pair, score_ppm)` for pairs with `c_pair ≥
   * minCount` and score ≥ `minScorePpm`.
   */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5L,
      minScorePpm: Long = 0L, discount: Long = 0L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val toks = docs.select(TextFunctions.tokens(col(textCol)).as("__t"))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
    val uni = toks.select(explode(col("__t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
    val total = uni.agg(sum(col("c_w")).as("n_total"))
    val bi = toks
      .select(explode(when(size(col("__t")) >= 2,
        transform(sequence(lit(0), size(col("__t")) - 2), i =>
          struct(element_at(col("__t"), i.cast("int") + 1).as("w1"),
            element_at(col("__t"), i.cast("int") + 2).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>")))
        .as("b"))
      .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minCount)
    bi
      .join(uni.select(col("w").as("w1"), col("c_w").as("c_1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c_w").as("c_2")), Seq("w2"))
      .crossJoin(broadcast(total))
      .filter(col("c_pair") > lit(discount))
      .select(col("w1"), col("w2"), col("c_pair"),
        expr(s"((c_pair - $discount) * 1000000 div c_1) * n_total div c_2")
          .as("score_ppm"))
      .filter(col("score_ppm") >= minScorePpm)
  }

  /**
   * Length-bucketed BATCH ASSIGNMENT — dynamic batching for training:
   * group documents of similar token count so per-batch padding (to the
   * longest member) stays bounded by the bucket granularity, instead of
   * padding everything to the global max.
   *
   * Each doc lands in the smallest `bounds` bucket covering its count
   * (clamped to the top bucket beyond the last bound — truncation is the
   * trainer's call), and fills batches by DETERMINISTIC HASH-MOD over
   * `ceil(bucketCount / batchSize)` slots. No sort anywhere: the
   * classical rank-within-bucket spelling funnels the corpus through
   * |buckets| reducers (a dozen partitions for 100 TB); hash-mod filling
   * is one tiny count aggregate + a broadcast join + a map, batches are
   * `batchSize` docs in expectation, and the assignment is reproducible
   * across runs and engines (MD5-derived [[TextFunctions.hash28]]).
   *
   * Output: one row per doc — `(idCol, n_tokens, bucket, batch)`.
   */
  def lengthBucketBatches(docs: DataFrame, idCol: String,
      nTokens: org.apache.spark.sql.Column, batchSize: Int,
      bounds: Seq[Int] = Seq(64, 128, 256, 512, 1024, 2048, 4096)): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    require(bounds.nonEmpty && bounds == bounds.sorted && bounds.head > 0,
      s"bounds must be positive ascending, got $bounds")
    val bucket = bounds.init.foldRight(lit(bounds.last.toLong): org.apache.spark.sql.Column) {
      (b, rest) => when(col("n_tokens") <= b, lit(b.toLong)).otherwise(rest)
    }
    val base = docs
      .select(col(idCol), nTokens.cast("long").as("n_tokens"))
      .withColumn("bucket", bucket)
    // |bounds| rows — the only aggregation over the corpus is this count
    val slots = base.groupBy(col("bucket"))
      .agg(ceil(count(lit(1)) / lit(batchSize.toDouble)).cast("long").as("n_slots"))
    base.join(broadcast(slots), Seq("bucket"))
      .withColumn("batch",
        pmod(TextFunctions.hash28(col(idCol).cast("string")), col("n_slots")))
      .select(col(idCol), col("n_tokens"), col("bucket"), col("batch"))
  }

  /**
   * Snapshot diff between two corpus versions — the dataset-versioning
   * primitive behind "what changed between crawl N and crawl N+1":
   * per id, `status` ∈ added | removed | changed | unchanged, judged by
   * the normalized-content fingerprint ([[TextFunctions.fingerprint]]),
   * with both fingerprints carried as evidence (null on the absent side).
   *
   * Scale shape: each side collapses to a narrow `(id, fp, flag)`
   * projection BEFORE the full-outer join, so the one shuffle per side
   * carries 17 bytes a row, not documents; the text columns never cross
   * the exchange. Null text fingerprints as the empty string rather than
   * propagating null into the status logic.
   */
  /**
   * Deterministic global shuffle + sharding — the delivery step between
   * a prepared corpus and the training job: each doc gets a `shard`
   * (seeded 60-bit MD5 hash of its id, mod `nShards` — balanced in
   * expectation regardless of id distribution) and a `shuffle_key` (the
   * hash itself), so reading shard files in key order yields a training
   * order uncorrelated with crawl/source order, reproducible across
   * runs AND engines (no RNG state — the hash IS the permutation).
   *
   * Scale shape: map-only; the downstream write is
   * `.repartition(nShards, $"shard").sortWithinPartitions("shuffle_key")`
   * — one shuffle keyed by shard, no global sort (the within-shard sort
   * is per-partition). Epoch re-shuffles are a `seed` change.
   */
  def shardCorpus(docs: DataFrame, idCol: String, nShards: Int,
      seed: Long = 0L): DataFrame = {
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    val key = TextFunctions.hash60(
      concat(col(idCol).cast("string"), lit(s"#shard$seed")))
    docs.withColumn("shuffle_key", key)
      .withColumn("shard", pmod(col("shuffle_key"), lit(nShards.toLong)))
  }

  /**
   * Deterministic EPOCH SHUFFLE — the scalable spelling of "globally
   * shuffle the corpus before each training epoch": every `epoch` value
   * induces an independent pseudo-random permutation, expressed as
   * (shard, pos) so a data loader streams shard files in any order and
   * rows within a shard in `pos` order. No global sort ever happens:
   * shard is a pure hash of (id, epoch) — balanced in expectation, no
   * range-boundary sampling whose boundaries would drift between runs —
   * and `pos` is a rank WITHIN each shard (per-shard window, parallel
   * across shards), so the widest single-task state is one shard, not
   * the corpus. That is exactly the property a 100 TB epoch needs: the
   * naive `ORDER BY rand()` is a corpus-wide total sort with a sampling
   * pass, and seeded `rand()` itself is partition-order-dependent in
   * any engine — this hash spelling is reproducible bit-for-bit across
   * cluster sizes, retries, and engines.
   *
   * Writing the physical layout is one line downstream:
   * `.repartition(col("shard")).sortWithinPartitions("shard", "pos")`
   * + `partitionBy("shard")` on the writer.
   *
   * Ties on the 60-bit key break by id, so `pos` is total and stable.
   * Returns the input columns + `(shard, pos)`.
   */
  def epochShuffle(docs: DataFrame, idCol: String, epoch: Long,
      nShards: Int): DataFrame = {
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    val key = TextFunctions.hash60(
      concat(col(idCol).cast("string"), lit(s"#epoch$epoch")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__shard")).orderBy(col("__key"), col(idCol))
    docs.withColumn("__key", key)
      .withColumn("__shard", pmod(col("__key"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("shard", col("__shard"))
      .drop("__key", "__shard")
  }

  /**
   * RENDEZVOUS (highest-random-weight) sharding — the RESHARD-STABLE
   * alternative to hash-mod: doc d lands on `argmax_s hash(d # s)`.
   * Growing n → m shards moves only the docs whose new candidates win
   * (expected (m−n)/m of the corpus), and every moved doc lands on a
   * NEW shard — where `hash mod n` reassigns ~all docs on any n change.
   * That is the difference between "copy 20% of 100 TB" and "rewrite
   * 100 TB" when a shard store grows.
   *
   * Spelled as ONE map-only expression per row — `aggregate` over the
   * candidate-shard sequence keeps the argmax inside the row (no
   * explode: a 1000-shard corpus scan stays a corpus scan, not a
   * 1000× row blow-up). The hash is deliberately INSIDE the lambda
   * (it depends on the shard candidate); cost is nShards hashes/row,
   * inherent to flat HRW. `portable = true` (default) uses the
   * md5-prefix spelling the DuckDB oracles mirror; `portable = false`
   * swaps in xxhash64 for production corpus scans. Ties (impossible at
   * 60-bit width in practice) break toward the lower shard id.
   *
   * Returns the input + `shard`.
   */
  def rendezvousShard(docs: DataFrame, idCol: String, nShards: Int,
      outCol: String = "shard", portable: Boolean = true): DataFrame = {
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    val hashOf: Column => Column = s => {
      val key = concat(col(idCol).cast("string"), lit("#rv"),
        s.cast("string"))
      if (portable) TextFunctions.hashPrefixComposable(key, 15)
      else xxhash64(key)
    }
    val best = aggregate(
      sequence(lit(0), lit(nShards - 1)),
      struct(lit(Long.MinValue).as("h"), lit(-1).as("s")),
      (acc, sh) => {
        val h = hashOf(sh)
        when(h > acc.getField("h"), struct(h.as("h"), sh.as("s")))
          .otherwise(acc)
      })
    docs.withColumn(outCol, best.getField("s").cast("long"))
  }

  /**
   * DISTRIBUTION-SHIFT panel: total-variation distance between every
   * pair of groups' bucket distributions, in exact ppm —
   * `TV(P,Q) = ½ Σ_b |p_b − q_b|` with shares floored to ppm first, so
   * the whole panel is integer arithmetic any engine reproduces (the
   * PSI/KL alternatives need logs — irrational, never cross-engine
   * exact). The standard "did this source's length/quality profile
   * move" gate between crawls, and the pre-mixing check that two
   * sources claiming different content actually differ.
   *
   * Scale: one map-combined (group, bucket) count, then everything runs
   * on the |groups|·|buckets| CELL grid (both bounded by contract —
   * sources × histogram bins, never rows). Missing buckets count as
   * share 0 via the grid cross join. Returns `(a, b, tv_ppm)` for every
   * unordered group pair, `tv_ppm ∈ [0, 1e6]`.
   */
  def totalVariationByGroup(rows: DataFrame, groupCol: String,
      bucketCol: String): DataFrame = {
    val c = rows
      .filter(col(groupCol).isNotNull && col(bucketCol).isNotNull)
      .groupBy(col(groupCol).as("g"), col(bucketCol).as("bkt"))
      .agg(count(lit(1)).as("n"))
    val shares = c
      .join(c.groupBy(col("g")).agg(sum(col("n")).as("tot")), Seq("g"))
      .select(col("g"), col("bkt"),
        expr("(n * 1000000L) div tot").as("ppm"))
    val grid = c.select(col("g")).distinct()
      .crossJoin(c.select(col("bkt")).distinct())
      .join(shares, Seq("g", "bkt"), "left")
      .select(col("g"), col("bkt"), coalesce(col("ppm"), lit(0L)).as("ppm"))
    grid.as("x").join(grid.as("y"),
        col("x.bkt") === col("y.bkt") && col("x.g") < col("y.g"))
      .groupBy(col("x.g").as("a"), col("y.g").as("b"))
      .agg(sum(abs(col("x.ppm") - col("y.ppm"))).as("__s"))
      .select(col("a"), col("b"), expr("__s div 2").as("tv_ppm"))
  }

  def snapshotDiff(
      oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String = "id", textCol: String = "text"): DataFrame = {
    def side(df: DataFrame, fpName: String, flagName: String) =
      df.select(col(idCol).as("id"),
        TextFunctions.fingerprint(coalesce(col(textCol), lit(""))).as(fpName),
        lit(true).as(flagName))
    side(oldDocs, "fp_old", "in_old")
      .join(side(newDocs, "fp_new", "in_new"), Seq("id"), "full_outer")
      .select(col("id").as(idCol),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        col("fp_old"), col("fp_new"))
  }

  /**
   * TOKEN-frequency drift between two corpus snapshots — the
   * distribution-level companion to [[snapshotDiff]]'s doc-level diff,
   * and the standard drift monitor for a continuous-ingest pipeline: a
   * crawl source changing register, a spam burst, or a filter regression
   * shows up as a handful of tokens with large relative-frequency deltas
   * long before aggregate quality metrics move.
   *
   * Per token: occurrence counts in each snapshot (absent = 0) and
   * relative frequencies in exact integer parts-per-million
   * (`cnt · 1e6 div total` — floor division on longs, so results are
   * bit-identical across engines and partitionings). Output is the
   * `topK` tokens by |ppm_after − ppm_before| (ties broken by token) —
   * the drift leaderboard, not the full vocabulary.
   *
   * Scale shape: two map-side-combinable token-count aggregations, the
   * 1-row totals cross-joined back (broadcast, never collected), ONE
   * full-outer shuffle join on the token key, and a TakeOrdered top-K —
   * no corpus broadcast, no driver-side state. Token keys are naturally
   * high-cardinality, so both the aggs and the join spread evenly; a
   * corpus-hot token is one group key whose count combines map-side.
   */
  def tokenDrift(before: DataFrame, after: DataFrame, textCol: String,
      topK: Int = 50): DataFrame =
    tokenDriftFromCounts(tokenCounts(before, textCol),
      tokenCounts(after, textCol), topK)

  /** Per-token occurrence counts `(tok, cnt)` of a corpus — the
   * persistable baseline of the drift monitor ([[tokenDriftFromCounts]]). */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = df
    .select(explode(TextFunctions.tokens(col(textCol))).as("tok"))
    .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))

  /**
   * Vocabulary COVERAGE CURVE: how many types (kept in frequency order)
   * cover `p` of all running tokens — the tokenizer-sizing question
   * ("32k pieces cover 99.5% of tokens; the tail is byte-fallback").
   * For each requested ppm rank: `n_types` = the minimal head of the
   * frequency-sorted vocabulary whose cumulative count reaches
   * `⌈p·total/1e6⌉` (ties broken by token asc, so the curve is
   * deterministic), `cum_tokens` its exact token mass, `cutoff_count`
   * the frequency of the last type in. Windows run over the TYPE table
   * (≪ corpus; a 100 TB corpus has ~10⁸ types) — the one global-window
   * spelling this module accepts, same scale class as [[tokenDrift]]'s
   * leaderboard.
   */
  def coverageCurve(counts: DataFrame, psPpm: Seq[Long]): DataFrame = {
    require(psPpm.nonEmpty && psPpm.forall(p => p > 0 && p <= 1000000L),
      s"coverage ranks must be in (0, 1e6] ppm, got $psPpm")
    val W = org.apache.spark.sql.expressions.Window
    val ord = W.orderBy(col("cnt").desc, col("tok"))
    val w = ord.rowsBetween(W.unboundedPreceding, 0)
    counts
      .withColumn("__rank", row_number().over(ord))
      .withColumn("__cum", sum(col("cnt")).over(w))
      .withColumn("__total", sum(col("cnt")).over(
        W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .withColumn("p_ppm", explode(array(psPpm.map(lit): _*)))
      .where(col("__cum") * 1000000L >= col("p_ppm") * col("__total"))
      .groupBy(col("p_ppm"))
      .agg(min(col("__rank")).cast("long").as("n_types"),
        min(col("__cum")).as("cum_tokens"),
        max(col("cnt")).as("cutoff_count"))
  }

  /** The count-level drift kernel behind [[tokenDrift]]: both sides are
   * `(tok, cnt)` tables (any extra columns ignored). Totals are summed
   * from the count tables, not a corpus re-scan — when a side was just
   * computed by [[tokenCounts]] the identical subplans share one reused
   * exchange; when it was LOADED (the persisted-baseline path) the total
   * is one cheap scan of the count parquet. */
  def tokenDriftFromCounts(beforeCounts: DataFrame, afterCounts: DataFrame,
      topK: Int = 50): DataFrame = {
    def sided(c0: DataFrame, n: String, ppm: String) = {
      val c = c0.select(col("tok"), col("cnt"))
      c.crossJoin(broadcast(c.agg(sum(col("cnt")).as("total"))))
        .select(col("tok"), col("cnt").as(n),
          expr("cnt * 1000000 div total").as(ppm))
    }
    sided(beforeCounts, "n_before", "ppm_before")
      .join(sided(afterCounts, "n_after", "ppm_after"), Seq("tok"), "full_outer")
      .select(col("tok"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"),
        coalesce(col("ppm_before"), lit(0L)).as("ppm_before"),
        coalesce(col("ppm_after"), lit(0L)).as("ppm_after"))
      .withColumn("delta_ppm", col("ppm_after") - col("ppm_before"))
      .orderBy(abs(col("delta_ppm")).desc, col("tok"))
      .limit(topK)
  }

  /**
   * Corpus DATA CARD — the one-call summary table a dataset release
   * ships with (docs, tokens, chars, vocabulary size, exact-dup rate,
   * empties, longest doc), as a tall `(metric, value)` frame of exact
   * longs. Three scans, each one map-side-combinable aggregation:
   * per-doc stats (count/sum/max — one pass), distinct token count
   * (explode + count-distinct), distinct normalized fingerprints
   * (the exact-dup denominator). Nothing collected; the result is
   * seven rows.
   *
   * Scale note: the two `count_distinct`s are exact (one shuffle of
   * distinct keys each). At whole-corpus scale where even the distinct
   * token set strains a shuffle, substitute [[Sketches.hllDistinct]]
   * for the vocabulary metric — release cards tolerate ±2% there,
   * while the fingerprint count (the dup-rate denominator) should stay
   * exact.
   */
  def corpusCard(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val perDoc = docs.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(TextFunctions.wordCount(t)), lit(0L)).cast("long")
        .as("n_tokens"),
      coalesce(sum(length(t)), lit(0L)).cast("long").as("n_chars"),
      coalesce(max(TextFunctions.wordCount(t)), lit(0L)).cast("long")
        .as("max_doc_tokens"),
      coalesce(sum(when(length(trim(t)) === 0, 1L).otherwise(0L)), lit(0L))
        .as("n_empty_docs"))
    val vocab = docs.select(explode(TextFunctions.tokens(t)).as("tok"))
      .agg(count_distinct(col("tok")).as("n_distinct_tokens"))
    val fps = docs.select(TextFunctions.fingerprint(t).as("fp"))
      .agg(count_distinct(col("fp")).as("n_distinct_fingerprints"))
    // stack unpivots the 1-row stats frame so the per-doc scan runs ONCE
    // (a five-way union of projections would replay the agg per branch)
    perDoc.select(expr(
        "stack(5, 'n_docs', n_docs, 'n_tokens', n_tokens, " +
          "'n_chars', n_chars, 'max_doc_tokens', max_doc_tokens, " +
          "'n_empty_docs', n_empty_docs) AS (metric, value)"))
      .union(vocab.select(lit("n_distinct_tokens").as("metric"),
        col("n_distinct_tokens").cast("long").as("value")))
      .union(fps.select(lit("n_distinct_fingerprints").as("metric"),
        col("n_distinct_fingerprints").cast("long").as("value")))
  }

  /**
   * FILL-IN-THE-MIDDLE transformation (Bavarian et al. 2022, "Efficient
   * Training of Language Models to Fill in the Middle") — the document
   * rewrite code-model training runs at scale: a `fimRate` fraction of
   * documents re-arranges into PSM order
   * `<PRE>prefix<SUF>suffix<MID>middle`, teaching infilling while the
   * remainder stays autoregressive. Everything is CONTENT-ADDRESSED
   * (the apply decision and both split points derive from
   * `hash60(id:salt:k)`), so the transform is deterministic per (doc,
   * salt), reproducible across partitionings/engines, and a new salt is
   * a fresh epoch of splits — the same contract as the hash samplers.
   * Map-only: three hash projections and substring arithmetic, no
   * shuffle at any scale. Split points are CHARACTER offsets here;
   * production FIM splits post-tokenization — same shape, swap the
   * offset domain.
   */
  def fimTransform(docs: DataFrame, idCol: String, textCol: String,
      fimRate: Double, salt: String = ""): DataFrame = {
    require(fimRate >= 0 && fimRate <= 1, s"fimRate $fimRate")
    def u(k: Int) = Sampling.hashSlot(
      concat(col(idCol).cast("string"), lit(s":$salt:$k")), 10000)
    val len = length(col(textCol))
    val apply = u(1) < math.round(fimRate * 10000).toInt
    // two independent cut points; i <= j by min/max (uniform over pairs).
    // floor on exact-in-double products (slot < 1e4, len < ~1e5) — the
    // one spelling whose int conversion floors in BOTH engines (a
    // CAST(double AS INT) truncates in Spark but ROUNDS in DuckDB)
    val c1 = floor(u(2).cast("double") * len / 10000.0).cast("int")
    val c2 = floor(u(3).cast("double") * len / 10000.0).cast("int")
    val i = least(c1, c2)
    val j = greatest(c1, c2)
    val fim = concat(lit("<PRE>"), col(textCol).substr(lit(1), i),
      lit("<SUF>"), col(textCol).substr(j + 1, len - j),
      lit("<MID>"), col(textCol).substr(i + 1, j - i))
    docs.withColumn("fim_applied", apply && len > 0)
      .withColumn(textCol,
        when(col("fim_applied"), fim).otherwise(col(textCol)))
  }

  /**
   * zlib COMPRESSION-RATIO quality signal — templated, boilerplate, or
   * machine-generated text compresses far below natural prose, and the
   * ratio catches repetition patterns the n-gram heuristics
   * ([[TextFunctions]] `top_ngram_frac`, duplicate-line fraction) miss
   * (long-period repeats, near-repeats with counters). Per doc:
   * `byte_len`, `comp_len` (raw-deflate at `level`), and
   * `ratio_micro = comp_len·1e6 div byte_len` (exact integers given the
   * deflate output — deterministic for a fixed zlib, hence golden-pinned
   * rather than oracle'd). Empty docs get ratio 1e6 (incompressible by
   * convention, not a flag). Map-only: one deflate per doc inside the
   * projection, no shuffle; a corpus scan at 100 TB is deflate-bound,
   * which is also true of the production pipelines that use this signal.
   */
  def compressionSignal(docs: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    require(level >= 1 && level <= 9, s"deflate level $level")
    val compLen = udf((s: String) => {
      val bytes = Option(s).getOrElse("")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (bytes.isEmpty) 0L
      else {
        val d = new java.util.zip.Deflater(level, true)
        d.setInput(bytes); d.finish()
        val scratch = new Array[Byte](8192)
        var n = 0L
        while (!d.finished()) n += d.deflate(scratch)
        d.end()
        n
      }
    })
    docs.select(col(idCol), octet_length(col(textCol)).cast("long")
        .as("byte_len"), compLen(col(textCol)).as("comp_len"))
      .withColumn("ratio_micro",
        when(col("byte_len") === 0L, lit(1000000L))
          .otherwise(expr("comp_len * 1000000 div byte_len")))
  }

  /**
   * Per-SOURCE corpus card — the release table's breakdown rows: doc /
   * token / char / empty counts, distinct exact-dup fingerprints, and an
   * exact integer-ppm duplicate rate per source. One grouped aggregation
   * (map-side combinable except the exact `count_distinct`, whose
   * expand is bounded by the fingerprint cardinality — substitute the
   * HLL sketch ([[Sketches]]) when an estimate suffices at whole-corpus
   * scale, the same trade [[corpusCard]]'s scaladoc documents for
   * vocabulary counts).
   */
  def cardBySource(docs: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    docs.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(TextFunctions.wordCount(t)), lit(0L)).cast("long")
          .as("n_tokens"),
        coalesce(sum(length(t)), lit(0L)).cast("long").as("n_chars"),
        coalesce(sum(when(length(trim(t)) === 0, 1L).otherwise(0L)), lit(0L))
          .as("n_empty_docs"),
        count_distinct(TextFunctions.fingerprint(t))
          .as("n_distinct_fingerprints"))
      .withColumn("dup_ppm",
        expr("(n_docs - n_distinct_fingerprints) * 1000000 div n_docs"))
  }

  /** The SUM-DECOMPOSABLE subset of [[corpusCard]] — `n_docs, n_tokens,
   * n_chars, n_empty_docs` as a `(metric, value)` frame. These four admit
   * exact INCREMENTAL maintenance ([[cardUpdate]]); the card's distinct
   * counts and max do not (distinct is only add-mergeable — via HLL
   * union — and max is not subtractable), so they stay recompute-or-
   * sketch and are deliberately absent here. */
  def cardDecomposable(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(TextFunctions.wordCount(t)), lit(0L)).cast("long")
        .as("n_tokens"),
      coalesce(sum(length(t)), lit(0L)).cast("long").as("n_chars"),
      coalesce(sum(when(length(trim(t)) === 0, 1L).otherwise(0L)), lit(0L))
        .as("n_empty_docs"))
      .select(expr(
        "stack(4, 'n_docs', n_docs, 'n_tokens', n_tokens, " +
          "'n_chars', n_chars, 'n_empty_docs', n_empty_docs)" +
          " AS (metric, value)"))
  }

  /**
   * INCREMENTAL corpus-card maintenance: given the previous snapshot's
   * decomposable card ([[cardDecomposable]]) and both snapshots, produce
   * the new snapshot's card by applying only the DELTA — subtract the
   * stats of removed/changed old docs, add those of added/changed new
   * docs. Exact (all-long arithmetic), and the whole point at 100 TB: a
   * daily crawl refresh touches a few percent of documents, so the
   * update scans `O(|changed|)` text instead of re-reading the corpus.
   *
   * Plan shape: like [[snapshotDiff]], both sides project down to id +
   * content hash (never full text) and full-outer join on id — but the
   * hash here is EXACT (`xxhash64` of the raw text), not the
   * whitespace-normalized dedup fingerprint: `n_chars` is whitespace-
   * sensitive, so a whitespace-only edit must count as changed or the
   * maintained card drifts from a recompute. Each side's changed ids
   * then semi-join back to their snapshot (partition-prunable in a
   * date/source-partitioned lake) and one [[cardDecomposable]] pass
   * runs over just those docs. The final union is metric-keyed (≤ 12
   * rows) — negligible.
   */
  def cardUpdate(
      oldCard: DataFrame,
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String = "id",
      textCol: String = "text"): DataFrame = {
    val diff = exactDiff(oldDocs, newDocs, idCol, textCol)
    def changedSide(docs: DataFrame, statuses: Seq[String]) =
      cardDecomposable(changedDocs(docs, diff, idCol, statuses), textCol)
    val sub = changedSide(oldDocs, Seq("removed", "changed"))
      .select(col("metric"), (-col("value")).as("value"))
    val add = changedSide(newDocs, Seq("added", "changed"))
    oldCard.union(add).union(sub)
      .groupBy(col("metric"))
      .agg(sum(col("value")).cast("long").as("value"))
  }

  /** EXACT-hash snapshot diff — id + `xxhash64(text)` per side, one
   * full-outer join, `(id, status)` out. The shared delta detector of
   * the incremental maintainers ([[cardUpdate]], [[tokenCountsUpdate]]);
   * unlike [[snapshotDiff]]'s normalized fingerprint it counts
   * whitespace edits as changes, which char/token-level stats require. */
  private def exactDiff(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    def hashSide(df: DataFrame, fpName: String, flagName: String) =
      df.select(col(idCol),
        xxhash64(coalesce(col(textCol), lit(""))).as(fpName),
        lit(true).as(flagName))
    hashSide(oldDocs, "fp_old", "in_old")
      .join(hashSide(newDocs, "fp_new", "in_new"), Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("in_old").isNull, lit("added"))
          .when(col("in_new").isNull, lit("removed"))
          .when(col("fp_old") === col("fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  private def changedDocs(docs: DataFrame, diff: DataFrame, idCol: String,
      statuses: Seq[String]): DataFrame =
    docs.join(diff.filter(col("status").isin(statuses: _*))
      .select(col(idCol)), Seq(idCol), "left_semi")

  /**
   * INCREMENTAL token-count maintenance — the [[tokenCounts]] companion
   * of [[cardUpdate]]: apply the diff'd documents' token deltas to the
   * previous snapshot's count table instead of re-scanning the corpus.
   * Exact: counts are longs, so `old + added − removed` equals a full
   * recompute bit-for-bit, and tokens whose count reaches zero drop out
   * (matching the recompute's absence). This is what keeps a DAILY
   * drift baseline ([[tokenDriftFromCounts]]) affordable at 100 TB — the
   * update scans O(changed) text plus the (token-vocabulary-sized)
   * count table, never the corpus.
   */
  def tokenCountsUpdate(
      oldCounts: DataFrame,
      oldDocs: DataFrame,
      newDocs: DataFrame,
      idCol: String = "id",
      textCol: String = "text"): DataFrame = {
    val diff = exactDiff(oldDocs, newDocs, idCol, textCol)
    val sub = tokenCounts(
        changedDocs(oldDocs, diff, idCol, Seq("removed", "changed")), textCol)
      .select(col("tok"), (-col("cnt")).as("cnt"))
    val add = tokenCounts(
      changedDocs(newDocs, diff, idCol, Seq("added", "changed")), textCol)
    oldCounts.select(col("tok"), col("cnt")).union(add).union(sub)
      .groupBy(col("tok"))
      .agg(sum(col("cnt")).cast("long").as("cnt"))
      .filter(col("cnt") =!= 0L)
  }
}
