package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import TextFunctions.{hash28, tokens}

/**
 * Near-duplicate detection for document corpora, four ways (exact dedup is
 * a plain `groupBy(text)` — see SparkEntry q16):
 *
 *  - word-shingle **MinHash + LSH banding**: signature → band keys →
 *    self-join on band key → exact-Jaccard verify. The classic
 *    Broder/MMDS construction; at 100 TB the band join is a shuffle on
 *    short string keys (no quadratic blow-up) and the verify step touches
 *    only candidate pairs.
 *  - **SimHash**: 28-bit portable simhash; equal values (or small Hamming
 *    distance) = near-dup cluster. One shuffle on an int key.
 *  - **exact n-gram Jaccard** within a blocking key: the quadratic
 *    ground-truth, for verify stages and small blocks.
 *  - **embedding cosine** near-dup: see [[Similarity]].
 *
 * All hashes are MD5-derived ([[TextFunctions.hash28]]) so a DuckDB oracle
 * reproduces signatures bit-for-bit.
 */
object Dedup {

  /** Large Mersenne prime 2^31−1 for the universal-hash family. */
  val P: Long = 2147483647L

  /** Positional k-gram hash stream, constructed DIRECTLY (no
   * call_function): the span-dedup DataFrame entry points must analyze
   * on any SparkSession, not only ones configured with
   * graft.plans.GraftExtensions — the SQL name `kgram_hashes` stays
   * registered for SQL users (the same registration-free contract as
   * [[editNearDups]]'s `lev_banded`). */
  private def kgramHashes(t: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.KgramHashStream(
        org.apache.spark.sql.graft.ColumnBridge.expression(t), k, 15))

  /** Word n-gram shingles of a token array (empty when fewer than n
   * tokens — NB Spark's `sequence(0, negative)` would count *down*). */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, (i + lit(k + 1)).cast("int"))): _*)))
      .otherwise(array().cast("array<string>"))

  /** Distinct, SORTED 28-bit shingle hashes of a text column (sorted so
   * [[jaccardSorted]] can merge-scan; set semantics unchanged). */
  def shingleHashes(text: Column, n: Int): Column =
    call_function("shingle_hashes", tokens(text), lit(n))

  /** Extension-free composable twin of [[shingleHashes]] — identical
   * output, kept as the portability reference for SQL oracles. */
  def shingleHashesComposable(text: Column, n: Int): Column =
    sort_array(array_distinct(transform(wordShingles(tokens(text), n), s => hash28(s))))

  /** 64-bit (xxhash64) shingle hashes — the SCALE spelling: 28-bit
   * hashes collide between different shingles at whole-corpus
   * cardinalities (birthday bound ~2¹⁴·⁵ distinct shingles for a 50%
   * collision), inflating candidate mass and the hash-set "exact"
   * Jaccard; 64 bits stay collision-free at any real corpus size. Not
   * DuckDB-portable — parity pinned against the composable twin. */
  def shingleHashes64(text: Column, n: Int): Column =
    call_function("shingle_hashes64", tokens(text), lit(n))

  /** Extension-free composable twin of [[shingleHashes64]] — identical
   * output (same bytes through the builtin xxhash64), kept as the parity
   * reference for the fused expression. */
  def shingleHashes64Composable(text: Column, n: Int): Column =
    sort_array(array_distinct(transform(wordShingles(tokens(text), n), s => xxhash64(s))))

  /** MinHash signature: for each of k universal hashes, the min over the
   * shingle-hash set. NULL-free input required (guard empty shingles
   * upstream). */
  def minhashSignature(hashes: Column, k: Int): Column =
    call_function("vec_minhash", hashes, lit(k))

  /** 64-bit MinHash signature (`sig[f] = min over h of xxhash64(h, f)`) —
   * the SCALE companion of [[shingleHashes64]]: the 28-bit universal
   * family's 2³¹−1 value space makes signature positions collide across
   * unrelated docs at corpus scale, producing false LSH-band candidate
   * mass; the xxhash64 family keeps the full 64-bit space. */
  def minhashSignature64(hashes: Column, k: Int): Column =
    call_function("vec_minhash64", hashes, lit(k))

  /** Composable twin of [[minhashSignature64]] — k interpreted walks of
   * the builtin two-arg xxhash64; identical output (signed array_min =
   * the fused kernel's signed min), kept as the parity reference. */
  def minhashSignature64Composable(hashes: Column, k: Int): Column =
    array((0 until k).map { f =>
      array_min(transform(hashes, h => xxhash64(h, lit(f.toLong))))
    }: _*)

  /** LSH band keys: signature split into `bands` rows-per-band groups,
   * each serialized to a string key (band index prefix keeps bands from
   * colliding with each other). */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      concat_ws(":",
        lit(b) +: (0 until rowsPerBand).map(r => element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*)

  /** Exact Jaccard similarity of two pre-distinct array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)) /
      greatest(size(array_union(a, b)), lit(1)).cast("double")

  /** Jaccard via the codegen'd merge-scan expression — inputs must be
   * sorted distinct `array<long>` ([[shingleHashes]] output). */
  def jaccardSorted(a: Column, b: Column): Column =
    call_function("vec_jaccard_sorted", a, b)

  /** Fraction of equal signature positions — the MinHash Jaccard
   * estimate. */
  def signatureAgreement(sigA: Column, sigB: Column, k: Int): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v) / lit(k.toDouble)

  /** 28-bit SimHash over the distinct tokens of a text column: bit j set
   * iff more than half the token hashes have bit j set. */
  def simhash(text: Column, bits: Int = 28): Column =
    call_function("vec_simhash", array_distinct(tokens(text)), lit(bits))

  /** Full-width 64-bit SimHash over the distinct tokens of a text column —
   * the SCALE spelling: per-token hash is Spark's builtin `xxhash64`
   * (seed 42, not portable to DuckDB, hence no oracle), majority vote per
   * bit. 64 bits give [[simhashNearDups]] 16-bit pigeonhole chunks at
   * `maxHamming = 3` — candidate volume N²/16384 vs the 28-bit MD5
   * form's N²/32. */
  def simhash64(text: Column): Column =
    call_function("vec_simhash64", array_distinct(tokens(text)))

  /** Extension-free composable twin of [[simhash64]] — 64 interpreted
   * array scans over `transform(toks, xxhash64)`; identical output, kept
   * as the portability reference and the parity pin for the fused
   * expression. */
  def simhash64Composable(text: Column): Column = {
    val hashes = transform(array_distinct(tokens(text)), t => xxhash64(t))
    val n = size(hashes)
    (0 until 64).map { j =>
      val ones = size(filter(hashes, h => shiftrightunsigned(h, j).bitwiseAND(lit(1L)) === 1))
      when(ones * 2 > n, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)
  }

  /** Hamming distance between two simhash longs. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------- DataFrame level

  /**
   * MinHash-LSH candidate pairs with exact-Jaccard verification.
   *
   * Plan shape (scale-minded): per-doc signature (one projection, no
   * shuffle) → explode band keys → self-join on band key (shuffle on short
   * strings; the ONLY join, and it only meets docs sharing a band) →
   * dedupe pairs → exact verify on the candidate set.
   */
  def minhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      hashBits: Int = 28): DataFrame =
    minhashNearDupsWithLen(docs, idCol, textCol, shingleN, k, bands,
        threshold, hashBits)
      .select(col("id_a"), col("id_b"), col("est_jaccard"), col("jaccard"))

  /**
   * Cross-source DUPLICATION MATRIX: near-dup pair mass per (unordered)
   * source pair — the curation question "which sources copy each
   * other" (mirror sites, syndication, scraped re-posts) answered at
   * near-dup-pair cost. Off-diagonal mass says two sources should share
   * one dedup pass before mixing weights are chosen; diagonal mass is
   * each source's internal redundancy. Shape: the banded
   * [[minhashNearDups]] pair table (sized by duplicates, never N²) +
   * two id-keyed joins carrying ONLY (id, source) — text never rides —
   * and a count aggregation on the ≤ |sources|² matrix.
   */
  def crossSourceOverlap(docs: DataFrame, idCol: String, textCol: String,
      sourceCol: String, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, hashBits: Int = 28): DataFrame = {
    val pairs = minhashNearDups(docs, idCol, textCol, shingleN, k, bands,
      threshold, hashBits)
    val src = docs.select(col(idCol), col(sourceCol))
    pairs
      .join(src.toDF("id_a", "__src_a"), "id_a")
      .join(src.toDF("id_b", "__src_b"), "id_b")
      .select(least(col("__src_a"), col("__src_b")).as("source_a"),
        greatest(col("__src_a"), col("__src_b")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The `hashBits`-wide shingle-hash + signature spelling: 28 = the
   * portable MD5 + universal-hash family (DuckDB-reproducible, the
   * oracle spelling, q23), 64 = the xxhash64 family
   * ([[shingleHashes64]]/[[minhashSignature64]]) for whole-corpus
   * cardinalities where 28-bit hash collisions produce false candidate
   * mass — the [[simhashFor]] pattern applied to MinHash. */
  private def minhashSigsFor(text: Column, shingleN: Int, k: Int,
      hashBits: Int): (Column, Column => Column) = {
    require(hashBits == 28 || hashBits == 64,
      s"hashBits must be 28 (portable MD5) or 64 (xxhash64), got $hashBits")
    if (hashBits == 28) (shingleHashes(text, shingleN), minhashSignature(_, k))
    else (shingleHashes64(text, shingleN), minhashSignature64(_, k))
  }

  /** [[minhashNearDups]] plus `len_a`/`len_b` (character lengths, carried
   * through the signature stage — 8 bytes on the band shuffle, so
   * downstream length-band pruning costs nothing extra; see
   * [[editNearDups]]). */
  private def minhashNearDupsWithLen(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      threshold: Double = 0.5,
      hashBits: Int = 28): DataFrame = {
    val rows = k / bands
    val (shCol, sigOf) = minhashSigsFor(col(textCol), shingleN, k, hashBits)
    // The repartition AFTER the signature projection is load-bearing twice
    // over: (1) it spreads the (often single-file) input across cores, and
    // (2) it materializes sh/sig as exchanged attributes. Without the
    // barrier, Catalyst collapses the projections into the generator input
    // and the 16 element_at(sig,·) band-key references each re-inline the
    // whole minhash+md5 chain (generator projections get no subexpression
    // elimination) — measured 25× slower at sf0.1.
    // (the minhash chain runs on the scan task below the barrier, but
    // it measured only ~0.25 s there at sf0.1 — a pre-spread exchange
    // was tried and cost more in extra stages than it recovered; the
    // heavy band fan-out is already above the barrier)
    def sigs(src: DataFrame) = src
      .select(col(idCol).as("id"), length(col(textCol)).as("len"),
        shCol.as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", sigOf(col("sh")))
      .repartition(src.sparkSession.sparkContext.defaultParallelism)
      .select(col("id"), col("len"), col("sh"), col("sig"),
        posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band_idx", "band")))
    // BOTH sides keep band_idx and the join keys on (band_idx, band):
    // the band string already embeds its index prefix, so matched rows
    // always agree on band_idx and the extra key changes nothing — but
    // it makes the two sides' projections IDENTICAL, so their band
    // exchanges canonicalize equal and AQE materializes the signature
    // fan-out ONCE instead of twice (measured before: twin 9.1 MB
    // exchange writes per query; after: one, read by both join sides)
    val a = sigs(docs).select(col("band"), col("band_idx"),
      col("id").as("id_a"), col("len").as("len_a"),
      col("sh").as("sh_a"), col("sig").as("sig_a"))
    val b = sigs(docs).select(col("band"), col("band_idx"),
      col("id").as("id_b"), col("len").as("len_b"),
      col("sh").as("sh_b"), col("sig").as("sig_b"))
    // a pair sharing m bands appears m times; keep only the FIRST agreeing
    // band per pair — O(k) integer compares, vs. a distinct() shuffle AND
    // m-fold duplicated est/exact-jaccard work
    val firstAgreeingBand = (0 until bands).foldRight(lit(-1)) { (bd, rest) =>
      val bandAgrees = (0 until rows)
        .map(r => element_at(col("sig_a"), bd * rows + r + 1) ===
          element_at(col("sig_b"), bd * rows + r + 1))
        .reduce(_ && _)
      when(bandAgrees, lit(bd)).otherwise(rest)
    }
    // SHUFFLE hash join on the band key — never broadcast: b carries every
    // doc's shingle set + signature, i.e. the corpus. Band keys are
    // MD5-derived strings (high cardinality, uniform), so the shuffle
    // spreads evenly and each reducer sees only docs sharing a band.
    a.hint("shuffle_hash").join(b, Seq("band_idx", "band"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("band_idx") === firstAgreeingBand)
      .select(col("id_a"), col("id_b"), col("len_a"), col("len_b"),
        signatureAgreement(col("sig_a"), col("sig_b"), k).as("est_jaccard"),
        jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * EDIT-DISTANCE verification tier over the MinHash-LSH candidates —
   * the strictest near-dup check: shingle Jaccard is order-insensitive
   * (it cannot tell "a b c d" from "d c b a"), while Levenshtein
   * certifies the documents are literally a few edits apart, which is
   * what "same page, new timestamp" crawl dups actually are. Candidates
   * come from [[minhashNearDups]] with `threshold = 0` (i.e. every pair
   * sharing an LSH band); each is verified with the native BIT-PARALLEL
   * banded Levenshtein ([[graft.plans.EditDistanceBand]], Myers 1999 /
   * Hyyrö 2003 — 64 DP cells per word op, O(⌈len/64⌉·len) vs the
   * classic banded DP's O(len·maxDist); identical `levenshtein(a, b,
   * max)` semantics, random-parity spec-pinned). The kernel choice is
   * the honest lever here: the measurement in SCALING.md showed every LSH
   * candidate on the bench corpus PASSES the verify (median lev 300 at
   * max 500), so no sound pre-filter — length band, q-gram count bound
   * (Ukkonen 1992), positional pigeonhole — can prune a single pair;
   * the verify cost is true-positive work and only a faster exact
   * kernel reduces it. Pairs above the bound are dropped; survivors
   * carry `lev` and `edit_sim = 1 − lev/max(len)`.
   *
   * Scale shape: texts are NOT carried through the band-key shuffle
   * (that would move `bands ×` the corpus text volume); the candidate
   * ids join BACK to the corpus — two keyed joins sized by the
   * candidate set, which LSH keeps ≪ N². The id_a-side join carries
   * only (id_b, jaccard) per candidate; text_a meets text_b in the
   * second join. Candidates are PRUNED BY LENGTH BAND first: Levenshtein
   * distance is ≥ |len_a − len_b| (each unmatched character costs one
   * edit), so a pair with |Δlen| > maxDist can never pass the banded
   * verify — the 8-byte lengths ride the signature stage for free
   * ([[minhashNearDupsWithLen]]) and the filter runs BEFORE the two
   * text joins, so doomed candidates never pay a join or a Levenshtein.
   */
  def editNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int,
      shingleN: Int = 3,
      k: Int = 16,
      bands: Int = 4,
      hashBits: Int = 28): DataFrame = {
    require(maxDist >= 0, s"maxDist $maxDist")
    val cands = minhashNearDupsWithLen(docs, idCol, textCol, shingleN, k,
        bands, threshold = 0.0, hashBits)
      .filter(abs(col("len_a") - col("len_b")) <= maxDist)
      .select(col("id_a"), col("id_b"), col("jaccard"))
    val txt = docs.select(col(idCol).as("id"), col(textCol).as("txt"))
    cands
      .join(txt.select(col("id").as("id_a"), col("txt").as("text_a")), Seq("id_a"))
      .join(txt.select(col("id").as("id_b"), col("txt").as("text_b")), Seq("id_b"))
      // the banded kernel is constructed DIRECTLY (no call_function):
      // this DataFrame entry point must analyze on any SparkSession,
      // not only ones configured with graft.plans.GraftExtensions —
      // the SQL name `lev_banded` stays registered for SQL users
      .withColumn("lev",
        org.apache.spark.sql.graft.ColumnBridge.column(
          graft.plans.EditDistanceBand(
            org.apache.spark.sql.graft.ColumnBridge.expression(col("text_a")),
            org.apache.spark.sql.graft.ColumnBridge.expression(col("text_b")),
            maxDist)))
      .filter(col("lev") >= 0)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"),
        col("lev").cast("long").as("lev"),
        round(lit(1.0) - col("lev") /
          greatest(length(col("text_a")), length(col("text_b")), lit(1)), 6)
          .as("edit_sim"))
  }

  /**
   * SimHash near-dup pairs within a HAMMING BALL — the "small Hamming
   * distance" tier that an exact-equality grouping on the simhash
   * cannot see. Pigeonhole chunking (Manku, Jain & Das Sarma, WWW 2007): the
   * `bits`-bit simhash splits into `maxHamming + 1` chunks, and any two
   * hashes within Hamming distance `maxHamming` must agree EXACTLY on at
   * least one chunk — so candidates are the pairs sharing a
   * `(chunk_idx, chunk_value)` key, found by one keyed self-join, then
   * verified with an exact `bit_count(xor)`. No recall loss (the
   * pigeonhole bound is a theorem, not a probability), no quadratic
   * scan: the oracle brute-forces all pairs and must match EXACTLY.
   *
   * Scale shape: chunk keys shuffle the self-join like
   * [[minhashNearDups]]' bands, a first-agreeing-chunk filter replaces a
   * distinct, and only candidate pairs pay the verify. The candidate
   * volume is governed by the chunk WIDTH `w ≈ bits/(maxHamming+1)`:
   * random hashes collide on a fixed chunk with probability `2^-w`, so
   * expect `~(maxHamming+1) · N²/2^w` joined rows — at the 28-bit
   * default with `maxHamming = 3` (7-bit chunks) that is N²/32, fine
   * for dedup *within a shard or bucket* but quadratic-in-N for a whole
   * web corpus. At that scale pass `bits = 64`: the [[simhash64]]
   * xxhash64 spelling gives 16-bit chunks = N²/16384 candidate rows,
   * ~500× fewer, with identical recall (the pigeonhole bound holds at
   * any width). `bits ≤ 28` keeps the portable MD5 spelling for
   * DuckDB-oracle parity (q91); 64 is the production width; widths in
   * between use the xxhash64 spelling truncated to `bits` (every kept
   * bit a real majority vote — see [[simhashFor]]). Pairs of
   * IDENTICAL simhashes are included (hamming 0) — callers wanting only
   * the near-miss tier can filter `hamming > 0` or dedup exact matches
   * first.
   */
  /** Validate a (bits, maxHamming) pigeonhole configuration and return
   * (nChunks, chunk width). Shared by [[simhashNearDups]] and
   * [[crossHammingPairs]]. */
  private def hammingChunks(bits: Int, maxHamming: Int): (Int, Int) = {
    require(bits > 0 && bits <= 64,
      s"bits must be in (0, 64], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits), got $maxHamming")
    val nChunks = maxHamming + 1
    val w = (bits + nChunks - 1) / nChunks
    // every chunk must own >= 1 bit: an empty trailing chunk would be
    // the constant 0 for every row — a full N x N cross join per chunk
    require((nChunks - 1) * w < bits,
      s"maxHamming = $maxHamming needs more than $bits simhash bits " +
        s"(chunk ${nChunks - 1} would be empty); raise bits or lower maxHamming")
    (nChunks, w)
  }

  /** Chunk `i` of a `bits`-wide simhash under `w`-bit pigeonholes. */
  private def chunkOf(sh: Column, i: Int, w: Int, bits: Int): Column = {
    val lo = i * w
    val width = math.min(w, bits - lo)
    // width = 64 only when maxHamming = 0 at full width (one chunk =
    // the whole hash); a 64-bit mask literal would overflow, so skip it
    if (width >= 64) sh
    else shiftrightunsigned(sh, lo).bitwiseAND(lit((1L << width) - 1))
  }

  /** Chunk values for the pigeonhole join, one long per chunk — joined
   * together with their POSITION (posexplode's index) as a two-column
   * key. Longs, not the former `"i:v"` strings: no per-row string
   * allocation on either join side and cheaper key hashing/compares in
   * the build and probe (guide §2.3 narrower keys). */
  private def chunkVals(sh: Column, nChunks: Int, w: Int, bits: Int): Column =
    array((0 until nChunks).map(i => chunkOf(sh, i, w, bits)): _*)

  /** Index of the FIRST chunk two simhashes agree on (−1 if none) —
   * the per-pair dedup filter that replaces a distinct shuffle. */
  private def firstAgreeingChunk(
      a: Column, b: Column, nChunks: Int, w: Int, bits: Int): Column =
    (0 until nChunks).foldRight(lit(-1)) { (i, rest) =>
      when(chunkOf(a, i, w, bits) === chunkOf(b, i, w, bits), lit(i))
        .otherwise(rest)
    }

  /** The `bits`-wide simhash spelling: ≤ 28 = portable MD5 ([[simhash]],
   * DuckDB-reproducible), > 28 = xxhash64 ([[simhash64]], the scale
   * path) truncated to the low `bits` bits. Truncation is sound because
   * simhash bits are independent majority votes — bit j of the 64-bit
   * form IS the j-th vote of a narrower xxhash64 simhash, so every kept
   * bit carries real entropy (unlike widening the 28-bit-token MD5 form,
   * whose bits above 27 would be constant 0 and hand the pigeonhole
   * join a degenerate always-equal chunk). */
  private def simhashFor(text: Column, bits: Int): Column = {
    require(bits > 0 && bits <= 64, s"bits must be in (0, 64], got $bits")
    if (bits <= 28) simhash(text, bits)
    else if (bits == 64) simhash64(text)
    else simhash64(text).bitwiseAND(lit((1L << bits) - 1))
  }

  def simhashNearDups(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 28,
      maxHamming: Int = 3): DataFrame =
    hammingPairs(
      // NOTE: the simhash walk runs on the scan task (hammingPairs'
      // barrier sits above this projection); a pre-spread of the raw
      // text was tried and measured SLOWER min-of-3 (q91 2.84 → 3.05,
      // q91b 1.35 → 1.52) — the extra exchange/stage costs more than
      // the single-task walk at bench scale
      docs.select(col(idCol), simhashFor(col(textCol), bits).as("__sh")),
      idCol, "__sh", bits, maxHamming)

  /**
   * Pigeonhole Hamming-ball pairs over ANY precomputed `bits`-wide hash
   * column — the generic kernel behind [[simhashNearDups]] (text
   * simhash) and [[Multimodal]]'s perceptual image dHash: `(chunk_idx,
   * chunk_value)` keys, one keyed self-join, first-agreeing-chunk
   * dedup, exact `bit_count(xor)` verify. Same scale contract as the
   * simhash spelling: candidate volume ~`(maxHamming+1)·N²/2^w`, so
   * prefer wide (64-bit) hashes for whole-corpus balls.
   */
  def hammingPairs(
      items: DataFrame,
      idCol: String,
      hashCol: String,
      bits: Int,
      maxHamming: Int): DataFrame = {
    val (nChunks, w) = hammingChunks(bits, maxHamming)
    // EXPLICIT width on the chunk exchange: the exploded key sides are
    // byte-small (ids + hashes) but the self-join's candidate volume is
    // ~N²/2^w-amplified WORK — AQE's size-based coalesce ran the whole
    // candidate evaluation on ONE task (measured at sf0.1: a 1-task
    // 1.2 s stage writing 23.8 MB inside a 2.7 s query). Width is
    // cluster-derived (defaultParallelism), the same convention as the
    // explode-amplified spreads; both sides share the identical subtree,
    // so the exchange still canonicalizes equal and materializes once.
    def sides(idAs: String, shAs: String) =
      repartitioned(items)
        .select(col(idCol).as(idAs), col(hashCol).as(shAs))
        .select(col(idAs), col(shAs),
          posexplode(chunkVals(col(shAs), nChunks, w, bits))
            .as(Seq("chunk_idx", "chunk")))
        .repartition(items.sparkSession.sparkContext.defaultParallelism,
          col("chunk_idx"), col("chunk"))
    val a = sides("id_a", "sh_a")
    val b = sides("id_b", "sh_b")
    // chunks can only agree at the SAME index, so the index is part of
    // the equi-join key (it was baked into the former string key)
    a.hint("shuffle_hash").join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      // CHEAP verify first (guide §2.3): one xor + popcount rejects the
      // ~all-false candidate volume before the O(nChunks) shift/compare
      // chain below runs — predicate order inside the fused filter is
      // evaluation order
      .withColumn("hamming", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
      // a pair within the ball agrees on >= 1 chunk; keep only the FIRST
      // agreeing chunk per pair — O(nChunks) compares, no distinct shuffle
      .filter(col("chunk_idx") ===
        firstAgreeingChunk(col("sh_a"), col("sh_b"), nChunks, w, bits))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"), col("hamming"))
  }

  /**
   * Exact n-gram-Jaccard near-dup pairs within a blocking key (quadratic
   * inside each block only; use [[minhashNearDups]] when no natural
   * blocking key exists).
   */
  def ngramJaccardPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      blockCol: Column,
      shingleN: Int = 3,
      threshold: Double = 0.5,
      salts: Int = 16): DataFrame = {
    def t(src: DataFrame) = src.select(col(idCol).as("id"), blockCol.as("block"),
      shingleHashes(col(textCol), shingleN).as("sh"))
    // Block keys are low-cardinality, so a plain shuffle join on `block`
    // would serialize onto a handful of reducers. Salt instead of
    // broadcasting the corpus: the probe side lands in ONE salt bucket
    // (hash(id) % salts), the build side is replicated into every bucket,
    // so each (a,b) pair meets exactly once and a hot block spreads over
    // `salts` reducers. Build-side shuffle volume grows salts× — bounded
    // and tunable, vs. a broadcast that ships the whole shingle table to
    // every executor and OOMs long before 100 TB.
    val a = t(repartitioned(docs))
      .select(col("block"), col("id").as("id_a"), col("sh").as("sh_a"),
        pmod(hash(col("id")), lit(salts)).as("__salt"))
    val b = t(repartitioned(docs))
      .select(col("block"), col("id").as("id_b"), col("sh").as("sh_b"),
        explode(sequence(lit(0), lit(salts - 1))).as("__salt"))
    a.hint("shuffle_hash").join(b, Seq("block", "__salt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * EXACT all-pairs token-set Jaccard ≥ t via PREFIX FILTERING — the
   * set-similarity join of Chaudhuri et al. (SSJoin, ICDE 2006) and Xiao
   * et al. (PPJoin, WWW 2008): deterministic 100% recall, unlike
   * [[minhashNearDups]] (probabilistic banding) and without
   * [[ngramJaccardPairs]]'s need for a natural blocking key.
   *
   * Construction: order every document's DISTINCT tokens by ascending
   * global document frequency (ties by token — one total order shared by
   * all docs), keep each doc's first `n − ⌈t·n⌉ + 1` tokens as its
   * prefix, and join docs on shared PREFIX tokens only. Guarantee: a
   * pair with Jaccard ≥ t has overlap i ≥ ⌈t·max(n_a,n_b)⌉, so if all
   * shared tokens sat outside a's prefix they'd fit in a's suffix of
   * length ⌈t·n_a⌉ − 1 < i — contradiction; every qualifying pair
   * surfaces. Candidates then verify with an exact integer intersection
   * count.
   *
   * Scale shape: (1) the token-frequency table is one map-combinable
   * count agg; (2) the candidate join keys on RARE tokens by
   * construction — frequency-ascending ordering puts stopwords at the
   * END of each doc, so they enter prefixes only degenerately, which is
   * the built-in skew mitigation that makes this viable where a plain
   * token-inverted-index join hot-spots; (3) the length filter
   * `min·10⁶ ≥ t_ppm·max` prunes before the pair materializes; (4)
   * verify joins token sets back by id — work sized by the candidate
   * set, not N². All thresholds are integer parts-per-million with
   * floor division, so results are bit-identical across engines.
   *
   * Output: `(id_a, id_b, jaccard_ppm)` with `id_a < id_b`,
   * `jaccard_ppm = i·10⁶ div (n_a + n_b − i)` ≥ `thresholdPpm`.
   * `shingleN = 1` compares distinct (hashed) word sets; `n ≥ 2`
   * distinct word n-gram shingle sets (the near-dup-discriminative
   * choice — unigram sets of same-domain documents overlap heavily
   * regardless of duplication). Units are 28-bit MD5 hashes
   * ([[TextFunctions.hash28]]) — see the in-body note; the global
   * prefix order is (document frequency asc, hash asc).
   */
  def jaccardThresholdPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      thresholdPpm: Long,
      shingleN: Int = 3): DataFrame = {
    require(thresholdPpm > 0 && thresholdPpm <= 1000000L,
      s"thresholdPpm must be in (0, 1000000], got $thresholdPpm")
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    // work on 28-BIT SHINGLE HASHES (the native shingle_hashes kernel),
    // not shingle strings: every downstream step — the frequency agg,
    // the rank window, the prefix self-join, the verify intersection —
    // moves longs through codegen'd operators instead of dragging
    // ~25-char UTF8 strings through interpreted HOFs (the string
    // spelling measured ~10× slower end-to-end at sf0.1). Same
    // set-semantics contract as [[minhashNearDups]]'s exact-Jaccard
    // verify: similarity is over the distinct HASHED unit set, and any
    // md5-capable engine reproduces it bit-for-bit.
    val units =
      if (shingleN <= 1)
        sort_array(array_distinct(transform(tokens(col(textCol)), t => hash28(t))))
      else shingleHashes(col(textCol), shingleN)
    // ONE materialized token table: four consumers read this subtree
    // (the frequency agg, the prefix chain, both verify sides), and
    // column pruning rewrites each consumer's projection differently,
    // so without the cut the scan + spread + shingle kernel runs FOUR
    // times per query (verified in the q130 plan: four FileScans).
    // Lazy localCheckpoint = one corpus pass, one docs exchange.
    val toks0 = repartitioned(docs)
      .select(col(idCol).as("id"), units.as("toks"))
      .filter(size(col("toks")) > 0)
      .localCheckpoint(false)
    val dfreq = toks0.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // rarest-first rank per doc via a keyed WINDOW (row_number over
    // (df, tok)) — stays in whole-stage codegen, no array agg / sort_array
    // materialization; n rides the same window partition
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df"), col("tok"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
    // prefix = ranks 1 .. n − ⌈t·n⌉ + 1 (⌈·⌉ in exact integer ppm; ≥ 1).
    // localCheckpoint: BOTH self-join sides and nothing else read this —
    // without the cut, the tokenize→freq-join→window chain (and the
    // freq aggregation under it) executes once per side.
    val prefixed = toks0.select(col("id"), explode(col("toks")).as("tok"))
      .join(dfreq, Seq("tok"))
      .select(col("id"), col("tok"),
        row_number().over(w).as("__rank"),
        count(lit(1)).over(wn).as("n"))
      .filter(col("__rank") <=
        col("n") - expr(s"($thresholdPpm * n + 999999) div 1000000") + 1)
      .select(col("id"), col("n"), col("tok").as("ptok"))
      .localCheckpoint(false)
    val candA = prefixed
      .select(col("ptok"), col("id").as("id_a"), col("n").as("n_a"))
    val candB = prefixed
      .select(col("ptok"), col("id").as("id_b"), col("n").as("n_b"))
    // shuffle-hash on the (rare-by-construction) prefix token — never
    // broadcast: each side is a corpus-sized projection
    val cand = candA.hint("shuffle_hash").join(candB, Seq("ptok"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("n_a"), col("n_b")) * lit(1000000L) >=
        lit(thresholdPpm) * greatest(col("n_a"), col("n_b")))
      .select(col("id_a"), col("id_b"))
      .distinct()
      // candidate rows are BYTE-small (two longs) but WORK-heavy (a set
      // intersection each): AQE's size-based coalesce would funnel them
      // onto one task — spread the verify explicitly (measured 3×).
      // Keyed by id_a (not round-robin): the verify joins below need
      // hashpartitioning on the id anyway, so a round-robin spread was
      // immediately re-exchanged by EnsureRequirements and AQE coalesced
      // THAT exchange back to 2–3 tasks (measured: the intersect stage,
      // the query's hottest, ran at 3 tasks). Keying the explicit-width
      // spread by the first join key makes the join reuse it at full
      // width.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("id_a"))
    // exact verify: token sets come BACK by id (cheap map-side re-tokenize,
    // no second pass through the frequency join)
    val setsA = toks0.select(col("id").as("id_a"), col("toks").as("t_a"),
      size(col("toks")).cast("long").as("n_a"))
    val setsB = toks0.select(col("id").as("id_b"), col("toks").as("t_b"),
      size(col("toks")).cast("long").as("n_b"))
    cand.join(setsA, Seq("id_a")).join(setsB, Seq("id_b"))
      .withColumn("icnt", size(array_intersect(col("t_a"), col("t_b"))).cast("long"))
      .select(col("id_a"), col("id_b"),
        expr("icnt * 1000000 div (n_a + n_b - icnt)").as("jaccard_ppm"))
      .filter(col("jaccard_ppm") >= thresholdPpm)
  }

  /**
   * Connected components over near-dup pairs → duplicate clusters, the
   * survivor-selection step of a dedup pipeline: every doc in a component
   * gets the component's min id as its cluster label.
   *
   * Alternating **large-star / small-star** (Kiveris et al., "Connected
   * Components in MapReduce and Beyond"): each round collapses the edge
   * set toward star graphs rooted at each component's min id, converging
   * in O(log² n) rounds even on giant components (vs. diameter rounds for
   * plain min-label propagation). Each half-round is ONE shuffle on a
   * node id (window-min, no self-join), and every round is
   * `localCheckpoint`ed so lineage — and with it planner time and the
   * recompute-on-failure cost — stays constant regardless of round count.
   * Convergence is an exact set check on the checkpointed edges, not a
   * probe job over an ever-deeper plan.
   *
   * Input: pairs `(id_a, id_b)`; output: `(id, cluster)` for every id
   * that appears in at least one pair (roots label themselves).
   */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // canonical edge orientation: src > dst, no self-loops, distinct
    def canon(df: DataFrame): DataFrame = df
      .filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .distinct()

    // large-star: connect every neighbor LARGER than u to
    // min(Γ(u) ∪ {u}); one window-min over the symmetric neighbor list
    def largeStar(e: DataFrame): DataFrame = {
      val nbrs = e.select(col("src"), col("dst"))
        .union(e.select(col("dst").as("src"), col("src").as("dst")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      nbrs
        .withColumn("__m", least(min(col("dst")).over(w), col("src")))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("__m").as("dst"))
    }

    // small-star: on large→small oriented edges, connect every smaller
    // neighbor (and u itself) to min(Γ⁻(u))
    def smallStar(e: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("src"))
      val withMin = e.withColumn("__m", min(col("dst")).over(w))
      withMin.select(col("dst").as("src"), col("__m").as("dst"))
        .union(withMin.select(col("src"), col("__m").as("dst")))
    }

    var edges = canon(pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      .localCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val next = canon(smallStar(largeStar(edges))).localCheckpoint()
      // exact fixpoint test on materialized data, ONE probe job: both
      // sides are distinct sets, so equality ⟺ the union's (src, dst)
      // groups all have multiplicity 2. One map-side-combined
      // aggregation over the two checkpointed RDDs replaces the former
      // count + count + except().isEmpty (three jobs, two of them over
      // a distinct + anti-join subplan) — measured 3 jobs/round saved
      // on every connected-components consumer (q29/q29b/q80/q88/q114/
      // q152), identical stopping decision.
      converged = next.union(edges)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("__c"))
        .filter(col("__c") =!= 2).isEmpty
      edges = next
      i += 1
    }
    // converged edge set is a star forest (member → component min)
    edges.select(col("src").as("id"), col("dst").as("cluster"))
      .union(edges.select(col("dst").as("id"), col("dst").as("cluster")))
      .groupBy(col("id"))
      .agg(min(col("cluster")).as("cluster"))
  }

  /** Cluster summary from pair output: one row per duplicate cluster with
   * its size and id range — the "keep min id, drop the rest" dedup
   * decision table. */
  def dupClusters(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))

  /**
   * End-to-end survivor selection: given near-dup `pairs` over `docs`,
   * keep each duplicate cluster's min-id member and every unpaired doc,
   * dropping the rest — the step that actually shrinks a training corpus.
   *
   * Plan shape: the drop list (cluster members ≠ min id) is sized by the
   * DUPLICATES, not the corpus, and the corpus-side anti join is one
   * shuffle on the id key (AQE will broadcast the drop list when small).
   */
  def deduplicate(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /**
   * Survivor selection with an explicit QUALITY PREFERENCE: keep the
   * best member of each duplicate cluster by `order` (append an id
   * tie-breaker for determinism), not the min id — the production
   * policy when near-dups differ in cleanliness (same article, one copy
   * with boilerplate) and "first crawled" is the wrong winner.
   *
   * `clusters` is any `(id, cluster)` assignment — [[connectedComponents]]
   * over near-dup pairs, or a fingerprint groupBy for exact dups. Docs
   * without a cluster row are unpaired and always survive. Plan shape:
   * one join docs→clusters sized by the CLUSTERED docs (left join keyed
   * on id), a per-cluster `row_number` window over cluster members only,
   * and the anti-join drop list sized by the duplicates.
   */
  def deduplicateBest(docs: DataFrame, idCol: String, clusters: DataFrame,
      order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "pass at least one preference column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster")).orderBy(order: _*)
    val drop = docs
      .join(clusters.select(col("id").as(idCol), col("cluster")), Seq(idCol))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") > 1)
      .select(col(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  // --------------------------------------------- continuous-ingest dedup

  /**
   * Per-doc signature rows for a persisted dedup store: `(id, fp, sh,
   * sig, simh, simh_bits)` — normalized-content fingerprint
   * ([[TextFunctions.fingerprint]]), sorted shingle-hash set, MinHash
   * signature, SimHash. The store is what makes dedup INCREMENTAL at
   * corpus scale: ~hundreds of bytes per accepted document instead of
   * the document itself, so admitting a new crawl batch never re-reads,
   * re-tokenizes, or re-shuffles the accepted corpus — only its
   * signature table.
   *
   * Docs with fewer than `shingleN` tokens get an empty `sh` and a null
   * `sig`: they still participate in exact-fingerprint dedup but are
   * invisible to the band join (no shingles to estimate Jaccard from).
   * Docs with NO tokens get a null `simh` (a majority vote over nothing
   * is not a fingerprint) and are likewise invisible to the Hamming
   * tier ([[crossHammingPairs]]). `simhashBits = 0` skips the simhash
   * entirely (an all-null column, schema-stable for appends) — the
   * extra text walk is ~30% of signature-build cost, so pipelines not
   * running the Hamming tier shouldn't pay it; a store built without
   * it simply yields no Hamming hits.
   *
   * The constant `simh_bits` column records the width `simh` was built
   * at (0 = skipped). It is what lets [[crossHammingPairs]] FAIL LOUDLY
   * when a store and a probe disagree on width — chunk keys computed at
   * the wrong width silently miss essentially every near-dup, the worst
   * possible failure mode for a dedup gate.
   *
   * The repartition barrier mirrors [[minhashNearDups]]: it materializes
   * `sh`/`sig` as exchanged attributes so downstream band-key references
   * don't re-inline the minhash chain (generator projections get no
   * subexpression elimination).
   */
  def signatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 16, simhashBits: Int = 28,
      hashBits: Int = 28): DataFrame = {
    require(simhashBits == 0 || (simhashBits > 0 && simhashBits <= 64),
      s"simhashBits must be 0 (skip) or in (0, 64], got $simhashBits")
    val (shCol, sigOf) = minhashSigsFor(col(textCol), shingleN, k, hashBits)
    docs
      .select(col(idCol).as("id"),
        TextFunctions.fingerprint(col(textCol)).as("fp"),
        shCol.as("sh"),
        (if (simhashBits == 0) lit(null).cast("long")
         else when(size(tokens(col(textCol))) > 0,
           simhashFor(col(textCol), simhashBits))).as("simh"),
        lit(simhashBits).as("simh_bits"),
        // minhash-family width metadata — the crossNearDups mismatch
        // guard, mirroring simh_bits for the Hamming tier
        lit(hashBits).as("hash_bits"))
      .withColumn("sig",
        when(size(col("sh")) > 0, sigOf(col("sh"))))
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
  }

  /**
   * Near-dup pairs between two signature tables (from [[signatures]]) —
   * the batch-vs-store probe of continuous-ingest dedup, and (applied to
   * one table twice, filtered to `id_new < id_old`) the within-batch pair
   * finder.
   *
   * Plan shape: band keys exploded from both signatures, ONE equi-join on
   * the band-key string, first-agreeing-band filter instead of a
   * `distinct` (O(k) integer compares), exact-Jaccard verify on the
   * candidate set only. The store side is never broadcast — it carries
   * the accepted corpus's shingle sets. With `broadcastBatch` the batch
   * side (signatures only, not documents) is broadcast and the store is
   * probed shuffle-free — the right call when a batch is orders of
   * magnitude smaller than the accepted corpus; otherwise a shuffle-hash
   * join on the uniform MD5-derived band key.
   *
   * Output: `(id_new, id_old, est_jaccard, jaccard)`, one row per pair
   * with exact Jaccard ≥ `threshold`.
   */
  /** Fail loudly when two signature tables were built with DIFFERENT
   * MinHash hash families ([[signatures]]' `hashBits`): band keys from a
   * 28-bit and a 64-bit signature can never agree, so a mismatched probe
   * runs without error and silently admits every near-duplicate — the
   * same worst-case failure mode [[requireHammingCompatible]] guards for
   * the simhash tier. Tables without the `hash_bits` metadata column
   * (assembled outside [[signatures]], or persisted before the column
   * existed) pass unverified. Cost: one limit-1 read per side. */
  private def requireMinhashCompatible(batchSigs: DataFrame,
      storeSigs: DataFrame): Unit = {
    // static-first: a [[signatures]]-built frame carries hash_bits as a
    // plan LITERAL — read it from the analyzed plan for free. The
    // dynamic limit-1 fallback (loaded parquet stores: a footer + one
    // row) must never run against a COMPUTED plan, where limit(1) above
    // the signature repartition barrier executes the whole map side
    // (measured 2× on the q88 admit cycle).
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    def widthOf(df: DataFrame): Option[Long] =
      if (!df.schema.fieldNames.contains("hash_bits")) None
      else {
        val static = df.queryExecution.analyzed.collectFirst {
          case p if p.expressions.exists {
                case a: Alias => a.name == "hash_bits" &&
                  a.child.isInstanceOf[Literal]
                case _ => false
              } =>
            p.expressions.collectFirst {
              case a: Alias if a.name == "hash_bits" &&
                  a.child.isInstanceOf[Literal] =>
                a.child.asInstanceOf[Literal].value
                  .asInstanceOf[Number].longValue
            }.get
        }
        static.orElse {
          import org.apache.spark.sql.catalyst.plans.logical._
          val heavy = df.queryExecution.analyzed.collect {
            case p @ (_: Join | _: Aggregate | _: Generate | _: Window |
                      _: Repartition | _: RepartitionByExpression) => p
          }.nonEmpty
          if (heavy) None // computed plan without the literal: skip check
          // null-safe: a store mixing pre-column files with new ones can
          // surface a NULL hash_bits in the sampled row — that is the
          // "persisted before the column existed" case, pass unverified
          else df.select(col("hash_bits").cast("long")).limit(1).collect()
            .headOption.filterNot(_.isNullAt(0)).map(_.getLong(0))
        }
      }
    (widthOf(batchSigs), widthOf(storeSigs)) match {
      case (Some(b), Some(s)) if b != s =>
        throw new IllegalArgumentException(
          s"MinHash width mismatch: batch signatures built at hashBits=$b, " +
            s"store at hashBits=$s — band keys can never agree, so the " +
            "probe would silently admit every near-duplicate. Rebuild one " +
            "side with the other's width.")
      case _ => ()
    }
  }

  def crossNearDups(batchSigs: DataFrame, storeSigs: DataFrame,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.5,
      broadcastBatch: Boolean = false): DataFrame = {
    requireMinhashCompatible(batchSigs, storeSigs)
    val rows = k / bands
    val n = batchSigs.filter(col("sig").isNotNull)
      .select(col("id").as("id_new"), col("sh").as("sh_n"), col("sig").as("sig_n"),
        posexplode(bandKeys(col("sig"), bands, rows)).as(Seq("band_idx", "band")))
    val o = storeSigs.filter(col("sig").isNotNull)
      .select(col("id").as("id_old"), col("sh").as("sh_o"), col("sig").as("sig_o"),
        explode(bandKeys(col("sig"), bands, rows)).as("band"))
    val firstAgreeingBand = (0 until bands).foldRight(lit(-1)) { (bd, rest) =>
      val bandAgrees = (0 until rows)
        .map(r => element_at(col("sig_n"), bd * rows + r + 1) ===
          element_at(col("sig_o"), bd * rows + r + 1))
        .reduce(_ && _)
      when(bandAgrees, lit(bd)).otherwise(rest)
    }
    val joined =
      if (broadcastBatch) o.join(broadcast(n), Seq("band"))
      else n.hint("shuffle_hash").join(o, Seq("band"))
    joined
      .filter(col("id_new") =!= col("id_old"))
      .filter(col("band_idx") === firstAgreeingBand)
      .select(col("id_new"), col("id_old"),
        signatureAgreement(col("sig_n"), col("sig_o"), k).as("est_jaccard"),
        jaccardSorted(col("sh_n"), col("sh_o")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * SimHash Hamming-ball pairs between two signature tables (from
   * [[signatures]]) — the SECOND tier of the continuous-ingest store
   * probe, and (applied to one table twice, filtered to `id_new <
   * id_old`) the within-batch finder. Catches what the MinHash-Jaccard
   * tier ([[crossNearDups]]) structurally misses: shingle Jaccard is
   * word-ORDER-sensitive, so a reshuffled or lightly reordered
   * near-copy shares almost no 3-shingles while its token-set simhash
   * is unchanged — a Hamming hit at distance 0.
   *
   * Plan shape mirrors [[simhashNearDups]]: pigeonhole chunk keys
   * exploded from both `simh` columns, ONE equi-join on the chunk key,
   * first-agreeing-chunk filter instead of a distinct, exact
   * `bit_count(xor)` verify. The store side is never broadcast; with
   * `broadcastBatch` the batch's (id, simh) pairs broadcast and the
   * store is probed shuffle-free. `bits` must match the width the
   * store's signatures were built with ([[signatures]]' `simhashBits`;
   * 64 recommended at corpus scale, 28 for DuckDB-oracle parity).
   *
   * Output: `(id_new, id_old, sh_n, sh_o, hamming)` with
   * `hamming ≤ maxHamming`; null-simh (token-free) docs never pair.
   */
  /** Verify a signature table can serve the Hamming tier at `bits`.
   * The `simh` column must exist — a store persisted before the Hamming
   * tier existed lacks it, and without this check the failure is an
   * unresolved-column AnalysisException deep in the probe plan. When
   * the table carries width metadata ([[signatures]]' `simh_bits`), a
   * non-skipped width must EQUAL `bits`: chunk keys computed at
   * mismatched widths can never agree, so the probe would run without
   * error and silently admit near-duplicates — the worst failure mode a
   * dedup gate has. Width 0 (simhash skipped at build) passes: all-null
   * `simh` yields no hits by documented contract. Tables without the
   * metadata column (assembled outside [[signatures]]) pass unverified.
   * Cost: a schema check plus, when metadata exists, one limit-1 read. */
  private def requireHammingCompatible(sigs: DataFrame, bits: Int,
      side: String): Unit = {
    val fields = sigs.schema.fieldNames.toSet
    if (!fields.contains("simh"))
      throw new IllegalStateException(
        s"$side signature table has no 'simh' column — it predates the " +
          "SimHash Hamming tier. Rebuild it with Dedup.signatures " +
          "(simhashBits > 0) or disable the tier (maxHamming = -1)")
    if (fields.contains("simh_bits"))
      sigs.select(col("simh_bits")).limit(1).collect().headOption
        .map(_.getInt(0)).filter(w => w != 0 && w != bits)
        .foreach(w => throw new IllegalStateException(
          s"$side signature table was built at simhashBits = $w but the " +
            s"Hamming probe is running at bits = $bits — mismatched widths " +
            "silently miss near-dups; probe at the store's width or rebuild"))
  }

  def crossHammingPairs(batchSigs: DataFrame, storeSigs: DataFrame,
      bits: Int = 28, maxHamming: Int = 3,
      broadcastBatch: Boolean = false): DataFrame = {
    val (nChunks, w) = hammingChunks(bits, maxHamming)
    requireHammingCompatible(batchSigs, bits, "batch")
    requireHammingCompatible(storeSigs, bits, "store")
    val n = batchSigs.filter(col("simh").isNotNull)
      .select(col("id").as("id_new"), col("simh").as("sh_n"),
        posexplode(chunkVals(col("simh"), nChunks, w, bits))
          .as(Seq("chunk_idx", "chunk")))
    val o = storeSigs.filter(col("simh").isNotNull)
      .select(col("id").as("id_old"), col("simh").as("sh_o"),
        posexplode(chunkVals(col("simh"), nChunks, w, bits))
          .as(Seq("chunk_idx", "chunk")))
    // same-index chunks only, as part of the equi-join key ([[hammingPairs]])
    val joined =
      if (broadcastBatch) o.join(broadcast(n), Seq("chunk_idx", "chunk"))
      else n.hint("shuffle_hash").join(o, Seq("chunk_idx", "chunk"))
    joined
      .filter(col("id_new") =!= col("id_old"))
      // cheap bit_count verify BEFORE the O(nChunks) dedup chain
      // ([[hammingPairs]] ordering note)
      .withColumn("hamming", hamming(col("sh_n"), col("sh_o")))
      .filter(col("hamming") <= maxHamming)
      .filter(col("chunk_idx") ===
        firstAgreeingChunk(col("sh_n"), col("sh_o"), nChunks, w, bits))
      .select(col("id_new"), col("id_old"), col("sh_n"), col("sh_o"),
        col("hamming"))
  }

  /**
   * Admit a new ingest batch against an accepted-corpus signature store —
   * continuous-crawl dedup that never touches accepted documents:
   *
   *  1. exact: batch docs whose fingerprint is already in the store are
   *     dropped; identical docs WITHIN the batch collapse to the min id;
   *  2. near-dup vs store: batch docs with Jaccard ≥ `threshold` against
   *     any store signature are dropped ([[crossNearDups]]); with
   *     `maxHamming ≥ 0` a SECOND tier also drops batch docs within
   *     SimHash Hamming distance `maxHamming` of any store signature
   *     ([[crossHammingPairs]] — catches token-order rewrites whose
   *     shingle Jaccard is near zero);
   *  3. near-dup within batch: remaining docs cluster via the band join
   *     (plus the Hamming pairs when enabled) + connected components;
   *     each cluster keeps its min id — the same survivor rule as
   *     [[deduplicate]].
   *
   * Returns the surviving rows of `newDocs` (original columns); append
   * `signatures(survivors)` to the store to complete the cycle. Accepted
   * docs are immutable — an admit never revokes one (the contract that
   * distinguishes incremental ingest from re-running batch dedup
   * ([[minhashNearDups]] + [[deduplicate]]) on the union, which could
   * instead keep a new doc and drop an old one).
   *
   * The call EAGERLY materializes the batch's signature table (cached,
   * lineage kept); the returned plan references that cache, so
   * long-running drivers admitting many batches should let Spark's LRU
   * evict old entries or `spark.catalog.clearCache()` between cycles.
   */
  def incrementalDedup(newDocs: DataFrame, idCol: String, textCol: String,
      store: DataFrame, shingleN: Int = 3, k: Int = 16, bands: Int = 4,
      threshold: Double = 0.5, broadcastBatch: Boolean = false,
      maxHamming: Int = -1, simhashBits: Int = 28,
      hashBits: Int = 28): DataFrame = {
    // cache AND eagerly materialize the batch signatures: five consumers
    // follow (exact groupBy, semi join, store probe, self pair join x2)
    // and each would otherwise re-tokenize and re-minhash the batch from
    // raw text — while a lazy cache makes them race to fill it
    // concurrently (measured slower than no cache). Lineage is kept, so
    // executor loss recomputes instead of failing. The batch is the
    // small side by contract; the corpus-scale store is never
    // materialized here. With the Hamming tier off, skip the batch-side
    // simhash walk too (simhashBits = 0)
    val sigs = signatures(newDocs, idCol, textCol, shingleN, k,
      if (maxHamming >= 0) simhashBits else 0, hashBits).cache()
    sigs.count()
    // 1. within-batch exact collapse (store-independent): the min id per
    // batch fingerprint is the group's representative
    val reps = sigs.join(sigs.groupBy(col("fp")).agg(min(col("id")).as("id"))
      .select(col("id")), Seq("id"), "left_semi")
    // 2. FUSED store probe: ONE store pass serves both the exact-
    // fingerprint tier and the Jaccard band tier (guide §1.2, §2.4 —
    // the former spelling scanned the store twice: once projected to
    // fp for the anti join, once through the band explode; for an
    // inline store each pass re-derived the signatures from raw text).
    // Every row explodes to one fp-keyed row plus its band-keyed rows
    // — the "f:" prefix keeps the fp key space disjoint from band keys
    // (which always start "<digit>:") — and both tiers share one
    // exchange. Probing from `reps` instead of the post-exact
    // survivors is equivalent: probes are per-doc independent, so the
    // extra hits are only for docs the exact tier drops anyway, and
    // the drop set is a union.
    requireMinhashCompatible(sigs, store)
    val rowsPerBand = k / bands
    val shT = sigs.schema("sh").dataType
    val sigT = sigs.schema("sig").dataType
    def probeKeyed(df: DataFrame) = {
      val fpRow = struct(concat(lit("f:"), col("fp").cast("string")).as("key"),
        lit(-1).as("band_idx"),
        lit(null).cast(shT).as("sh"), lit(null).cast(sigT).as("sig"))
      // the band-key spelling must stay bit-identical to [[bandKeys]]
      val bandRows = (0 until bands).map { b =>
        struct(
          concat_ws(":", lit(b) +: (0 until rowsPerBand).map(r =>
            element_at(col("sig"), b * rowsPerBand + r + 1)): _*).as("key"),
          lit(b).as("band_idx"), col("sh").as("sh"), col("sig").as("sig"))
      }
      df.select(col("id"),
        explode(when(col("sig").isNotNull, array((fpRow +: bandRows): _*))
          .otherwise(array(fpRow))).as("kr"))
        .select(col("id"), col("kr.key").as("key"),
          col("kr.band_idx").as("band_idx"), col("kr.sh").as("sh"),
          col("kr.sig").as("sig"))
    }
    val bKeys = probeKeyed(reps).select(col("id").as("id_new"), col("key"),
      col("band_idx"), col("sh").as("sh_n"), col("sig").as("sig_n"))
    val oKeys = probeKeyed(store).select(col("id").as("id_old"), col("key"),
      col("sh").as("sh_o"), col("sig").as("sig_o"))
    val probed =
      if (broadcastBatch) oKeys.join(broadcast(bKeys), Seq("key"))
      else bKeys.hint("shuffle_hash").join(oKeys, Seq("key"))
    val firstAgreeingBand = (0 until bands).foldRight(lit(-1)) { (bd, rest) =>
      val bandAgrees = (0 until rowsPerBand)
        .map(r => element_at(col("sig_n"), bd * rowsPerBand + r + 1) ===
          element_at(col("sig_o"), bd * rowsPerBand + r + 1))
        .reduce(_ && _)
      when(bandAgrees, lit(bd)).otherwise(rest)
    }
    val hitJaccard = probed.filter(
      col("key").startsWith("f:") ||
        (col("id_new") =!= col("id_old") &&
          col("band_idx") === firstAgreeingBand &&
          jaccardSorted(col("sh_n"), col("sh_o")) >= threshold))
      .select(col("id_new").as("id"))
    val hitStore = (
      if (maxHamming >= 0)
        hitJaccard.union(
          crossHammingPairs(reps, store, simhashBits, maxHamming, broadcastBatch)
            .select(col("id_new").as("id")))
      else hitJaccard).distinct()
    val s2 = reps.join(hitStore, Seq("id"), "left_anti")
    // 3. within-batch near-dup clusters -> min-id survivors
    val jaccardPairs = crossNearDups(s2, s2, k, bands, threshold)
      .filter(col("id_new") < col("id_old"))
      .select(col("id_new").as("id_a"), col("id_old").as("id_b"))
    val pairs =
      if (maxHamming >= 0)
        jaccardPairs.union(
          crossHammingPairs(s2, s2, simhashBits, maxHamming)
            .filter(col("id_new") < col("id_old"))
            .select(col("id_new").as("id_a"), col("id_old").as("id_b")))
      else jaccardPairs
    val ids = deduplicate(s2.select(col("id")), "id", pairs)
      .withColumnRenamed("id", idCol)
    newDocs.join(ids, Seq(idCol), "left_semi")
  }

  /**
   * Exact duplicate-SUBSTRING span detection — the suffix-array pass of
   * Lee et al., "Deduplicating Training Data Makes Language Models
   * Better" (ACL 2022), re-expressed as a distributed k-gram join (their
   * single-node suffix array cannot shard; the k-gram form finds the
   * same ≥ k-char repeats up to 60-bit hash collisions). The hash-free
   * reference tier is [[duplicateSpansExact]] — distributed suffix
   * ranks via prefix doubling, spec-pinned span-identical to this form
   * on collision-free corpora; this one-round spelling stays the
   * default for cost.
   *
   * A position is "duplicated" when its k-character gram (of the
   * NORMALIZED text — [[TextFunctions.normalizeText]]) occurs at ≥
   * `minCount` positions corpus-wide (cross- or within-document). Per
   * document, duplicated positions at gaps ≤ k merge into maximal spans:
   * any shared substring of length L ≥ k yields exactly one span
   * covering it (its L−k+1 gram starts are ≤ 1 apart). Output:
   * `(doc_id, span_start, span_end, n_grams)` — 1-based inclusive char
   * offsets into the normalized text.
   *
   * Scale shape: |total chars| gram rows is the honest cost of exact
   * substring dedup; both shuffles are keyed by the 60-bit gram hash
   * (uniform — the count agg is map-side combinable, and AQE skew-join
   * covers a corpus-hot phrase in the join-back), then one per-doc
   * window merges runs. Nothing is broadcast or collected.
   */
  /** Positional k-gram hash stream of the NORMALIZED text:
   * `(doc_id, pos, h)` with 1-based char positions. The repartition
   * barrier materializes the normalized text first: lambdas get no
   * subexpression elimination, so an inline normalizeText would re-run
   * the regex chain once per gram position — O(n²) regex work per doc
   * (the winnowFromKgrams hazard; measured 26 s vs 3 s at sf0.1). The
   * hash stream itself is the native KgramHashStream: the composable
   * transform-lambda spelling pays interpreted HOF dispatch per
   * position — ~5× the md5 cost itself (sf0.1: 7 s vs ~2 s). */
  private def kgramStream(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.normalizeText(col(textCol)).as("t"))
      // EXPLICIT width: an argless repartition() is an AQE REBALANCE
      // sized by its INPUT bytes, but the k-gram explode below amplifies
      // rows ~k× — AQE coalesced the whole gram generation onto ONE task
      // (measured at sf0.1: a 1-task 2.3 s stage inside a 3.5 s query).
      // defaultParallelism keeps the spread cluster-derived, never a
      // constant (same convention as [[repartitioned]]).
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col("doc_id"),
        posexplode(kgramHashes(col("t"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))

  /** Join the gram stream to a flagged-hash set and merge hit positions
   * into maximal per-doc spans (gaps ≤ k fuse — any shared substring of
   * length L ≥ k yields exactly one span). Shuffle-hash on the hash key:
   * sorting the full gram stream for an SMJ is the single most expensive
   * step of this plan, and the flagged side is a post-aggregation
   * distinct set — hash-joinable at any scale. */
  private def mergeSpans(grams: DataFrame, flagged: DataFrame,
      k: Int): DataFrame =
    mergeHitPositions(
      grams.join(flagged.hint("shuffle_hash"), Seq("h"))
        .select(col("doc_id"), col("pos")), k)

  /** Merge flagged `(doc_id, pos)` gram starts into maximal per-doc
   * spans: gaps ≤ k fuse, so any shared substring of length L ≥ k
   * yields exactly one span. Shared by the k-gram and suffix-rank
   * span tiers. */
  private def mergeHitPositions(hits: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) <= k, lit(0)).otherwise(lit(1)))
      .withColumn("grp", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .drop("grp")
  }

  def duplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long = 2L): DataFrame = {
    // ONE h-keyed exchange of the gram stream, REUSED by both consumers
    // (guide §2.4 "share one exchange"): the count aggregation and the
    // join-back each need the stream keyed by h, and without the
    // explicit repartition each planned its own subtree — the explode +
    // rolling-hash generation ran TWICE and the aggregation shuffled a
    // second, near-stream-sized (h, partial-cnt) exchange (60-bit hashes
    // barely map-combine). Keyed by h the agg and the shuffle-hash join
    // are both exchange-free above the reused stage. Skew note: same
    // exposure as before — the join-back already keyed the full stream
    // by h; a corpus-hot gram lands in one aggregation partition either
    // way (60-bit hashes are uniform; hot keys are bounded by passage
    // duplication, and the count agg still partially aggregates within
    // the partition before emitting one row).
    val grams = kgramStream(docs, idCol, textCol, k)
      .repartition(col("h"))
    // count argument: never null (pos ≥ 1 always — posexplode index + 1 —
    // and the coalesce is non-null), so count == count(1) bit-for-bit for
    // EVERY input; spelled this way so the aggregate REFERENCES doc_id
    // and pos — otherwise column pruning rewrites this branch's exchange
    // subtree to an h-only projection, the subtrees stop canonicalizing
    // equal, and the ReusedExchange above never fires (verified in the
    // plan: with count(1) the gram stream generated twice)
    val dupHashes = grams.groupBy(col("h"))
      .agg(count(when(col("pos") >= 1,
        coalesce(col("doc_id"), lit(0L)))).as("cnt"))
      .filter(col("cnt") >= minCount)
      .select(col("h"))
    mergeSpans(grams, dupHashes, k)
  }

  /**
   * EXACT duplicate-substring spans via DISTRIBUTED SUFFIX RANKS — the
   * hash-free tier next to [[duplicateSpans]]: same output contract
   * (`(doc_id, span_start, span_end, n_grams)`, 1-based offsets into
   * the normalized text, gaps ≤ k fused), but positions group by their
   * literal k-character substring instead of its 60-bit hash, so there
   * is NO collision caveat at any corpus size. This is Lee et al. 2022's
   * suffix-array pass (ACL 2022, "Deduplicating Training Data Makes
   * Language Models Better") made distributable: their single-node
   * suffix array is replaced by Manber–Myers PREFIX DOUBLING
   * (SIAM J. Comput. 1993) —
   *
   *   k ≤ 32:   no doubling at all — the rolling-hash gram plan plus a
   *             literal-substring verify on the flagged slice
   *             ([[duplicateSpansDirect]]: hash counts are an exact
   *             superset, the literal re-count removes collisions);
   *   prefilter: the same hash pass fronts the seed — hash-singleton
   *             positions freeze immediately with their hash as the
   *             label (unique by singleton-ness, free), so only the
   *             surviving candidates pay string shuffles;
   *   seed:     label each candidate by its literal 32-char substring —
   *             fusing the first five doubling rounds into one pass (a
   *             standard constant-factor move; the doubling structure
   *             is unchanged);
   *   round r:  label by the PAIR (label_L(p), label_L(p + L)), L the
   *             current prefix length — equal label ⟺ equal 2L-char
   *             prefix, missing continuation = sentinel (−1, 0);
   *   finish:   k-char equality from the two overlapping L-wide
   *             windows (label(p), label(p + k − L)), L the last
   *             doubled width ≤ k — the sparse-table trick, so k needs
   *             no padding to a power of two.
   *
   * ⌈log₂(k/32)⌉ rounds, each: one (doc, pos)-keyed self-join to fetch
   * the shifted label, then a relabel spelt as groupBy(key).count +
   * an injective id per DISTINCT key + a join back — map-combinable
   * and AQE-skew-tolerant, so a boilerplate substring repeated millions
   * of times never concentrates into one window task. Equality-exact:
   * any labeling injective on distinct keys works (no rank, no global
   * sort — monotonically_increasing_id over the pinned group table).
   *
   * SINGLETON-GROUP PRUNING makes the round inputs shrink instead of
   * carrying every position through every round: a position whose rank
   * group has size 1 holds a corpus-UNIQUE substring, and rank groups
   * only refine, so it can never be part of a duplicate k-gram — at
   * this round or any later one. Such positions leave the live set but
   * are KEPT as frozen (doc, pos, round, label) rows for the
   * shifted-label lookups of later rounds (a live position may still
   * need its pruned right neighbor's label). Soundness of the frozen
   * labels: every label carries the round that assigned it as a
   * separate key part, so a frozen label can never collide with a
   * later round's labels, and a singleton's label equals nothing but
   * itself — any receiver pairing with a frozen provider forms a
   * singleton group and is itself pruned next round, which is the
   * correct answer (its extension is corpus-unique). Completeness:
   * every sub-window of a genuinely duplicated k-gram is itself
   * duplicated, so all positions a true duplicate's rank chain touches
   * have group size ≥ 2 at every round and are never pruned. On
   * natural corpora the seed round alone removes most positions
   * (measured survivor fractions: SCALING.md).
   *
   * Nothing is collected to the driver at any size (the injective ids
   * need no rank, so no partition-count pass); all state is ≤ the
   * |total chars| position table, shrinking per round.
   *
   * The k-gram form stays the default (one round, no rank state);
   * this tier is the reference its spans are certified against
   * (spec-pinned equal on collision-free corpora, oracle-pinned via
   * literal substring enumeration in DuckDB).
   */
  def duplicateSpansExact(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    if (minCount <= 1L) {
      // count >= 1 holds for EVERY position carrying a full k-gram, so
      // the exact answer is each doc's full normalized text as one span
      // — computed directly rather than routed through the doubling
      // tier, whose hash prefilter and singleton pruning are keyed to
      // "appears at least twice" and would silently drop unique spans
      // at this degenerate (but accepted) parameter
      return docs
        .select(col(idCol).as("doc_id"),
          TextFunctions.normalizeText(col(textCol)).as("t"))
        .filter(length(col("t")) >= k)
        .select(col("doc_id"), lit(1).as("span_start"),
          length(col("t")).as("span_end"),
          (length(col("t")) - lit(k - 1)).cast("long").as("n_grams"))
    }
    if (k <= 32) return duplicateSpansDirect(docs, idCol, textCol, k,
      minCount)
    // seed at 32 literal chars: every doubling round costs two
    // full-table shuffles, while a wider seed only widens the seed
    // round's key (32 B vs the 20 B pair key — the same order), so
    // fusing the first doubling rounds into the seed sort is pure win;
    // k = 400 (Lee 2022's widest window) needs 4 rounds instead of 6
    val seedLen = 32
    // the checkpoint sits on the COMPACT (doc, text) form (1× corpus
    // volume — the order the repartition shuffle writes anyway); every
    // position stream re-derives from the local compact copy, where
    // checkpointing an exploded position table would materialize a
    // ~(seedLen+24)× amplification of the corpus onto executor disks
    val norm = docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.normalizeText(col(textCol)).as("t"))
      // explicit width — the gram stream explodes ~k× downstream; an
      // AQE-coalesced REBALANCE would checkpoint the corpus onto one task
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .filter(length(col("t")) >= 1)
      .localCheckpoint()
    // equality-exact, skew-tolerant relabel: count each key group
    // (map-combinable) and give every DISTINCT key an injective label —
    // no rank, no global sort: ANY labeling injective on distinct keys
    // is equality-exact, so monotonically_increasing_id over the group
    // table (pinned by the eager localCheckpoint so every consumer and
    // every later round sees ONE assignment) is enough. Labels carry
    // their round in a separate column: ids from different rounds can
    // collide numerically, (round, id) never does. Two shuffles per
    // round — the group-by and the label join-back, both AQE-skew-
    // tolerant (a mega-duplicated substring is one GROUP row, and the
    // join back splits its hot key) — where a whole-partition window
    // would funnel it into one task. __n rides for the pruning split.
    def relabel(df: DataFrame, keys: Seq[String]): DataFrame = {
      val groups = df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__n"))
        .withColumn("__rv", monotonically_increasing_id())
        .localCheckpoint()
      df.join(groups, keys)
    }
    // HASH PREFILTER before the seed's literal relabel: the 60-bit
    // rolling-hash gram stream (native kernel, 8-byte keys, no string
    // allocation) counts 32-windows, and positions whose hash bucket is
    // a SINGLETON are frozen immediately — a hash-singleton is a
    // literal-singleton (collisions only merge buckets), and its hash
    // value doubles as its frozen label for free: two hash-frozen
    // positions sharing a label would share a hash, contradicting
    // singleton-ness. Only the surviving candidates (measured 8.3% at
    // k=70/sf0.1, SCALING.md) pay the 32-char-string relabel
    // shuffles.
    // NOTE on exchange sharing: [[duplicateSpans]]/[[duplicateSpansDirect]]
    // share one h-keyed exchange between their two stream consumers; here
    // the stream has THREE consumers with three different column needs
    // (count: h; frozen: doc_id/pos/h; candidates: doc_id/len/pos/h), so
    // column pruning de-aligns any shared exchange's subtrees and the
    // regeneration-per-consumer `def` stays the honest shape.
    def hashStream = norm
      .select(col("doc_id"), length(col("t")).as("len"),
        posexplode(kgramHashes(col("t"), seedLen)))
      .select(col("doc_id"), col("len"), (col("pos") + 1).as("pos"),
        col("col").as("h"))
    val candHash = hashStream.groupBy(col("h"))
      .agg(count(lit(1)).as("__hc")).filter(col("__hc") >= 2)
      .select(col("h"))
    // truncated-tail positions (no full 32-window) are never part of a
    // duplicate k-gram's support, but their labels must exist and be
    // UNIQUE so a live position with a truncated provider can never
    // falsely merge with one whose provider is missing or different —
    // pinned ids (monotonically_increasing_id is assignment-unstable
    // without the checkpoint)
    val tails = norm
      .select(col("doc_id"), explode(sequence(
        greatest(length(col("t")) - lit(seedLen - 2), lit(1)),
        length(col("t")))).as("pos"))
      .select(col("doc_id"), col("pos"), lit(-3).as("rq"),
        monotonically_increasing_id().as("r"))
      .localCheckpoint()
    val hashFrozen = hashStream
      .join(candHash, Seq("h"), "left_anti")
      .select(col("doc_id"), col("pos"), lit(-2).as("rq"), col("h").as("r"))
      .localCheckpoint()
    val candidates = hashStream
      .join(candHash.hint("shuffle_hash"), Seq("h"))
      .select(col("doc_id"), col("len"), col("pos"))
      .join(norm.select(col("doc_id"), col("t")), Seq("doc_id"))
      .select(col("doc_id"), col("len"), col("pos"),
        col("t").substr(col("pos"), lit(seedLen)).as("sub"))
    // one materialization per round (seeded / rel): live and frozen are
    // lazy filters over the checkpointed frame, so every later consumer
    // re-reads local blocks instead of re-running the round's join; the
    // key columns are projected away before the write — labels replace
    // them
    val slim = Seq(col("doc_id"), col("len"), col("pos"), col("__rv"),
      col("__n"))
    val seeded = relabel(candidates, Seq("sub")).select(slim: _*)
      .localCheckpoint()
    var live = seeded.filter(col("__n") >= 2)
      .select(col("doc_id"), col("len"), col("pos"), col("__rv").as("r"))
    // pruned positions stay visible to later rounds' shifted-rank
    // lookups — (round, label)-only; their uniqueness is the contract
    var frozen = List(
      seeded.filter(col("__n") === 1)
        .select(col("doc_id"), col("pos"), lit(0).as("rq"),
          col("__rv").as("r")),
      hashFrozen, tails)
    var half = seedLen
    var round = 0
    while (half * 2 <= k) { // stop at 2^floor(log2 k)
      round += 1
      // all LIVE rows were labeled in the same round, so their label
      // round is implicit; only providers mix rounds and need (rq, r)
      val providers = (live.select(col("doc_id"), col("pos"),
        lit(round - 1).as("rq"), col("r")) :: frozen).reduce(_ union _)
      val shifted = providers.select(col("doc_id"),
        (col("pos") - lit(half)).as("pos"),
        col("rq").as("__r2q"), col("r").as("__r2v"))
      val paired = live.join(shifted, Seq("doc_id", "pos"), "left")
        .select(col("doc_id"), col("len"), col("pos"), col("r"),
          coalesce(col("__r2q"), lit(-1)).as("__r2q"),
          coalesce(col("__r2v"), lit(0L)).as("__r2v"))
      val rel = relabel(paired, Seq("r", "__r2q", "__r2v"))
        .select(slim: _*).localCheckpoint()
      live = rel.filter(col("__n") >= 2)
        .select(col("doc_id"), col("len"), col("pos"), col("__rv").as("r"))
      frozen ::= rel.filter(col("__n") === 1)
        .select(col("doc_id"), col("pos"), lit(round).as("rq"),
          col("__rv").as("r"))
      half *= 2
    }
    // positions carrying a FULL k-gram, keyed by the two overlapping
    // `half`-wide rank windows covering exactly chars [pos, pos+k); a
    // true duplicate's anchor AND its +off window are both live (every
    // sub-window of a duplicated k-gram is duplicated), so the live set
    // alone is complete here
    val off = k - half
    val full = live.filter(col("pos") <= col("len") - lit(k - 1))
      .select(col("doc_id"), col("pos"), col("r").as("k1"))
    // checkpointed: the qualify count and the semi-join probe both read
    // it — without the pin the overlap join would run twice
    val keyed =
      (if (off == 0) full.withColumn("k2", col("k1"))
       else full.join(
         live.select(col("doc_id"), (col("pos") - lit(off)).as("pos"),
           col("r").as("k2")),
         Seq("doc_id", "pos"))).localCheckpoint()
    // qualify (k1, k2) groups with a map-combinable count + semi-join —
    // skew-tolerant where a whole-partition count window would funnel a
    // mega-duplicated passage into one task
    val dupKeys = keyed.groupBy(col("k1"), col("k2"))
      .agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minCount)
      .select(col("k1"), col("k2"))
    val flagged = keyed.join(dupKeys, Seq("k1", "k2"), "left_semi")
      .select(col("doc_id"), col("pos"))
    mergeHitPositions(flagged, k)
  }

  /** The k ≤ 32 regime of [[duplicateSpansExact]]: [[duplicateSpans]]'
   * fast hash plan plus a LITERAL-substring verify on the candidate
   * slice — exact with no rank state, no doubling, no overlap join.
   *
   * Why this shape: hash-bucket counts ≥ minCount give an exact
   * SUPERSET of the duplicated positions (a collision can only merge
   * two groups UPWARD, never hide one), so the 60-bit gram stream —
   * the native rolling-hash kernel, no per-position string allocation,
   * 8-byte shuffle keys — does all the heavy lifting, and the literal
   * `substr` group-count runs only on the flagged slice, removing
   * every collision artifact. Two q63-priced passes + one slice-sized
   * pass, instead of shuffling a k-byte string key per position.
   *
   * Scale notes: the compact normalized text is localCheckpoint-ed at
   * 1× corpus volume (the order the repartition shuffle writes anyway)
   * and the gram stream re-derives from that local copy per consumer —
   * never materialized exploded. The verify slice is checkpointed; its
   * size is the duplicated-region position count (the answer's
   * support), degrading toward ~k× corpus only on a wholly-duplicated
   * corpus — the same bound class as the doubling tier's round state. */
  private def duplicateSpansDirect(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long): DataFrame = {
    val norm = docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.normalizeText(col(textCol)).as("t"))
      // explicit width — see kgramStream: the downstream explode
      // amplifies ~k×, so the AQE REBALANCE under-partitions
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .filter(length(col("t")) >= k)
      .localCheckpoint()
    // ONE h-keyed exchange of the gram stream, REUSED by the count agg
    // and the join-back (guide §2.4; same shape and skew notes as
    // [[duplicateSpans]]) — the stream was generated twice before.
    // The explicit isnotnull(doc_id) makes the candidate join's inferred
    // constraint a no-op (already established), so both branches keep
    // IDENTICAL subtrees and the exchange reuse actually fires. It is
    // output-identical: every output row flows through the inner join on
    // doc_id (null-id rows never surface), and the hash prefilter is a
    // monotone superset gate — a literal-flagged group needs >= minCount
    // rows in the (non-null) verify slice, and those rows' shared hash
    // reaches >= minCount from the non-null docs alone.
    val grams = norm
      .filter(col("doc_id").isNotNull)
      .select(col("doc_id"),
        posexplode(kgramHashes(col("t"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("h"))
      .repartition(col("h"))
    val candHashes = grams.groupBy(col("h"))
      // references doc_id/pos so pruning can't de-align the reused
      // exchange subtrees; never null ⇒ == count(1) ([[duplicateSpans]])
      .agg(count(when(col("pos") >= 1,
        coalesce(col("doc_id"), lit(0L)))).as("__hc"))
      .filter(col("__hc") >= minCount).select(col("h"))
    val candPos = grams.join(candHashes.hint("shuffle_hash"), Seq("h"))
      .select(col("doc_id"), col("pos"))
    // literal verify slice: recover the substring for candidate
    // positions only, then re-count on the literal key
    val withSub = candPos
      .join(norm.select(col("doc_id"), col("t")), Seq("doc_id"))
      .select(col("doc_id"), col("pos"),
        col("t").substr(col("pos"), lit(k)).as("sub"))
      .localCheckpoint() // the re-count and the flag probe both read it
    val dupSubs = withSub.groupBy(col("sub")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minCount).select(col("sub"))
    val flagged = withSub.join(dupSubs, Seq("sub"), "left_semi")
      .select(col("doc_id"), col("pos"))
    mergeHitPositions(flagged, k)
  }

  /**
   * MOST-DUPLICATED PASSAGES leaderboard — the report Lee et al. 2022
   * open with ("the same ~60-word passage appears 60k times"): the
   * `topN` literal k-char substrings of the normalized text by
   * corpus-wide occurrence count, with how many distinct documents
   * carry each. The curation question this answers is "WHAT is being
   * duplicated" (license boilerplate? an SEO template? a scraped
   * notice?) before [[duplicateSpans]]/[[removeDuplicateSpans]] decide
   * what to do about it. Exact — the literal substring is the group
   * key, no hashes anywhere.
   *
   * Scale shape: one position explode (|total chars| rows, the honest
   * cost of substring-level analysis — same as the span tiers), ONE
   * aggregation keyed by the k-char substring (count is map-side
   * combinable; the distinct-doc count rides Spark's two-phase
   * distinct-agg expansion on the same key), then a TakeOrdered top-N —
   * nothing else shuffles, nothing is collected beyond the N-row
   * leaderboard. Ties break by substring for determinism.
   *
   * A hash PRE-AGGREGATION (group by `xxhash64(sub)` first, resolve
   * literal winners after) was designed, built, and MEASURED OUT
   * (SCALING.md, sf0.1): (a) top-M bucket selection with an
   * exactness certificate never certifies on passage-duplication
   * corpora, because every k-window of a duplicated passage ties at
   * the passage count — the top of the bucket-count distribution is a
   * 336-bucket plateau, not a separable margin; (b) even the
   * always-exact cutoff variant (resolve top-N seeds → threshold L →
   * literal agg over buckets ≥ L) measured MORE shuffle (28.6 vs
   * 21.5 MiB) and 2.6× the wall time, because the 8-byte-hash
   * aggregation barely map-combines on near-unique keys while the
   * literal substring keys LZ4-compress to almost hash size, and the
   * cutoff's h-keyed semi-join re-shuffles the full position table.
   * The literal single-agg plan is the measured optimum; ties broken
   * by substring need the literal key in the shuffle anyway.
   *
   * Returns `(sub, n_occurrences, n_docs)`, `n_occurrences >= minCount`,
   * ordered by count desc then substring, at most `topN` rows.
   */
  def topDuplicateSubstrings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      topN: Int,
      minCount: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(topN >= 1, s"topN must be >= 1, got $topN")
    docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.normalizeText(col(textCol)).as("t"))
      // explicit width — the per-position substring explode below
      // amplifies ~|t|×; an AQE REBALANCE sized on the compact text ran
      // the whole explode+partial-agg on ONE task (measured 2.6 s of a
      // 3.7 s query at sf0.1)
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .filter(length(col("t")) >= k)
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), length(col("t")) - lit(k - 1))).as("p"))
      .select(col("doc_id"), col("t").substr(col("p"), lit(k)).as("sub"))
      .groupBy(col("sub"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurrences") >= minCount)
      .orderBy(col("n_occurrences").desc, col("sub"))
      .limit(topN)
  }

  /**
   * Exact-substring DECONTAMINATION spans — the verbatim-overlap tier of
   * train/benchmark decontamination ([[contamination]] is the
   * shingle-containment tier): every maximal span of a candidate
   * document whose ≥ `k`-char substrings (of the normalized text) occur
   * VERBATIM anywhere in the benchmark corpus. The k-gram re-expression
   * of Lee et al. 2022's cross-corpus suffix-array pass; GPT-3 appendix
   * C removed exact 13-gram collisions the same way. Returns
   * `(doc_id, span_start, span_end, n_grams)` over candidates — docs
   * with no verbatim overlap are absent; feed the spans to the cut
   * ([[removeDuplicateSpans]]-style) or drop flagged docs outright.
   *
   * Scale shape: candidate grams are |cand chars| rows, benchmark grams
   * collapse to a DISTINCT hash set before the ONE keyed join (the
   * benchmark side is never broadcast — decontamination against another
   * full split must not assume it fits), then the per-doc window merge.
   * Same two-shuffle shape as [[duplicateSpans]].
   */
  def contaminationSpans(
      candidates: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    val candGrams = kgramStream(candidates, idCol, textCol, k)
    val benchHashes = kgramStream(benchmark, idCol, textCol, k)
      .select(col("h")).distinct()
    mergeSpans(candGrams, benchHashes, k)
  }

  /**
   * The CUT step of substring-level dedup — applies [[duplicateSpans]]'
   * findings by removing every duplicated span from the (normalized)
   * text, the action Lee et al. 2022 actually take on the corpus.
   * Returns `(idCol, n_kept, n_cut, text_clean)`: the normalized text
   * with all spans excised (a doc whose whole text was duplicated
   * yields an empty `text_clean`, not a dropped row).
   *
   * Plan shape: the span finder's two keyed shuffles, then a per-doc
   * rollup of the span list (bounded by doc length — spans are disjoint
   * maximal intervals, so the sorted start/end arrays align
   * positionally) and one map-side cut UDF over the joined text. The
   * corpus-side join is one shuffle on the id; docs without spans pass
   * through the left join unchanged.
   */
  def removeDuplicateSpans(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      minCount: Long = 2L): DataFrame = {
    val spans = duplicateSpans(docs, idCol, textCol, k, minCount)
      .groupBy(col("doc_id"))
      // disjoint intervals: independently sorted starts/ends stay aligned
      .agg(sort_array(collect_list(col("span_start"))).as("ss"),
        sort_array(collect_list(col("span_end"))).as("es"))
      // materialize the per-doc span lists (tiny — one row per doc WITH
      // spans): the corpus left join below otherwise pushes an inferred
      // isnotnull(doc_id) into ONE of the span finder's two gram-stream
      // branches, de-aligning the shared h-keyed exchange
      // ([[duplicateSpans]]) so the stream generates and shuffles twice
      // (observed: two full-stream exchanges without this cut)
      .localCheckpoint()
    val cut = udf((t: String, ss: Seq[Int], es: Seq[Int]) =>
      if (ss == null || ss.isEmpty) t
      else {
        val sb = new StringBuilder
        var from = 0 // 0-based exclusive cursor; spans are 1-based inclusive
        ss.indices.foreach { i =>
          sb.append(t.substring(from, ss(i) - 1))
          from = math.min(es(i), t.length)
        }
        sb.append(t.substring(from)).toString
      })
    docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.normalizeText(col(textCol)).as("t"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("text_clean", cut(col("t"), col("ss"), col("es")))
      .select(col("doc_id").as(idCol),
        length(col("text_clean")).cast("long").as("n_kept"),
        (length(col("t")) - length(col("text_clean"))).cast("long").as("n_cut"),
        col("text_clean"))
  }

  /**
   * LINE-level exact dedup across the corpus — the RefinedWeb/FineWeb
   * boilerplate pass: a line occurring anywhere else in the corpus
   * survives only at its FIRST occurrence (lexicographic min of
   * (doc_id, line_no)); every other occurrence is dropped and each
   * document is reassembled from its surviving lines in order. Catches
   * the navigation/footer/disclaimer lines document-level dedup never
   * sees.
   *
   * Scale shape: one explode to (doc, line_no, line-hash) rows, winner
   * election in one map-side-combinable min aggregation keyed by the
   * 60-bit line hash, a keyed join-back, and one per-doc rollup to
   * rebuild texts — no broadcast, per-doc state bounded by document
   * length. A corpus-hot boilerplate line is ONE group key whose min is
   * combined map-side, so hot lines cost nothing extra.
   *
   * Output: (idCol, n_lines, text) with `n_lines` surviving lines;
   * a document whose every line was claimed by earlier documents is
   * ABSENT from the output (anti-join the input to find fully-consumed
   * docs). Blank lines dedup like any other line — the first blank in
   * the corpus owns them all (exact-line semantics, FineWeb-style).
   */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = docs
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), "\n")))
      .select(col("doc_id"), col("pos").as("line_no"), col("col").as("line"),
        TextFunctions.hash60(col("col")).as("h"))
    val winners = lines
      .groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("line_no"))).as("w"))
      .select(col("h"), col("w.doc_id").as("doc_id"), col("w.line_no").as("line_no"))
    lines.join(winners, Seq("h", "doc_id", "line_no"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        array_join(transform(
          sort_array(collect_list(struct(col("line_no"), col("line")))),
          s => s("line")), "\n").as("text"))
      .withColumnRenamed("doc_id", idCol)
  }

  /**
   * WITHIN-document repeated-line removal — the intra-doc half of the
   * RefinedWeb/FineWeb line-dedup pass: a line repeated inside one
   * document survives only at its first occurrence; occurrences in OTHER
   * documents are untouched (that cross-doc tier is [[dedupLines]]).
   * Catches per-page boilerplate loops (repeated nav blocks, pagination
   * footers, scraped-twice sections) without any corpus-wide election.
   *
   * Scale shape: MAP-ONLY — no explode, no shuffle, no per-line hash
   * table crossing an exchange. The first-occurrence test is
   * `array_position(parts, line) == own index` on the in-memory split
   * array, O(L²) equality compares per doc in the worst case — for the
   * bounded line counts of real documents that is far cheaper than
   * [[dedupLines]]' two corpus-wide shuffles, and it composes with any
   * downstream operator as a plain projection. Docs with no repeats pass
   * through byte-identical.
   *
   * Output: `(idCol, n_lines, n_dropped, text)` — surviving line count,
   * dropped-occurrence count, text rebuilt from surviving lines in
   * original order. Blank lines dedup like any other line (exact-line
   * semantics, matching [[dedupLines]]).
   */
  def dedupLinesWithinDoc(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val parts = split(col(textCol), "\n")
    val kept = filter(parts, (line, i) =>
      array_position(parts, line) === (i + 1).cast("long"))
    docs.select(col(idCol),
      size(kept).cast("long").as("n_lines"),
      (size(parts) - size(kept)).cast("long").as("n_dropped"),
      array_join(kept, "\n").as("text"))
  }

  /**
   * GROUP-SCOPED boilerplate removal — the per-site cleanup tier between
   * [[dedupLinesWithinDoc]] (one doc) and [[dedupLines]] (whole corpus,
   * first-winner): a line is BOILERPLATE for a group (host / source /
   * crawl) when it occurs in at least `minSharePpm` of that group's
   * documents, and every occurrence in the group is dropped — nav bars,
   * cookie banners, footers that repeat across a site's pages but are
   * legitimate content elsewhere. This is the CCNet/trafilatura-style
   * template filter re-expressed relationally: frequency is per-group
   * document frequency, not corpus-global, so one site's template never
   * deletes another site's quote of the same sentence.
   *
   * Exact integer gate: `docs_with_line · 1_000_000 ≥ minSharePpm ·
   * group_docs`, evaluated only for groups with ≥ `minDocs` documents
   * (a 1-page "site" would otherwise declare all its lines boilerplate).
   * Exact-line semantics on the RAW line (hash60 keys, like
   * [[dedupLines]]); blank lines count as lines and typically ARE
   * group-frequent — callers who want them kept should filter the
   * boilerplate set, not this contract.
   *
   * Scale shape: line explode → one (group, line-hash) count over the
   * DISTINCT (doc, line) pairs (map-side combinable), one broadcast-able
   * group-size join (|groups| rows), then a left_anti hash join of the
   * line stream against the flagged set keyed by (group, h) — the
   * flagged side is post-aggregation small but is JOINED, never
   * collected, so a pathological template-heavy corpus degrades
   * gracefully. Reassembly is the same per-doc sort-merge as
   * [[dedupLines]]. Docs whose every line is boilerplate still appear
   * (n_lines = 0, empty text) via the final left join back to the doc
   * universe.
   *
   * Returns `(idCol, n_lines, n_dropped, text)`.
   */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, minSharePpm: Long = 500000L,
      minDocs: Long = 2L): DataFrame = {
    require(minSharePpm > 0, s"minSharePpm must be > 0, got $minSharePpm")
    // NULL text behaves like empty text: split(NULL) is NULL (no
    // exploded lines AND size() = -1 for the total), which would emit
    // n_dropped = -1 — coalesce both reads to "" instead
    val rawText = coalesce(col(textCol), lit(""))
    val lines = docs
      .select(col(idCol).as("doc_id"), col(groupCol).as("g"),
        posexplode(split(rawText, "\n")))
      .select(col("doc_id"), col("g"), col("pos").as("line_no"),
        col("col").as("line"), TextFunctions.hash60(col("col")).as("h"))
    val groupDocs = docs.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("gdocs"))
    val flagged = lines.select(col("g"), col("h"), col("doc_id")).distinct()
      .groupBy(col("g"), col("h")).agg(count(lit(1)).as("docs_with"))
      .join(groupDocs, Seq("g"))
      .filter(col("gdocs") >= minDocs &&
        col("docs_with") * lit(1000000L) >= lit(minSharePpm) * col("gdocs"))
      .select(col("g"), col("h"))
    val kept = lines.join(flagged.hint("shuffle_hash"), Seq("g", "h"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        array_join(transform(
          sort_array(collect_list(struct(col("line_no"), col("line")))),
          s => s("line")), "\n").as("text"))
    docs.select(col(idCol).as("doc_id"),
        (size(split(rawText, "\n"))).cast("long").as("__total"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id").as(idCol),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        (col("__total") - coalesce(col("n_lines"), lit(0L))).as("n_dropped"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /**
   * Train/benchmark DECONTAMINATION — the n-gram overlap check every
   * serious pre-training pipeline runs before shipping a split (GPT-3
   * appendix C; Dodge et al. 2021 C4 analysis): flag each candidate
   * document sharing word-shingle hashes with the benchmark corpus,
   * reporting how many of its distinct shingles collide
   * (`n_shared`/`n_grams`/`containment`). Docs with zero overlap are
   * absent — `deduplicate`-style anti-join the output against the
   * corpus to get the clean set.
   *
   * SEMANTICS — set containment, not occurrence-weighted:
   * [[shingleHashes]] dedups per document, so
   * `containment = |distinct(cand) ∩ distinct(bench)| / |distinct(cand)|`
   * — a gram repeated 50× in a candidate counts ONCE in both numerator
   * and denominator (a doc is "contaminated" by covering benchmark
   * content, not by repeating it). The occurrence-weighted variant
   * (every gram instance counted — more sensitive to templated spam
   * that loops one benchmark phrase) is also legitimate; compose it
   * from [[wordShingles]] without the distinct if wanted. `EdgeSpec`
   * pins the choice on a doc where the two disagree.
   *
   * Scale shape: both sides explode to (doc, shingle-hash) rows and meet
   * in ONE shuffle join keyed by the 28-bit hash (uniform); the
   * per-candidate rollup is a second keyed shuffle. The benchmark is NOT
   * broadcast — benchmark suites are small today, but contamination
   * against another 100 TB split must not assume that.
   */
  def contamination(
      candidates: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      shingleN: Int = 3): DataFrame = {
    def grams(df: DataFrame) = df
      .select(col(idCol).as("doc_id"), shingleHashes(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
    val cand = grams(candidates)
      .select(col("doc_id"), size(col("sh")).as("n_grams"), explode(col("sh")).as("h"))
    val bench = grams(benchmark).select(explode(col("sh")).as("h")).distinct()
    cand.join(bench, Seq("h"))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_shared"))
      .select(col("doc_id"), col("n_shared"), col("n_grams"),
        (col("n_shared").cast("double") / col("n_grams").cast("double"))
          .as("containment"))
  }

  /**
   * SORTED-NEIGHBORHOOD candidate pairs (Hernández & Stolfo 1995) — the
   * third blocking family next to LSH banding and pigeonhole chunking:
   * sort the corpus by a blocking key and emit every pair within
   * `window` positions of each other. Catches near-dups whose PREFIX
   * agrees (title/URL/leading-text twins) with O(N·w) candidates and
   * no hash-collision luck; the classic complement to minhash when the
   * duplication mode is "same start, edited tail".
   *
   * Scale spelling: the global sort order comes from
   * [[Relational.globalRank]] (range-partitioned two-pass rank — NO
   * single-task window), and the ±window neighborhood becomes
   * `explode(sequence(rk+1, least(rk+window, maxRk)))` + one
   * rank-keyed equi join — shuffle keyed by integer rank, never a
   * range join, never a cross product. The probe sequence is clamped
   * at the corpus's max rank (one 1-row aggregate, broadcast), so a
   * caller-sized window never fans out dead probes past the end of
   * the corpus — `window = N` costs O(N²/2) candidates, not O(N·w)
   * with a dead tail. The key must make (key, id) a total order — id
   * breaks ties, so any key expression is safe.
   *
   * Returns `(id_a, id_b, key_a, key_b, gap)` with rank(a) < rank(b)
   * and `gap = rank(b) − rank(a) ∈ [1, window]`.
   */
  def sortedNeighborhoodPairs(docs: DataFrame, idCol: String,
      key: Column, window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val ranked = Relational.globalRank(
      docs.select(col(idCol).as("id"), key.as("k")),
      Seq(col("k"), col("id")), "rk")
    // clamp probes at the last rank: a probe past maxRk joins nothing —
    // pure dead shuffle rows when callers pass large windows. The last
    // row (rk = maxRk) is filtered BEFORE the sequence so the clamp
    // never produces a descending sequence(rk+1, rk).
    val maxRk = ranked.agg(max(col("rk")).as("__maxrk"))
    val probes = ranked.join(broadcast(maxRk))
      .filter(col("rk") < col("__maxrk"))
      .select(col("id").as("id_a"), col("k").as("key_a"),
        col("rk").as("__rka"),
        explode(sequence(col("rk") + 1,
          least(col("rk") + window, col("__maxrk")))).as("rk"))
    probes.join(
        ranked.select(col("id").as("id_b"), col("k").as("key_b"), col("rk")),
        Seq("rk"))
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        (col("rk") - col("__rka")).as("gap"))
  }

  /** Multi-pass sorted-neighborhood (the full Hernández-Stolfo recipe):
   * one [[sortedNeighborhoodPairs]] pass per blocking key, pairs
   * normalized to unordered (a < b by id) and merged — a near-dup only
   * needs to sort close under ONE key to be caught, which is the
   * method's recall argument. Returns `(a, b, n_passes)` where
   * `n_passes` counts the keys that proposed the pair. */
  def sortedNeighborhoodMultiKey(docs: DataFrame, idCol: String,
      keys: Seq[Column], window: Int): DataFrame = {
    require(keys.nonEmpty, "need at least one blocking key")
    keys.zipWithIndex.map { case (k, i) =>
      sortedNeighborhoodPairs(docs, idCol, k, window)
        .select(least(col("id_a"), col("id_b")).as("a"),
          greatest(col("id_a"), col("id_b")).as("b"),
          lit(i).as("__pass"))
    }.reduce(_.unionByName(_))
      .groupBy(col("a"), col("b"))
      .agg(countDistinct(col("__pass")).as("n_passes"))
  }

  /** Spread a (typically single-file) input across the session's
   * parallelism for CPU-bound pair scans. */
  private def repartitioned(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

}
