package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Unigram-LM subword tokenizer — the OTHER production tokenizer family
 * (Kudo 2018, "Subword Regularization: Improving Neural Network
 * Translation Models with Multiple Subword Candidates"; the SentencePiece
 * `unigram` trainer), next to [[Bpe]]: instead of greedy merge rules, a
 * vocabulary of pieces with log-probabilities trained by EM, encoded by
 * Viterbi best segmentation.
 *
 * Spark-first scale shape, mirroring [[Bpe]]'s boundary: ONE corpus pass
 * builds the word-TYPE table ([[Bpe.wordTypes]] — vocab-scale, not
 * corpus-scale); seeding is one substring-count aggregation over types
 * ([[seedCounts]], the SQL-expressible surface); each EM round is ONE
 * aggregation over the cached type table with the piece table riding the
 * closure (KBs — the same pattern as broadcast codebooks), so a full
 * train is `emIters + postPruneIters + 1` Spark jobs regardless of vocab
 * size — never a job per piece. The TYPE table itself is never collected;
 * only piece-count tables (vocab-scale) cross to the driver.
 *
 * Determinism (the repo's cross-engine contract): piece scores are
 * integer MICRO-UNITS (`floor(ln(cnt/total)·1e6)` on exact long counts);
 * per-type expected counts are accumulated in fixed scan order and
 * micro-rounded BEFORE the cross-type sum, so EM results are
 * bit-identical across partitionings; Viterbi sums long micro-scores
 * exactly, ties resolved to the longest piece. EM itself is not
 * ANSI-SQL-expressible (dynamic-programming recurrence per word), so the
 * trained vocabulary and encode queries are GOLDEN-pinned (SURVEY §7.5)
 * while the seed-count surface carries a DuckDB oracle.
 */
object Unigram {

  /** piece → score in log-prob micro-units (`floor(ln p · 1e6)`). */
  type Model = Map[String, Long]

  /** Score for a character absent from the vocabulary at encode time
   * (emitted as [[UnkPiece]]): ~ln(1e-13)·1e6, far below any trained
   * piece so <unk> never outcompetes a real tiling. */
  val UnkScoreMicro: Long = -30000000L
  val UnkPiece: String = "<unk>"

  private def utf8Lt(a: String, b: String): Boolean =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0

  /**
   * Seed-candidate substring counts over the word-type table: every
   * substring of length 1..`maxPieceLen` of every type, weighted by type
   * frequency — `(piece, cnt)`. The distributed, SQL-expressible part of
   * seeding (q111's oracle surface): one generator projection + one
   * hash aggregation; candidate volume is |types|·len·maxPieceLen rows
   * pre-agg, combined map-side into the (bounded) piece key space.
   */
  def seedCounts(types: DataFrame, maxPieceLen: Int): DataFrame = {
    require(maxPieceLen >= 1, s"maxPieceLen $maxPieceLen")
    val w = col("word")
    val subs = flatten(transform(
      sequence(lit(0), length(w) - 1),
      s => transform(
        sequence(lit(1), least(lit(maxPieceLen), length(w) - s)),
        l => w.substr(s + 1, l))))
    types.select(explode(subs).as("piece"), col("n"))
      .groupBy(col("piece")).agg(sum(col("n")).as("cnt"))
  }

  private def logMicro(num: Long, den: Long): Long = {
    require(num > 0 && den > 0, s"logMicro($num, $den)")
    math.floor(math.log(num.toDouble / den.toDouble) * 1e6).toLong
  }

  /** Initial model from seed counts: ALL single characters (the coverage
   * floor — they are never pruned, so every training word stays
   * tileable) plus the top multi-character candidates by
   * (cnt DESC, piece UTF-8 ASC) up to `seedSize` pieces total; scores
   * are log relative frequencies over the selected set. */
  def seedModel(types: DataFrame, maxPieceLen: Int, seedSize: Int): Model = {
    val counts = seedCounts(types, maxPieceLen)
    val chars = counts.filter(length(col("piece")) === 1)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(chars.length <= seedSize,
      s"${chars.length} distinct characters exceed seedSize = $seedSize")
    // over-fetch multi-char candidates by the char count, then cut on the
    // driver — one TakeOrdered, vocab-scale rows
    val multi = counts.filter(length(col("piece")) > 1)
      .orderBy(col("cnt").desc, col("piece"))
      .limit(seedSize).collect().map(r => r.getString(0) -> r.getLong(1))
      .take(seedSize - chars.length)
    val sel = chars ++ multi
    val total = sel.map(_._2).sum
    sel.map { case (p, c) => p -> logMicro(c, total) }.toMap
  }

  /**
   * One EM round's EXPECTED piece counts over the type table —
   * forward-backward per word under the current model, emitted as
   * micro-unit longs `(piece, micro)`. Each type's lattice is
   * O(len·maxPieceLen) cells; expected counts accumulate in fixed scan
   * order and micro-round per type, so the cross-type long sum is
   * order-independent (partition-invariant, spec-pinned). One
   * mapPartitions + one hash aggregation; `model` rides the closure.
   */
  def emCounts(types: DataFrame, model: Model, maxPieceLen: Int): DataFrame = {
    val spark = types.sparkSession
    import spark.implicits._
    val logp = model.map { case (p, m) => p -> m / 1e6 }
    types.select(col("word").cast("string"), col("n").cast("long"))
      .as[(String, Long)]
      .mapPartitions { it =>
        it.flatMap { case (word, n) =>
          expectedCounts(word, logp, maxPieceLen) match {
            case None => Iterator.empty
            case Some(acc) => acc.iterator.map { case (p, e) =>
              (p, microRound(e * n * 1e6))
            }
          }
        }
      }
      .toDF("piece", "micro")
      .groupBy(col("piece")).agg(sum(col("micro")).as("micro"))
  }

  private def microRound(x: Double): Long = {
    val y = math.abs(x)
    val f = math.floor(y)
    val r = if (y - f >= 0.5) f + 1 else f
    (if (x < 0) -r else r).toLong
  }

  private def logSumExp(xs: Seq[Double]): Double = {
    val m = xs.max
    if (m == Double.NegativeInfinity) m
    else m + math.log(xs.foldLeft(0.0)((a, x) => a + math.exp(x - m)))
  }

  /** Forward-backward expected piece counts for one word (probability
   * each piece occurrence is used, summed per piece, insertion-ordered).
   * None if the word cannot be tiled (a char missing from the model —
   * cannot happen during training, where all chars are seeded). */
  private[data] def expectedCounts(
      word: String, logp: Map[String, Double], maxPieceLen: Int)
      : Option[scala.collection.mutable.LinkedHashMap[String, Double]] = {
    val L = word.length
    val neg = Double.NegativeInfinity
    val alpha = Array.fill(L + 1)(neg); alpha(0) = 0.0
    var i = 1
    while (i <= L) {
      val cands = for {
        j <- math.max(0, i - maxPieceLen) until i
        p = word.substring(j, i)
        lp <- logp.get(p)
        if alpha(j) != neg
      } yield alpha(j) + lp
      if (cands.nonEmpty) alpha(i) = logSumExp(cands)
      i += 1
    }
    val z = alpha(L)
    if (z == neg) return None
    val beta = Array.fill(L + 1)(neg); beta(L) = 0.0
    var j = L - 1
    while (j >= 0) {
      val cands = for {
        i2 <- (j + 1) to math.min(L, j + maxPieceLen)
        p = word.substring(j, i2)
        lp <- logp.get(p)
        if beta(i2) != neg
      } yield lp + beta(i2)
      if (cands.nonEmpty) beta(j) = logSumExp(cands)
      j -= 1
    }
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var s = 0
    while (s < L) {
      var e = s + 1
      while (e <= math.min(L, s + maxPieceLen)) {
        val p = word.substring(s, e)
        logp.get(p).foreach { lp =>
          if (alpha(s) != neg && beta(e) != neg) {
            val ex = math.exp(alpha(s) + lp + beta(e) - z)
            acc.update(p, acc.getOrElse(p, 0.0) + ex)
          }
        }
        e += 1
      }
      s += 1
    }
    Some(acc)
  }

  /** M-step on exact micro counts: new score = `floor(ln(cnt/total)·1e6)`.
   * Pieces with zero expected count drop out UNLESS single characters
   * (coverage floor — they keep a 1-micro count). */
  private def mStep(model: Model, counts: Map[String, Long]): Model = {
    val kept = model.keysIterator.flatMap { p =>
      val c = counts.getOrElse(p, 0L)
      if (c > 0L) Some(p -> c)
      else if (p.length == 1) Some(p -> 1L)
      else None
    }.toArray
    val total = kept.map(_._2).sum
    kept.map { case (p, c) => p -> logMicro(c, total) }.toMap
  }

  /** Keep all single characters plus the top multi-char pieces by
   * (score DESC, piece UTF-8 ASC) until `vocabSize`. */
  private def prune(model: Model, vocabSize: Int): Model = {
    val (chars, multi) = model.partition(_._1.length == 1)
    require(chars.size <= vocabSize,
      s"${chars.size} single characters exceed vocabSize = $vocabSize")
    val keep = multi.toArray
      .sortWith { case ((pa, sa), (pb, sb)) =>
        if (sa != sb) sa > sb else utf8Lt(pa, pb) }
      .take(vocabSize - chars.size)
    chars ++ keep
  }

  /**
   * Full trainer: seed (`seedSize` = 4× target by default) → `emIters`
   * EM rounds → prune to `vocabSize` → `postPruneIters` EM rounds to
   * re-normalize the survivors. The type table is computed ONCE
   * ([[Bpe.wordTypes]]) and cached across rounds.
   */
  def train(
      docs: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 4, seedSize: Int = 0,
      emIters: Int = 2, postPruneIters: Int = 1): Model = {
    // cache HERE (not in trainFromTypes): the seed pass and every EM
    // round re-read the type table; FromTypes callers pass an already-
    // materialized table, for which an inner cache held the same small
    // table twice (ADVICE r12)
    val types = Bpe.wordTypes(docs, textCol).cache()
    try trainFromTypes(types, vocabSize, maxPieceLen, seedSize, emIters,
      postPruneIters)
    finally { types.unpersist(); () }
  }

  /** [[train]] from a PRECOMPUTED `(word, n)` type table — the
   * shared-pass twin of [[Bpe.trainMergesFromTypes]]: a tokenizer-
   * comparison pipeline training BPE and unigram on the same corpus
   * pays the corpus-wide word-type aggregation once. */
  def trainFromTypes(
      typeTable: DataFrame, vocabSize: Int,
      maxPieceLen: Int = 4, seedSize: Int = 0,
      emIters: Int = 2, postPruneIters: Int = 1): Model = {
    // callers pass a MATERIALIZED table ([[train]] caches; pipeline
    // callers checkpoint) — no inner cache (ADVICE r12)
    val seedN = if (seedSize > 0) seedSize else vocabSize * 4
    val types = typeTable.select(col("word"), col("n"))
    var model = seedModel(types, maxPieceLen, seedN)
    def round(m: Model): Model = {
      // bounded collect: one row per surviving piece — vocab-scale
      val counts = emCounts(types, m, maxPieceLen)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      mStep(m, counts)
    }
    for (_ <- 0 until emIters) model = round(model)
    model = prune(model, vocabSize)
    for (_ <- 0 until postPruneIters) model = round(model)
    model
  }

  /** Viterbi best segmentation under long micro-scores — exact integer
   * DP, ties to the LONGEST piece (then transitively deterministic).
   * Characters outside the model emit [[UnkPiece]] at [[UnkScoreMicro]]. */
  private[data] def viterbi(
      word: String, model: Model, maxPieceLen: Int): Seq[String] = {
    val L = word.length
    if (L == 0) return Nil
    val best = Array.fill(L + 1)(Long.MinValue); best(0) = 0L
    val back = Array.fill(L + 1)(-1)
    var i = 1
    while (i <= L) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        if (best(j) != Long.MinValue) {
          val p = word.substring(j, i)
          val sc = model.get(p) match {
            case Some(s) => Some(s)
            case None => if (i - j == 1) Some(UnkScoreMicro) else None
          }
          sc.foreach { s =>
            val cand = best(j) + s
            // strict > keeps the smallest j (longest piece) on ties
            if (cand > best(i)) { best(i) = cand; back(i) = j }
          }
        }
        j += 1
      }
      i += 1
    }
    val out = List.newBuilder[String]
    val stack = scala.collection.mutable.Stack.empty[String]
    var pos = L
    while (pos > 0) {
      val j = back(pos)
      val p = word.substring(j, pos)
      stack.push(if (model.contains(p)) p else UnkPiece)
      pos = j
    }
    out ++= stack
    out.result()
  }

  /** Map-only corpus encode: [[TextFunctions.bpeTokens]] pre-split (the
   * same pre-token contract as [[Bpe.encode]]), Viterbi per word, pieces
   * concatenated per document. The model rides the closure; Viterbi
   * results are memoized per WORD in a per-task cache (vocab-scale,
   * like [[sampleEncode]]'s lattice cache — a corpus is mostly repeated
   * types). */
  def encode(
      docs: DataFrame, idCol: String, textCol: String, model: Model,
      maxPieceLen: Int = 4): DataFrame = {
    val cache = scala.collection.mutable.HashMap.empty[String, Seq[String]]
    val enc = udf((words: Seq[String]) =>
      words.flatMap(w =>
        cache.getOrElseUpdate(w, viterbi(w, model, maxPieceLen))))
    docs.select(col(idCol),
      enc(TextFunctions.bpeTokens(col(textCol))).as("pieces"))
  }

  /** Content-addressed uniform in [0, 1) — deterministic per (salt, doc,
   * word, step), reproducible across partitionings and reruns.
   * MurmurHash3 (a pure function of the characters, stable across JVMs),
   * NOT MessageDigest — the draw sits on the per-step hot path and these
   * queries are golden-pinned, so cryptographic portability buys
   * nothing. */
  private def hashUniform(s: String): Double =
    (scala.util.hashing.MurmurHash3.stringHash(s) & 0x7fffffff) /
      2147483648.0

  /**
   * SUBWORD REGULARIZATION sampling (the actual contribution of Kudo
   * 2018): draw a segmentation from the lattice with probability
   * ∝ P(seg)^α — forward-filtering backward-sampling. α → ∞ recovers
   * Viterbi; α = 0 is uniform over segmentations; training-time values
   * (~0.1–1) expose the model to alternative tilings of the same word.
   * The uniform draws come from [[md5Uniform]] on (salt, step), so a
   * given `u` function makes the draw pure and testable.
   */
  private def lpAt(
      word: String, model: Model, j: Int, i: Int): Option[Double] = {
    val p = word.substring(j, i)
    model.get(p).map(_ / 1e6)
      .orElse(if (i - j == 1) Some(UnkScoreMicro / 1e6) else None)
  }

  /** Forward α-tempered log-partition lattice — a pure function of the
   * WORD (not the occurrence), so corpus encodes memoize it per task
   * and repeated words (Zipf — most of a corpus) pay only the cheap
   * backward draw. */
  private def forwardAlphas(
      word: String, model: Model, alpha: Double, maxPieceLen: Int)
      : Array[Double] = {
    val L = word.length
    val neg = Double.NegativeInfinity
    val a = Array.fill(L + 1)(neg); a(0) = 0.0
    var i = 1
    while (i <= L) {
      val cands = for {
        j <- math.max(0, i - maxPieceLen) until i
        lp <- lpAt(word, model, j, i)
        if a(j) != neg
      } yield a(j) + alpha * lp
      if (cands.nonEmpty) a(i) = logSumExp(cands)
      i += 1
    }
    a
  }

  private def backwardSample(
      word: String, a: Array[Double], model: Model, alpha: Double,
      maxPieceLen: Int, u: Int => Double): Seq[String] = {
    val buf = scala.collection.mutable.ListBuffer.empty[String]
    var pos = word.length
    var step = 0
    while (pos > 0) {
      val cands = (math.max(0, pos - maxPieceLen) until pos).flatMap { j =>
        lpAt(word, model, j, pos).collect {
          case lp if a(j) != Double.NegativeInfinity =>
            (j, math.exp(a(j) + alpha * lp - a(pos)))
        }
      }
      val r = u(step) * cands.iterator.map(_._2).sum
      var acc = 0.0
      var pick = cands.last._1
      val it = cands.iterator
      var done = false
      while (it.hasNext && !done) {
        val (j, p) = it.next(); acc += p
        if (r < acc) { pick = j; done = true }
      }
      val piece = word.substring(pick, pos)
      buf.prepend(if (model.contains(piece)) piece else UnkPiece)
      pos = pick
      step += 1
    }
    buf.toList
  }

  private[data] def sampleSegmentation(
      word: String, model: Model, alpha: Double, maxPieceLen: Int,
      u: Int => Double): Seq[String] =
    if (word.isEmpty) Nil
    else backwardSample(word, forwardAlphas(word, model, alpha, maxPieceLen),
      model, alpha, maxPieceLen, u)

  /** Map-only SAMPLED corpus encode — one segmentation drawn per word at
   * temperature `alpha`, deterministic per (salt, doc id, word index):
   * re-running with a new salt is a fresh regularization epoch, same
   * salt reproduces bit-identically. The forward lattice is memoized per
   * WORD in a per-task cache (the captured map deserializes empty into
   * each task) — bounded by the word-TYPE count, the same vocab-scale
   * boundary as the trainer; only the backward draw is per-occurrence. */
  def sampleEncode(
      docs: DataFrame, idCol: String, textCol: String, model: Model,
      alpha: Double, salt: String = "", maxPieceLen: Int = 4): DataFrame = {
    val cache = scala.collection.mutable.HashMap.empty[String, Array[Double]]
    val enc = udf((id: String, words: Seq[String]) =>
      words.zipWithIndex.flatMap { case (w, wi) =>
        if (w.isEmpty) Nil
        else {
          val a = cache.getOrElseUpdate(w,
            forwardAlphas(w, model, alpha, maxPieceLen))
          backwardSample(w, a, model, alpha, maxPieceLen,
            step => hashUniform(s"$salt:$id:$wi:$step"))
        }
      })
    docs.select(col(idCol),
      enc(col(idCol).cast("string"),
        TextFunctions.bpeTokens(col(textCol))).as("pieces"))
  }

  /** Train-once/encode-many persistence (parquet `(piece, score_micro)`),
   * bit-exact round-trip like the LM/BM25/merge models. */
  def saveModel(spark: SparkSession, model: Model, path: String): Unit = {
    import spark.implicits._
    model.toSeq.toDF("piece", "score_micro")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def loadModel(spark: SparkSession, path: String): Model =
    spark.read.parquet(path).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
}
