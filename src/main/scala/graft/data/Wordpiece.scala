package graft.data

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * WordPiece vocabulary induction and encoding — the third tokenizer
 * family next to [[Bpe]] (merge by raw pair count) and [[Unigram]]
 * (EM-pruned piece LM): WordPiece (Schuster & Nakajima 2012; the BERT
 * tokenizer) merges the pair maximizing the LIKELIHOOD gain
 * `count(ab) / (count(a) · count(b))` — a pair of rare-but-always-
 * together symbols beats a pair of frequent-but-independent ones, which
 * is exactly where it diverges from BPE's count argmax.
 *
 * Spark-first shape is [[Bpe]]'s: ONE corpus pass builds the word-type
 * table ([[Bpe.wordTypes]] — vocab-scale by construction), training runs
 * on the driver over the collected types. The incremental structure adds
 * one WordPiece-specific wrinkle: a merge changes the SYMBOL counts of
 * its two parts, which rescores every pair touching either symbol — so
 * alongside the pair-count deltas the trainer keeps a pairs-by-symbol
 * index and rescores only the affected pairs (O(neighbors · log P) per
 * merge, no full scan, no Spark job in the loop).
 *
 * Symbols are POSITION-AWARE, as in BERT: a word-initial "a" and a
 * continuation "##a" are different symbols with different counts, merges
 * never cross the boundary (`(l, r) → l + strip##(r)` keeps `l`'s
 * flavor), and the learned vocabulary is directly the greedy
 * longest-match-first encoder's dictionary ([[encode]]). Scores compare
 * as IEEE doubles (deterministic on every JVM; ties break on UTF-8
 * (l, r)); no SQL oracle reproduces the training loop cross-engine, so
 * values are golden-pinned and the trainer is spec-pinned against a
 * from-scratch recount reference.
 */
object Wordpiece {

  val Unk = "[UNK]"
  val Cont = "##"

  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Word → position-aware initial symbols: code-point split, `##` on
   * every non-initial symbol ("hello" → h, ##e, ##l, ##l, ##o). */
  private[data] def initialSymbols(word: String): Array[String] = {
    val cps = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    cps.zipWithIndex.map { case (c, i) => if (i == 0) c else Cont + c }
  }

  /** Merged symbol text: `l` keeps its flavor, `r` drops its `##`. */
  private[data] def mergeSym(l: String, r: String): String =
    l + (if (r.startsWith(Cont)) r.substring(Cont.length) else r)

  /**
   * Learn a WordPiece vocabulary of up to `vocabSize` pieces from the
   * corpus. The initial alphabet (every word-initial char + every
   * `##`-continuation char present) is always included — callers wanting
   * BERT's reserved tokens prepend them. Stops early when no pair
   * reaches `minCount` (rare-pair merges are noise, same contract as
   * [[Bpe.trainMerges]]). Returns pieces in creation order: alphabet in
   * UTF-8 order, then merges as learned — deterministic end to end.
   */
  def train(docs: DataFrame, textCol: String, vocabSize: Int,
      minCount: Long = 2L, maxTypes: Long = 20000000L): Seq[String] = {
    require(vocabSize >= 0, s"vocabSize must be >= 0, got $vocabSize")
    val typesDf = Bpe.wordTypes(docs, textCol).cache()
    val collected = try {
      val nTypes = typesDf.count()
      require(nTypes <= maxTypes,
        s"$nTypes word types exceed maxTypes = $maxTypes")
      typesDf.collect() // bounded: the word-TYPE table, vocab-scale
    } finally { typesDf.unpersist(); () }
    trainFromTypes(
      collected.map(r => r.getString(0) -> r.getLong(1)), vocabSize, minCount)
  }

  /** Driver kernel over the collected (word, freq) type table — shared
   * by [[train]] and the spec's from-scratch reference harness. */
  private[data] def trainFromTypes(types: Array[(String, Long)],
      vocabSize: Int, minCount: Long): Seq[String] = {
    val syms = types.map { case (w, _) => initialSymbols(w) }
    val freq = types.map(_._2)

    val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val symCounts = scala.collection.mutable.HashMap.empty[String, Long]
    // ordered by score DESC (exact-rational compare via Double is
    // deterministic; ties on UTF-8 l then r), kept in lockstep with the
    // counts: every pair-count OR side-symbol-count change removes the
    // old entry and inserts the rescored one
    def scoreOf(p: (String, String), c: Long): Double =
      c.toDouble / (symCounts(p._1).toDouble * symCounts(p._2).toDouble)
    val byScore = new java.util.TreeSet[(Double, String, String)](
      new java.util.Comparator[(Double, String, String)] {
        def compare(x: (Double, String, String), y: (Double, String, String)): Int = {
          val c = java.lang.Double.compare(y._1, x._1)
          if (c != 0) c
          else {
            val c2 = utf8Cmp(x._2, y._2)
            if (c2 != 0) c2 else utf8Cmp(x._3, y._3)
          }
        }
      })
    // entries currently in byScore, so rescoring can remove the exact
    // stale tuple (score is not recomputable once symCounts moved on)
    val inSet = scala.collection.mutable.HashMap.empty[(String, String), Double]
    val pairsBySym = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.HashSet[(String, String)]]
    val occurs = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]

    def reinsert(p: (String, String)): Unit = {
      inSet.remove(p).foreach(s => byScore.remove((s, p._1, p._2)))
      pairCounts.get(p).foreach { c =>
        val s = scoreOf(p, c)
        byScore.add((s, p._1, p._2))
        inSet.update(p, s)
      }
    }

    // walk a type's symbol stream, applying `sign` to pair AND symbol
    // counts; returns the pairs + symbols it touched (for rescoring)
    def applyType(idx: Int, sign: Long,
        touchedPairs: scala.collection.mutable.HashSet[(String, String)],
        touchedSyms: scala.collection.mutable.HashSet[String]): Unit = {
      val s = syms(idx)
      var j = 0
      while (j < s.length) {
        val newC = symCounts.getOrElse(s(j), 0L) + sign * freq(idx)
        if (newC == 0L) symCounts.remove(s(j)) else symCounts.update(s(j), newC)
        touchedSyms += s(j)
        if (j + 1 < s.length) {
          val p = (s(j), s(j + 1))
          val c = pairCounts.getOrElse(p, 0L) + sign * freq(idx)
          if (c == 0L) pairCounts.remove(p) else pairCounts.update(p, c)
          touchedPairs += p
          if (sign > 0) {
            occurs.getOrElseUpdate(p,
              scala.collection.mutable.ArrayBuffer.empty[Int]) += idx
            pairsBySym.getOrElseUpdate(p._1,
              scala.collection.mutable.HashSet.empty[(String, String)]) += p
            pairsBySym.getOrElseUpdate(p._2,
              scala.collection.mutable.HashSet.empty[(String, String)]) += p
          }
        }
        j += 1
      }
    }

    val init = scala.collection.mutable.HashSet.empty[(String, String)]
    val initS = scala.collection.mutable.HashSet.empty[String]
    var i = 0
    while (i < syms.length) { applyType(i, 1L, init, initS); i += 1 }
    pairCounts.keysIterator.foreach(reinsert)

    val alphabet = symCounts.keysIterator.toArray.sortWith(utf8Cmp(_, _) < 0)
    // the documented contract is "alphabet always included": a vocabSize
    // below the alphabet would silently drop characters and turn every
    // word containing one into [UNK] — fail loudly instead
    require(vocabSize >= alphabet.length,
      s"vocabSize ($vocabSize) smaller than the initial alphabet " +
        s"(${alphabet.length} symbols) — every piece of the alphabet " +
        "must fit or encoding degenerates to [UNK]")
    var vocab = Vector.empty[String] ++ alphabet

    def applyMerge(s: Array[String], l: String, r: String): Array[String] = {
      val out = Array.newBuilder[String]
      var j = 0
      while (j < s.length) {
        if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
          out += mergeSym(l, r); j += 2
        } else { out += s(j); j += 1 }
      }
      out.result()
    }
    def containsPair(s: Array[String], l: String, r: String): Boolean = {
      var j = 0
      while (j + 1 < s.length) {
        if (s(j) == l && s(j + 1) == r) return true
        j += 1
      }
      false
    }

    var exhausted = false
    while (vocab.size < vocabSize && !exhausted) {
      val top = if (byScore.isEmpty) null else byScore.first()
      if (top == null || pairCounts.getOrElse((top._2, top._3), 0L) < minCount)
        exhausted = true
      else {
        val (bl, br) = (top._2, top._3)
        val touchedPairs = scala.collection.mutable.HashSet.empty[(String, String)]
        val touchedSyms = scala.collection.mutable.HashSet.empty[String]
        occurs.remove((bl, br)).foreach(_.foreach { idx =>
          if (containsPair(syms(idx), bl, br)) {
            applyType(idx, -1L, touchedPairs, touchedSyms)
            syms(idx) = applyMerge(syms(idx), bl, br)
            applyType(idx, 1L, touchedPairs, touchedSyms)
          }
        })
        // rescore: pairs whose count changed, plus every pair adjacent
        // to a symbol whose count changed (their denominators moved)
        touchedSyms.foreach(s =>
          pairsBySym.get(s).foreach(_.foreach(touchedPairs += _)))
        touchedPairs.foreach(reinsert)
        vocab = vocab :+ mergeSym(bl, br)
      }
    }
    vocab
  }

  /**
   * Greedy longest-match-first WordPiece encode (the BERT algorithm):
   * per word, take the longest vocab piece matching at the cursor
   * (continuation positions try the `##`-prefixed form); a word with any
   * unmatched position becomes a single [[Unk]]. Map-only — the
   * vocab rides the UDF closure (vocab-scale, like broadcast codebooks);
   * no shuffle touches the corpus. Output: the [[Bpe]]-style exploded
   * `(id, word_idx, piece_idx, piece)` frame.
   */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String]): DataFrame = {
    val vset = vocab.toSet
    val maxLen = if (vocab.isEmpty) 1 else vocab.iterator.map(_.length).max
    val seg = udf { (w: String) =>
      if (w == null || w.isEmpty) Seq.empty[String]
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var pos = 0
        var failed = false
        while (pos < w.length && !failed) {
          val prefix = if (pos == 0) "" else Cont
          var end = math.min(w.length, pos + maxLen)
          var hit: String = null
          while (hit == null && end > pos) {
            val cand = prefix + w.substring(pos, end)
            if (vset.contains(cand)) hit = cand else end -= 1
          }
          if (hit == null) failed = true
          else { out += hit; pos = end }
        }
        if (failed) Seq(Unk) else out.toSeq
      }
    }
    docs
      .select(col(idCol).as("id"),
        posexplode(TextFunctions.bpeTokens(col(textCol)))
          .as(Seq("word_idx", "word")))
      .select(col("id"), col("word_idx"),
        posexplode(seg(col("word"))).as(Seq("piece_idx", "piece")))
  }

  /** Per-piece usage stats of an encode — the vocabulary-quality panel
   * (pieces, counts, UNK rate feed tokenizer-selection decisions). */
  def pieceStats(encoded: DataFrame): DataFrame = {
    val total = encoded.agg(count(lit(1)).as("__t"))
    encoded.groupBy(col("piece"))
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("piece"), col("n"),
        expr("n * 1000000 div __t").as("share_ppm"))
  }
}
