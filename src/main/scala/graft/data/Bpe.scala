package graft.data

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Byte-pair-encoding vocabulary induction — the tokenizer-training step
 * of an LLM data pipeline (Sennrich, Haddow & Birch 2016, "Neural Machine
 * Translation of Rare Words with Subword Units"), Spark-first.
 *
 * The scalable shape is the paper's own trick: merges are learned from
 * the WORD-TYPE table (distinct pre-tokens with corpus frequencies), which
 * is orders of magnitude smaller than the corpus — ~1e6–1e8 types for a
 * web-scale corpus vs ~1e13 running tokens. One corpus-wide aggregation
 * builds the type table ([[wordTypes]]); training then runs the
 * INCREMENTAL Sennrich loop on the collected type table ([[trainMerges]]):
 * after each argmax only the types containing the merged pair are
 * re-segmented and only their pair-count DELTAS applied — O(affected
 * types) per merge, no Spark job in the loop, so a realistic 30k-merge
 * vocabulary is minutes of driver time, not 30k scheduled jobs. The type
 * table is vocab-scale (KBs–GBs, never corpus-scale), which is why
 * collecting it is the honest 100 TB shape — the same boundary as
 * collecting PQ codebooks or k-means cells; [[trainMergesDistributed]]
 * keeps the all-Spark per-iteration aggregation (one hash agg per merge
 * over the cached type table) for type tables beyond driver memory, and
 * the two are spec-pinned to produce bit-identical merge ladders.
 *
 * Pre-tokenization is the shared [[TextFunctions.bpeTokens]] regex
 * (GPT-2-style split into letter runs / digit runs / single punctuation),
 * so learned merges never cross pre-token boundaries — the same contract
 * real BPE tokenizers (GPT-2, RoBERTa) enforce with their pre-split.
 *
 * Encoding ([[encode]]) is map-only: the ranked merge list rides the UDF
 * closure (KBs — vocab-sized, like broadcast codebooks), each word is
 * segmented by applying merges in rank order, and no shuffle touches the
 * corpus.
 */
object Bpe {

  /** Pre-token word types with corpus frequencies — the one corpus pass.
   * (word, n) with n = total occurrences of the pre-token in `textCol`. */
  def wordTypes(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFunctions.bpeTokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Segment one word under a ranked merge list: each merge, in rank
   * order, collapses every adjacent (l, r) occurrence leftmost-first —
   * the classic BPE apply. Pure JVM kernel shared by training (pair
   * recount) and corpus encode, so the two can never disagree. */
  private[data] def segmentWord(
      word: String, merges: Seq[(String, String)]): Seq[String] = {
    // split on CODE POINTS, not UTF-16 units — an astral-plane character
    // (emoji) must stay one symbol, matching code-point `substr`/`length`
    // semantics in the SQL oracle
    var syms: Array[String] = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    merges.foreach { case (l, r) =>
      if (syms.length >= 2) {
        val out = Array.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
            out += (l + r); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms.toSeq
  }

  /** Adjacent symbol-pair counts over the type table after applying an
   * existing merge list — iteration k of the trainer. With `merges = Nil`
   * this is plain weighted character-bigram counting (the SQL-expressible
   * oracle surface, q86). Output: (l, r, cnt). */
  def pairCounts(
      types: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val seg = udf((w: String) => segmentWord(w, merges))
    types.select(seg(col("word")).as("syms"), col("n"))
      .filter(size(col("syms")) >= 2)
      .select(posexplode(col("syms")).as(Seq("i", "l")), col("syms"), col("n"))
      .filter(col("i") < size(col("syms")) - 1)
      .select(col("l"), element_at(col("syms"), col("i") + 2).as("r"), col("n"))
      .groupBy(col("l"), col("r")).agg(sum(col("n")).as("cnt"))
  }

  /** Strict UTF-8 binary order — how Spark's `orderBy` compares string
   * columns (UTF8String is byte-compared), replicated on the driver so
   * [[trainMerges]]' tie-breaks match [[trainMergesDistributed]]'
   * `orderBy(cnt.desc, l, r)` exactly, astral-plane symbols included
   * (Java String.compareTo would order surrogates differently). */
  private def utf8Cmp(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def utf8Lt(a: String, b: String): Boolean = utf8Cmp(a, b) < 0

  /**
   * Learn up to `nMerges` ranked merges from the corpus — the
   * INCREMENTAL Sennrich trainer. ONE corpus pass builds the word-type
   * table ([[wordTypes]]); it is then collected (vocab-scale by
   * construction — guarded by `maxTypes`) and the merge loop runs on
   * the driver, maintaining pair counts by DELTA: each merge
   * re-segments only the types whose symbol stream contains the merged
   * pair and adjusts only their adjacent-pair counts, and the argmax
   * reads the head of an ordered count index maintained alongside
   * (O(log P) per delta, not an O(P) scan per merge — the scan would
   * swamp the delta savings once the pair map reaches millions of
   * entries). Per-merge cost is O(types containing the pair · log P),
   * and no Spark job runs inside the loop — a 30k-merge production
   * vocabulary is driver minutes. Semantics are identical to [[trainMergesDistributed]]
   * (bit-identical ladders, spec-pinned): same leftmost-first merge
   * application, same (cnt DESC, l, r) argmax with UTF-8 binary
   * tie-break, same `minCount` early stop.
   */
  def trainMerges(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L, maxTypes: Long = 20000000L): Seq[(String, String)] = {
    // cache HERE (not in FromTypes): the guard count and the collect
    // below share one corpus pass; FromTypes callers pass an already-
    // materialized (checkpointed) table, for which an inner cache held
    // the same small table twice (ADVICE r12)
    val types = wordTypes(docs, textCol).cache()
    try trainMergesFromTypes(types, nMerges, minCount, maxTypes)
    finally { types.unpersist(); () }
  }

  /** [[trainMerges]] from a PRECOMPUTED `(word, n)` type table — lets a
   * pipeline that also needs the types for other steps (e.g.
   * [[vocabularyFromTypes]]'s alphabet) pay the corpus aggregation ONCE and
   * share it (checkpoint the table at the call site); semantics are
   * exactly [[trainMerges]]'. Callers should pass a MATERIALIZED table
   * (checkpointed or cached) — the guard count and the collect below
   * each read it once. */
  def trainMergesFromTypes(
      types: DataFrame, nMerges: Int,
      minCount: Long = 2L, maxTypes: Long = 20000000L): Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    val typesDf = types.select(col("word"), col("n"))
    val collected = {
      val nTypes = typesDf.count()
      require(nTypes <= maxTypes,
        s"$nTypes word types exceed maxTypes = $maxTypes; raise the cap or " +
          "use trainMergesDistributed (all-Spark per-iteration aggregation)")
      // bounded collect: the word-TYPE table — vocab-scale, not corpus-scale
      typesDf.collect()
    }
    val syms = new Array[Array[String]](collected.length)
    val freq = new Array[Long](collected.length)
    var i = 0
    while (i < collected.length) {
      syms(i) = collected(i).getString(0).codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
      freq(i) = collected(i).getLong(1)
      i += 1
    }
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    // the argmax structure: (cnt, l, r) under (cnt DESC, l, r UTF-8 asc),
    // kept in lockstep with `counts` by remove-old/insert-new on every
    // delta — head() IS the next merge, O(log P) per update instead of a
    // full O(P) scan per merge (which would swamp the delta savings at a
    // production 30k-merge vocabulary: nMerges × millions of pairs)
    val byCount = new java.util.TreeSet[(Long, String, String)](
      new java.util.Comparator[(Long, String, String)] {
        def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(y._1, x._1)
          if (c != 0) c
          else {
            val c2 = utf8Cmp(x._2, y._2)
            if (c2 != 0) c2 else utf8Cmp(x._3, y._3)
          }
        }
      })
    // pair -> type indices that contained it when last touched (may go
    // stale after later merges; re-checked against the live symbol
    // stream before use — `counts` alone is authoritative)
    val occurs = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    def addPairs(idx: Int, sign: Long): Unit = {
      val s = syms(idx)
      var j = 0
      while (j + 1 < s.length) {
        val p = (s(j), s(j + 1))
        val old = counts.getOrElse(p, 0L)
        val c = old + sign * freq(idx)
        if (old != 0L) byCount.remove((old, p._1, p._2))
        if (c == 0L) counts.remove(p)
        else { counts.update(p, c); byCount.add((c, p._1, p._2)); () }
        if (sign > 0)
          occurs.getOrElseUpdate(p,
            scala.collection.mutable.ArrayBuffer.empty[Int]) += idx
        j += 1
      }
    }
    i = 0
    while (i < syms.length) { addPairs(i, 1L); i += 1 }

    // leftmost-first single-merge application — the same scan as
    // segmentWord's per-merge step, so cumulative application over the
    // ladder is exactly segmentWord(word, merges)
    def applyMerge(s: Array[String], l: String, r: String): Array[String] = {
      val out = Array.newBuilder[String]
      var j = 0
      while (j < s.length) {
        if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
          out += (l + r); j += 2
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

    var merges = Vector.empty[(String, String)]
    var exhausted = false
    while (merges.size < nMerges && !exhausted) {
      // head of the order = (max cnt, then smallest l, r) — the exact
      // argmax the old full scan computed
      val top = if (byCount.isEmpty) null else byCount.first()
      if (top == null || top._1 < minCount) exhausted = true
      else {
        val (_, bl, br) = top
        merges = merges :+ ((bl, br))
        occurs.remove((bl, br)).foreach(_.foreach { idx =>
          if (containsPair(syms(idx), bl, br)) {
            addPairs(idx, -1L)
            syms(idx) = applyMerge(syms(idx), bl, br)
            addPairs(idx, 1L)
          }
        })
        // a merged pair's adjacency cannot reappear (later merges only
        // create pairs involving their new concatenated symbol), so
        // dropping its occurs entry is safe
      }
    }
    merges
  }

  /**
   * All-Spark trainer — ONE hash aggregation + 1-row argmax collect per
   * merge over the cached type table, re-segmenting every type under the
   * merges learned so far. O(nMerges² · types) total work and one Spark
   * job per iteration, so it trails [[trainMerges]] badly at real vocab
   * sizes — kept for type tables beyond driver memory and as the
   * semantics reference the incremental trainer is spec-pinned against.
   */
  def trainMergesDistributed(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L): Seq[(String, String)] = {
    require(nMerges >= 0, s"nMerges must be >= 0, got $nMerges")
    val types = wordTypes(docs, textCol).cache()
    try {
      var merges = Vector.empty[(String, String)]
      var exhausted = false
      while (merges.size < nMerges && !exhausted) {
        val top = pairCounts(types, merges)
          .filter(col("cnt") >= minCount)
          .orderBy(col("cnt").desc, col("l"), col("r"))
          .limit(1).collect()
        if (top.isEmpty) exhausted = true
        else merges = merges :+ ((top(0).getString(0), top(0).getString(1)))
      }
      merges
    } finally { types.unpersist(); () }
  }

  /**
   * Rank-lookup segmentation — [[segmentWord]]'s scale twin for ENCODE:
   * instead of walking the full merge list per word (O(nMerges · len),
   * ruinous at a production 30k-merge vocabulary), repeatedly merge the
   * lowest-RANK adjacent pair present (hash lookup per pair,
   * O(len²·lookup) per word, independent of vocab size — the shape real
   * BPE tokenizers use). Provably identical output: a trained merge
   * consuming a symbol always out-ranks the merge that created it (the
   * symbol must exist before the pair can be counted), so pairs created
   * by applying merge k can only have rank > k — the min-rank-present
   * order therefore coincides with full rank-order application, and
   * within one pair both spellings merge leftmost-first.
   * `BpeSpec` pins the equivalence on every fixture.
   */
  private[data] def segmentWordRanked(
      word: String, rank: collection.Map[(String, String), Int]): Seq[String] = {
    var syms: Array[String] = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    var done = rank.isEmpty
    while (!done && syms.length >= 2) {
      // lowest-rank adjacent pair present in the current symbol stream
      var best = Int.MaxValue
      var j = 0
      while (j + 1 < syms.length) {
        rank.get((syms(j), syms(j + 1))).foreach(r => if (r < best) best = r)
        j += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        // merge ALL its occurrences leftmost-first (segmentWord's scan)
        val out = Array.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && rank.get((syms(i), syms(i + 1)))
              .contains(best)) {
            out += (syms(i) + syms(i + 1)); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms.toSeq
  }

  /** The ranked merge table as a DataFrame — the persistence / query
   * surface: (rank, l, r), rank 0 = first (highest-priority) merge. */
  def mergesDf(
      spark: SparkSession, merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "l", "r")
  }

  /** Map-only corpus encode: pre-tokenize, segment each pre-token under
   * the ranked merges ([[segmentWordRanked]] — per-word cost independent
   * of vocab size), flatten — adds `outCol` (array<string> subword
   * tokens). The rank map rides the closure (vocab-sized, KBs). */
  def encode(
      docs: DataFrame, textCol: String, merges: Seq[(String, String)],
      outCol: String = "bpe_tokens"): DataFrame = {
    // reverse so a (never-trained, but possible hand-built) duplicate
    // pair keeps its FIRST rank — the one segmentWord would apply at
    val rank: Map[(String, String), Int] = merges.zipWithIndex.reverse.toMap
    val segAll = udf((ws: Seq[String]) =>
      ws.flatMap(w => segmentWordRanked(w, rank)))
    docs.withColumn(outCol, segAll(TextFunctions.bpeTokens(col(textCol))))
  }

  /**
   * The tokenizer VOCABULARY induced by a `(word, n)` type table
   * ([[wordTypes]]) + merge ladder — the id space a training pipeline
   * feeds the model: base alphabet first
   * (every distinct code-point symbol of the word types, UTF-8
   * binary order, ids `0..A-1`), then one entry per merge in rank order
   * — the GPT-2 layout, which DEDUPES: two merges whose concatenations
   * spell the same token (impossible for trained ladders' first
   * occurrence vs. later ones only via e.g. ("ab","c") and ("a","bc"),
   * which hand-built ladders [[encode]] accepts can contain) collapse
   * to the FIRST rank's id, keeping ids dense — no dead rows in an
   * embedding matrix sized by vocab length, and `encodeIds`' token→id
   * map has exactly one id per token. Takes the type table rather than
   * the corpus so that a tokenize-to-ids pipeline, which needs BOTH the
   * merges ([[trainMergesFromTypes]]) and the alphabet, runs the
   * corpus-wide [[wordTypes]] aggregation once. A distinct over the
   * exploded symbols, alphabet-sized collect; deterministic, so the id
   * assignment is stable across partitionings. Returns `(id, token)`
   * pairs.
   */
  def vocabularyFromTypes(
      types: DataFrame,
      merges: Seq[(String, String)]): Seq[(Int, String)] = {
    // code-point splitting via the same kernel as segmentWord, so
    // vocabulary symbols are exactly the symbols segmentation emits
    // (an astral-plane character is ONE symbol, not two UTF-16 halves)
    val cpSplit = udf((w: String) => w.codePoints().toArray
      .map(cp => new String(Character.toChars(cp))).toSeq)
    val alphabet = types
      .select(explode(cpSplit(col("word"))).as("sym"))
      .distinct()
      .collect().map(_.getString(0))
      .sortWith(utf8Lt)
    val mergeTokens = merges.map { case (l, r) => l + r }
    // distinct keeps the first occurrence — merge tokens can't collide
    // with the single-code-point alphabet, so this only collapses
    // duplicate merge spellings onto their earliest rank
    (alphabet.toSeq ++ mergeTokens).distinct.zipWithIndex
      .map { case (t, i) => (i, t) }
  }

  /**
   * Map-only encode to VOCABULARY IDS: [[encode]]'s subword stream
   * mapped through the `(token → id)` table ([[vocabularyFromTypes]] — rides the
   * closure, vocab-sized); symbols outside the vocabulary (characters
   * never seen in the training corpus) become `unkId`, the standard
   * UNK policy. Adds `outCol` (array<int>).
   */
  def encodeIds(
      docs: DataFrame, textCol: String, merges: Seq[(String, String)],
      vocab: Seq[(Int, String)], unkId: Int = -1,
      outCol: String = "token_ids"): DataFrame = {
    val byToken: Map[String, Int] = vocab.map { case (i, t) => (t, i) }.toMap
    val rank: Map[(String, String), Int] = merges.zipWithIndex.reverse.toMap
    val segAll = udf((ws: Seq[String]) =>
      ws.flatMap(w => segmentWordRanked(w, rank))
        .map(t => byToken.getOrElse(t, unkId)))
    docs.withColumn(outCol, segAll(TextFunctions.bpeTokens(col(textCol))))
  }
}
