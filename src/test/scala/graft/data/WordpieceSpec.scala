package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * WordPiece trainer + encoder ([[Wordpiece]]): likelihood-ratio argmax
 * (hand case where it diverges from BPE's count argmax), incremental
 * trainer pinned against a from-scratch recount reference, position-aware
 * symbols, greedy longest-match encode.
 */
class WordpieceSpec extends SparkSpec {
  import spark.implicits._

  /** From-scratch reference: recompute every pair and symbol count by a
   * full walk per merge, full argmax scan — O(merges · types · len), the
   * obviously-correct spelling the incremental trainer must match. */
  private def referenceTrain(types: Array[(String, Long)],
      vocabSize: Int, minCount: Long): Seq[String] = {
    def utf8Lt(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes("UTF-8"), b.getBytes("UTF-8")) < 0
    var syms = types.map { case (w, _) => Wordpiece.initialSymbols(w).toSeq }
    val freq = types.map(_._2)
    def symCounts: Map[String, Long] =
      syms.zip(freq).flatMap { case (s, f) => s.map(_ -> f) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    def pairCounts: Map[(String, String), Long] =
      syms.zip(freq).flatMap { case (s, f) =>
        s.zip(s.drop(1)).map(p => p -> f)
      }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val alphabet = symCounts.keys.toSeq.sortWith(utf8Lt)
    require(vocabSize >= alphabet.size)
    var vocab = alphabet.toVector
    var done = false
    while (vocab.size < vocabSize && !done) {
      val sc = symCounts; val pc = pairCounts
      val scored = pc.toSeq.map { case (p, c) =>
        (c.toDouble / (sc(p._1).toDouble * sc(p._2).toDouble), p, c) }
      val best = scored.sortWith { case ((s1, p1, _), (s2, p2, _)) =>
        if (s1 != s2) s1 > s2
        else if (p1._1 != p2._1) utf8Lt(p1._1, p2._1)
        else utf8Lt(p1._2, p2._2)
      }.headOption
      best match {
        case Some((_, (l, r), c)) if c >= minCount =>
          syms = syms.map { s =>
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < s.length) {
              if (j + 1 < s.length && s(j) == l && s(j + 1) == r) {
                out += Wordpiece.mergeSym(l, r); j += 2
              } else { out += s(j); j += 1 }
            }
            out.toSeq
          }
          vocab = vocab :+ Wordpiece.mergeSym(l, r)
        case _ => done = true
      }
    }
    vocab
  }

  test("likelihood argmax diverges from BPE's count argmax by design") {
    // "xy" always co-occur (count 4, each symbol count 4 -> score 0.25);
    // "ab" is more frequent (count 6) but a/b also appear apart
    // (counts 10, 10 -> score 0.06). BPE merges (a,##b); WordPiece (x,##y).
    val types = Array(
      ("ab", 6L), ("xy", 4L),
      ("az", 4L), ("qb", 4L))
    val vocab = Wordpiece.trainFromTypes(types, vocabSize = 20, minCount = 2L)
    val alphaCount = vocab.count(!_.contains("##")) + vocab.count(_.startsWith("##"))
    val firstMerge = vocab.drop(
      vocab.indexWhere(p => p.length > 1 && !p.startsWith("##")))
    assert(firstMerge.head === "xy", vocab.mkString(","))
    // BPE on the same types picks the raw-count winner (a, ##b) -> "ab"
    // (wordTypes spelling differs, so compare over the chars directly):
    // pair counts: (a,##b)=6 > (x,##y)=4
    assert(vocab.contains("ab")) // still learned, later
  }

  test("incremental trainer == from-scratch recount reference") {
    val rng = new scala.util.Random(13)
    val sylls = Seq("ab", "cd", "ef", "gh", "ij", "kl")
    val types = (1 to 120).map { i =>
      val w = (0 to rng.nextInt(2) + 1)
        .map(_ => sylls(rng.nextInt(sylls.size))).mkString
      (w + (if (i % 7 == 0) "q" else ""), (rng.nextInt(40) + 1).toLong)
    }.distinct.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }
      .toArray
    for (vs <- Seq(19, 25, 60)) {
      val inc = Wordpiece.trainFromTypes(types, vs, minCount = 2L)
      val ref = referenceTrain(types, vs, minCount = 2L)
      assert(inc === ref, s"vocabSize=$vs")
    }
  }

  test("property: incremental == reference on random type tables") {
    // 20 seeded random tables; the reference recount is O(merges·types·
    // len), so sizes stay small — the one-fixture equality test above
    // covers a bigger instance
    for (seed <- 1 to 20) {
      val rng = new scala.util.Random(seed)
      val alpha = "abcdef"
      val types = (1 to 12 + rng.nextInt(20)).map { _ =>
        val w = (0 to rng.nextInt(5)).map(_ => alpha(rng.nextInt(alpha.length)))
          .mkString
        (w, (rng.nextInt(30) + 1).toLong)
      }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toArray
      val vs = 12 + rng.nextInt(25)
      val inc = Wordpiece.trainFromTypes(types, vs, minCount = 2L)
      val ref = referenceTrain(types, vs, minCount = 2L)
      assert(inc === ref, s"seed=$seed vocabSize=$vs types=${types.toSeq}")
    }
  }

  test("train is deterministic and position-aware over a DataFrame") {
    val docs = Seq((1L, "hello hello world"), (2L, "help held hello"))
      .toDF("doc_id", "text")
    val v1 = Wordpiece.train(docs, "text", vocabSize = 15)
    val v2 = Wordpiece.train(docs, "text", vocabSize = 15)
    assert(v1 === v2)
    // position-aware alphabet: word-initial h and continuation ##l both
    // present as distinct symbols
    assert(v1.contains("h") && v1.contains("##l"))
    assert(v1.forall(p => p.nonEmpty))
  }

  test("greedy encode: longest match first, ## continuations, UNK teeth") {
    val vocab = Seq("h", "##e", "##l", "##o", "hell", "##lo", "w")
    val docs = Seq((1L, "hello hw hx")).toDF("doc_id", "text")
    val got = Wordpiece.encode(docs, "doc_id", "text", vocab)
      .orderBy(col("word_idx"), col("piece_idx"))
      .select(col("word_idx"), col("piece"))
      .as[(Int, String)].collect().toSeq
    // "hello": longest-first -> hell + ##o (not h ##e ##l ##l ##o)
    assert(got.filter(_._1 == 0).map(_._2) === Seq("hell", "##o"))
    // "hw": h matches, then ##w missing -> whole word UNK
    assert(got.filter(_._1 == 1).map(_._2) === Seq(Wordpiece.Unk))
    assert(got.filter(_._1 == 2).map(_._2) === Seq(Wordpiece.Unk))
  }

  test("encode round-trips under a trained vocab; stats sum to total") {
    val docs = Seq(
      (1L, "running runner runs run"),
      (2L, "walking walker walks walk"),
      (3L, "running walking running")).toDF("doc_id", "text")
    val vocab = Wordpiece.train(docs, "text", vocabSize = 40)
    val enc = Wordpiece.encode(docs, "doc_id", "text", vocab)
    // trained vocab covers its own corpus: no UNK, and pieces rebuild
    // each word exactly (strip ## and concat)
    assert(enc.filter(col("piece") === Wordpiece.Unk).count() === 0)
    val rebuilt = enc
      .groupBy(col("id"), col("word_idx"))
      .agg(concat_ws("", sort_array(collect_list(
        struct(col("piece_idx"), col("piece")))).getField("piece")).as("w"))
      .withColumn("w", regexp_replace(col("w"), "##", ""))
    val words = docs
      .select(col("doc_id").as("id"),
        posexplode(TextFunctions.bpeTokens(col("text"))).as(Seq("word_idx", "word")))
    assert(rebuilt.join(words, Seq("id", "word_idx"))
      .filter(col("w") =!= col("word")).count() === 0)
    val stats = Wordpiece.pieceStats(enc)
    assert(stats.agg(sum(col("n"))).head().getLong(0) === enc.count())
  }

  test("vocabSize below the initial alphabet fails loudly, never truncates") {
    // a silently truncated alphabet turns every word holding a dropped
    // char into [UNK] — the documented contract is alphabet-always-in
    val docs = Seq("abcdefghij klmnop qrstuv").toDF("text")
    val e = intercept[IllegalArgumentException] {
      Wordpiece.train(docs, "text", vocabSize = 5)
    }
    assert(e.getMessage.contains("alphabet"), e.getMessage)
  }
}
