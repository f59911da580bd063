package graft.data

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multi-pattern LEXICON SCAN — the scalable spelling of "grep a 10k-term
 * blocklist/taxonomy over 100 TB": one Aho-Corasick automaton pass per
 * document instead of |lexicon| regex passes. Finds ALL occurrences,
 * including overlapping matches and patterns nested inside longer
 * patterns (`"na"` twice in `"banana"`; `"an"` AND `"ana"` both hit) —
 * the semantics a per-pattern `substr` scan would give, at automaton
 * cost O(text + matches) independent of lexicon size.
 *
 * Scale shape: the automaton is built ONCE on the driver from the
 * lexicon (bounded by contract: a term list, not data) and rides the
 * task closure; the scan is map-only `mapPartitions` — no join, no
 * shuffle, no per-pattern pass. Spark's regex chains are the right tool
 * to ~10 patterns; past that, automaton cost is flat while the regex
 * chain scales linearly in |lexicon|.
 *
 * Matching is case-sensitive on the raw bytes of the given column —
 * callers wanting case-folding pass `lower(col)` (as the queries do).
 */
object Lexicon {

  /** Immutable Aho-Corasick automaton over Char transitions.
   * `out(s)` = pattern indices ending at state s (suffix links
   * pre-flattened, so emission needs no fail-chain walk). */
  final class Automaton private (
      val goto: Array[Map[Char, Int]],
      val fail: Array[Int],
      val out: Array[List[Int]],
      val patterns: Array[String]) extends Serializable {

    def step(state: Int, c: Char): Int = {
      var s = state
      while (s != 0 && !goto(s).contains(c)) s = fail(s)
      goto(s).getOrElse(c, 0)
    }

    /** (patternIndex, endOffset) for every occurrence in `text`. */
    def scan(text: String): Iterator[(Int, Int)] = {
      var s = 0
      (0 until text.length).iterator.flatMap { i =>
        s = step(s, text.charAt(i))
        out(s).iterator.map(p => (p, i))
      }
    }
  }

  object Automaton {
    /** Classic trie + BFS failure-link construction; duplicate patterns
     * collapse (one index each, duplicates dropped), empty patterns
     * rejected. */
    def build(patternSeq: Seq[String]): Automaton = {
      val patterns = patternSeq.distinct.toArray
      require(patterns.nonEmpty, "empty lexicon")
      require(patterns.forall(_.nonEmpty), "empty pattern in lexicon")
      val goto = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.Map.empty[Char, Int])
      val outB = scala.collection.mutable.ArrayBuffer(List.empty[Int])
      patterns.zipWithIndex.foreach { case (p, pi) =>
        var s = 0
        p.foreach { c =>
          s = goto(s).getOrElseUpdate(c, {
            goto += scala.collection.mutable.Map.empty[Char, Int]
            outB += Nil
            goto.size - 1
          })
        }
        outB(s) = pi :: outB(s)
      }
      val fail = Array.fill(goto.size)(0)
      val queue = scala.collection.mutable.Queue.empty[Int]
      goto(0).values.foreach(queue += _)
      while (queue.nonEmpty) {
        val r = queue.dequeue()
        goto(r).foreach { case (c, u) =>
          queue += u
          var v = fail(r)
          while (v != 0 && !goto(v).contains(c)) v = fail(v)
          fail(u) = if (goto(v).contains(c) && goto(v)(c) != u) goto(v)(c) else 0
          outB(u) = outB(u) ++ outB(fail(u)) // flatten suffix emissions
        }
      }
      new Automaton(goto.map(_.toMap).toArray, fail, outB.toArray, patterns)
    }
  }

  /** Per-document hit panel: `(idCol, n_hits, n_distinct)` — total
   * occurrences (incl. overlaps) and distinct lexicon terms present.
   * Null texts count as zero-hit documents (kept). */
  def scanCounts(docs: DataFrame, idCol: String, textCol: String,
      lexicon: Seq[String]): DataFrame = {
    val ac = Automaton.build(lexicon)
    val schema = StructType(Seq(
      docs.select(col(idCol)).schema.head,
      StructField("n_hits", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false)))
    docs.select(col(idCol), col(textCol)).mapPartitions { it =>
      it.map { r =>
        val text = if (r.isNullAt(1)) "" else r.getString(1)
        var hits = 0L
        val seen = new java.util.BitSet(ac.patterns.length)
        ac.scan(text).foreach { case (p, _) => hits += 1; seen.set(p) }
        Row(r.get(0), hits, seen.cardinality().toLong)
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }

  /** Exploded per-term counts: `(idCol, term, n)` — one row per
   * (document, matched term); zero-hit documents emit nothing.
   * The blocklist-filter composition is a `left_anti` on this. */
  def scanTerms(docs: DataFrame, idCol: String, textCol: String,
      lexicon: Seq[String]): DataFrame = {
    val ac = Automaton.build(lexicon)
    val schema = StructType(Seq(
      docs.select(col(idCol)).schema.head,
      StructField("term", StringType, nullable = false),
      StructField("n", LongType, nullable = false)))
    docs.select(col(idCol), col(textCol)).mapPartitions { it =>
      import scala.jdk.CollectionConverters._
      it.flatMap { r =>
        val text = if (r.isNullAt(1)) "" else r.getString(1)
        val counts = new java.util.HashMap[Int, Long]()
        ac.scan(text).foreach { case (p, _) =>
          counts.merge(p, 1L, (a, b) => a + b) }
        val id = r.get(0)
        counts.entrySet().asScala.iterator
          .map(e => Row(id, ac.patterns(e.getKey), e.getValue))
      }
    }(org.apache.spark.sql.Encoders.row(schema))
  }
}
