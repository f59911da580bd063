package graft.data

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CorpusSpec extends SparkSpec {
  import spark.implicits._

  private val longBody = ("the quick brown fox jumps over the lazy dog and " * 7).trim

  test("prepare: filters junk, redacts, dedups redaction-twins, labels splits") {
    val docs = Seq(
      // 0/1: identical after PII redaction (different emails) -> dedup to id 0
      (0L, s"$longBody and then some more words arrive here.\nWrite to a0@ex.com for info today."),
      (1L, s"$longBody and then some more words arrive here.\nWrite to b1@ex.com for info today."),
      // 2: too short after line filtering -> dropped by the word-count gate
      (2L, "Tiny doc with barely any words here.\nshort"),
      // 3: contains a brace -> dropped
      (3L, s"$longBody with a code sample {{ x }} inline here today."),
      // 4: unique long doc -> kept
      (4L, s"$longBody plus an entirely different closing sentence right here.")
    ).toDF("doc_id", "text")
    val out = Corpus.prepare(docs).orderBy($"id")
    val rows = out.select($"id", $"text", $"lang", $"split").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 4L)) // 1 deduped, 2+3 dropped
    // PII is gone, the redaction token is present where an email was
    assert(rows.head.getString(1).contains("<EMAIL>"))
    assert(rows.forall(r => !r.getString(1).contains("@ex.com")))
    // heavy English function words -> tagged en
    assert(rows.forall(_.getString(2) == "en"))
    assert(rows.forall(r => Set("train", "valid", "test")(r.getString(3))))
    // quality/word counts are computed on the REDACTED text
    val n = out.filter($"id" === 0).select($"n_words").as[Int].head()
    assert(n > 70 && n < 90, n.toString)
  }

  test("prepare's gopher gate drops symbol-salad docs the C4 gate admits") {
    val symbolSalad = (("the word # tag # mark # it here now so " * 8).trim +
      " and it ends properly.")
    val docs = Seq(
      (0L, s"$longBody and it continues on quite well today."),
      (1L, symbolSalad) // punctuated + long enough for C4, fails gopher symbols
    ).toDF("doc_id", "text")
    val plain = Corpus.prepare(docs).select($"id").as[Long].collect().toSet
    val gated = Corpus.prepare(docs, gopherMinWords = Some(20))
      .select($"id").as[Long].collect().toSet
    assert(plain == Set(0L, 1L))
    assert(gated == Set(0L))
  }

  test("chunkDocuments: overlapping windows tile each doc; short docs get one chunk") {
    val docs = Seq(
        (1L, (0 until 10).map(i => s"t$i").mkString(" ")),
        (2L, "a b")).toDF("doc_id", "text")
    val got = Corpus.chunkDocuments(docs, "doc_id", "text",
        chunkTokens = 4, overlap = 1)
      .select($"doc_id", $"chunk_id", $"tok_start", $"tok_end", $"chunk_text")
      .as[(Long, Int, Int, Int, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got === Seq(
      (1L, 0, 0, 4, "t0 t1 t2 t3"),
      (1L, 1, 3, 7, "t3 t4 t5 t6"),   // stride 3: one-token overlap
      (1L, 2, 6, 10, "t6 t7 t8 t9"),
      (2L, 0, 0, 2, "a b")))          // shorter than a window -> one chunk
    // every token index is covered by some chunk
    val covered = got.filter(_._1 == 1L)
      .flatMap(r => r._3 until r._4).toSet
    assert(covered === (0 until 10).toSet)
  }

  test("lengthBucketBatches: smallest covering bucket, clamp, slot bounds") {
    val docs = Seq(
      (1L, 10L), (2L, 64L), (3L, 65L), (4L, 300L), (5L, 5000L))
      .toDF("id", "n")
    val got = Corpus.lengthBucketBatches(docs, "id", col("n"), batchSize = 2)
      .select(col("id"), col("n_tokens"), col("bucket"), col("batch"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L)._3 === 64L && got(2L)._3 === 64L)  // <= bound inclusive
    assert(got(3L)._3 === 128L)
    assert(got(4L)._3 === 512L)
    assert(got(5L)._3 === 4096L)                      // clamped to top bucket
    assert(got.values.forall(_._4 >= 0L))
    // bucket 64 has 2 docs, batchSize 2 -> exactly 1 slot, so batch = 0
    assert(got(1L)._4 === 0L && got(2L)._4 === 0L)
  }

  test("lengthBucketBatches: deterministic, batches ~batchSize, waste bounded") {
    val docs = (1L to 500L).map(i => (i, 1L + (i * 37 % 400))).toDF("id", "n")
    def run() = Corpus.lengthBucketBatches(docs, "id", col("n"), batchSize = 25)
      .select(col("id"), col("bucket"), col("batch"))
      .as[(Long, Long, Long)].collect().toSet
    val a = run()
    assert(a === run()) // reproducible across runs
    val perBatch = a.groupBy(t => (t._2, t._3)).map(_._2.size)
    // hash-mod filling: every batch within a small factor of batchSize
    assert(perBatch.sum === 500 && perBatch.max <= 3 * 25, perBatch.toString)
    // no doc exceeds its bucket bound (nothing here reaches the clamp)
    val withN = docs.as[(Long, Long)].collect().toMap
    assert(a.forall { case (id, bucket, _) => withN(id) <= bucket })
  }

  test("shardCorpus: balanced, deterministic, seed changes the permutation") {
    val docs = (0L until 800L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    val a = Corpus.shardCorpus(docs, "doc_id", nShards = 8)
      .select($"doc_id", $"shard", $"shuffle_key")
      .as[(Long, Long, Long)].collect()
    assert(a.length === 800)
    assert(a.forall { case (_, s, k) => s >= 0 && s < 8 && k >= 0 })
    assert(a.forall { case (_, s, k) => s === k % 8 })
    // balanced in expectation: every shard within [60, 140] of 100
    val sizes = a.groupBy(_._2).view.mapValues(_.length).toMap
    assert(sizes.keySet === (0L until 8L).toSet)
    assert(sizes.values.forall(n => n > 60 && n < 140), sizes.toString)
    // deterministic across partitionings
    val b = Corpus.shardCorpus(docs.repartition(13), "doc_id", nShards = 8)
      .select($"doc_id", $"shard", $"shuffle_key")
      .as[(Long, Long, Long)].collect()
    assert(a.sortBy(_._1).toSeq === b.sortBy(_._1).toSeq)
    // a different seed is a different permutation (epoch re-shuffle)
    val c = Corpus.shardCorpus(docs, "doc_id", nShards = 8, seed = 1L)
      .select($"doc_id", $"shuffle_key").as[(Long, Long)].collect().toMap
    val aKeys = a.map(r => r._1 -> r._3).toMap
    assert((0L until 800L).count(i => aKeys(i) != c(i)) > 700)
  }

  test("prepare is deterministic across partitionings") {
    val docs = (0 until 200).map { i =>
      (i.toLong, s"$longBody unique closing number ${i % 50} appears here today.")
    }.toDF("doc_id", "text")
    def run(parts: Int) = Corpus.prepare(docs.repartition(parts))
      .select($"id", $"split").as[(Long, String)].collect().toSet
    val a = run(1)
    assert(a == run(13))
    // 50 distinct texts (i%50) -> 50 survivors, smallest ids
    assert(a.map(_._1) == (0L until 50L).toSet)
  }

  test("corpusCard: hand-checked metrics incl. dup and empty docs") {
    val docs = Seq(
      (1L, "alpha beta gamma"),        // 3 tokens, 16 chars
      (2L, "alpha  beta gamma"),       // fingerprint-identical to doc 1
      (3L, "delta"),                   // 1 token
      (4L, "   ")                      // empty after trim
    ).toDF("doc_id", "text")
    val card = Corpus.corpusCard(docs, "doc_id", "text")
      .as[(String, Long)].collect().toMap
    assert(card("n_docs") === 4L)
    assert(card("n_chars") === (16L + 17L + 5L + 3L))
    assert(card("max_doc_tokens") === 3L)
    assert(card("n_empty_docs") === 1L)
    assert(card("n_distinct_tokens") === 4L + 1L) // alpha beta gamma delta + ""
    // docs 1/2 collapse; blank doc fingerprints as empty-normalized
    assert(card("n_distinct_fingerprints") === 3L)
    assert(card.size === 7)
  }

  test("fimTransform: segments reassemble to the original; deterministic; rate edges") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 40L).map(i => (i, s"doc $i body ${"x" * (i % 7).toInt}"))
      .toDF("doc_id", "text")
    val out = Corpus.fimTransform(docs, "doc_id", "text", fimRate = 0.5, "s1")
      .select(col("doc_id"), col("fim_applied"), col("text"))
      .as[(Long, Boolean, String)].collect()
    val orig = docs.as[(Long, String)].collect().toMap
    val re = "(?s)<PRE>(.*)<SUF>(.*)<MID>(.*)".r
    out.foreach { case (id, applied, t) =>
      if (applied) t match {
        case re(pre, suf, mid) => assert(pre + mid + suf === orig(id), s"doc $id")
        case _ => fail(s"doc $id flagged applied but not PSM-shaped: $t")
      } else assert(t === orig(id))
    }
    // roughly half transformed; deterministic rerun; rate 0/1 edges
    val nApplied = out.count(_._2)
    assert(nApplied > 10 && nApplied < 30, s"$nApplied of 40")
    val again = Corpus.fimTransform(docs, "doc_id", "text", 0.5, "s1")
      .select(col("text")).as[String].collect().toSeq
    assert(again === out.map(_._3).toSeq)
    assert(Corpus.fimTransform(docs, "doc_id", "text", 0.0, "s1")
      .filter(col("fim_applied")).count() === 0L)
    assert(Corpus.fimTransform(docs, "doc_id", "text", 1.0, "s1")
      .filter(!col("fim_applied")).count() === 0L)
  }

  test("fimTransform: a different salt is a different epoch of splits") {
    import org.apache.spark.sql.functions._
    val docs = (1L to 30L).map(i => (i, s"some longer document body number $i"))
      .toDF("doc_id", "text")
    def run(salt: String) = Corpus.fimTransform(docs, "doc_id", "text", 1.0, salt)
      .select(col("text")).as[String].collect().toSeq
    assert(run("e1") !== run("e2"))
  }

  test("coverageCurve: scalar reference on a Zipf-ish vocab, deterministic ties") {
    // counts: t1:50 t2:30 t3:10 t4:5 t5:5 (total 100); ties t4/t5 by token asc
    val counts = Seq(("t1", 50L), ("t2", 30L), ("t3", 10L), ("t5", 5L),
      ("t4", 5L)).toDF("tok", "cnt")
    val got = Corpus.coverageCurve(counts,
        Seq(500000L, 800000L, 900000L, 950000L, 1000000L))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(got(500000L) === ((1L, 50L, 50L)))   // t1 alone covers 50%
    assert(got(800000L) === ((2L, 80L, 30L)))   // t1+t2 = 80%
    assert(got(900000L) === ((3L, 90L, 10L)))
    assert(got(950000L) === ((4L, 95L, 5L)))    // tie: t4 before t5
    assert(got(1000000L) === ((5L, 100L, 5L)))  // full vocab for 100%
    // partition invariance
    val again = Corpus.coverageCurve(counts.repartition(7), Seq(950000L))
      .collect().map(r => (r.getLong(1), r.getLong(2))).head
    assert(again === ((4L, 95L)))
  }
}
