package graft.data

import graft.SparkSpec
import org.apache.spark.sql.functions._

/**
 * Continuous-ingest dedup against a persisted signature store: the
 * three-stage admit contract on a hand-built batch, pair-finder
 * equivalence with the batch-mode LSH, broadcast/shuffle path equality,
 * and the parquet store round-trip.
 */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  // ten-word base texts: 8 word-3-shingles each; one changed trailing
  // word leaves 6 of 10 distinct shingles shared (jaccard 0.6 >= 0.5)
  private val tA = "the quick brown fox jumps over the lazy dog today"
  private val tB = "pack my box with five dozen fresh liquor jugs now"
  private val tC = "rivers carve deep winding canyons through ancient layered stone walls"
  // long enough (24 words) that a single trailing-word edit keeps
  // jaccard ~0.92 — high enough for the 4x4 LSH bands to fire on it
  private val tD = "bright satellites drift silently across cold clear autumn " +
    "skies while distant radio towers blink red warnings to airplanes " +
    "crossing the mountain passes tonight"

  private lazy val oldDocs = Seq(
    (1L, tA), (2L, tB), (3L, tC)).toDF("doc_id", "text")

  private lazy val batch = Seq(
    (11L, tA),                                        // exact dup of store 1
    (12L, tB.replace("now", "here")),                 // near-dup of store 2
    (13L, tD),                                        // novel
    (14L, tD),                                        // exact dup of 13 in-batch
    (15L, tD.replace("tonight", "again")),            // near-dup of 13 in-batch
    (16L, "completely different words about gardening tulips and soil preparation techniques"),
    (17L, "hi"),                                      // too short to shingle
    (18L, "hi")                                       // exact dup of 17 in-batch
  ).toDF("doc_id", "text")

  private def store = Dedup.signatures(oldDocs, "doc_id", "text")

  test("incrementalDedup applies exact, cross-store, and in-batch stages") {
    val kept = Dedup.incrementalDedup(batch, "doc_id", "text", store)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept === Set(13L, 16L, 17L))
  }

  test("crossNearDups finds batch-vs-store pairs with exact jaccard") {
    val got = Dedup.crossNearDups(
        Dedup.signatures(batch, "doc_id", "text"), store)
      .select(col("id_new"), col("id_old"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got.map { case (n, o, _) => (n, o) } === Set((11L, 1L), (12L, 2L)))
    assert(got.find(_._1 == 11L).get._3 === 1.0) // identical text
    val nearJ = got.find(_._1 == 12L).get._3
    assert(nearJ >= 0.5 && nearJ < 1.0, s"jaccard $nearJ")
  }

  test("broadcastBatch path returns identical pairs to the shuffle path") {
    val sigs = Dedup.signatures(batch, "doc_id", "text")
    def rows(b: Boolean) =
      Dedup.crossNearDups(sigs, store, broadcastBatch = b)
        .select(col("id_new"), col("id_old"),
          round(col("est_jaccard"), 9), round(col("jaccard"), 9))
        .as[(Long, Long, Double, Double)].collect().toSet
    assert(rows(true) === rows(false))
  }

  test("self-applied crossNearDups equals minhashNearDups") {
    val all = oldDocs.union(batch)
    val sigs = Dedup.signatures(all, "doc_id", "text")
    val viaCross = Dedup.crossNearDups(sigs, sigs)
      .filter(col("id_new") < col("id_old"))
      .select(col("id_new"), col("id_old"),
        round(col("est_jaccard"), 9), round(col("jaccard"), 9))
      .as[(Long, Long, Double, Double)].collect().toSet
    val viaBatch = Dedup.minhashNearDups(all, "doc_id", "text")
      .select(col("id_a"), col("id_b"),
        round(col("est_jaccard"), 9), round(col("jaccard"), 9))
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(viaCross === viaBatch)
    assert(viaCross.nonEmpty)
  }

  test("signature store round-trips through parquet; append admits cycle") {
    val dir = tempDir("sigstore") + "/s"
    store.write.parquet(dir)
    val loaded = spark.read.parquet(dir)
    val kept = Dedup.incrementalDedup(batch, "doc_id", "text", loaded)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept === Set(13L, 16L, 17L))
    // complete the cycle: append survivors' signatures, admit a second
    // batch that duplicates a FIRST-batch survivor -> dropped
    val survivors = batch.filter(col("doc_id").isin(13L, 16L, 17L))
    Dedup.signatures(survivors, "doc_id", "text")
      .write.mode("append").parquet(dir)
    val store2 = spark.read.parquet(dir)
    val batch2 = Seq((21L, tD), (22L, "genuinely new content appears in the second crawl wave"))
      .toDF("doc_id", "text")
    val kept2 = Dedup.incrementalDedup(batch2, "doc_id", "text", store2)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept2 === Set(22L))
  }

  test("simhashBits = 0 skips the simhash; schema stays append-stable") {
    val s0 = Dedup.signatures(oldDocs, "doc_id", "text", simhashBits = 0)
    assert(s0.schema("simh").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(s0.filter(col("simh").isNotNull).count() === 0L)
    // a simh-bearing batch appends cleanly onto a simh-free store
    val dir = tempDir("sigmixed") + "/s"
    s0.write.parquet(dir)
    Dedup.signatures(batch, "doc_id", "text").write.mode("append").parquet(dir)
    val loaded = spark.read.parquet(dir)
    assert(loaded.count() === oldDocs.count() + batch.count())
    // the Hamming probe sees only simh-bearing store rows — no error,
    // and the simh-free half yields no hits by contract
    val hits = Dedup.crossHammingPairs(
        Dedup.signatures(batch, "doc_id", "text"), loaded, maxHamming = 3)
      .select(col("id_old")).as[Long].collect()
    assert(hits.forall(id => id >= 11L), hits.toSeq.toString)
  }

  test("Hamming tier blocks a token-order rewrite the Jaccard tier misses") {
    // same 12 words, reshuffled: token SET identical -> simhash equal
    // (hamming 0), but word-3-shingles almost disjoint -> jaccard ~0
    val original = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val shuffled = "mu kappa iota eta zeta beta delta alpha theta gamma lambda epsilon"
    val st = Dedup.signatures(Seq((1L, original)).toDF("doc_id", "text"),
      "doc_id", "text")
    val b = Seq((10L, shuffled), (11L, tC)).toDF("doc_id", "text")
    // sanity: the Jaccard evidence really is below threshold
    val jac = Dedup.crossNearDups(
        Dedup.signatures(b, "doc_id", "text"), st, threshold = 0.0)
      .filter(col("id_new") === 10L).select(col("jaccard")).as[Double].collect()
    assert(jac.forall(_ < 0.5), s"fixture broken: jaccard ${jac.toSeq}")
    // without the tier: admitted; with it: blocked at hamming 0
    val without = Dedup.incrementalDedup(b, "doc_id", "text", st)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(without === Set(10L, 11L))
    val withTier = Dedup.incrementalDedup(b, "doc_id", "text", st,
        maxHamming = 3)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(withTier === Set(11L))
    // the isolated probe reports the pair with its evidence
    val pairs = Dedup.crossHammingPairs(
        Dedup.signatures(b, "doc_id", "text"), st, maxHamming = 3)
      .select(col("id_new"), col("id_old"), col("hamming"))
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs === Set((10L, 1L, 0)))
  }

  test("Hamming tier clusters within-batch reorderings to the min id") {
    val original = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val shuffled = "mu kappa iota eta zeta beta delta alpha theta gamma lambda epsilon"
    val emptyStore = Dedup.signatures(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    val b = Seq((20L, original), (21L, shuffled), (22L, tC)).toDF("doc_id", "text")
    val kept = Dedup.incrementalDedup(b, "doc_id", "text", emptyStore,
        maxHamming = 3)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept === Set(20L, 22L))
    // broadcastBatch and shuffle paths agree on the cross probe
    val st = Dedup.signatures(Seq((1L, original)).toDF("doc_id", "text"),
      "doc_id", "text")
    val bs = Dedup.signatures(b, "doc_id", "text")
    val viaB = Dedup.crossHammingPairs(bs, st, maxHamming = 3, broadcastBatch = true)
      .select(col("id_new"), col("id_old")).as[(Long, Long)].collect().toSet
    val viaS = Dedup.crossHammingPairs(bs, st, maxHamming = 3)
      .select(col("id_new"), col("id_old")).as[(Long, Long)].collect().toSet
    assert(viaB === viaS && viaB.nonEmpty)
  }

  test("Hamming probe fails loudly on a store/probe width mismatch") {
    val st28 = Dedup.signatures(oldDocs, "doc_id", "text", simhashBits = 28)
    val b64 = Dedup.signatures(batch, "doc_id", "text", simhashBits = 64)
    // mismatched widths would run without error and miss near-dups —
    // the metadata check must refuse instead
    val e = intercept[IllegalStateException] {
      Dedup.crossHammingPairs(b64, st28, bits = 64, maxHamming = 3).collect()
    }
    assert(e.getMessage.contains("simhashBits = 28"), e.getMessage)
    // probing at the store's width but with a mismatched batch fails too
    val e2 = intercept[IllegalStateException] {
      Dedup.crossHammingPairs(b64, st28, bits = 28, maxHamming = 3).collect()
    }
    assert(e2.getMessage.contains("simhashBits = 64"), e2.getMessage)
    // matched widths pass
    Dedup.crossHammingPairs(
      Dedup.signatures(batch, "doc_id", "text", simhashBits = 28),
      st28, bits = 28, maxHamming = 3).collect()
  }

  test("Hamming probe against a pre-Hamming-tier store fails with guidance") {
    // a store persisted before the tier existed has no simh column; the
    // failure must name the rebuild, not surface an unresolved-column
    // AnalysisException mid-stream
    val legacy = Dedup.signatures(oldDocs, "doc_id", "text")
      .drop("simh", "simh_bits")
    val e = intercept[IllegalStateException] {
      Dedup.incrementalDedup(batch, "doc_id", "text", legacy, maxHamming = 3)
        .collect()
    }
    assert(e.getMessage.contains("Rebuild"), e.getMessage)
    // without the tier the legacy store still serves the Jaccard path
    val kept = Dedup.incrementalDedup(batch, "doc_id", "text", legacy)
      .select(col("doc_id")).as[Long].collect()
    assert(kept.nonEmpty)
  }

  test("64-bit hash family: full admit cycle, same decisions as 28-bit") {
    // the whole-corpus tier (hashBits = 64) must make the same admit
    // decisions on this fixture (no 28-bit collisions at this size, and
    // LSH banding over either family fires on jaccard >= 0.5 planted dups)
    val store64 = Dedup.signatures(oldDocs, "doc_id", "text", hashBits = 64)
    val kept = Dedup.incrementalDedup(batch, "doc_id", "text", store64,
        hashBits = 64)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept === Set(13L, 16L, 17L))
    // pair probe: identical pairs and identical exact jaccard to 28-bit
    // (hash-set jaccard = true shingle jaccard in both collision-free
    // families)
    val got64 = Dedup.crossNearDups(
        Dedup.signatures(batch, "doc_id", "text", hashBits = 64), store64)
      .select(col("id_new"), col("id_old"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    val got28 = Dedup.crossNearDups(
        Dedup.signatures(batch, "doc_id", "text"), store)
      .select(col("id_new"), col("id_old"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet
    assert(got64 === got28)
  }

  test("MinHash probe fails loudly on a batch/store hash-family mismatch") {
    val batch64 = Dedup.signatures(batch, "doc_id", "text", hashBits = 64)
    val e = intercept[IllegalArgumentException] {
      Dedup.crossNearDups(batch64, store)
    }
    assert(e.getMessage.contains("MinHash width mismatch"), e.getMessage)
    // a store without the metadata column (pre-hash_bits persistence)
    // passes unverified — back-compat contract
    val legacy = store.drop("hash_bits")
    assert(Dedup.crossNearDups(
      Dedup.signatures(batch, "doc_id", "text"), legacy).count() >= 0)
    // a MIXED-schema store (old files gained the column on read, value
    // NULL) also passes unverified — the null-sampled-row case must not
    // NPE the guard whose doc promises back-compat
    val dir = tempDir("sig_store") + "/st"
    legacy.withColumn("hash_bits",
        org.apache.spark.sql.functions.lit(null).cast("long"))
      .write.parquet(dir)
    val loaded = spark.read.parquet(dir)
    assert(Dedup.crossNearDups(
      Dedup.signatures(batch, "doc_id", "text"), loaded).count() >= 0)
  }

  test("short docs (no shingles) still dedup exactly, never via bands") {
    val s = Dedup.signatures(Seq((1L, "hi")).toDF("doc_id", "text"),
      "doc_id", "text")
    val row = s.select(col("sh"), col("sig")).collect()(0)
    assert(row.getSeq[Long](0).isEmpty && row.isNullAt(1))
    val kept = Dedup.incrementalDedup(
        Seq((31L, "hi"), (32L, "yo")).toDF("doc_id", "text"),
        "doc_id", "text", s)
      .select(col("doc_id")).as[Long].collect().toSet
    assert(kept === Set(32L))
  }
}
