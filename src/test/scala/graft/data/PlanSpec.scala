package graft.data

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/**
 * Physical-plan regression gate for the scale-critical shapes: these
 * assertions pin the PLAN, not the values, so a refactor that silently
 * reintroduces a broadcast-the-corpus join or a nested-loop range join
 * fails the suite even though every value check still passes.
 */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  private def withNoAutoBroadcast[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try f finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("minhash LSH band join never broadcasts the signature table") {
    val docs = (0 until 50).map(i => (i.toLong, s"some document text number ${i % 9} with shared words"))
      .toDF("doc_id", "text")
    withNoAutoBroadcast {
      val p = plan(Dedup.minhashNearDups(docs, "doc_id", "text"))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
      // the candidate join must be a shuffle join on the band key
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(2000))
    }
  }

  test("rangeJoinBinned stays an equi join when nothing can broadcast") {
    val points = (1L to 1000L).map(i => (i, i * 10)).toDF("event_id", "pt")
    val ranges = (1L to 500L).map(i => (s"r$i", i * 17, i * 17 + 100))
      .toDF("range_id", "lo", "hi")
    withNoAutoBroadcast {
      val p = plan(Relational.rangeJoinBinned(points, ranges, "pt", "lo", "hi", 64))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        p.take(2000))
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        p.take(2000))
    }
  }

  test("bloomPrefilterJoin filters the big side BELOW the join") {
    // parquet-backed left side: a LocalRelation would let the optimizer
    // evaluate the (deterministic) UDF filter eagerly and erase it from
    // the plan; a file scan keeps it as a real Filter node
    val dir = tempDir("planspec_b") + "/l"
    (1L to 500L).map(i => (i, s"v$i")).toDF("k", "lv").write.parquet(dir)
    val left = spark.read.parquet(dir)
    val right = (1L to 500L by 7).map(i => (i, i * 2.0)).toDF("k", "rv")
    val p = plan(Relational.bloomPrefilterJoin(left, right, "k"))
    // the UDF filter must sit under the join node, i.e. appear after it in
    // the top-down plan string
    val joinAt = p.indexOf("Join")
    val filterAt = p.indexOf("bloomMightContain")
    assert(joinAt >= 0 && filterAt > joinAt, p.take(2000))
  }

  test("saltedJoin joins on the salt key (spreads each hot key)") {
    val left = (1L to 100L).map(i => (1L, i)).toDF("k", "lv") // one hot key
    val right = Seq((1L, "x")).toDF("k", "rv")
    withNoAutoBroadcast {
      val p = plan(Relational.saltedJoin(left, right, Seq("k"), 8))
      assert(p.contains("__join_salt"), p.take(2000))
    }
  }

  private lazy val pqVecs = (0 until 60)
    .map(i => (i.toLong, Array.tabulate(8)(d => ((i * 7 + d) % 13) / 13.0)))
    .toDF("vec_id", "v")

  test("pqTopK broadcasts the query LUTs, never the corpus codes") {
    val cb = Pq.seedCodebook(2, 4, 4)
    withNoAutoBroadcast {
      val p = plan(Pq.pqTopK(pqVecs.filter($"vec_id" < 3), pqVecs, "vec_id", "v",
        k = 2, cb))
      // the ADC scan is an explicit broadcast cross: build side must be
      // the (tiny) query side — exactly one BroadcastExchange, above the
      // LUT projection, and no plain CartesianProduct of the corpus
      assert(!p.contains("CartesianProduct"), p.take(2000))
      assert("BroadcastExchange".r.findAllIn(p).size == 1, p.take(2000))
      val bcastAt = p.indexOf("BroadcastExchange")
      assert(bcastAt >= 0 && p.indexOf("q_lut") < bcastAt + 2000 &&
        p.substring(bcastAt).contains("q_lut"), p.take(2000))
    }
  }

  test("ivfPqTopK joins on the cell int with the query side broadcast") {
    val cb = Pq.seedCodebook(2, 4, 4)
    withNoAutoBroadcast {
      val p = plan(Pq.ivfPqTopK(pqVecs.filter($"vec_id" < 3), pqVecs, "vec_id",
        "v", k = 2, nProbe = 2, coarse = Similarity.planes(4, 8), cb = cb))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        p.take(2000))
      assert(p.contains("BroadcastHashJoin"), p.take(2000))
    }
  }

  test("duplicateSpans and contamination shuffle on the gram hash, no broadcast") {
    val docs = (0 until 40).map(i =>
      (i.toLong, s"shared phrase block number ${i % 5} plus unique tail $i here"))
      .toDF("doc_id", "text")
    withNoAutoBroadcast {
      val spans = plan(Dedup.duplicateSpans(docs, "doc_id", "text", k = 10))
      assert(!spans.contains("BroadcastNestedLoopJoin") &&
        !spans.contains("CartesianProduct"), spans.take(2000))
      assert(spans.contains("SortMergeJoin") || spans.contains("ShuffledHashJoin"),
        spans.take(2000))
      val cont = plan(Dedup.contamination(
        docs.filter($"doc_id" < 30), docs.filter($"doc_id" >= 30), "doc_id", "text"))
      assert(!cont.contains("BroadcastNestedLoopJoin") &&
        !cont.contains("CartesianProduct"), cont.take(2000))
      assert(cont.contains("SortMergeJoin") || cont.contains("ShuffledHashJoin"),
        cont.take(2000))
    }
  }

  test("broadcastQueries=false: big-batch retrieval has NO BroadcastExchange") {
    val cb = Pq.seedCodebook(2, 4, 4)
    withNoAutoBroadcast {
      // flat PQ scan: shuffle-replicate cartesian instead of broadcast cross
      val flat = plan(Pq.pqTopK(pqVecs, pqVecs, "vec_id", "v", k = 2, cb,
        refine = 0, broadcastQueries = false))
      assert(!flat.contains("BroadcastExchange"), flat.take(2000))
      assert(flat.contains("CartesianProduct"), flat.take(2000))
      // refine path: the exact re-rank join must not broadcast either
      val refined = plan(Pq.pqTopK(pqVecs, pqVecs, "vec_id", "v", k = 2, cb,
        refine = 4, broadcastQueries = false))
      assert(!refined.contains("BroadcastExchange"), refined.take(2000))
      // keyed paths: shuffle-hash join on the small-int key
      val ivf = plan(Pq.ivfPqTopK(pqVecs, pqVecs, "vec_id", "v", k = 2,
        nProbe = 2, coarse = Similarity.planes(4, 8), cb = cb,
        broadcastQueries = false))
      assert(!ivf.contains("BroadcastExchange"), ivf.take(2000))
      assert(ivf.contains("ShuffledHashJoin"), ivf.take(2000))
      val sq = plan(Pq.sqTopK(pqVecs, pqVecs, "vec_id", "v", k = 2,
        broadcastQueries = false))
      assert(!sq.contains("BroadcastExchange"), sq.take(2000))
      assert(sq.contains("CartesianProduct"), sq.take(2000))
      val lsh = plan(Similarity.lshTopK(pqVecs, pqVecs, "vec_id", "v", k = 2,
        numPlanes = 4, dim = 8, numTables = 2, broadcastQueries = false))
      assert(!lsh.contains("BroadcastExchange"), lsh.take(2000))
      assert(lsh.contains("ShuffledHashJoin"), lsh.take(2000))
      val brute = plan(Similarity.bruteForceTopK(pqVecs, pqVecs, "vec_id", "v",
        k = 2, broadcastQueries = false))
      assert(!brute.contains("BroadcastExchange"), brute.take(2000))
    }
  }

  test("loaded index: probed cells prune at the parquet scan") {
    val base = tempDir("planspec_idx")
    val cb = Pq.seedCodebook(2, 4, 4)
    Pq.saveIndex(
      Pq.buildIndex(pqVecs, "vec_id", "v", Similarity.planes(4, 8), cb),
      s"$base/idx")
    val idx = Pq.loadIndex(spark, s"$base/idx")
    // parquet-backed queries: dynamic pruning needs a real selective Filter
    // on the query side (a LocalRelation folds it away before the rule runs)
    pqVecs.write.parquet(s"$base/q")
    val qs = spark.read.parquet(s"$base/q").filter($"vec_id" < 2)
    val df = Pq.searchIndex(idx, qs, "vec_id", "v", k = 2, nProbe = 1)
    val p = plan(df)
    // the index-rows scan is cell-partitioned parquet; the broadcast join
    // on the partition column must install a dynamic partition-pruning
    // filter so a p-of-C-cell probe reads p/C of the files
    val scanAt = p.indexOf(s"Scan parquet")
    assert(scanAt >= 0, p.take(3000))
    val scan = p.substring(scanAt, math.min(p.length, scanAt + 3000))
    assert(scan.contains("PartitionFilters") && scan.contains("dynamicpruning"),
      scan.take(3000))
    // and the pruning actually executes: results match a fresh build (which,
    // un-partitioned on disk, gets NO pruning — documented trade)
    val direct = Pq.ivfPqTopK(pqVecs.filter($"vec_id" < 2), pqVecs, "vec_id",
      "v", k = 2, nProbe = 1, coarse = Similarity.planes(4, 8), cb = cb)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    val loaded = df.select("query_id", "neighbor_id", "rank").collect().toSet
    assert(loaded == direct)
  }

  test("NgramLm count tables and Bm25 stats join with keyed shuffles, no broadcast") {
    val docs = (0 until 40).map(i =>
      (i.toLong, s"word${i % 7} word${(i + 1) % 7} word${(i + 2) % 7} tail$i"))
      .toDF("doc_id", "text")
    withNoAutoBroadcast {
      // at web scale the LM count tables are vocab-sized — the score join
      // must not assume they broadcast
      val model = NgramLm.fit(docs, "doc_id", "text")
      val lm = plan(NgramLm.scoreDocs(model, docs, "doc_id", "text"))
      assert(!lm.contains("BroadcastNestedLoopJoin") && !lm.contains("CartesianProduct"),
        lm.take(2000))
      assert(lm.contains("SortMergeJoin") || lm.contains("ShuffledHashJoin"),
        lm.take(2000))
      // same for the BM25 document-frequency stats table: the only
      // broadcast allowed is the 1-row (N, avgdl) constants frame
      val bm = plan(Bm25.bm25TopK(docs, docs.filter($"doc_id" < 2), "doc_id",
        "text", k = 3, broadcastQueries = false))
      assert("BroadcastExchange".r.findAllIn(bm).size <= 1, bm.take(2000))
      assert(!bm.contains("BroadcastHashJoin"), bm.take(2000))
      assert(bm.contains("SortMergeJoin") || bm.contains("ShuffledHashJoin"),
        bm.take(2000))
    }
  }

  test("BM25 one-shot explodes the corpus exactly once (df windowed post-join)") {
    val docs = (0 until 40).map(i =>
      (i.toLong, s"word${i % 7} word${(i + 1) % 7} word${(i + 2) % 7} tail$i"))
      .toDF("doc_id", "text")
    // history: the old spelling derived df stats AND the (N, avgdl)
    // constants from separate groupBys over the postings lineage, and
    // Catalyst's column pruning made the three subtrees non-identical —
    // ReuseExchange never fired and the corpus was tokenized+exploded+
    // shuffled THREE times. The fix counts df with a (query, term)
    // window over the already-query-filtered join output and reduces
    // the constants map-only — pin the shape: exactly two explodes
    // (postings + query terms), and only one fed by an aggregation
    val bm = plan(Bm25.bm25TopK(docs, docs.filter($"doc_id" < 2), "doc_id",
      "text", k = 3, broadcastQueries = false))
    assert("Generate explode".r.findAllIn(bm).size === 2, bm.take(4000))
    // the constants side must stay un-exploded and un-shuffled: its only
    // exchange is the 1-row SinglePartition gather
    assert("Exchange SinglePartition".r.findAllIn(bm).size === 1, bm.take(4000))
  }

  test("scan pruning: a two-column projection reads two columns") {
    val dir = tempDir("planspec") + "/t"
    (1 to 100).map(i => (i.toLong, s"s$i", i * 1.0, i * 2.0))
      .toDF("a", "b", "c", "d").write.parquet(dir)
    val p = plan(spark.read.parquet(dir).filter($"a" > 10).select($"a", $"c"))
    assert(p.contains("ReadSchema: struct<a:bigint,c:double>"), p.take(2000))
    assert(p.contains("PushedFilters: [IsNotNull(a), GreaterThan(a,10)]"), p.take(2000))
  }

  test("crossNearDups never broadcasts the store; broadcastBatch sends only the batch") {
    val docs = (0 until 40).map(i => (i.toLong, s"ingest document body number ${i % 7} with overlapping phrasing"))
      .toDF("doc_id", "text")
    val batchSigs = Dedup.signatures(docs.filter($"doc_id" < 8), "doc_id", "text")
    val storeSigs = Dedup.signatures(docs.filter($"doc_id" >= 8), "doc_id", "text")
    withNoAutoBroadcast {
      val shuffled = plan(Dedup.crossNearDups(batchSigs, storeSigs))
      assert(!shuffled.contains("BroadcastExchange"), shuffled.take(2000))
      assert(shuffled.contains("ShuffledHashJoin") || shuffled.contains("SortMergeJoin"),
        shuffled.take(2000))
      val bcast = plan(Dedup.crossNearDups(batchSigs, storeSigs, broadcastBatch = true))
      // exactly one broadcast — the batch signatures; the store side stays
      // a plain scan feeding the probe
      assert("BroadcastExchange".r.findAllIn(bcast).size === 1, bcast.take(2000))
      assert(bcast.contains("BroadcastHashJoin"), bcast.take(2000))
    }
  }

  test("crossHammingPairs mirrors the tier contract: store never broadcast") {
    val docs = (0 until 40).map(i => (i.toLong, s"ingest document body number ${i % 7} with overlapping phrasing"))
      .toDF("doc_id", "text")
    val batchSigs = Dedup.signatures(docs.filter($"doc_id" < 8), "doc_id", "text")
    val storeSigs = Dedup.signatures(docs.filter($"doc_id" >= 8), "doc_id", "text")
    withNoAutoBroadcast {
      val shuffled = plan(Dedup.crossHammingPairs(batchSigs, storeSigs))
      assert(!shuffled.contains("BroadcastExchange"), shuffled.take(2000))
      assert(shuffled.contains("ShuffledHashJoin") || shuffled.contains("SortMergeJoin"),
        shuffled.take(2000))
      val bcast = plan(Dedup.crossHammingPairs(batchSigs, storeSigs,
        broadcastBatch = true))
      assert("BroadcastExchange".r.findAllIn(bcast).size === 1, bcast.take(2000))
      assert(bcast.contains("BroadcastHashJoin"), bcast.take(2000))
    }
  }

  test("simhashNearDups at 64 bits keeps the keyed shuffle join, no broadcast") {
    val docs = (0 until 50).map(i => (i.toLong, s"some document text number ${i % 9} with shared words"))
      .toDF("doc_id", "text")
    withNoAutoBroadcast {
      val p = plan(Dedup.simhashNearDups(docs, "doc_id", "text",
        bits = 64, maxHamming = 3))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        p.take(2000))
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
        p.take(2000))
    }
  }

  test("tokenDrift: per-side totals reuse the count exchange; corpus never broadcast") {
    val a = (0 until 30).map(i => (i.toLong, s"alpha tok${i % 5} beta"))
      .toDF("doc_id", "text")
    val b = (0 until 30).map(i => (i.toLong, s"gamma tok${i % 5} beta"))
      .toDF("doc_id", "text")
    val df = Corpus.tokenDrift(a, b, "text", topK = 10)
    df.collect() // AQE only materializes exchange reuse in the FINAL plan
    // the adaptive plan prints Final AND Initial sections — count only final
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // each side's total is summed from its own count table — the
    // identical agg subplans must share one exchange per side, so the
    // corpus is tokenized and shuffled once per side, not twice
    assert("Reused(Exchange|QueryStage)".r.findAllIn(p).size >= 2, p.take(4000))
    // the token join itself is a shuffle join (full outer on the token
    // key); the only broadcast JOINS are the two 1-row totals cross
    // joins (nested-loop with a single-row build side)
    assert(p.contains("SortMergeJoin [tok"), p.take(4000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 2, p.take(4000))
  }

  test("heavyHitters: the data side never broadcasts; candidates do") {
    val keys = Seq.fill(300)("hot") ++ (1 to 100).map(i => s"k$i")
    val df = keys.toDF("key")
    // with auto-broadcast off, the ONLY broadcast left must be the
    // explicit candidate-table one — the corpus-sized keyed stream stays
    // on the probe side of the recount join
    withNoAutoBroadcast {
      val p = plan(Sketches.heavyHitters(df, col("key"), k = 5))
      assert("BroadcastExchange".r.findAllIn(p).size === 1, p.take(2000))
    }
  }

  test("collocations: two count aggs + keyed joins, nothing quadratic") {
    val docs = (0 until 30).map(i => s"tok${i % 5} tok${(i + 1) % 5} x$i")
      .toDF("text")
    withNoAutoBroadcast {
      val p = plan(Corpus.collocations(docs, "text", minCount = 1L))
      assert(!p.contains("CartesianProduct"), p.take(2000))
      // the 1-row corpus-total frame is the only nested-loop artifact
      // allowed (it broadcasts a single row)
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(2000))
      assert(p.contains("HashAggregate"), p.take(2000))
    }
  }

  test("exactKth narrows in bounded histogram jobs, not per-probe scans") {
    // a 2^40 value range must resolve in ~log_4096(range) histogram
    // passes; count Spark jobs to pin the bound (cache + minmax + ~4
    // histogram/tail passes + slack for cache materialization)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    val df = (1L to 2000L).map(i => i * (1L << 29)).toDF("v")
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = Relational.exactKth(df, col("v"), k = 1000L)
      // listener events are async: poll briefly for the last job-start
      val deadline = System.nanoTime() + 5000000000L
      while (jobs.get() == 0 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(got === 1000L * (1L << 29))
      assert(jobs.get() <= 12, s"${jobs.get()} jobs for one exactKth call")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("groupedExactMedian windows value CELLS, never raw rows") {
    val df = (1 to 4000).map(i => (s"g${i % 3}", (i % 7).toLong))
      .toDF("g", "v")
    val plan = Relational.groupedExactMedian(df, Seq("g"), col("v"))
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    // every window must sit ABOVE the (g, v) count aggregate — i.e. have
    // an Aggregate in its subtree — so a 10^9-row group costs |domain|
    // window rows, not 10^9
    windows.foreach { w =>
      val aggsBelow = w.child.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
      assert(aggsBelow.nonEmpty, w.toString.take(1000))
    }
  }

  test("logHistogramQuantiles windows bucket CELLS above the histogram aggregate") {
    val df = (1 to 4000).map(i => ("g", (i.toLong * 31L) % 100000L)).toDF("g", "v")
    val plan = Sketches.logHistogramQuantiles(
      Sketches.logHistogram(df, Seq("g"), col("v")), Seq("g"), Seq(500000L))
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    // the cumulative/total windows run over the bounded bucket table —
    // each must have the histogram Aggregate in its subtree
    windows.foreach { w =>
      val aggsBelow = w.child.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
      assert(aggsBelow.nonEmpty, w.toString.take(1000))
    }
  }

  test("joinSizePreflight joins count TABLES, never the raw sides") {
    val l = (1 to 2000).map(i => (s"k${i % 50}", i)).toDF("k", "x")
    val r = (1 to 1500).map(i => (s"k${i % 40}", i)).toDF("k", "y")
    withNoAutoBroadcast {
      val rep = Relational.joinSizePreflight(l, r, col("k"), col("k"), topK = 10)
      val plan = rep.queryExecution.optimizedPlan
      val joins = plan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
      assert(joins.nonEmpty)
      // every join input must already be aggregated — the report's cost
      // is per-key counts, never |A|x|B| rows
      joins.foreach(_.children.foreach { side =>
        val aggsBelow = side.collect {
          case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
        assert(aggsBelow.nonEmpty, side.toString.take(1000))
      })
      // top-K is a TakeOrdered, not a global sort of all keys
      assert(rep.queryExecution.executedPlan.toString.contains("TakeOrdered"))
    }
  }

  test("pearsonExact: one sufficient-stats pass reused across the panel") {
    val df = (1 to 500).map(i => (i.toLong, (i * 2).toLong, (i % 7).toLong))
      .toDF("x", "y", "z")
    val panel = Sketches.pearsonExact(df, Seq(
      ("xy", col("x"), col("y")), ("xz", col("x"), col("z")),
      ("yz", col("y"), col("z"))))
    val p = panel.queryExecution.executedPlan.toString
    // the whole 3-pair panel is ONE sufficient-stats aggregation (one
    // partial + one final) exploded to rows — a per-pair union would
    // scan the corpus once per pair after column pruning
    assert(!p.contains("Union"), p.take(4000))
    assert("HashAggregate".r.findAllIn(p).size === 2, p.take(4000))
    assert("Exchange SinglePartition".r.findAllIn(p).size === 1, p.take(4000))
  }

  test("videoNearDups: frame-hash join carries ids and counts only") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val media = (0L until 6L).map(i =>
      Multimodal.MediaRow(i, "video/gvid", Multimodal.syntheticVideo(i)))
      .toDS()
    val plan = Multimodal.videoNearDups(media, thresholdPpm = 100000L)
      .queryExecution.optimizedPlan
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty)
    // neither join input may carry the signature array or raw bytes —
    // only the exploded hash, ids, and set sizes ride the shuffle
    joins.foreach(_.children.foreach { side =>
      val names = side.output.map(_.name).toSet
      assert(!names.contains("frame_hashes") && !names.contains("content"),
        names.mkString(","))
    })
  }

  test("editNearDups: length-band prune sits BELOW the text joins") {
    val docs = (0 until 40).map(i =>
      (i.toLong, s"some document text number ${i % 9} with shared words and tail $i"))
      .toDF("doc_id", "text")
    val p = plan(Dedup.editNearDups(docs, "doc_id", "text", maxDist = 5))
    // |Δlen| > maxDist pairs can never pass banded levenshtein; the prune
    // must run before the two id-keyed text joins so doomed candidates
    // never pay a join. Catalyst pushes it all the way into the band
    // self-join's condition — pin that: the abs(len_a - len_b) predicate
    // lives on the band join's own line, below both text joins.
    val idJoins = "Join \\[id_".r.findAllMatchIn(p).map(_.start).toList
    val bandJoinAt = p.indexOf("Join [band")
    assert(idJoins.size === 2, p.take(3000))
    assert(bandJoinAt >= 0 && idJoins.forall(_ < bandJoinAt), p.take(3000))
    val bandJoinLine = p.substring(bandJoinAt,
      math.max(bandJoinAt, p.indexOf('\n', bandJoinAt)))
    assert(bandJoinLine.contains("abs((len_a"), bandJoinLine.take(3000))
  }

  test("jaccardThresholdPairs: candidate self-join is a shuffle join") {
    val docs = (0 until 24).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 2} delta epsilon zeta"))
      .toDF("doc_id", "text")
    withNoAutoBroadcast {
      val p = plan(Dedup.jaccardThresholdPairs(docs, "doc_id", "text",
        500000L, shingleN = 3))
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
        p.take(2000))
    }
  }

  test("labelPropagation: per-round label join is keyed, edges never nested-loop") {
    val edges = (0 until 200).map(i =>
      (s"n${i % 37}", s"n${(i * 7) % 37}")).toDF("s", "d")
    withNoAutoBroadcast {
      val out = Graph.labelPropagation(edges, "s", "d", iters = 2)
      val p = plan(out)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p.take(2000))
      out.unpersist()
      ()
    }
  }

  test("coreness: per-round value join is keyed; H-index window is partitioned") {
    val edges = (0 until 200).map(i =>
      (s"n${i % 37}", s"n${(i * 7) % 37}")).toDF("s", "d")
    withNoAutoBroadcast {
      // the un-materialized single round: value table joins EDGES (never
      // a doc-sized side), keyed — and the H-index rank window rides the
      // node key, never a global single-task window
      val e = edges.select(col("s").as("src"), col("d").as("dst"))
      val h0 = e.select(col("src").as("node")).distinct()
        .withColumn("h", lit(3L))
      val round = Graph.hIndexRound(e, h0)
      val p = plan(round)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p.take(2000))
      val windows = round.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
      assert(windows.nonEmpty)
      windows.foreach(w => assert(w.partitionSpec.nonEmpty, w.toString))
      // the full operator: no nested loop anywhere across rounds
      val out = Graph.coreness(edges, "s", "d", iters = 2)
      val pf = plan(out)
      assert(!pf.contains("BroadcastNestedLoopJoin") &&
        !pf.contains("CartesianProduct"), pf.take(2000))
      out.unpersist()
      ()
    }
  }

  test("duplicateSpansExact: every window is keyed; no nested loop") {
    val docs = (0 until 30).map(i =>
      (i.toLong, s"shared prefix body number ${i % 4} tail $i")).toDF("id", "text")
    withNoAutoBroadcast {
      // k = 12 → the direct literal tier; k = 70 → the doubling tier
      // (its per-round relabels sit behind localCheckpoints, so the
      // visible plan is the qualify + merge stage — the round plans'
      // skew posture is by construction: groupBy + join, no windows)
      for (kk <- Seq(12, 70)) {
        val out = Dedup.duplicateSpansExact(docs, "id", "text", k = kk)
        val p = plan(out)
        assert(!p.contains("BroadcastNestedLoopJoin") &&
          !p.contains("CartesianProduct"), p.take(2000))
        // the dup-key qualify is a count + SEMI-JOIN, never a
        // whole-partition count window (a mega-duplicated passage must
        // not funnel into one task); the only window left is the
        // per-doc span merge — keyed by doc_id
        assert(p.contains("LeftSemi"), p.take(2000))
        val windows = out.queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
        assert(windows.nonEmpty)
        windows.foreach { w =>
          assert(w.partitionSpec.nonEmpty, w.toString)
          assert(w.partitionSpec.forall(_.references.exists(
            _.name == "doc_id")), w.toString)
        }
      }
    }
  }

  test("removeBoilerplate: line stream is never broadcast; anti join keyed") {
    val docs = (0 until 60).map(i =>
      (i.toLong, s"s${i % 3}", s"nav line\nbody $i\nfooter")).toDF("id", "g", "text")
    withNoAutoBroadcast {
      val p = plan(Dedup.removeBoilerplate(docs, "id", "text", "g"))
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p.take(2000))
      // the flagged-set anti join must key on the line hash (shuffle or
      // hash join, not a nested loop over the exploded line stream)
      assert(p.contains("LeftAnti"), p.take(2000))
    }
  }

  test("pairScores: payload bytes never cross the modality join") {
    implicit val sp: org.apache.spark.sql.SparkSession = spark
    val media = (0L until 8L).toDF("id").as[Long]
      .map(id => Multimodal.MediaRow(id, "img/png", Multimodal.syntheticPng(id)))
    val caps = (0L until 8L).map(id => (id, s"cap $id")).toDF("id", "caption")
    val p = plan(Multimodal.pairScores(caps, media, "id", "caption", 0.0))
    // the join's output carries the two 64-dim vectors, never `content`
    val joinAt = p.indexOf("Join")
    assert(joinAt >= 0, p.take(2000))
    assert(!p.substring(0, joinAt).contains("content"), p.take(2000))
  }

  test("epochShuffle: per-shard hash windows, never a global range sort") {
    val docs = spark.range(500).select($"id".as("doc_id"))
    val p = plan(Corpus.epochShuffle(docs, "doc_id", epoch = 1L, nShards = 8))
    // the permutation must be expressed as shard-keyed windows
    // (hashpartitioning exchange), not the ORDER BY rand() shape —
    // a range-partitioned total sort with a boundary-sampling pass
    assert(!p.contains("rangepartitioning"), p.take(2000))
    assert(p.contains("Window") && p.contains("hashpartitioning"),
      p.take(2000))
  }

  test("rendezvousShard is map-only: no exchange, join, or explode") {
    val docs = spark.range(500).select($"id".as("doc_id"))
    for (portable <- Seq(true, false)) {
      val p = plan(Corpus.rendezvousShard(docs, "doc_id", 16,
        portable = portable))
      // the HRW argmax lives inside one row-local aggregate expression:
      // a 1000-shard assignment must stay a corpus scan, never a
      // candidate explode (Generate) or a shard-table join
      assert(!p.contains("Exchange") && !p.contains("Join") &&
        !p.contains("Generate"), s"portable=$portable: ${p.take(2000)}")
    }
  }

  test("hardNegatives big-batch plan never broadcasts the corpus side") {
    val rows = (0L until 60L).map(i =>
      (i, Array(math.sin(i * 0.7), math.cos(i * 1.3)), i % 3)).toDF("id", "v", "lab")
    withNoAutoBroadcast {
      val p = plan(Similarity.hardNegatives(rows, rows, "id", "v", "lab",
        k = 5, broadcastAnchors = false))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    }
  }

  test("weightedConsensus: every argmax window sits above a vote aggregate") {
    val votes = (0 until 900).map(i =>
      (i % 30, s"a${i % 7}", s"l${i % 4}")).toDF("item", "ann", "lab")
    val plan = Preference.weightedConsensus(votes, "item", "ann", "lab")
      .queryExecution.optimizedPlan
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w }
    assert(windows.nonEmpty)
    // a 10^9-vote item must cost |labels| window rows, not 10^9: both
    // rank windows run over the (item, label) count/weight CELL table
    windows.foreach { w =>
      val aggsBelow = w.child.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
      assert(aggsBelow.nonEmpty, w.toString.take(1000))
    }
  }

  test("lexicon scanCounts is map-only: no exchange, no join") {
    val docs = (0L until 50L).map(i => (i, s"text $i the and thing"))
      .toDF("id", "text")
    val p = plan(Lexicon.scanCounts(docs, "id", "text", Seq("the", "an")))
    // the automaton rides the closure; a 10k-term lexicon must never
    // become a join side or force a shuffle
    assert(!p.contains("Exchange") && !p.contains("Join"), p.take(2000))
  }

  test("bradleyTerry returns a checkpointed result: no comparison re-derivation") {
    val comp = (0 until 100).map(i => (s"m${i % 4}", s"m${(i + 1) % 4}"))
      .filter(p => p._1 != p._2).toDF("w", "l")
    val out = Preference.bradleyTerry(comp, "w", "l", iters = 2)
    // the iterations and final joins ran inside the call while the
    // win-count caches were warm; consuming the returned frame must not
    // re-aggregate the comparison stream (its plan is a checkpoint scan)
    val p = plan(out)
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"), p.take(2000))
    assert(!p.contains("Aggregate") && !p.contains("HashAggregate"), p.take(2000))
  }
}
