package graft

import org.apache.spark.sql.functions._

/**
 * Contract tests for the staged-parquet hand-off (q126 and the
 * staged-encode oracles): the stage root is keyed by user but not by
 * JVM, so two runs of one tree dump the same oracle SQL, and each stage
 * is keyed by the sf dir's basename, which the staged oracles resolve
 * to the scale they are dumped at; the read-back must refuse an
 * absent or half-written stage instead of silently feeding a partial
 * table to the query (and through the shared path, the DuckDB oracle).
 * q83 publishes its ANN index under a stage dir too, one version kept.
 * Given up with the JVM key: two JVMs of one user that run the same
 * staged query at the same scale at the same time share a path; for
 * q83 that fails the query outright (see `SparkEntry.stageRoot`). No
 * procedure in the repo does that (Verify runs at sf0.01, Bench at
 * sf0.1, and sbt runs are never concurrent), and the q83 test below
 * runs on a scale dir of its own, so it never shares a Verify run's.
 */
class StageSpec extends SparkSpec {
  import spark.implicits._

  test("stageRoot is keyed by user, not by JVM pid; stageDir by sf basename") {
    val root = SparkEntry.stageRoot
    assert(root.contains(sys.props.getOrElse("user.name", "nouser")))
    assert(!root.contains("pid"))
    val a = SparkEntry.stageDir("q126_pieces", "/root/testdata/sf0.01")
    val b = SparkEntry.stageDir("q126_pieces", "/root/testdata/sf0.1")
    assert(a != b && a.startsWith(root) && a.endsWith("q126_pieces_sf0.01"))
  }

  test("readStage refuses a missing stage and a stage without _SUCCESS") {
    val dir = tempDir("stage_refusal")
    // absent entirely
    val eAbsent = intercept[IllegalStateException] {
      SparkEntry.readStage(spark, s"$dir/never_written")
    }
    assert(eAbsent.getMessage.contains("_SUCCESS"))
    // half-written: parquet part files exist but the committer's
    // _SUCCESS marker does not (simulates a crash mid-stage)
    val half = s"$dir/half"
    Seq((1L, "x")).toDF("id", "v").write.parquet(half)
    val marker = new java.io.File(half, "_SUCCESS")
    assert(marker.isFile, "parquet committer should have written _SUCCESS")
    assert(marker.delete())
    val eHalf = intercept[IllegalStateException] {
      SparkEntry.readStage(spark, half)
    }
    assert(eHalf.getMessage.contains("incomplete"))
    // complete stage reads back fine
    val full = s"$dir/full"
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(full)
    assert(SparkEntry.readStage(spark, full).count() === 2L)
  }

  test("oracleSql points each staged-encode oracle at the stage of its scale") {
    val small = SparkEntry.oracleSql("/data/sf0.001")
    val gate = SparkEntry.oracleSql("/data/sf0.01")
    assert(small.keys.toSeq === gate.keys.toSeq)
    val staged = gate.keySet.filter(k => small(k) != gate(k))
    assert(staged === Set("q87b_bpe_encode", "q87c_bpe_token_ids",
      "q113_unigram_encode", "q126_tokenizer_eval", "q156_oov_rate",
      "q161_wordpiece"))
    for ((sf, at) <- Seq("sf0.001" -> small, "sf0.01" -> gate)) {
      at.foreach { case (k, sql) =>
        assert(!sql.contains(SparkEntry.StageScale), k)
        if (staged(k)) assert(sql.contains(s"${SparkEntry.stageRoot}/") &&
          sql.contains(s"_$sf/*.parquet"), s"$k: $sql")
      }
    }
  }

  test("q83 republishes its index in one stage dir, keeping one version") {
    import java.nio.file.{Files, Paths}
    // q83 reads only `documents`: link the sf0.001 table into a scale
    // dir of the test's own, whose basename keys a stage no Verify uses
    val dir = tempDir("q83_scale")
    val link = Files.createSymbolicLink(Paths.get(dir, "documents.parquet"),
      Paths.get("/root/testdata/sf0.001/documents.parquet"))
    val stage = new java.io.File(SparkEntry.stageDir("q83_rag_idx", dir))
    try {
      val q83 = SparkEntry.queries("q83_rag_pipeline")
      def run() = q83(spark, dir).collect().map(_.toString).toSeq
      val first = run()
      val second = run()
      assert(first.nonEmpty && second === first)
      val versions = stage.listFiles().map(_.getName).filter(_.matches("v[0-9]+"))
      assert(versions.length === 1, versions.mkString(","))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(stage)
      Files.delete(link)
      Files.delete(Paths.get(dir))
    }
  }
}
