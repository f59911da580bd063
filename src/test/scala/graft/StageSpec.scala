package graft

import org.apache.spark.sql.functions._

/**
 * Contract tests for the staged-parquet hand-off (q126 and the
 * staged-encode oracles): the stage root is keyed by user but not by
 * JVM, so two runs of one tree dump the same oracle SQL, and each stage
 * is keyed by the sf dir's basename; the read-back must refuse an
 * absent or half-written stage instead of silently feeding a partial
 * table to the query (and through the shared path, the DuckDB oracle).
 * Given up with the JVM key: two JVMs of one user that run the same
 * staged query at the same scale at the same time share a path. No
 * procedure in the repo does that (Verify runs at sf0.01, Bench at
 * sf0.1, and sbt runs are never concurrent).
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
    val dir = java.nio.file.Files.createTempDirectory("stage_refusal")
      .toString
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
}
