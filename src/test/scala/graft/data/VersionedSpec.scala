package graft.data

import graft.SparkSpec

/**
 * The shared versioned-publish spelling: crash recovery (an orphaned
 * committed version above the pointer must not wedge the directory) and
 * orphan GC once the pointer passes it.
 */
class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def write(n: Long)(path: String): Unit =
    Seq(Tuple1(n)).toDF("x").write.parquet(path)

  test("publish recovers from a crash between rename-commit and pointer flip") {
    val dir = tempDir("versioned")
    assert(Versioned.publish(spark, dir)(write(1)) === 1L)
    // simulate the crash: v2 fully committed on disk, pointer still at 1
    Seq(Tuple1(2L)).toDF("x").write.parquet(s"$dir/v2")
    assert(Versioned.latestVersion(spark, dir) === Some(1L))
    // the next publish skips the orphan instead of colliding forever
    assert(Versioned.publish(spark, dir)(write(3)) === 3L)
    assert(Versioned.latestVersion(spark, dir) === Some(3L))
    // readers were never exposed to the orphan; prune GCs it once the
    // pointer has passed it
    assert(Versioned.pruneVersions(spark, dir, keep = 0).toSet === Set(1L, 2L))
    assert(Versioned.latestVersion(spark, dir) === Some(3L))
  }

  test("pruneVersions anchored asOf never deletes the version a reader holds") {
    val dir = tempDir("versioned_asof")
    assert(Versioned.publish(spark, dir)(write(1)) === 1L)
    assert(Versioned.publish(spark, dir)(write(2)) === 2L)
    // a reader loaded v2, then a publisher landed v3 BEFORE the reader's
    // prune ran — the TOCTOU window. Anchored on the loaded version,
    // keep=0 must delete only versions strictly below v2, never v2.
    assert(Versioned.publish(spark, dir)(write(3)) === 3L)
    assert(Versioned.pruneVersions(spark, dir, keep = 0, asOf = Some(2L)) === Seq(1L))
    assert(spark.read.parquet(s"$dir/v2").count() === 1L)
    assert(spark.read.parquet(s"$dir/v3").count() === 1L)
    // an anchor above the pointer is clamped — pruning can't outrun publish
    assert(Versioned.pruneVersions(spark, dir, keep = 0, asOf = Some(99L)) === Seq(2L))
    assert(spark.read.parquet(s"$dir/v3").count() === 1L)
  }

  test("publish refuses to clobber a version that lands mid-staging") {
    val dir = tempDir("versioned_race")
    // the write callback runs between the version scan and the
    // rename-commit — the only window where a racing publisher's v<N>
    // can appear; landing one there must trigger the loud refusal
    val e = intercept[IllegalStateException] {
      Versioned.publish(spark, dir) { staged =>
        write(1)(staged)
        Seq(Tuple1(99L)).toDF("x").write.parquet(s"$dir/v1")
      }
    }
    assert(e.getMessage.contains("v1"))
    // the interloper's version is untouched, the pointer never flipped,
    // and the staging residue is cleaned up
    assert(Versioned.latestVersion(spark, dir) === None)
    assert(spark.read.parquet(s"$dir/v1").count() === 1L)
    assert(!new java.io.File(s"$dir/.staging-v1").exists())
  }
}
