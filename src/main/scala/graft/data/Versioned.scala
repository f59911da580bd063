package graft.data

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/**
 * Versioned publish-while-serving for any directory-shaped artifact
 * (ANN indexes, n-gram LM count tables, BM25 postings stats): each
 * publish writes a NEW immutable `dir/v<N>/` and flips the tiny
 * `dir/latest` pointer LAST, so a reader that loaded version N keeps a
 * consistent snapshot while N+1 lands. This is the one shared spelling
 * behind [[Pq.saveIndexVersioned]], [[NgramLm.saveModelVersioned]] and
 * [[Bm25.saveModelVersioned]]; a long-running reader polls
 * [[latestVersion]] to pick up a new version.
 *
 * Concurrency contract: ONE publisher at a time. The version body is
 * written under a hidden staging name and committed by an atomic
 * `rename` that refuses to clobber an existing `v<N>` — two racing
 * publishers therefore fail loudly (one rename loses) instead of
 * interleaving files inside the same version directory. The pointer
 * flip itself is a parquet overwrite (delete-then-write, NOT atomic);
 * readers treat an unreadable pointer as "no change" and keep their
 * current version, so the reader-side window is harmless by
 * construction — but serializing publishers remains the deployment's
 * job: two concurrent publishers can also interleave pointer flips
 * (the slower writer's older value landing last), a regression the
 * next publish heals but no filesystem primitive here can prevent.
 * Publisher CRASHES, by contrast, are fully recovered — see
 * [[publish]]'s orphan handling.
 */
object Versioned {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Currently-published version under `dir` — None when no pointer
   * exists (including the sub-millisecond window while a publisher
   * rewrites it; callers keep their current artifact). */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val p = new Path(s"$dir/latest")
    if (!fs(spark, dir).exists(p)) None
    else
      try Some(spark.read.parquet(s"$dir/latest").head().getLong(0))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Publish one new version: `write` receives the staging path to fill,
   * then the directory is rename-committed to `dir/v<N>` and the
   * pointer flipped. Returns N. Fails (leaving the pointer untouched)
   * if `v<N>` appears between the scan and the rename — the lost half
   * of a publisher race.
   *
   * N is one past BOTH the pointer and the highest committed `v<i>` on
   * disk: a publisher that died between the rename-commit and the
   * pointer flip leaves an orphaned version above the pointer, and
   * deriving N from the pointer alone would collide with it on every
   * subsequent publish — a permanent wedge. The orphan is skipped, not
   * adopted (nothing ever pointed at it, so republishing fresh is the
   * safe call), and it is GC'd by [[pruneVersions]] once the pointer
   * passes it. */
  def publish(spark: SparkSession, dir: String)(write: String => Unit): Long = {
    import spark.implicits._
    val hfs = fs(spark, dir)
    val onDisk = Option(hfs.globStatus(new Path(s"$dir/v*")))
      .getOrElse(Array.empty)
      .flatMap(s => scala.util.Try(
        s.getPath.getName.stripPrefix("v").toLong).toOption)
    val next = (latestVersion(spark, dir).getOrElse(0L) +: onDisk.toSeq).max + 1
    val staged = new Path(s"$dir/.staging-v$next")
    val committed = new Path(s"$dir/v$next")
    if (hfs.exists(staged)) hfs.delete(staged, true) // a crashed prior attempt
    write(staged.toString)
    if (hfs.exists(committed) || !hfs.rename(staged, committed)) {
      hfs.delete(staged, true)
      throw new IllegalStateException(
        s"version v$next already exists under $dir — concurrent publisher? " +
          "Versioned.publish requires a single publisher at a time")
    }
    Seq(Tuple1(next)).toDF("version").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/latest")
    next
  }

  /** Garbage-collect old versions: drop every `v<i>` with
   * `i < anchor - keep` (i.e. retain the anchor version plus the
   * `keep` versions just below it for in-flight readers — a reader
   * that loaded any retained version keeps answering). Never touches
   * versions at or above the anchor. Returns the versions deleted.
   * Safe to run on a schedule; size `keep` to cover the longest query
   * a reader might still be running against an old snapshot.
   *
   * The anchor defaults to the CURRENT pointer, which is right for a
   * standalone GC job — but a READER that prunes after loading must
   * pass `asOf = Some(loadedVersion)`: re-reading the pointer here
   * would race a concurrent publish (pointer now at N+1) and, at
   * `keep = 0`, delete the version the reader just loaded while its
   * lazily-evaluated DataFrames still reference those files. With an
   * explicit anchor the prune can only ever delete strictly below
   * what the caller holds. An `asOf` above the pointer is clamped to
   * the pointer (pruning must never outrun what was published). */
  def pruneVersions(spark: SparkSession, dir: String, keep: Int = 1,
      asOf: Option[Long] = None): Seq[Long] = {
    require(keep >= 0, s"keep must be >= 0, got $keep")
    val published = latestVersion(spark, dir).getOrElse(return Nil)
    val latest = asOf.fold(published)(math.min(_, published))
    val hfs = fs(spark, dir)
    val vs = Option(hfs.globStatus(new Path(s"$dir/v*"))).getOrElse(Array.empty)
      .map(_.getPath)
      .flatMap(p => scala.util.Try(p.getName.stripPrefix("v").toLong).toOption
        .map(v => (v, p)))
    val doomed = vs.filter { case (v, _) => v < latest - keep }.sortBy(_._1)
    doomed.foreach { case (_, p) => hfs.delete(p, true) }
    doomed.map(_._1).toSeq
  }
}
