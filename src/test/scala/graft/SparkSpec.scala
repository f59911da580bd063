package graft

import java.nio.file.{Files, LinkOption, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

import scala.util.Using

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (one per suite, lazy). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName(getClass.getSimpleName)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Every message down the cause chain of `df`'s failure to collect. */
  def failure(df: DataFrame): String = {
    val e = intercept[Exception](df.collect())
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.toString).mkString("\n")
  }

  private val tempDirs = new ConcurrentLinkedQueue[Path]()

  /** A new directory under the temp dir, deleted with everything in it
   * after the suite. Symbolic links inside are deleted, never followed. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    tempDirs.add(dir)
    dir.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach { dir =>
      if (Files.exists(dir, LinkOption.NOFOLLOW_LINKS))
        Using.resource(Files.walk(dir))(
          _.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p)))
    } finally super.afterAll()
}
