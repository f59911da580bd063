package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/**
 * Per-query dev harness over [[SparkEntry.queries]]:
 *
 *   runMain graft.Harness <profile|plan|scale> [query ...]
 *
 *  - `profile`: wall seconds plus the job/stage/task/shuffle breakdown of
 *    each query (warm run, then one measured run, noop sink), and its
 *    top-5 stages by duration.
 *  - `plan`: the formatted physical plan, then the initial plan's shuffle
 *    exchanges and which pairs canonicalize equal (AQE materializes those
 *    once and reuses the stage) or nearly so.
 *  - `scale`: the evidence generator behind `SCALING.md` — each query at
 *    every dir of `SPARK_GRAFT_SCALE_DIRS` (default sf0.001, sf0.01,
 *    sf0.1; warmup pass, then min of 2, the [[Bench]] protocol), one
 *    `SCALE,<query>,<sf>,<sec>` line per measurement. With no query
 *    names it runs a fixed 8-query set.
 *
 * `profile` and `plan` read `SPARK_GRAFT_SF_DIR` (default sf0.1). Width is
 * [[GraftSession.local]]'s. The mode and every query name are checked
 * before a session starts.
 */
object Harness {

  private val testData = "/root/testdata"

  private val scaleQueries = Seq(
    "q63_dup_spans", "q57_corpus_prepare", "q29_dedup_clusters",
    "q29b_dedup_survivors", "q08_rolling_global_chunked",
    "q72_sql_surface", "q38_winnow", "q06_rolling_window")

  /** (mode, query names) of a command line; an unknown mode or query name
    * throws IllegalArgumentException naming it. Starts no session. */
  def resolve(args: Seq[String]): (String, Seq[String]) = {
    val mode = args.headOption.getOrElse("")
    require(Seq("profile", "plan", "scale").contains(mode),
      s"unknown mode '$mode'; usage: Harness <profile|plan|scale> [query ...]")
    val names = if (args.tail.isEmpty && mode == "scale") scaleQueries else args.tail
    require(names.nonEmpty, s"mode '$mode' needs at least one query name")
    names.filterNot(SparkEntry.queries.contains).headOption
      .foreach(q => throw new IllegalArgumentException(s"unknown query '$q'"))
    (mode, names)
  }

  def main(args: Array[String]): Unit = {
    val (mode, names) = resolve(args.toSeq)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", s"$testData/sf0.1")
    try mode match {
      case "profile" => profile(spark, sfDir, names)
      case "plan" => plan(spark, sfDir, names)
      case "scale" => scale(spark, names)
    } finally spark.stop()
  }

  private def run(spark: SparkSession, q: String, dir: String): Unit =
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()

  /** One line per query:
    *
    *   name wall_s jobs stages tasks shufRead_MB shufWrite_MB peakStage_s
    *
    * plus the top-5 stages by duration with their own shuffle volumes. */
  private def profile(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    @volatile var jobs = 0
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long, Long, Int)]()
    val sqlExec = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs += 1
        val exec = Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id"))).getOrElse("-")
        js.stageIds.foreach(sqlExec.put(_, exec))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val dur = (for { s <- si.submissionTime; e <- si.completionTime } yield e - s).getOrElse(0L)
        stages.add((si.stageId, stageLabel(sqlExec.getOrDefault(si.stageId, "-"), si), dur,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          si.numTasks))
      }
    }

    for (q <- names) {
      // warmup (codegen + footer caches), untimed and unlistened
      try run(spark, q, sfDir)
      catch { case e: Throwable => println(s"$q WARMUP FAILED: ${e.getMessage}") }
      jobs = 0; stages.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try run(spark, q, sfDir)
      catch { case e: Throwable => println(s"$q FAILED: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async: give the completion events a moment
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val ss = stages.asScala.toSeq
      val sr = ss.map(_._4).sum / 1e6
      val sw = ss.map(_._5).sum / 1e6
      val nTasks = ss.map(_._6).sum
      val peak = if (ss.nonEmpty) ss.map(_._3).max / 1e3 else 0.0
      println(f"PROFILE $q%-28s wall=$wall%7.2fs jobs=$jobs%3d stages=${ss.size}%3d tasks=$nTasks%5d shufR=$sr%8.1fMB shufW=$sw%8.1fMB peakStage=$peak%6.2fs")
      for ((id, name, dur, r, w, nt) <- ss.sortBy(-_._3).take(5))
        println(f"    stage $id%4d ${dur / 1e3}%6.2fs tasks=$nt%4d shufR=${r / 1e6}%8.1fMB shufW=${w / 1e6}%8.1fMB  $name")
    }
  }

  /** `sql=<execution id> <operator scopes>` of a stage. Under AQE every
    * stage's call-site name is the same closure, so the SQL execution and
    * the operators a stage runs are what tell two stages apart (an input
    * computed twice shows as two stages with the same operators). */
  private def stageLabel(sqlExec: String, si: StageInfo): String =
    s"sql=$sqlExec " + si.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString(", ")

  private def plan(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    for (q <- names) {
      println(s"########## $q")
      val qe = SparkEntry.queries(q)(spark, sfDir).queryExecution
      println(qe.explainString(FormattedMode))
      val exec = qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      val exs = exec.collect { case e: ShuffleExchangeExec => e }
      println(s"n_exchanges=${exs.length}")
      val canon = exs.map(_.canonicalized.toString)
      exs.zipWithIndex.foreach { case (e, i) =>
        println(s"  ex$i: ${e.outputPartitioning}") }
      for (i <- exs.indices; j <- (i + 1) until exs.length) {
        val eq = exs(i).canonicalized == exs(j).canonicalized
        val l0 = canon(i).linesIterator.toSeq
        val l1 = canon(j).linesIterator.toSeq
        // only report pairs that are equal or nearly so (same depth)
        if (eq) println(s"  ex$i == ex$j (stage will be reused)")
        else if (l0.length == l1.length && l0.length > 2) {
          val diff = l0.zip(l1).filter(p => p._1 != p._2)
          if (diff.length <= 3 && diff.nonEmpty) {
            println(s"  ex$i ~~ ex$j NEAR-MISS, first diff:")
            println("    A: " + diff.head._1.trim.take(220))
            println("    B: " + diff.head._2.trim.take(220))
          }
        }
      }
    }

  private def scale(spark: SparkSession, names: Seq[String]): Unit = {
    val dirs = sys.env.get("SPARK_GRAFT_SCALE_DIRS")
      .map(_.split(",").toSeq)
      .getOrElse(Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"$testData/$sf"))
    for (q <- names; dir <- dirs) {
      val sf = new java.io.File(dir).getName
      def once(): Double = {
        val t0 = System.nanoTime()
        run(spark, q, dir)
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup: file listing, codegen, JIT
      val t = math.min(once(), once())
      println(f"SCALE,$q,$sf,$t%.3f")
    }
  }
}
