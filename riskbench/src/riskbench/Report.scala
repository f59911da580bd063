package riskbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Run header, artifacts and the traced run's per-layer table. */
object Report {

  /** Host, widths, heap, versions, code identity, seed and config. */
  def header(spark: SparkSession, a: Main.Args, cores: Int, runDates: Int): Seq[(String, Any)] = {
    val cfg = Scale.cfg
    Seq(
      "host" -> java.net.InetAddress.getLocalHost.getHostName,
      "nproc" -> a.int("nproc"),
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1000000L,
      "java" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "spark" -> spark.version,
      "git_sha" -> a("sha"),
      "source_hash" -> a("build"),
      "workload" -> a("workload"),
      "seed" -> a("seed").toLong,
      "seconds" -> a("seconds").toDouble,
      "trace" -> a("trace").toInt,
      "runs" -> cfg.runs,
      "tickers" -> cfg.tickers.size,
      "indicators" -> cfg.indicators.size,
      "days" -> cfg.days,
      "run_dates" -> runDates)
  }

  /** Driver heap in use after full collections: what caches and state
   * keep alive. Spark's cleaner drops shuffle and broadcast state behind
   * weak references only after a collection finds them, so this collects
   * a few times and keeps the lowest reading. */
  def liveHeapMb(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    (1 to 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      mx.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  def writeArtifact(path: String, json: String): Unit =
    Files.write(Paths.get(path), (json + "\n").getBytes(StandardCharsets.UTF_8))

  def writeSpans(path: String, spans: Seq[Span]): Unit =
    Files.write(Paths.get(path), spans.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "rows" -> s.rows))).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))

  /** Layers, named after the modules the benchmark calls into. */
  val layerNames: Seq[String] = Seq("Sources", "Returns", "Volatility", "AsOfJoin",
    "Training.train", "Training.score", "MonteCarlo.simulate", "MonteCarlo.collect",
    "VarAggregation", "VarEngine", "Compliance", "Warehouse.read", "Warehouse.write")

  /**
   * Per-layer metrics of a traced run: self time, rows out and the task
   * counts of the layer's own jobs. They are per op for a layer that runs
   * in ops, and per setup for one that runs only in setup. Then come the
   * spark and jvm totals per op, and the tracing overhead against the same
   * ops untraced.
   */
  def layers(t: Tracer, counters: JobCounters, cores: Int, traced: Main.Phase,
      plain: Main.Phase, planMs: Double, gcMs: Long): Seq[(String, Double, String)] = {
    val n = traced.ops.size.toDouble
    val self = Span.selfNs(t.spans.toSeq)
    val byId = t.spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    // spans inside ops count per op; spans inside setup count per setup
    val weight = t.spans.map(s => s.id -> (if (root(s).name == "setup") 1.0 else 1.0 / n)).toMap
    val byName = t.spans.groupBy(_.name)
    def sum(ss: Seq[Span])(f: Counts => Long): Double =
      ss.map(s => f(counters(s"span-${s.id}")) * weight(s.id)).sum
    val perLayer = layerNames.flatMap { l =>
      val all = byName.getOrElse(l, Nil).toSeq
      // a layer that runs in ops is reported from its op spans alone
      val ss = Some(all.filter(s => root(s).name == "op")).filter(_.nonEmpty).getOrElse(all)
      val selfMs = ss.map(s => self(s.id) * weight(s.id)).sum / 1e6
      val taskMs = sum(ss)(_.taskMs)
      // a write's output is the rows its tasks wrote
      val rows = if (l == "Warehouse.write") sum(ss)(_.rowsWritten)
        else ss.map(s => s.rows * weight(s.id)).sum
      val base = Seq(
        "self_ms" -> (selfMs, "ms"),
        "rows_out" -> (rows, "rows"),
        "jobs" -> (sum(ss)(_.jobs), "count"),
        "tasks" -> (sum(ss)(_.tasks), "count"),
        "task_ms" -> (taskMs, "ms"),
        "core_util" -> (if (selfMs > 0) taskMs / (selfMs * cores) else 0.0, "ratio"),
        "shuffle_write_mb" -> (sum(ss)(_.shuffleWrite) / 1e6, "MB"),
        "spill_mb" -> (sum(ss)(_.spill) / 1e6, "MB"),
        "gc_ms" -> (sum(ss)(_.gcMs), "ms"))
      val extra = l match {
        case "Warehouse.read" =>
          val files = ss.flatMap(s => t.filesRead.get(s.id).map { case (r, f) =>
            (r * weight(s.id), f * weight(s.id)) })
          val (read, listed) = (files.map(_._1).sum, files.map(_._2).sum)
          Seq("files_read" -> (read, "count"),
            "bytes_read_mb" -> (sum(ss)(_.bytesRead) / 1e6, "MB"),
            "files_skipped_ratio" -> (if (listed > 0) 1.0 - read / listed else 0.0, "ratio"))
        case "Warehouse.write" =>
          Seq("files_written" -> (sum(ss)(_.writeTasks), "count"),
            "bytes_written_mb" -> (sum(ss)(_.bytesWritten) / 1e6, "MB"))
        case _ => Nil
      }
      (base ++ extra).map { case (k, (v, u)) => (s"$l.$k", v, u) }
    }
    val ops = t.spans.filter(s => s.parent < 0 && s.name == "op").toSeq
    val all = t.spans.filter(s => root(s).name == "op").toSeq
    val stages = sum(all)(_.stages)
    val spark = Seq(
      ("trace.gap_ms", ops.map(s => self(s.id)).sum / 1e6 / n, "ms"),
      ("spark.jobs", sum(all)(_.jobs), "count"),
      ("spark.tasks", sum(all)(_.tasks), "count"),
      ("spark.plan_ms", planMs / n, "ms"),
      ("spark.stages_skipped_ratio", if (stages > 0) 1.0 - sum(all)(_.stagesRun) / stages else 0.0,
        "ratio"),
      ("jvm.gc_ms", gcMs / n, "ms"),
      ("trace.overhead_ratio", traced.opNs.toDouble / plain.opNs - 1.0, "ratio"),
      ("trace.coverage", ops.map(s => 1.0 - self(s.id).toDouble / s.durNs).min, "ratio"),
      ("trace.ops", n, "count"))
    perLayer ++ spark
  }
}
