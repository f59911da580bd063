package riskbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.risk._

/**
 * Single-process runner: one workload, one seed. Setup and warm-up run a
 * fixed sequence; the timed phase then runs the seeded op sequence as a
 * closed loop with one caller until `--seconds` of op time has passed,
 * checking every op's output outside its timed interval. `--trace 1`
 * adds a traced replay of the same ops for per-layer numbers.
 *
 * Every line it prints on stdout is `header`, `metric`, `tail`,
 * `fingerprint`, `fail` or, last, `RESULT <json>`.
 */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    a.m.getOrElse("mode", "run") match {
      case "fixture" => Fixture.build(a)
      case "selftest" => SelfTest.run(a("work"))
      case _ => run(a)
    }
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("riskbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Ops run in one phase, with their wall times and outcomes. */
  final class Phase {
    val ops = ArrayBuffer[Op]()
    val ns = ArrayBuffer[Long]()
    val ok = ArrayBuffer[Boolean]()
    val risk = ArrayBuffer[(Double, Double)]()
    def opNs: Long = ns.sum
    def passed: Int = ok.count(identity)
  }

  /** Runs `units` (whole units of the op mix) while op time stays under
   * `seconds`, or exactly the `replay` ops when given. */
  def phase(w: Workload, t: Tracer, units: Iterator[Seq[Op]], seconds: Double,
      replay: Option[Seq[Op]] = None): Phase = {
    val p = new Phase
    def one(op: Op): Unit = {
      val i = p.ops.size
      p.ops += op
      val problems = try {
        val (done, ns) = t.op(i)(w.run(op, t))
        p.ns += ns
        p.risk += ((done.var99, done.es99))
        try done.check() finally done.release()
      } catch {
        case e: Exception =>
          if (p.ns.size == i) p.ns += 0L
          p.risk += ((Double.NaN, Double.NaN))
          Seq(s"error: $e")
      }
      p.ok += problems.isEmpty
      problems.foreach(pr => println(s"fail op=$i kind=${op.kind} date=${op.date} $pr"))
    }
    replay match {
      case Some(ops) => ops.foreach(one)
      case None => while (p.opNs < seconds * 1e9) units.next().foreach(one)
    }
    p
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def run(a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = a.int("cores")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val spark = session(cores, a("work"))
    System.err.println(f"session ready ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1f s after JVM start")
    val counters = new JobCounters
    spark.sparkContext.addSparkListener(counters)
    val plan = new PlanTime
    spark.listenerManager.register(plan)

    val w: Workload = a("workload") match {
      case "var-batch" => new VarBatch(spark, cores, a("fixture"))
      case "var-serve" => new VarServe(spark, cores, a("fixture"), s"${a("work")}/db")
      case "var-refresh" => new VarRefresh(spark, cores, a("fixture"), s"${a("work")}/db")
      case other => sys.error(s"unknown workload $other")
    }
    val plain = new Tracer(spark, enabled = false)
    // traced runs trace setup too: on a workload whose ops skip a layer
    // (the ETL and OLS layers, the warehouse write), setup is where it runs
    val t = new Tracer(spark, enabled = traced)
    plain.group("setup")
    val (_, setupNs) = t.op(-1, "setup")(w.setup(t))
    val header = Report.header(spark, a, cores, w.runDates.size)
    println("header " + Json.obj(header))
    plain.group("warmup")
    val warm = phase(w, plain, Iterator.empty, 0, Some(w.warmup))
    System.err.println(f"setup ${setupNs / 1e9}%.1f s, warm-up ${warm.opNs / 1e9}%.1f s: " +
      warm.ops.zip(warm.ns).map { case (o, n) => s"${o.kind}=${n / 1000000}" }.mkString(" "))
    if (warm.passed != warm.ops.size) sys.error("warm-up ops failed their checks")

    val rng = new Random(seed)
    val units = Iterator.continually(w.cycle(rng))
    plain.group("timed")
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val timed = phase(w, plain, units, if (traced) seconds / 2 else seconds)
    System.err.println(f"timed ${timed.opNs / 1e9}%.1f s of ops, " +
      f"${(System.currentTimeMillis() - jvmStartMs) / 1000.0 - setupS}%.1f s with checks")
    org.apache.spark.RiskbenchBus.drain(spark.sparkContext)
    val shuffle = counters("timed").shuffleWrite

    val m = new Metrics
    m("setup_s", setupS, "s")
    m("ops_per_s", timed.passed / (timed.opNs / 1e9), "1/s")
    val lat = timed.ns.map(_ / 1e6).toSeq
    m("op_p50_ms", Stats.percentile(lat, 50), "ms")
    m("shuffle_mb_per_op", shuffle / 1e6 / timed.ops.size, "MB")
    m("heap_live_mb", Report.liveHeapMb(), "MB")
    val tail = Stats.tail(lat)
    tail match {
      case Some((p, v)) =>
        m("op_tail_ms", v, "ms")
        println(f"tail p$p%.1f=$v%.3f ms over ${lat.size} ops")
      case None => println(s"tail omitted: ${lat.size} ops leave fewer than 10 beyond p75")
    }
    val k = math.min(w.fingerprintOps, timed.ops.size)
    val fp = timed.risk.take(k)
    val fingerprint = f"workload=${w.name} seed=$seed ops=$k " +
      f"var99_sum=${fp.map(_._1).sum}%.9e es99_sum=${fp.map(_._2).sum}%.9e"
    println("fingerprint " + fingerprint)

    var attempted = timed.ops.size
    var failed = timed.ops.size - timed.passed
    val layerMetrics =
      if (!traced) Nil
      else {
        plain.group("traced")
        val plan0 = plan.ns
        val gc1 = gcMs()
        val tr = phase(w, t, Iterator.empty, 0, Some(timed.ops.toSeq))
        val gcTr = gcMs() - gc1
        org.apache.spark.RiskbenchBus.drain(spark.sparkContext)
        attempted += tr.ops.size
        failed += tr.ops.size - tr.passed
        Report.writeSpans(s"${a("out")}/${a("name")}-spans.jsonl", t.spans.toSeq)
        Report.layers(t, counters, cores, tr, timed, (plan.ns - plan0) / 1e6, gcTr)
      }
    layerMetrics.foreach { case (n, v, u) => m(n, v, u) }
    m.all.foreach { case (n, (v, u)) => println(s"metric $n $v $u") }

    val opsJson = timed.ops.indices.map { i =>
      Json.obj(Seq("kind" -> timed.ops(i).kind, "date" -> timed.ops(i).date,
        "ms" -> timed.ns(i) / 1e6, "ok" -> timed.ok(i)))
    }
    Report.writeArtifact(s"${a("out")}/${a("name")}.json", Json.obj(Seq(
      "header" -> Json.Raw(Json.obj(header)),
      "fingerprint" -> fingerprint,
      "tail" -> tail.map { case (p, v) => f"p$p%.1f=$v%.3f ms over ${lat.size} ops" }
        .getOrElse(s"omitted (${lat.size} ops)"),
      "metrics" -> Json.Raw(m.json),
      "ops" -> Json.Raw(opsJson.mkString("[", ",", "]")))))
    println("RESULT " + Json.obj(Seq("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> Json.Raw(m.json))))
    spark.stop()
  }
}

/** Metrics in print order: name → (value, unit). */
final class Metrics {
  private val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
  def apply(name: String, v: Double, unit: String): Unit = m(name) = (v, unit)
  def all: Seq[(String, (Double, String))] = m.toSeq
  def json: String = m.map { case (n, (v, u)) =>
    Json.str(n) + ":" + Json.obj(Seq("value" -> v, "unit" -> u))
  }.mkString("{", ",", "}")
}

/** Just enough JSON writing for the runner's output. */
object Json {
  final case class Raw(s: String)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => str(String.valueOf(s))
  }
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
