package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sources.Tables

final case class Config(data: String, work: String, nproc: Int)

/** Pinned outputs: the tstr_eval score line (seed-independent), the
  * curate output of every eval slice and the row count of every
  * operator_mix query. */
final case class Pins(tstrEval: String, curate: Map[Int, String],
    operatorMix: Map[String, Long])

object Pins {
  def load(path: String): Pins = {
    implicit val formats: Formats = DefaultFormats
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val j = try JsonMethods.parse(src.mkString) finally src.close()
    Pins((j \ "tstr_eval").extract[String],
      (j \ "curate").extract[Map[String, String]].map { case (k, v) => k.toInt -> v },
      (j \ "operator_mix").extract[Map[String, Long]])
  }
}

/** One benchmark run: set up, one cold call, warm calls for `--seconds`,
  * output checks, then the metrics as a flat JSON object in `--result`.
  *
  * {{{
  * Main --workload tstr_eval|curate|operator_mix --seed N --seconds S
  *      --trace 0|1 --data DIR --work DIR --nproc P --pins FILE
  *      --result FILE [--pin 1]
  * }}}
  */
object Main {
  /** Unmeasured warm-up calls after the first call: the second call of a
    * run is still well into the JIT warm-up, and it varies most between
    * runs. */
  val WarmUps = 1
  /** Measured warm calls at least, whatever `--seconds` says; when tracing,
    * TracedPairs traced calls alternating with as many untraced ones. */
  val MinWarm = 2
  val TracedPairs = 2
  /** Stop starting calls after this long, to end well inside 180 s. */
  val HardStopS = 140.0
  /** How far the self times of a traced call may be from its wall time. */
  val SelfSumTolS = 0.002

  /** The one session posture every run uses. */
  def session(cfg: Config): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${cfg.nproc}]")
      .config("spark.sql.shuffle.partitions", cfg.nproc.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One call. `attempted` counts its units (the call itself, or each
    * query of an operator_mix pass); `failures` are its failed units, by
    * name with their error. */
  final case class CallRecord(k: Int, traced: Boolean, wallS: Double,
      error: Option[String], check: String, attempted: Int,
      failures: Seq[String], layers: Map[String, Double])

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no values. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
    }
  }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cfg = Config(o("data"), o("work"), o("nproc").toInt)
    val code =
      try {
        if (o.get("pin").contains("1")) pin(o("workload"), cfg)
        else run(o, cfg)
      } catch {
        case NonFatal(e) => e.printStackTrace(); 1
      }
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(code)
  }

  /** Print the pins of a workload (every curate slice, every
    * operator_mix query). */
  def pin(name: String, cfg: Config): Int = {
    val spark = session(cfg)
    val seeds = if (name == "curate") 0 until Curate.Slices else Seq(0)
    val outs = seeds.map { s =>
      val w = Workload.forName(name, cfg, s)
      w.tables.foreach(t => Tables.load(spark, cfg.data, t))
      val h = w.call(spark, None, s)
      val out = w.output(h)
      w.cleanup(h)
      s -> out
    }
    println(name match {
      case "curate" => outs.map { case (s, h) => s"\"$s\": \"$h\"" }.mkString("{", ", ", "}")
      case "operator_mix" => outs.head._2.split(";").map { kv =>
        val Array(k, v) = kv.split("=", 2); s"\"$k\": $v" }.mkString("{", ", ", "}")
      case _ => "\"" + outs.head._2 + "\""
    })
    0
  }

  def run(o: Map[String, String], cfg: Config): Int = {
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val pins = Pins.load(o("pins"))
    val w = Workload.forName(o("workload"), cfg, seed)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    // set-up: JVM start to the session built and the workload's tables loaded
    val spark = session(cfg)
    val l0 = System.nanoTime()
    w.tables.foreach(t => Tables.load(spark, cfg.data, t))
    val loadS = (System.nanoTime() - l0) / 1e9
    val setupS = System.currentTimeMillis() / 1e3 - jvmStartMs / 1e3
    println(f"setup: $setupS%.3f s from JVM start (table load $loadS%.3f s)")

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val calls = ArrayBuffer[CallRecord]()
    var reference: Option[String] = None
    var correct = true

    def doCall(k: Int, traced: Boolean): CallRecord = {
      val tr = if (traced) tracer else None
      if (!traced) tracer.foreach(_.detach())
      tr.foreach(_.beginCall(k))
      val t0 = System.nanoTime()
      // the root span covers exactly the timed region
      val res = try Right(tr.fold(w.call(spark, None, k))(t => t.span("call")(w.call(spark, tr, k))))
        catch { case NonFatal(e) => Left(e) }
      val wallS = (System.nanoTime() - t0) / 1e9
      if (!traced) tracer.foreach(_.attach())
      val rec = res match {
        case Left(e) =>
          correct = false
          CallRecord(k, traced, wallS, Some(s"${e.getClass.getName}: ${e.getMessage}"),
            "-", 1, Nil, Map.empty)
        case Right(h) =>
          try {
            val out = w.output(h)
            val expected = w.pinned(pins).toSeq ++ reference
            if (reference.isEmpty) reference = Some(out)
            val ok = expected.forall(w.same(out, _))
            if (!ok) correct = false
            val check = if (ok) "output ok" else s"OUTPUT MISMATCH: $out"
            val layers = tr.fold(Map.empty[String, Double]) { t =>
              t.drain()
              layerMetrics(w, t, k, wallS)(h, cfg.nproc)
            }
            CallRecord(k, traced, wallS, None, check,
              math.max(1, w.unitTimes(h).size + w.failures(h).size), w.failures(h), layers)
          } finally w.cleanup(h)
      }
      println(f"call ${rec.k}%2d ${if (traced) "traced  " else "untraced"} " +
        f"${rec.wallS}%8.3f s  ${rec.error.fold(rec.check)("FAILED " + _)}")
      rec
    }

    val runStart = System.nanoTime()
    def elapsedS = (System.nanoTime() - runStart) / 1e9
    calls += doCall(0, trace)
    (1 to WarmUps).foreach(i => calls += doCall(i, false))
    val warmStart = System.nanoTime()
    var k = WarmUps + 1
    // trace mode interleaves traced and untraced calls as T U U T T U U T…,
    // so the tracing overhead is measured inside one run and a steady
    // warm-up drift weighs equally on both sides
    val minWarm = if (trace) 2 * TracedPairs else MinWarm
    while ((k <= WarmUps + minWarm || (System.nanoTime() - warmStart) / 1e9 < seconds) &&
        elapsedS + setupS < HardStopS) {
      calls += doCall(k, trace && (k - WarmUps) % 4 <= 1)
      k += 1
    }

    // further output checks, in untimed executions after the measured calls
    val c0 = System.nanoTime()
    val extra = w.extraChecks(spark)
    extra.foreach(println)
    if (extra.nonEmpty) println(f"extra checks: ${(System.nanoTime() - c0) / 1e9}%.3f s")
    if (extra.exists(!_.startsWith("ok"))) correct = false
    w.summary().foreach(println)

    val failed = calls.filter(_.error.isDefined)
    failed.foreach(c => println(s"FAILED call ${c.k}: ${c.error.get}"))
    calls.foreach(c => c.failures.foreach(f => println(s"FAILED in call ${c.k}: $f")))
    if (calls.exists(_.failures.nonEmpty)) correct = false
    val ok = calls.filter(c => c.error.isEmpty && c.failures.isEmpty)
    val warm = ok.filter(_.k > WarmUps)
    // a collection lets Spark's ContextCleaner drop the blocks of
    // unreachable RDDs, which the next collection then frees
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val heapMb = (rt.totalMemory - rt.freeMemory) / 1e6
    println(f"run: ${elapsedS}%.3f s after set-up")

    val metrics: Seq[(String, Double)] =
      if (!trace) Seq(
        "setup_s" -> setupS,
        "first_call_s" -> ok.find(_.k == 0).fold(Double.NaN)(_.wallS),
        "call_s" -> median(warm.map(_.wallS).toSeq),
        "heap_mb" -> heapMb)
      else {
        val tracedWarm = warm.filter(_.traced)
        val untracedWarm = warm.filterNot(_.traced)
        val names = tracedWarm.flatMap(_.layers.keys).distinct
        names.map(n => n -> median(tracedWarm.map(_.layers(n)).toSeq)).toSeq ++ Seq(
          "sources.load_s" -> loadS,
          "trace.overhead_ratio" ->
            (median(tracedWarm.map(_.wallS).toSeq) /
              median(untracedWarm.map(_.wallS).toSeq) - 1.0))
      }
    if (metrics.exists(m => m._2.isNaN)) {
      println("no successful warm call of a needed kind; no result")
      return 1
    }
    tracer.foreach(t => printTable(w, t, calls.filter(c => c.traced && c.error.isEmpty).map(_.k).toSeq))

    val json = metrics.map { case (n, v) => s""""$n": ${v.toString}""" }
      .mkString("{", ", ", "}")
    val attempted = calls.map(_.attempted).sum
    val nFailed = failed.size + calls.map(_.failures.size).sum
    val pw = new PrintWriter(new File(o("result")), "UTF-8")
    try pw.println(
      s"""{"correct": $correct, "attempted": $attempted, "failed": $nFailed, "metrics": $json}""")
    finally pw.close()
    0
  }

  /** Every per-layer metric of one traced call. */
  def layerMetrics(w: Workload, t: Tracer, k: Int, wallS: Double)(h: w.H,
      nproc: Int): Map[String, Double] = {
    val spans = t.callSpans(k)
    val ct = CallTrace(spans)
    val root = ct.root
    spans.foreach(s => require(ct.selfS(s) >= 0,
      s"span ${s.name} has negative self time ${ct.selfS(s)} s"))
    val selfSum = spans.map(ct.selfS).sum
    require(math.abs(selfSum - wallS) < SelfSumTolS,
      s"self times sum to $selfSum s, not the call's timed $wallS s")
    val spark = Seq(
      "spark.plan_s" -> spans.map(_.planMs).sum / 1e3,
      "spark.codegen_compile_s" -> root.compileNs / 1e9,
      "spark.codegen_compiles" -> root.compiles.toDouble,
      "spark.jobs" -> spans.map(_.jobs).sum.toDouble,
      "spark.stages" -> spans.map(_.stages).sum.toDouble,
      "spark.tasks" -> spans.map(_.tasks).sum.toDouble,
      "spark.driver_s" -> t.driverOnlyS(root.startNs, root.endNs),
      "spark.sched_wait_s" -> spans.map(_.schedWaitMs).sum / 1e3,
      "spark.core_busy_ratio" ->
        t.taskBusyS(root.startNs, root.endNs) / (nproc * root.durS),
      "spark.task_run_s" -> spans.map(_.taskRunMs).sum / 1e3,
      "spark.gc_s" -> spans.map(_.gcMs).sum / 1e3,
      "spark.shuffle_write_mb" -> spans.map(_.shuffleWriteB).sum / 1e6,
      "spark.shuffle_read_mb" -> spans.map(_.shuffleReadB).sum / 1e6,
      "spark.spill_mb" -> spans.map(_.spillB).sum / 1e6)
    val own = w.layerMetrics(ct, h).toMap
    require(own.keySet == w.layerNames.toSet, s"layer metrics ${own.keys} != ${w.layerNames}")
    (spark ++ Workload.allLayerNames.map(n => n -> own.getOrElse(n, 0.0))).toMap
  }

  /** Where a traced call's time goes: per span name, median over the
    * traced warm calls of self time, jobs, codegen compile and planning. */
  def printTable(w: Workload, t: Tracer, tracedCalls: Seq[Int]): Unit = {
    val warmCalls = tracedCalls.filter(_ > 0)
    if (warmCalls.isEmpty) return
    val perCall = warmCalls.map { k =>
      val spans = t.callSpans(k)
      val ct = CallTrace(spans)
      val rows = spans.groupBy(_.name).map { case (n, ss) =>
        n -> Seq(ss.size.toDouble, ss.map(ct.selfS).sum, ss.map(_.jobs).sum.toDouble,
          ss.map(ct.selfCompileS).sum, ss.map(_.planMs).sum / 1e3)
      }
      val root = ct.root
      (rows, root.durS, t.driverOnlyS(root.startNs, root.endNs))
    }
    val names = perCall.flatMap(_._1.keys).distinct.sortBy(n =>
      perCall.head._1.keys.toSeq.indexOf(n))
    println(s"\nwhere a warm call's time goes (median of ${warmCalls.size} traced calls)")
    println(f"${"span"}%-32s ${"calls"}%6s ${"self_s"}%9s ${"jobs"}%6s ${"compile_s"}%10s ${"plan_s"}%8s")
    names.sortBy(n => -median(perCall.map(_._1.getOrElse(n, Seq(0.0, 0.0))(1)))).foreach { n =>
      val cols = (0 until 5).map(i => median(perCall.map(_._1.get(n).fold(0.0)(_(i)))))
      println(f"$n%-32s ${cols(0)}%6.0f ${cols(1)}%9.3f ${cols(2)}%6.0f ${cols(3)}%10.3f ${cols(4)}%8.3f")
    }
    println(f"${"call wall (sum of self)"}%-32s ${""}%6s ${median(perCall.map(_._2))}%9.3f")
    println(f"${"  of which no task running"}%-32s ${""}%6s ${median(perCall.map(_._3))}%9.3f")
  }
}
