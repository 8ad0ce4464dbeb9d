package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed call into a public function of the program. Spark counters
  * are those of the jobs and SQL executions submitted while this span was
  * the innermost open one (exclusive of children); codegen counters are
  * inclusive deltas of Spark's global compile counters. */
final class Span(val id: Int, val name: String, val parent: Int, val call: Int,
    val startNs: Long) {
  var endNs = 0L
  var compileNs = 0L
  var compiles = 0L
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var gcMs = 0L
  var schedWaitMs = 0L
  var planMs = 0L
  var writeMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  def durS: Double = (endNs - startNs) / 1e9
}

/** Span recorder plus a SparkListener that attributes Spark's own counters
  * to the open span. The span id travels with every job and SQL execution
  * as a Spark job tag (a thread-local property, so broadcast and subquery
  * threads inherit it); nothing is recorded inside the program. Spans stay
  * in memory until the run reports them. */
final class Tracer(spark: SparkSession) extends SparkListener {
  private val sc = spark.sparkContext
  private val TagPrefix = "perfbench-span-"
  /** task times arrive as epoch ms; spans are on the nanoTime clock */
  private val epochOffsetNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  private var call = -1
  private val stageSpan = mutable.Map[Int, Span]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private val execSpan = mutable.Map[Long, (Span, Long)]()
  /** (launch, finish) of every finished task, epoch ms */
  private val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()

  sc.addSparkListener(this)

  def detach(): Unit = { drain(); sc.removeSparkListener(this) }
  def attach(): Unit = sc.addSparkListener(this)

  /** Wait until every event posted so far has reached the listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Spans opened from now on belong to call `k`. */
  def beginCall(k: Int): Unit = call = k

  def span[T](name: String)(body: => T): T = {
    val parent = open.headOption
    val s = synchronized {
      val s = new Span(spans.size, name, parent.fold(-1)(_.id), call, System.nanoTime())
      spans += s
      s
    }
    parent.foreach(p => sc.removeJobTag(TagPrefix + p.id))
    sc.addJobTag(TagPrefix + s.id)
    open = s :: open
    val compileNs0 = CodeGenerator.compileTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try body
    finally {
      s.compileNs = CodeGenerator.compileTime - compileNs0
      s.compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      open = open.tail
      sc.removeJobTag(TagPrefix + s.id)
      parent.foreach(p => sc.addJobTag(TagPrefix + p.id))
      s.endNs = System.nanoTime()
    }
  }

  private def spanOfTags(tags: Iterable[String]): Option[Span] = {
    val ids = tags.collect { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toInt }
    if (ids.isEmpty) None else Some(spans(ids.max))
  }

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContextTagsKey)))
      .flatMap(t => spanOfTags(t.split(",")))

  private val SparkContextTagsKey = "spark.job.tags"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach(_.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      s.stages += 1
      stageSpan(e.stageInfo.stageId) = s
      stageSubmitMs(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    // scheduling wait: stage submit -> its first task launch
    for (s <- stageSpan.get(e.stageId); t0 <- stageSubmitMs.remove(e.stageId))
      s.schedWaitMs += math.max(0L, e.taskInfo.launchTime - t0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    for (s <- stageSpan.get(e.stageId)) {
      s.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.taskRunMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        s.spillB += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case st: SparkListenerSQLExecutionStart =>
        spanOfTags(st.jobTags).foreach(s => execSpan(st.executionId) = (s, st.time))
      case end: SparkListenerSQLExecutionEnd =>
        for ((s, t0) <- execSpan.remove(end.executionId); qe <- org.apache.spark.PerfbenchBus.queryExecution(end)) {
          s.planMs += qe.tracker.phases.values.map(_.durationMs).sum
          if (qe.executedPlan.exists(_.isInstanceOf[DataWritingCommandExec]))
            s.writeMs += end.time - t0
        }
      case _ =>
    }
  }

  def callSpans(k: Int): Seq[Span] = synchronized(spans.filter(_.call == k).toSeq)

  /** Seconds of the window [startNs, endNs] with no task running. */
  def driverOnlyS(startNs: Long, endNs: Long): Double = {
    val lo = (startNs + epochOffsetNs) / 1000000L
    val hi = (endNs + epochOffsetNs) / 1000000L
    val clipped = synchronized(taskIntervals.toSeq)
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (hi - lo - covered) / 1000.0)
  }

  /** Sum of task running time inside the window, seconds. */
  def taskBusyS(startNs: Long, endNs: Long): Double = {
    val lo = (startNs + epochOffsetNs) / 1000000L
    val hi = (endNs + epochOffsetNs) / 1000000L
    synchronized(taskIntervals.toSeq)
      .map { case (a, b) => math.max(0L, math.min(b, hi) - math.max(a, lo)) }
      .sum / 1000.0
  }
}

/** Per-call digest of a traced call: the self time of every span name
  * (duration minus the part its children cover) and the Spark counters. */
final case class CallTrace(spans: Seq[Span]) {
  private def children(s: Span) = spans.filter(_.parent == s.id)
  def selfS(s: Span): Double = s.durS - children(s).map(_.durS).sum
  def selfCompileS(s: Span): Double =
    (s.compileNs - children(s).map(_.compileNs).sum) / 1e9
  def named(prefix: String): Seq[Span] = spans.filter(_.name.startsWith(prefix))
  /** the span the runner opened around the whole call */
  def root: Span = spans.head
}
