package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch nanoseconds, so benchmark-side
  * spans (System.nanoTime) and Spark listener events (epoch millis) share
  * one clock. `op` is the benchmark op every span of one job belongs to. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long)

/** In-memory tracer: spans around each layer call the benchmark makes,
  * and Spark job -> stage -> task spans from a listener, parented through
  * a local property on the calling thread. Counters are taken at the same
  * boundaries. Nothing is written until [[Trace.write]] at exit. */
object Trace {
  /** Counters and spans are taken while `enabled`; spans only while
    * `spans` too (layer probes take counters without spans). */
  @volatile var enabled = false
  @volatile var spans = false
  private val ids = new AtomicLong(0)
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val clock0 = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span, op)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val ParentKey = "perfbench.span"
  private val OpKey = "perfbench.op"

  def now(): Long = clock0 + System.nanoTime()

  def add(name: String, v: Double): Unit = if (enabled) counters.synchronized {
    counters(name) = counters.getOrElse(name, 0.0) + v
  }
  def max(name: String, v: Double): Unit = if (enabled) counters.synchronized {
    counters(name) = math.max(counters.getOrElse(name, v), v)
  }
  def snapshotCounters(): Map[String, Double] =
    counters.synchronized(counters.toMap)

  private def record(s: Span): Unit =
    if (spans) recorded.synchronized { recorded += s; () }

  private val FlushKey = "perfbench.flush"
  @volatile private var flushed = new java.util.concurrent.CountDownLatch(0)

  /** Wait until the listener has seen every event posted so far: runs a
    * marker job and waits for its end event, which the asynchronous
    * listener bus delivers after all earlier ones. */
  def flush(spark: SparkSession): Unit = if (installed) {
    flushed = new java.util.concurrent.CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setLocalProperty(FlushKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(FlushKey, null)
    flushed.await(30, java.util.concurrent.TimeUnit.SECONDS)
    ()
  }

  /** Time `body` as a span of `layer`; nested spans and the Spark jobs the
    * body triggers become its children. A no-op wrapper when disabled. */
  def span[T](layer: String, name: String, newOp: Boolean = false)(
      body: => T): T =
    if (!enabled) body
    else {
      val spark = SparkSession.getActiveSession
      val outer = stack.get
      val id = ids.incrementAndGet()
      val op = if (newOp || outer.isEmpty) id else outer.head._2
      val parent = outer.headOption.map(_._1).getOrElse(0L)
      def setProps(s: Option[(Long, Long)]): Unit = spark.foreach { ss =>
        ss.sparkContext.setLocalProperty(ParentKey, s.map(_._1.toString).orNull)
        ss.sparkContext.setLocalProperty(OpKey, s.map(_._2.toString).orNull)
      }
      stack.set((id, op) :: outer)
      setProps(Some((id, op)))
      val t0 = now()
      try body
      finally {
        record(Span(id, parent, op, layer, name, t0, now()))
        stack.set(outer)
        setProps(outer.headOption)
      }
    }

  /** Listener feeding job/stage/task spans and the operator counters. */
  final class SparkTracer extends SparkListener {
    private val stageParent = mutable.Map.empty[Int, (Long, Long)] // span, op
    private val jobSpan = mutable.Map.empty[Int, (Long, Long, Long, Long)]
    private val stageSpan = mutable.Map.empty[(Int, Int), Long]
    private val stageTasks = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    private val flushJobs = mutable.Set.empty[Int]
    private val flushStages = mutable.Set.empty[Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) =
        p.flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)
      if (prop(FlushKey) == 1L) {
        flushJobs += e.jobId
        flushStages ++= e.stageIds
      } else if (enabled) onTracedJobStart(e, prop)
    }
    private def onTracedJobStart(e: SparkListenerJobStart,
        prop: String => Long): Unit = {
      val id = ids.incrementAndGet()
      jobSpan(e.jobId) = (id, prop(ParentKey), prop(OpKey), e.time * 1000000L)
      e.stageIds.foreach(s => stageParent(s) = (id, prop(OpKey)))
      add("operators.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (flushJobs.remove(e.jobId)) flushed.countDown()
      else if (enabled) jobSpan.remove(e.jobId).foreach { case (id, parent, op, t0) =>
        record(Span(id, parent, op, "spark.job", s"job ${e.jobId}", t0,
          e.time * 1000000L))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled && !flushStages(e.stageInfo.stageId)) synchronized {
        val si = e.stageInfo
        val key = (si.stageId, si.attemptNumber())
        val (parent, op) = stageParent.getOrElse(si.stageId, (0L, 0L))
        val id = stageSpan.remove(key).getOrElse(ids.incrementAndGet())
        for (t0 <- si.submissionTime; t1 <- si.completionTime)
          record(Span(id, parent, op, "spark.stage", s"stage ${si.stageId}",
            t0 * 1000000L, t1 * 1000000L))
        add("operators.stages", 1)
        add("operators.tasks", si.numTasks)
        stageTasks.remove(key).filter(_.nonEmpty).foreach { ts =>
          val sorted = ts.sorted
          val median = sorted(sorted.size / 2).toDouble
          if (sorted.size >= 2 && median > 0) {
            add("operators.task_skew_sum", sorted.last / median)
            add("operators.task_skew_n", 1)
          }
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && !flushStages(e.stageId)) synchronized {
      val key = (e.stageId, e.stageAttemptId)
      val stageId = stageSpan.getOrElseUpdate(key, ids.incrementAndGet())
      val (_, op) = stageParent.getOrElse(e.stageId, (0L, 0L))
      val ti = e.taskInfo
      record(Span(ids.incrementAndGet(), stageId, op, "spark.task",
        s"task ${ti.taskId}", ti.launchTime * 1000000L,
        ti.finishTime * 1000000L))
      Option(e.taskMetrics).foreach { m =>
        stageTasks.getOrElseUpdate(key, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
        add("operators.task_run_s", m.executorRunTime / 1e3)
        add("operators.task_cpu_s", m.executorCpuTime / 1e9)
        add("operators.gc_s", m.jvmGCTime / 1e3)
        add("operators.shuffle_write_mb",
          m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("operators.shuffle_read_mb",
          m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("operators.shuffle_records", m.shuffleWriteMetrics.recordsWritten)
        add("operators.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("operators.spill_mb",
          (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        add("sources.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("sources.input_rows", m.inputMetrics.recordsRead)
      }
    }
  }

  /** Planning-phase times and graft rule effectiveness per executed query,
    * from the public QueryPlanningTracker. */
  final class PlanTracer extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      if (enabled) {
        val phases = qe.tracker.phases
        def ms(p: String) =
          phases.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble)
            .getOrElse(0.0)
        add("plans.queries", 1)
        add("plans.analysis_ms", ms("analysis"))
        add("plans.optimizer_ms", ms("optimization"))
        add("plans.planning_ms", ms("planning"))
        qe.tracker.rules.foreach { case (rule, s) =>
          if (rule.startsWith("graft.")) {
            add("plans.graft_rule_ns", s.totalTimeNs.toDouble)
            add("plans.graft_rule_calls", s.numInvocations.toDouble)
            add("plans.graft_rule_effective", s.numEffectiveInvocations.toDouble)
          }
        }
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  @volatile private var installed = false

  def install(spark: SparkSession): Unit = {
    installed = true
    spark.sparkContext.addSparkListener(new SparkTracer)
    spark.listenerManager.register(new PlanTracer)
  }

  /** Spans as JSON lines. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try recorded.synchronized(recorded.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""layer":${Json.str(s.layer)},"name":${Json.str(s.name)},""" +
        s""""start":${s.start},"end":${s.end}}""")
    })
    finally w.close()
  }
}

/** Minimal JSON writer: the harness emits only strings, numbers, arrays
  * and objects. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case d: java.math.BigDecimal => str(d.toPlainString)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
