package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark-side counters, attributed to one span or summed over a region. */
final class Counters {
  val jobs, stages, tasks, taskMs, taskGcMs, shuffleWrite, shuffleRead,
    spill, analysisMs, optimizationMs, planningMs = new LongAdder
}

final case class Span(id: Long, parent: Long, runId: String, layer: String,
    name: String, thread: String, startNs: Long, var endNs: Long = 0L,
    var codegenN: Long = 0L, var codegenNs: Long = 0L) {
  def durNs: Long = endNs - startNs
}

/** Span recorder for the traced run.
  *
  * A span is opened around every call the benchmark makes into an engine
  * layer. It records name, layer, start, end, parent and the run id, and
  * stays in memory until the run writes them out. While a span is open
  * its thread carries the Spark job tag `pb-span-<id>` (a per-thread local
  * property), so the listener can attribute jobs, stages, task metrics
  * and SQL planning phases to the span even with several client threads
  * submitting work at once. Codegen counters are process-global and are
  * attributed by delta over the span, which is exact only when one thread
  * is submitting work. */
final class Tracer(sc: SparkContext) {
  val runId: String = java.util.UUID.randomUUID().toString
  @volatile var enabled = false
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  val perSpan = new ConcurrentHashMap[Long, Counters]()
  /** Counters of the current traced region (reset by [[start]]). */
  @volatile var total = new Counters
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val execSpan = new ConcurrentHashMap[Long, Long]()
  private val tagPrefix = "pb-span-"

  private def spanOf(tags: Iterable[String]): Long =
    tags.collectFirst { case t if t.startsWith(tagPrefix) =>
      t.drop(tagPrefix.length).toLong }.getOrElse(-1L)

  private def spanOfProps(p: java.util.Properties): Long =
    if (p == null) -1L
    else Option(p.getProperty("spark.job.tags"))
      .map(s => spanOf(s.split(",").toSeq)).getOrElse(-1L)

  private def both(span: Long)(f: Counters => Unit): Unit = if (enabled) {
    f(total)
    if (span >= 0) f(perSpan.computeIfAbsent(span, _ => new Counters))
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      both(spanOfProps(e.properties))(_.jobs.add(1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.put(e.stageInfo.stageId, spanOfProps(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = Option(stageSpan.remove(e.stageInfo.stageId))
        .map(_.longValue).getOrElse(-1L)
      val m = e.stageInfo.taskMetrics
      both(s) { c =>
        c.stages.add(1)
        c.tasks.add(e.stageInfo.numTasks.toLong)
        if (m != null) {
          c.taskMs.add(m.executorRunTime)
          c.taskGcMs.add(m.jvmGCTime)
          c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
          c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
          c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSpan.put(s.executionId, spanOf(s.jobTags))
      case end: SparkListenerSQLExecutionEnd =>
        val s = Option(execSpan.remove(end.executionId))
          .map(_.longValue).getOrElse(-1L)
        // `qe` is not part of the public event API; read it reflectively
        val phases = try {
          val qe = end.getClass.getMethod("qe").invoke(end)
            .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
          if (qe == null) Map.empty[String, Long]
          else qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
        } catch { case _: Exception => Map.empty[String, Long] }
        both(s) { c =>
          c.analysisMs.add(phases.getOrElse("analysis", 0L))
          c.optimizationMs.add(phases.getOrElse("optimization", 0L))
          c.planningMs.add(phases.getOrElse("planning", 0L))
        }
      case _ =>
    }
  }

  def codegenCount: Long = org.apache.spark.metrics.source.CodegenMetrics
    .METRIC_COMPILATION_TIME.getCount
  def codegenNs: Long = org.apache.spark.sql.catalyst.expressions.codegen
    .CodeGenerator.compileTime

  /** Drain the listener bus so counters cover every finished job. */
  def drain(): Unit = try {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  } catch { case _: Exception => Thread.sleep(500) }

  private var attached = false

  /** Start (or resume) recording; region totals start from zero. */
  def start(): Unit = {
    if (!attached) { sc.addSparkListener(listener); attached = true }
    // events of the untraced work just before (e.g. verify) stay out
    drain()
    total = new Counters
    enabled = true
  }

  /** Stop recording once every event already posted is counted. */
  def pause(): Unit = { drain(); enabled = false }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parents = stack.get
      val parent = parents.headOption
      val sp = Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L),
        runId, layer, name, Thread.currentThread.getName, System.nanoTime)
      parent.foreach(p => sc.removeJobTag(tagPrefix + p.id))
      sc.addJobTag(tagPrefix + sp.id)
      stack.set(sp :: parents)
      val (cg0, cgNs0) = (codegenCount, codegenNs)
      try body
      finally {
        sp.endNs = System.nanoTime
        sp.codegenN = codegenCount - cg0
        sp.codegenNs = codegenNs - cgNs0
        stack.set(parents)
        sc.removeJobTag(tagPrefix + sp.id)
        parent.foreach(p => sc.addJobTag(tagPrefix + p.id))
        spans.add(sp)
      }
    }

  /** Self time per layer in seconds: a span's duration minus the
    * durations of its direct children. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childNs = all.groupMapReduce(_.parent)(_.durNs)(_ + _)
    all.groupMapReduce(_.layer)(s => s.durNs - childNs.getOrElse(s.id, 0L))(_ + _)
      .view.mapValues(_ / 1e9).toMap
  }

  def spansOf(layer: String, name: String): Seq[Span] =
    spans.asScala.toSeq.filter(s => s.layer == layer && s.name == name)

  def countersOf(ss: Seq[Span]): Seq[Counters] =
    ss.flatMap(s => Option(perSpan.get(s.id)))

  def spansJson: String = spans.asScala.toSeq.sortBy(_.startNs).map { s =>
    val c = Option(perSpan.get(s.id))
    Json.obj(Seq(
      "run_id" -> Json.str(s.runId), "id" -> s.id.toString,
      "parent" -> s.parent.toString, "layer" -> Json.str(s.layer),
      "name" -> Json.str(s.name), "thread" -> Json.str(s.thread),
      "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
      "codegen_n" -> s.codegenN.toString,
      "codegen_ms" -> Json.num(s.codegenNs / 1e6),
      "jobs" -> c.map(_.jobs.sum).getOrElse(0L).toString,
      "tasks" -> c.map(_.tasks.sum).getOrElse(0L).toString,
      "task_ms" -> c.map(_.taskMs.sum).getOrElse(0L).toString))
  }.mkString("\n")
}
