package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Spark counters summed over the jobs attributed to one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var taskWaitMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
    "task_wait_ms" -> taskWaitMs, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "peak_exec_mem_bytes" -> peakExecMemBytes, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs)
}

/** One timed call into a module: name, interval and the span that caused
  * it. Kept in memory and written out when the run ends. */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    unit: Int, startNs: Long, startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  val counters = new Counters
  val attrs = mutable.LinkedHashMap[String, Any]()
}

/** Span recorder plus the Spark listeners that attribute engine work to
  * spans. Spans are always recorded (they cost two clock reads); the
  * listeners are registered only while a unit of work is traced.
  *
  * Attribution: a job belongs to the innermost span open on the thread
  * that submitted it (a local property, inherited by the threads a
  * streaming query starts); its stages and tasks follow the job. Planning
  * phases from each execution's `QueryPlanningTracker` belong to the
  * innermost span whose interval holds the phase start. */
final class Tracer(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  private val t0Ns = System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()
  private val open = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val byId = mutable.HashMap[Int, Span]()
  private val stageSpan = mutable.HashMap[Int, Span]()
  private val stageSubmitMs = mutable.HashMap[Int, Long]()
  private var unitNo = 0

  def currentUnit: Int = unitNo
  def nextUnit(): Int = { unitNo += 1; unitNo }

  def span[A](name: String, kind: String)(body: => A): A = {
    val parentSpan = open.get.headOption
    val s = synchronized {
      val sp = Span(spans.size, parentSpan.map(_.id).getOrElse(-1), name,
        kind, unitNo, System.nanoTime() - t0Ns, System.currentTimeMillis())
      spans += sp
      byId(sp.id) = sp
      sp
    }
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    open.set(s :: open.get)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime() - t0Ns
      s.endMs = System.currentTimeMillis()
      open.set(open.get.tail)
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }

  /** Attributes of the innermost open span on this thread. */
  def attr(k: String, v: Any): Unit = open.get.headOption.foreach(_.attrs(k) = v)

  private def spanOfProps(p: java.util.Properties): Option[Span] =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.SpanProp)))
      .flatMap(id => byId.get(id.toInt))

  private def spanAtMs(ms: Long): Option[Span] =
    spans.reverseIterator.find(s => s.startMs <= ms && (s.endMs < 0 || ms <= s.endMs))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOfProps(e.properties).foreach { s =>
        s.counters.jobs += 1
        e.stageIds.foreach(id => stageSpan(id) = s)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        e.stageInfo.submissionTime.foreach(t => stageSubmitMs(e.stageInfo.stageId) = t)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(_.counters.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (s <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = s.counters
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        stageSubmitMs.get(e.stageId).foreach(t =>
          c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - t))
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
        c.inputBytes += m.inputMetrics.bytesRead
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = Tracer.this.synchronized {
      qe.tracker.phases.foreach { case (phase, summary) =>
        spanAtMs(summary.startTimeMs).foreach { s =>
          val d = summary.durationMs
          phase match {
            case "analysis" => s.counters.analysisMs += d
            case "optimization" => s.counters.optimizationMs += d
            case "planning" => s.counters.planningMs += d
            case _ => ()
          }
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  /** Runs `body` with the listeners registered when `on`; waits for the
    * listener bus to drain before unregistering so no event is lost. */
  def traced[A](on: Boolean)(body: => A): A =
    if (!on) body
    else {
      sc.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      try body
      finally {
        org.apache.spark.perfbenchbridge.ListenerBus.drain(sc)
        spark.listenerManager.unregister(qeListener)
        sc.removeSparkListener(sparkListener)
      }
    }

  def toSeq: Seq[collection.Map[String, Any]] = synchronized {
    spans.toSeq.map { s =>
      mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "unit" -> s.unit,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9,
        "counters" -> s.counters.toMap) ++ s.attrs
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
