package kgbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Minimal JSON rendering for the raw result file (maps, sequences,
  * strings, numbers, booleans, null).
  */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** Wall clock in epoch microseconds from the monotonic clock, so span
  * bounds and Spark listener event times (epoch ms) share one time base.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L
}

/** Spans recorded from the benchmark's side of each layer call. Kept in
  * memory; the parent is the span open on the calling thread when the span
  * started.
  */
final class Tracer {
  final case class Span(id: Int, name: String, parent: Int, startUs: Long, var endUs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), Clock.nowUs(), -1L)
    spans += s
    open = s.id :: open
    try body
    finally {
      s.endUs = Clock.nowUs()
      open = open.tail
    }
  }

  /** A span whose bounds were measured elsewhere (stage windows of a call
    * the benchmark cannot enter).
    */
  def record(name: String, parent: Int, startUs: Long, endUs: Long): Int = {
    spans += Span(spans.size, name, parent, startUs, endUs)
    spans.size - 1
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map(s =>
    Map("name" -> s.name, "parent" -> s.parent, "start_us" -> s.startUs, "end_us" -> s.endUs))
}

/** Benchmark-owned listener: the submission time of every Spark job and
  * stage, and per stage the task metrics (executor CPU, run time per task,
  * shuffle write, disk spill). Attribution to spans happens offline by
  * time: a stage belongs to the span open when it was submitted. It also
  * keeps the start, end and call site of every SQL execution, which places
  * `Catalog`'s lineage appends in time within a call the benchmark cannot
  * enter.
  */
final class JobMetricsListener extends SparkListener {
  final class StageAgg(val submitUs: Long) {
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    val runMs = mutable.ArrayBuffer.empty[Long]
  }
  private val jobStartUs = mutable.ArrayBuffer.empty[Long]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]
  /** execution id → (start µs, end µs or -1, long call site) */
  private val executions = mutable.LinkedHashMap.empty[Long, (Long, Long, String)]
  private var started = 0
  private var ended = 0
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartUs += e.time * 1000L
    started += 1
    touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1; touch() }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) =
      new StageAgg(i.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L)
    touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    for (a <- stages.get((e.stageId, e.stageAttemptId)) if m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
    }
    touch()
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = (s.time * 1000L, -1L, s.details)
      touch()
    }
    case x: SparkListenerSQLExecutionEnd => synchronized {
      for ((start, _, site) <- executions.get(x.executionId))
        executions(x.executionId) = (start, x.time * 1000L, site)
      touch()
    }
    case _ => ()
  }

  /** (start µs, end µs) of the finished SQL executions whose call site
    * passes through one of `methods` (fully qualified, e.g.
    * `graft.pipeline.Catalog.appendLineage`).
    */
  def executionsFrom(methods: Seq[String]): Seq[(Long, Long)] = synchronized {
    executions.values.toSeq.collect {
      case (start, end, site) if end >= 0 && methods.exists(m => site.contains(m + "(")) =>
        (start, end)
    }
  }

  /** Block until every started job has ended and the bus has been quiet
    * for 200 ms (the listener bus delivers events asynchronously).
    */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def busy = synchronized(ended < started)
    while (System.nanoTime() < deadline &&
        (busy || System.nanoTime() - lastEventNs < 200000000L))
      Thread.sleep(20)
  }

  def reset(): Unit = synchronized {
    jobStartUs.clear(); stages.clear(); executions.clear(); started = 0; ended = 0
  }

  def toJson: Map[String, Any] = synchronized {
    Map("job_start_us" -> jobStartUs.toSeq,
      "stages" -> stages.values.toSeq.map(a => Map(
        "submit_us" -> a.submitUs, "cpu_ns" -> a.cpuNs,
        "shuffle_bytes" -> a.shuffleBytes, "spill_bytes" -> a.spillBytes,
        "task_ms" -> a.runMs.toSeq)))
  }
}
