package longdocbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.llm.Summarizer

/** One scalar call (or, with `call = false`, the per-text preparation a
  * prepared summarizer hoists out of its calls), in `System.nanoTime`.
  */
final case class LlmCall(start: Long, end: Long, promptTokens: Int, empty: Boolean, call: Boolean)

/** JVM-wide sink for [[TracedSummarizer]] records. Spark runs tasks in
  * the benchmark's own JVM at `local[n]`, so executor-side calls land here too.
  */
object LlmLog {
  private val calls = new ConcurrentLinkedQueue[LlmCall]()
  def record(c: LlmCall): Unit = calls.add(c)
  def drain(): Vector[LlmCall] = {
    val b = Vector.newBuilder[LlmCall]
    var c = calls.poll()
    while (c != null) { b += c; c = calls.poll() }
    b.result()
  }
}

/** Times every scalar call of `inner`. Forwards both `summarize` and
  * `prepared`, so a caller that hoists per-text work through `prepared`
  * (the critique loop) does the same work traced as untraced.
  */
final class TracedSummarizer(inner: Summarizer) extends Summarizer {
  override def summarize(text: String, maxTokens: Int): String = {
    val t0 = System.nanoTime()
    val out = inner.summarize(text, maxTokens)
    LlmLog.record(LlmCall(t0, System.nanoTime(), Backend.tokens(text), out.isEmpty, call = true))
    out
  }

  override def prepared(text: String): Int => String = {
    val t0 = System.nanoTime()
    val p = inner.prepared(text)
    LlmLog.record(LlmCall(t0, System.nanoTime(), 0, empty = false, call = false))
    val n = Backend.tokens(text)
    budget => {
      val t1 = System.nanoTime()
      val out = p(budget)
      LlmLog.record(LlmCall(t1, System.nanoTime(), n, out.isEmpty, call = true))
      out
    }
  }
}

/** Totals of the Spark work run under one job group. */
final class GroupTotals {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputRecords = 0L
  var minStageTasks = Long.MaxValue
  /** SQL executions whose jobs ran under this group. */
  val executions = mutable.Set.empty[Long]
}

/** Aggregates task and stage events per job group. */
final class GroupListener extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val totals = mutable.Map.empty[String, GroupTotals]
  // SQL execution id -> description (the short call site, e.g.
  // "count at Strategies.scala:91", since spans set no job description)
  private val executionSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  /** SQL executions of `group` started at a call site beginning with `site`. */
  def executionsAt(group: String, site: String): Int =
    apply(group).executions.count(id => Option(executionSite.get(id)).exists(_.startsWith(site)))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      executionSite.put(s.executionId, s.description)
    case _ =>
  }

  def apply(group: String): GroupTotals = synchronized(totals.getOrElseUpdate(group, new GroupTotals))
  def all: Seq[GroupTotals] = synchronized(totals.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      val t = apply(g)
      synchronized {
        t.jobs += 1
        Option(e.properties.getProperty("spark.sql.execution.id")).foreach(id => t.executions += id.toLong)
      }
      e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
      val t = apply(g)
      synchronized { t.minStageTasks = math.min(t.minStageTasks, e.stageInfo.numTasks.toLong) }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val t = apply(g)
      val m = e.taskMetrics
      synchronized {
        t.tasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.inputRecords += m.inputMetrics.recordsRead
        }
      }
    }
}

final case class Span(name: String, parent: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Benchmark-side spans around public calls. Each span tags the Spark jobs
  * it submits with its name as job group, so [[GroupListener]] totals are
  * per span name. Spans are kept in memory and written out by [[write]].
  */
final class Tracer(spark: SparkSession) {
  val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def span[T](name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(name, null)
    val parent = stack.headOption.getOrElse("")
    stack = name :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      done += Span(name, parent, t0, System.nanoTime())
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevDesc)
    }
  }

  def spans: Seq[Span] = done.toSeq

  /** Listener totals for `group`, after every event so far is delivered. */
  def totals(group: String): GroupTotals = {
    org.apache.spark.longdocbench.ListenerDrain(spark.sparkContext)
    listener(group)
  }

  def allTotals: Seq[GroupTotals] = {
    org.apache.spark.longdocbench.ListenerDrain(spark.sparkContext)
    listener.all
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = done.map { s =>
      s"""{"name":"${s.name}","parent":"${s.parent}","start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Intervals {
  /** Length in seconds of the union of `calls` clipped to [from, to]. */
  def covered(calls: Seq[LlmCall], from: Long, to: Long): Double = {
    val iv = calls.iterator.map(c => (math.max(c.start, from), math.min(c.end, to)))
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total / 1e9
  }

  /** Call-seconds inside [from, to] (overlapping calls add up). */
  def busy(calls: Seq[LlmCall], from: Long, to: Long): Double =
    calls.iterator.map(c => math.max(0L, math.min(c.end, to) - math.max(c.start, from))).sum / 1e9
}
