package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call into an engine module. Times are epoch milliseconds
  * (comparable with Spark's stage times) plus a nanosecond wall clock.
  * Counters are folded in by [[Tracer]]'s listeners from the jobs that ran
  * while the span was the innermost open one.
  */
final class Span(val id: Long, val name: String, val parent: Option[Span]) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = 0L
  var endMs: Long = 0L
  val children = mutable.ArrayBuffer.empty[Span]
  // folded by the listener thread; read after the bus is drained
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var streamBatches = 0L
  val taskSeconds = mutable.ArrayBuffer.empty[Double]
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val batchSeconds = mutable.ArrayBuffer.empty[Double]

  def wallS: Double = (endNs - startNs) / 1e9

  /** Wall time minus the part of it covered by child spans. */
  def selfS: Double = {
    val covered = Intervals.unionLength(children.map(c => (c.startNs, c.endNs)).toSeq) / 1e9
    wallS - covered
  }

  def subtree: Seq[Span] = this +: children.toSeq.flatMap(_.subtree)

  /** Wall time not covered by any stage of this span or its descendants:
    * driver-side planning, commit and metadata work.
    */
  def driverGapS: Double = {
    val iv = subtree.flatMap(_.stageIntervals)
      .map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }
    math.max(0.0, wallS - Intervals.unionLength(iv) / 1e3)
  }
}

object Intervals {
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Spans around every call the benchmark makes into an engine module.
  *
  * With tracing off, `span` only runs its body. With tracing on, each span
  * sets a Spark job group naming itself, so a [[SparkListener]] can fold the
  * job, stage and task metrics of the jobs it started into it; structured
  * streaming runs its micro-batches under a job group equal to the query's
  * run id, which a [[StreamingQueryListener]] maps to the span open when the
  * query started. Spans stay in memory until the run ends.
  *
  * The engine-wide counters (jobs, tasks, stage intervals) are collected in
  * both modes: they cost one listener callback per event and feed the
  * full-result and contention records of every run.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private var nextId = 0L
  @volatile private var current: Option[Span] = None
  val roots = mutable.ArrayBuffer.empty[Span]
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val streamSpan = new ConcurrentHashMap[String, Span]()
  private val GroupPrefix = "graftbench-span-"

  // engine-wide, every job regardless of tracing
  final class Global {
    var jobs = 0L
    var tasks = 0L
    val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val global = new Global

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      global.synchronized { global.jobs += 1 }
      if (enabled) {
        val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        group.flatMap(g => Option(byGroup.get(g)).orElse(Option(streamSpan.get(g)))).foreach { s =>
          s.synchronized { s.jobs += 1 }
          e.stageIds.foreach(id => stageSpan.put(id, s))
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val iv = for (a <- info.submissionTime; b <- info.completionTime) yield (a, b)
      iv.foreach(i => global.synchronized { global.stageIntervals += i })
      if (enabled) Option(stageSpan.get(info.stageId)).foreach { s =>
        s.synchronized { s.stages += 1; iv.foreach(s.stageIntervals += _) }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      global.synchronized { global.tasks += 1 }
      if (enabled) Option(stageSpan.get(e.stageId)).foreach { s =>
        val m = e.taskMetrics
        s.synchronized {
          s.tasks += 1
          s.taskSeconds += e.taskInfo.duration / 1e3
          if (m != null) {
            s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            s.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      if (enabled) current.foreach(s => streamSpan.put(e.runId.toString, s))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) Option(streamSpan.get(e.progress.runId.toString)).foreach { s =>
        val d = Option(e.progress.batchDuration).getOrElse(0L)
        s.synchronized { s.streamBatches += 1; s.batchSeconds += d / 1e3 }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  })

  /** Runs `body` inside a span named `name`, a child of the open span. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val s = synchronized {
      nextId += 1
      val sp = new Span(nextId, name, current)
      current match {
        case Some(p) => p.children += sp
        case None => roots += sp
      }
      sp
    }
    val group = GroupPrefix + s.id
    byGroup.put(group, s)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    current = Some(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      current = s.parent
      s.parent match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Delivers every pending listener event. */
  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(sc)

  def allSpans: Seq[Span] = roots.toSeq.flatMap(_.subtree)

  /** Spans named `name` inside the measured operations (`op.*` roots). */
  def inOps(name: String): Seq[Span] =
    roots.toSeq.filter(_.name.startsWith("op.")).flatMap(_.subtree).filter(_.name == name)

  def named(name: String): Seq[Span] = allSpans.filter(_.name == name)
}
