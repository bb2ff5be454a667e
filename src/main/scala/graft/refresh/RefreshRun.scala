package graft.refresh

import java.util.concurrent.{CountDownLatch, ScheduledFuture, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.sql.streaming.StreamingQuery

import graft.storage.VersionedTable

/** Handle on one INCREMENTAL refresh that [[RefreshManager]] started: a
  * batch fold ([[RefreshRun.Folded]]) or a Structured Streaming query
  * ([[RefreshRun.Streamed]]). It offers the part of `StreamingQuery` that
  * refresh callers use, plus the table version the run last left.
  */
trait RefreshRun {
  /** Blocks until the run ends; rethrows the failure that ended it. */
  def awaitTermination(): Unit

  /** [[awaitTermination()]] for at most `timeoutMs`; true when the run ended. */
  def awaitTermination(timeoutMs: Long): Boolean

  /** The failure that ended the run, if one did. */
  def exception: Option[Throwable]

  def isActive: Boolean

  def stop(): Unit

  /** Blocks until the source files present at the call are in the table. */
  def processAllAvailable(): Unit

  /** The table version after the run's last refresh, and how long that
    * refresh took.
    */
  def lastCommit: Option[RefreshRun.Commit]
}

object RefreshRun {
  final case class Commit(version: Long, millis: Long)

  /** A streaming query's run; `path` is the table its sink commits to. */
  final class Streamed private[refresh] (val query: StreamingQuery, path: String)
      extends RefreshRun {
    def awaitTermination(): Unit = query.awaitTermination()
    def awaitTermination(timeoutMs: Long): Boolean = query.awaitTermination(timeoutMs)
    def exception: Option[Throwable] = query.exception
    def isActive: Boolean = query.isActive
    def stop(): Unit = query.stop()
    def processAllAvailable(): Unit = query.processAllAvailable()
    def lastCommit: Option[Commit] =
      for {
        p <- Option(query.lastProgress)
        m <- VersionedTable.readManifest(path)
      } yield Commit(m.version,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
  }

  /** A fold run: each `tick` folds the source files the table has not
    * consumed and returns the table's version and consumed-file count. A
    * one-shot run ticks once in the caller's thread; a scheduled run ticks
    * on the refresh scheduler until stopped, skips a tick that loses a
    * commit race, and ends on any other failure, which [[exception]] and
    * `RefreshManager.status` then report.
    */
  final class Folded private[refresh] (tick: () => (Long, Int)) extends RefreshRun {
    @volatile private var last: Option[Commit] = None
    @volatile private var failure: Option[Throwable] = None
    @volatile private var future: Option[ScheduledFuture[_]] = None
    @volatile private[refresh] var files: Int = 0
    private val ended = new CountDownLatch(1)

    /** One fold now, serialized with the scheduled ones; failures propagate. */
    private[refresh] def runTick(): Unit = synchronized {
      val t0 = System.nanoTime()
      val (version, n) = tick()
      files = n
      last = Some(Commit(version, (System.nanoTime() - t0) / 1000000L))
    }

    private[refresh] def scheduledTick(): Unit =
      try runTick() catch {
        case _: VersionedTable.ConcurrentCommitException => () // racer won; next tick
        case NonFatal(e) =>
          failure = Some(e)
          stop()
      }

    private[refresh] def scheduledBy(f: ScheduledFuture[_]): Unit = {
      future = Some(f)
      if (!isActive) f.cancel(false)
    }

    def awaitTermination(): Unit = {
      ended.await()
      failure.foreach(e => throw e)
    }

    def awaitTermination(timeoutMs: Long): Boolean = {
      val done = ended.await(timeoutMs, TimeUnit.MILLISECONDS)
      failure.foreach(e => throw e)
      done
    }

    def exception: Option[Throwable] = failure
    def isActive: Boolean = ended.getCount > 0

    def stop(): Unit = {
      future.foreach(_.cancel(false))
      ended.countDown()
    }

    def processAllAvailable(): Unit = if (isActive) runTick()
    def lastCommit: Option[Commit] = last
  }
}
