package perfbench

import graft.core.{Actor, JobContext}
import graft.pipeline.Pipeline
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable

/** One timed call into a layer. `cls` names the class whose public
 *  function was called; its package is the layer. */
final case class Span(id: Int, parent: Int, name: String, cls: String, startNs: Long, endNs: Long)

/** In-memory span recorder for one execution. Spans nest on the driver
 *  thread; the open span's id travels to Spark as a local property, so
 *  every job a call launches carries the span that launched it. */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = List(0)
  private var nextId = 1

  def span[T](name: String, cls: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.head
    val prevProp = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id.toString)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.SpanProp, prevProp)
      done += Span(id, parent, name, cls, t0, t1)
    }
  }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq

  /** Substitute a [[TracedActor]] for every parsed action's actor. */
  def wrap(p: Pipeline): Pipeline = p.copy(jobs = p.jobs.map(j => j.copy(actions =
    j.actions.map(a => a.copy(actor = new TracedActor(a.actor, s"${j.name}/${a.name}", this))))))
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Delegating actor: forwards every call the runner makes (beforeRun,
 *  run, inputViews, extraViews) and times it. It never looks inside the
 *  wrapped actor; `init` already ran when the builder created it. */
final class TracedActor(inner: Actor, action: String, @transient tracer: Tracer) extends Actor {
  private val cls = inner.getClass.getName

  override def beforeRun(ctx: JobContext)(implicit spark: SparkSession): Unit =
    tracer.span(s"$action.beforeRun", cls)(inner.beforeRun(ctx))
  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] =
    tracer.span(s"$action.run", cls)(inner.run(ctx))
  override def inputViews: Seq[String] =
    tracer.span(s"$action.inputViews", cls)(inner.inputViews)
  override def extraViews: Seq[(String, DataFrame, Boolean)] =
    tracer.span(s"$action.extraViews", cls)(inner.extraViews)
}

/** Spark-side counts for one traced execution, keyed by the launching span. */
final class CountingListener extends SparkListener {
  final case class Job(id: Int, span: Int)
  final case class Task(stage: Int, span: Int, launchMs: Long, finishMs: Long, runMs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long, inputBytes: Long,
      outputBytes: Long, failed: Boolean)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val tasks = mutable.ArrayBuffer.empty[Task]
  val stageSpan = mutable.Map.empty[Int, Int]
  private val blockBytes = mutable.Map.empty[String, Long]
  val cachedRdds = mutable.Set.empty[Int]
  var cachedBytes = 0L
  var cachedBytesPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(0)
    e.stageInfos.foreach(s => stageSpan(s.stageId) = span)
    jobs += Job(e.jobId, span)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(0L)
    tasks += Task(e.stageId, stageSpan.getOrElse(e.stageId, 0), i.launchTime, i.finishTime,
      g(_.executorRunTime), g(_.jvmGCTime), g(_.shuffleWriteMetrics.bytesWritten),
      g(t => t.shuffleReadMetrics.remoteBytesRead + t.shuffleReadMetrics.localBytesRead),
      g(t => t.memoryBytesSpilled + t.diskBytesSpilled), g(_.inputMetrics.bytesRead),
      g(_.outputMetrics.bytesWritten), !i.successful)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case RDDBlockId(rdd, _) =>
        val bytes = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        cachedBytes += bytes - blockBytes.getOrElse(b.blockId.name, 0L)
        if (bytes > 0) { blockBytes(b.blockId.name) = bytes; cachedRdds += rdd }
        else blockBytes.remove(b.blockId.name)
        cachedBytesPeak = math.max(cachedBytesPeak, cachedBytes)
      case _ => ()
    }
  }
}

/** Micro-batch progress reports of a traced streaming execution. */
final class ProgressListener extends StreamingQueryListener {
  val progress = mutable.ArrayBuffer.empty[String]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { progress += e.progress.json }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
