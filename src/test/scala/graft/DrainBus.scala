package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.streaming.StreamingQueryListener.{
  QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Streaming events of every session, keyed by run id. The bounded drains
  * run on isolated child sessions, whose progress a
  * `StreamingQueryListener` on the root session never sees; every
  * session's streaming events do reach the shared Spark listener bus, so
  * this listens there. Register it with `sparkContext.addSparkListener`.
  */
class DrainBus extends SparkListener {
  private val names = new ConcurrentHashMap[UUID, String]()
  private val progress =
    new ConcurrentHashMap[UUID, ConcurrentLinkedQueue[StreamingQueryProgress]]()
  private val ended = ConcurrentHashMap.newKeySet[UUID]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: QueryStartedEvent if s.name != null => names.put(s.runId, s.name)
    case p: QueryProgressEvent =>
      progress.computeIfAbsent(p.progress.runId,
        _ => new ConcurrentLinkedQueue[StreamingQueryProgress]())
        .add(p.progress)
    case t: QueryTerminatedEvent => ended.add(t.runId)
    case _ =>
  }

  def clear(): Unit = { names.clear(); progress.clear(); ended.clear() }

  /** The micro-batch progress of each drain named `prefix*` since the last
    * clear, one sequence per run. The bus delivers one run's events in
    * order, so once its terminated event is seen every progress event
    * before it was too; waits up to 60 s for that. */
  def runsOf(prefix: String): Seq[Seq[StreamingQueryProgress]] = {
    def runs = names.asScala.collect {
      case (id, n) if n.startsWith(prefix) => id }.toSeq
    val deadline = System.nanoTime() + 60L * 1000000000L
    while ((runs.isEmpty || !runs.forall(ended.contains)) &&
        System.nanoTime() < deadline) Thread.sleep(20)
    assert(runs.nonEmpty, s"no drain named $prefix* started")
    assert(runs.forall(ended.contains),
      s"drain $prefix* never reported termination")
    runs.map(id => Option(progress.get(id)).fold(Seq.empty[StreamingQueryProgress])(
      _.asScala.toSeq))
  }
}
