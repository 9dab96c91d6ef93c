package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import graft.sink.{DocumentStore, DocumentStoreFactory}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it
  * (0 for the root); every span of one run shares `Trace.runId`. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** A completed stage with its task totals, tagged with the span that was
  * current when its job started. */
final case class StageRec(span: String, name: String, details: String,
    durationMs: Long, tasks: Int, runMs: Long, cpuNs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long, input: Long)

final case class CommitRec(startNs: Long, endNs: Long, docs: Int)

final case class TriggerRec(durationMs: Long, rows: Long)

/** In-memory trace of one benchmark run: spans plus the counters the
  * listeners and the timed store factory record at layer boundaries.
  * Executors share the driver JVM under `local[N]`, so sink commits made
  * on task threads land here too. Everything is written out once, when
  * the run ends. */
object Trace {
  @volatile var runId: String = ""
  /** Passes with `enabled` off record nothing: they give the untraced
    * figures the tracing overhead is measured against. */
  @volatile var enabled: Boolean = false

  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  // the span that commits made now attach to
  private val current = new AtomicReference[(Long, String)]((0L, "run"))
  /** Listener events arrive late, so a job carries its span as a local
    * property of the thread that started it (streams inherit it), and a
    * streaming query's progress is attributed by the query's name. */
  @volatile var context: Option[SparkContext] = None
  private val SpanProperty = "perfbench.span"
  val streamParents = new ConcurrentHashMap[String, java.lang.Long]()

  val stages = new ConcurrentLinkedQueue[StageRec]()
  val commits = new ConcurrentLinkedQueue[CommitRec]()
  val partitionDocs = new ConcurrentLinkedQueue[Integer]()
  val triggers = new ConcurrentLinkedQueue[TriggerRec]()
  val opens = new AtomicLong(0L)
  val jobs = new AtomicLong(0L)
  val buildJobs = new AtomicLong(0L)
  val tablesJobs = new AtomicLong(0L)
  val planNs = new AtomicLong(0L)

  private val epochToNanoNs =
    System.nanoTime() - System.currentTimeMillis() * 1000000L
  def fromEpochMs(ms: Long): Long = ms * 1000000L + epochToNanoNs

  def currentSpan: (Long, String) = current.get()

  /** Times `body` as a child of the current span (a no-op when off). */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.getAndSet((id, name))
      context.foreach(_.setLocalProperty(SpanProperty, s"$id:$name"))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent._1, name, t0, System.nanoTime()))
        current.set(parent)
        context.foreach(_.setLocalProperty(SpanProperty, s"${parent._1}:${parent._2}"))
      }
    }

  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), parent, name, startNs, endNs))

  /** Clears the per-pass counters (spans are kept for the whole run). */
  def resetCounters(): Unit = {
    stages.clear(); commits.clear(); partitionDocs.clear(); triggers.clear()
    Seq(opens, jobs, buildJobs, tablesJobs, planNs).foreach(_.set(0L))
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval that its children cover. */
  def selfSeconds(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L
        var reach = s.startNs
        kids.foreach { case (a, b) =>
          val from = math.max(a, reach)
          if (b > from) { covered += b - from; reach = b }
        }
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  /** Attaches the three Spark listeners; returns a detach function. */
  def attach(spark: SparkSession): () => Unit = {
    val sc = spark.sparkContext
    val jobSpan = new ConcurrentHashMap[Int, (Long, String, Long)]()
    val stageSpan = new ConcurrentHashMap[Int, String]()
    val sparkListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val (id, name) = Option(j.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
          .map { v => val i = v.indexOf(':'); (v.take(i).toLong, v.drop(i + 1)) }
          .getOrElse((0L, "?"))
        jobSpan.put(j.jobId, (id, name, j.time))
        j.stageInfos.foreach(s => stageSpan.put(s.stageId, name))
        jobs.incrementAndGet()
        if (name == "build") buildJobs.incrementAndGet()
        if (j.stageInfos.exists(s => (s.name + s.details).contains("Tables.scala")))
          tablesJobs.incrementAndGet()
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(jobSpan.remove(j.jobId)).foreach { case (parent, _, start) =>
          record("job", parent, fromEpochMs(start), fromEpochMs(j.time))
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        val dur = (for (a <- i.submissionTime; b <- i.completionTime) yield b - a)
          .getOrElse(0L)
        if (m != null)
          stages.add(StageRec(
            Option(stageSpan.remove(i.stageId)).getOrElse("?"), i.name, i.details,
            dur, i.numTasks, m.executorRunTime, m.executorCpuTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.diskBytesSpilled + m.memoryBytesSpilled,
            m.inputMetrics.bytesRead))
      }
    }
    val qeListener = new QueryExecutionListener {
      private def planned(qe: QueryExecution): Unit =
        planNs.addAndGet(Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs).sum * 1000000L)
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = planned(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = planned(qe)
    }
    val streamListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms: Long = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        if (p.numInputRows > 0) {
          triggers.add(TriggerRec(ms, p.numInputRows))
          val start = fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
          val parent = Option(streamParents.get(p.name)).map(_.longValue).getOrElse(0L)
          record("feed.trigger", parent, start, start + ms * 1000000L)
        }
      }
    }
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    () => {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      sc.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
  }
}

/** The sink's public seam, wrapped: times every keyed commit and counts
  * store opens and the documents each opened store received. */
final class TimedStoreFactory(inner: DocumentStoreFactory) extends DocumentStoreFactory {
  def open(): DocumentStore = {
    Trace.opens.incrementAndGet()
    val store = inner.open()
    new DocumentStore {
      private var docs = 0
      private def timed(n: Int)(commit: => Unit): Unit = {
        val parent = Trace.currentSpan._1
        val t0 = System.nanoTime()
        commit
        val t1 = System.nanoTime()
        Trace.commits.add(CommitRec(t0, t1, n))
        Trace.record("sink.commit", parent, t0, t1)
        docs += n
      }
      def commitBatch(collection: String, batch: Seq[(String, Map[String, Long])]): Unit =
        timed(batch.size)(store.commitBatch(collection, batch))
      override def commitBatchKeyed(key: String, collection: String,
          batch: Seq[(String, Map[String, Long])]): Unit =
        timed(batch.size)(store.commitBatchKeyed(key, collection, batch))
      override def close(): Unit = {
        Trace.partitionDocs.add(docs)
        store.close()
      }
    }
  }
}
