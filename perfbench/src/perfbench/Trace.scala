package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: `kind` is "construct" (wall time inside graft's
  * public function, i.e. its eager driver work) or "execute" (the
  * benchmark's own action on the frame or stream that call returned).
  * Spans of one timed operation share `request`.
  */
final class Span(val id: Int, val layer: String, val name: String,
    val kind: String, val parent: Int, val request: Int, val start: Long) {
  var end: Long = 0L
  var failed = false
  var childNs = 0L
  // Spark counters attributed to this span while it was the innermost open one
  var jobs, tasks, cpuNs, shuffleBytes, spillBytes, writeBytes, planNs = 0L

  def selfNs: Long = end - start - childNs
}

/** Span recorder plus the Spark listeners that attribute counters to the
  * innermost open span. Off unless `--trace 1`: with tracing off `span`
  * only runs its body, so the end-to-end figures carry no tracing cost.
  *
  * Attribution relies on the listener bus being drained whenever a span
  * opens or closes: every event a span's work posted is then processed
  * while that span is innermost. Work runs on one client thread at a
  * time (a streaming query's thread runs only while the client thread
  * waits on it), so one global stack is exact.
  */
object Trace {
  @volatile private var enabled = false
  private var spark: SparkSession = _
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextRequest = 0
  private var currentRequest = 0

  /** Streaming progress totals (ms) and peaks, for the streaming layer. */
  val streamMs: mutable.Map[String, Long] = mutable.Map.empty.withDefaultValue(0L)
  @volatile var stateRowsPeak = 0L

  /** Record spans from now on; counters follow once [[install]] runs. */
  def enable(): Unit = enabled = true

  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        attribute(_.jobs += 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) attribute { sp =>
          sp.tasks += 1
          sp.cpuNs += m.executorCpuTime
          sp.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          sp.spillBytes += m.diskBytesSpilled
          sp.writeBytes += m.outputMetrics.bytesWritten
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        record(qe)
      private def record(qe: QueryExecution): Unit = {
        val phases = qe.tracker.phases
        val ms = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum
        attribute(_.planNs += ms * 1000000L)
      }
    })
    s.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        streamMs.synchronized {
          p.durationMs.asScala.foreach { case (k, v) => streamMs(k) += v.longValue }
        }
        p.stateOperators.foreach { op =>
          stateRowsPeak = math.max(stateRowsPeak, op.numRowsTotal)
        }
      }
    })
  }

  private def attribute(f: Span => Unit): Unit = synchronized {
    stack.headOption.foreach(f)
  }

  /** Wait until the listener bus has delivered every posted event.
    * `LiveListenerBus` is package-private in Scala but public in bytecode.
    */
  private def drain(): Unit = if (spark != null) {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
      .invoke(bus, java.lang.Long.valueOf(30000L))
  }

  /** Run `body` as one timed operation: its spans share a request id. */
  def request[T](body: => T): T = {
    if (enabled) synchronized { nextRequest += 1; currentRequest = nextRequest }
    body
  }

  def span[T](layer: String, name: String, kind: String)(body: => T): T = {
    if (!enabled) return body
    drain()
    val sp = synchronized {
      val s = new Span(spans.length, layer, name, kind,
        stack.headOption.map(_.id).getOrElse(-1), currentRequest, System.nanoTime())
      spans += s
      stack = s :: stack
      s
    }
    val sc = Option(spark).map(_.sparkContext)
    val group = sc.flatMap(c => Option(c.getLocalProperty("spark.jobGroup.id")))
    val desc = sc.flatMap(c => Option(c.getLocalProperty("spark.job.description")))
    sc.foreach(_.setJobGroup(s"perfbench:${sp.id}", s"$layer.$name $kind"))
    try body
    catch { case t: Throwable => sp.failed = true; throw t }
    finally {
      drain()
      synchronized {
        sp.end = System.nanoTime()
        stack = stack.tail
        stack.headOption.foreach(_.childNs += sp.end - sp.start)
      }
      sc.foreach { c =>
        group match {
          case Some(g) => c.setJobGroup(g, desc.orNull)
          case None => c.clearJobGroup()
        }
      }
    }
  }

  def gcNs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum * 1000000L

  def allSpans: Seq[Span] = synchronized(spans.toList)
}
