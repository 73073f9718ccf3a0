package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One streaming trigger as Spark's public progress reports it. */
final case class Trigger(queryId: String, batchId: Long, startMs: Long,
                         totalMs: Long, addBatchMs: Long, endOffset: String) {
  def endMs: Long = startMs + totalMs
}

/** Records the progress of every trigger that ran a batch (idle progress
  * reports carry no `addBatch` and are skipped). Installed in both runs:
  * commit and delivery instants come from here. */
final class Progress extends StreamingQueryListener {
  private val all = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    if (d.containsKey("addBatch"))
      all.add(Trigger(p.id.toString, p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
        d.get("triggerExecution").longValue, d.get("addBatch").longValue,
        p.sources.headOption.map(_.endOffset).orNull))
  }

  /** The triggers of one query, one per batch id, in batch order. */
  def of(queryId: java.util.UUID): IndexedSeq[Trigger] =
    all.asScala.filter(_.queryId == queryId.toString).toIndexedSeq
      .groupBy(_.batchId).values.map(_.head).toIndexedSeq.sortBy(_.batchId)
}

/** Counts of the jobs and tasks Spark ran, attributed to the span that
  * was open on the submitting thread and to the streaming query that
  * submitted them (traced run only). */
final class JobStats extends SparkListener {
  final class Acc {
    var jobs, cpuNs, shuffleWrite, inputBytes, outputRecords = 0L
  }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageKeys = new ConcurrentHashMap[Int, Seq[String]]()

  def acc(key: String): Acc = accs.computeIfAbsent(key, _ => new Acc)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val props = Option(j.properties)
    val keys = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey))).toSeq ++
      props.flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).map("query:" + _)
    keys.foreach(k => acc(k).synchronized { acc(k).jobs += 1 })
    j.stageIds.foreach(stageKeys.put(_, keys))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Option(t.taskMetrics).foreach { m =>
    stageKeys.getOrDefault(t.stageId, Nil).foreach { k =>
      val a = acc(k)
      a.synchronized {
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.inputBytes += m.inputMetrics.bytesRead
        a.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }
}

object Tracer {
  /** Local property naming the open span; Spark copies it onto every job
    * the thread submits, which is how [[JobStats]] attributes work. */
  val SpanKey = "perfbench.span"
}

/** Spans recorded from the benchmark's own code around each call into a
  * layer: name, start, end and the enclosing span. Kept in memory; with
  * tracing off `span` is a plain call. */
final class Tracer(val on: Boolean, spark: SparkSession) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  val jobs = new JobStats
  if (on) spark.sparkContext.addSparkListener(jobs)

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      val id = ids.incrementAndGet()
      val parent = open.get.headOption.getOrElse(0)
      open.set(id :: open.get)
      sc.setLocalProperty(Tracer.SpanKey, name)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        sc.setLocalProperty(Tracer.SpanKey, prev)
        open.set(open.get.tail)
      }
    }

  def seconds(name: String): Seq[Double] =
    spans.asScala.filter(_.name == name).toSeq.sortBy(_.startNs).map(_.seconds)

  /** One line per span name: count, median seconds and enclosing span. */
  def summary(): Seq[String] = {
    val all = spans.asScala.toSeq
    val names = all.map(s => s.id -> s.name).toMap
    all.groupBy(s => (s.name, names.getOrElse(s.parent, "-"))).toSeq.sortBy(_._1).map {
      case ((name, parent), ss) =>
        f"span $name%-32s n=${ss.size}%-4d median=${Stats.median(ss.map(_.seconds))}%.4fs parent=$parent"
    }
  }

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
}
