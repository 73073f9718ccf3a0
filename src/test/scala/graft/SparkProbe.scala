package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark ran while one block executed: the jobs started (with each
  * job's stages and the operators in them, for failure messages), the
  * bytes each successful task wrote (by stage) and the executed plan of
  * every query that succeeded. The listener bus is drained on both
  * sides, so nothing from before or after the block is counted. */
final case class SparkProbe(jobs: Int, taskBytesWritten: Map[Int, Seq[Long]],
                            plans: Seq[SparkPlan], jobStages: Seq[String]) {

  /** Every node of every plan, through AQE's final plans, query stages
    * and the plans of cached relations. */
  def nodes: Seq[SparkPlan] = plans.flatMap(SparkProbe.flatten)

  /** Distinct cached relations scanned (one per `persist()` that was
    * materialized and read). */
  def cachedRelations: Int = nodes.collect {
    case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
      System.identityHashCode(m.relation.cacheBuilder)
  }.distinct.size
}

object SparkProbe {
  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case m: InMemoryTableScanExec => flatten(m.relation.cachedPlan)
      case other => other.children.flatMap(flatten)
    })
  }

  def apply(spark: SparkSession)(f: => Unit): SparkProbe = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new ConcurrentLinkedQueue[String]()
    val written = new ConcurrentLinkedQueue[(Int, Long)]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        stages.add(e.stageInfos.map(st => st.name + ": " +
          st.rddInfos.flatMap(_.scope.map(_.name)).distinct.mkString(", ")).mkString(" | ")); ()
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo.successful && e.taskMetrics != null) {
          written.add(e.stageId -> e.taskMetrics.outputMetrics.bytesWritten); ()
        }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain.drain(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try f
    finally {
      org.apache.spark.ListenerBusDrain.drain(sc)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    SparkProbe(jobs.get,
      written.asScala.toSeq.groupBy(_._1).map { case (s, bs) => s -> bs.map(_._2) },
      plans.asScala.toSeq, stages.asScala.toSeq)
  }
}
