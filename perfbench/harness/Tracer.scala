package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-operation spans for the traced run. The benchmark registers its own
  * [[SparkListener]] and [[QueryExecutionListener]]; jobs are attributed
  * to an operation through the job group the benchmark sets around each
  * phase (`perfbench:<op>:build` / `perfbench:<op>:exec`), and the bus is
  * drained at every phase boundary so asynchronously delivered events land
  * in the phase that caused them.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val acc = mutable.Map.empty[String, mutable.Map[String, Double]]
  private val stageGroup = mutable.Map.empty[Int, String]
  @volatile private var group: String = "perfbench:idle"

  private def add(g: String, k: String, v: Double): Unit = acc.synchronized {
    val m = acc.getOrElseUpdate(g, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("perfbench:other")
      acc.synchronized(e.stageIds.foreach(stageGroup(_) = g))
      add(g, "jobs", 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      acc.synchronized(stageGroup.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = acc.synchronized(stageGroup.get(e.stageId)).getOrElse("perfbench:other")
      add(g, "tasks", 1)
      Option(e.taskMetrics).foreach { m =>
        add(g, "task_cpu_ms", m.executorCpuTime / 1e6)
        add(g, "task_gc_ms", m.jvmGCTime.toDouble)
        add(g, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(g, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(g, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val g = group
      val phases = qe.tracker.phases
      def phaseMs(p: String) = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add(g, "plan_analysis_ms", phaseMs("analysis"))
      add(g, "plan_optimizer_ms", phaseMs("optimization"))
      add(g, "plan_physical_ms", phaseMs("planning"))
      val nodes = Tracer.planNodes(qe.executedPlan)
      add(g, "exchanges", nodes.count(_.isInstanceOf[Exchange]).toDouble)
      add(g, "native_expr_nodes", nodes.map(Tracer.nativeExprs).sum.toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = PerfbenchBus.drain(sc)

  /** Enter `phase` of operation `op`: drain what the previous phase
    * posted, then label this thread's jobs and the plans it executes.
    */
  def enter(op: Long, phase: String): Unit = {
    drain()
    group = s"perfbench:$op:$phase"
    sc.setJobGroup(group, s"perfbench $phase", interruptOnCancel = false)
  }

  /** Take (and clear) the totals of every group, summed — for the
    * streaming queries, whose jobs run on their own threads under their
    * own job groups.
    */
  def harvestAll(): Map[String, Double] = {
    drain()
    acc.synchronized {
      val all = acc.values.flatMap(_.toSeq).groupMapReduce(_._1)(_._2)(_ + _)
      acc.clear()
      stageGroup.clear()
      all
    }
  }

  /** Close operation `op` and return its span totals, keyed by metric;
    * build-phase jobs are reported separately as `build_jobs`.
    */
  def finish(op: Long): Map[String, Double] = {
    drain()
    sc.clearJobGroup()
    group = "perfbench:idle"
    acc.synchronized {
      val build = acc.remove(s"perfbench:$op:build").getOrElse(mutable.Map.empty)
      val exec  = acc.remove(s"perfbench:$op:exec").getOrElse(mutable.Map.empty)
      stageGroup.filterInPlace((_, g) => !g.startsWith(s"perfbench:$op:"))
      val execOnly = Set("plan_analysis_ms", "plan_optimizer_ms", "plan_physical_ms",
        "exchanges", "native_expr_nodes")
      val keys = build.keySet ++ exec.keySet
      keys.iterator.map { k =>
        val v = if (execOnly(k)) exec.getOrElse(k, 0.0)
                else build.getOrElse(k, 0.0) + exec.getOrElse(k, 0.0)
        k -> v
      }.toMap + ("build_jobs" -> build.getOrElse("jobs", 0.0))
    }
  }
}

object Tracer extends AdaptiveSparkPlanHelper {

  /** Every node of an executed plan, through AQE stages, subqueries and
    * the command wrapper a write is executed under.
    */
  def planNodes(plan: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(plan) { case p => p }.flatMap {
      case c: CommandResultExec => c +: planNodes(c.commandPhysicalPlan)
      case p                    => Seq(p)
    }

  /** Expressions from `graft.functions` bound into one plan node. */
  def nativeExprs(node: SparkPlan): Int =
    node.expressions.map(_.collect {
      case e if e.getClass.getName.startsWith("graft.functions.") => e
    }.size).sum
}
