package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session; sbt runs
  * suites sequentially in a forked JVM).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** The Spark jobs and stages `body` launches, counted by a listener
    * attached for the block only (the bus is drained on both sides, so
    * earlier work is not counted and none of the block's events is lost).
    */
  def launched(body: => Any): SparkSpec.Launched = {
    val sc = spark.sparkContext
    var jobs = 0
    val stageTasks = Seq.newBuilder[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        stageTasks += e.stageInfo.numTasks
      }
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      ListenerBusDrain.drain(sc)
    } finally sc.removeSparkListener(listener)
    listener.synchronized(SparkSpec.Launched(jobs, stageTasks.result().sorted))
  }
}

object SparkSpec {

  /** Jobs started, and the task counts of the stages completed (sorted). */
  final case class Launched(jobs: Int, stageTasks: Seq[Int])

  /** Built by [[GraftSession]], so specs check the plans the bench times. */
  lazy val session: SparkSession = GraftSession(4)
}
